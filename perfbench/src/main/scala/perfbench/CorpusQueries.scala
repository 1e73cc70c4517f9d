package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.io.Pdf

/** corpus_queries: query rows over seeded corpora, one at a time, none of
  * them touching the extraction pipeline.
  *
  *  - Operator rows (main operation, one pass = the sum of their walls):
  *    `SparkEntry.queries` operators over seeded documents/embeddings/events
  *    tables (`ops`, `plans`), plus two reads of a seeded corpus rendered to
  *    PDF files with `io.Pdf.write` through the `graft-pdf` DataSource V2
  *    reader (one partition per file): a full scan of every column and a
  *    column-pruned `groupBy(kind).count`.
  *  - Replay rows (side operation): streaming and lifecycle replays over the
  *    fixture corpus (`streaming`, `pipeline.Checkpointing`).
  *
  * Query results go to the noop sink. The warm-up pass writes each
  * `SparkEntry` result as parquet instead; the launcher compares those with
  * their DuckDB oracles (`SparkEntry.oracleSql`) after the JVM exits. The
  * PDF kind counts are checked against the rendered spans on every read.
  * The seed generates the tables and the PDF corpus and rotates the order
  * of the rows. A traced run also counts, per row, the RDDs the row left
  * persisted (before any collection lets Spark's cleaner release them). */
object CorpusQueries {
  val Operators: Seq[String] = Seq("q50_asof_physical", "q40_bm25_search",
    "q57_semantic_dedup", "pdf_full_scan", "pdf_kind_counts")
  val Replays: Seq[String] = Seq("x11_resume_counts", "x80_stream_merge_apply")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val t = c.tracer
    val data = c.data.getOrElse(sys.error("corpus_queries needs --data")).toString
    val all = Operators ++ Replays
    val shift = (c.seed % all.length).toInt.abs
    val order = all.drop(shift) ++ all.take(shift)

    // the PDF corpus: rendered on the executors, one file per document
    val pdfDir = c.dir("pdf")
    val docs = Corpus.docs(spark, 0, c.size(full = 300, tiny = 30), c.seed)
    val rendered: Map[String, Long] = c.setupOnce {
      Files.createDirectories(Paths.get(pdfDir))
      docs.flatMap { d =>
        Files.write(Paths.get(pdfDir, d.doc_id), Pdf.write(d))
        d.spans.map(_.kind)
      }.groupBy("value").count().as[(String, Long)].collect().toMap
    }
    def pdf() = spark.read.format("graft-pdf").load(pdfDir)
    def kindCounts(): Map[String, Long] =
      pdf().groupBy("kind").count().as[(String, Long)].collect().toMap

    /** One row; false when its result is checked here and is wrong. */
    def row(q: String, results: Option[String]): Boolean = q match {
      case "pdf_full_scan" =>
        pdf().write.format("noop").mode("overwrite").save(); true
      case "pdf_kind_counts" => kindCounts() == rendered
      case _ =>
        val df = SparkEntry.queries(q)(spark, data)
        results match {
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$q")
          case None => df.write.format("noop").mode("overwrite").save()
        }
        true
    }

    val results = c.dir("query_results")
    c.warmup {
      order.foreach(q => c.check(s"$q (checked pass)")(row(q, Some(results))))
      val oracles = order.filter(SparkEntry.oracleSql.contains)
        .map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
      Files.writeString(c.work.resolve("oracle_sql.json"), oracles.mkString("{", ",", "}"))
    }

    // A traced run alternates plain passes with traced ones.
    val persisted = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet
    c.measure(minReps = if (t.traced) 2 else 1) { i =>
      def pass(): Unit = order.foreach { q =>
        val before = persistedIds
        c.check(s"$q pass $i")(t.span(q)(row(q, None)))
        if (t.traced)
          persisted.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (persistedIds -- before).size
      }
      if (t.traced && i % 2 == 0) t.quiet(pass()) else pass()
    }
    def passes(names: Seq[String], traced: Boolean): Seq[Double] = {
      val walls = names.map(t.walls(_, traced))
      (0 until walls.map(_.length).min).map(i => walls.map(_(i)).sum)
    }
    val ops = passes(Operators, traced = false)
    val replays = passes(Replays, traced = false)
    c.metric("main_op_p50_s", Stats.median(ops), "s")
    c.metric("side_op_p50_s", Stats.median(replays), "s")
    c.metric("peak_heap_mb", c.peakHeapMb, "MB")
    if (t.traced)
      layers(c, all, ops, replays, persisted.toMap, Corpus.bytesUnder(pdfDir), pdfDir)
  }

  /** Per-layer metrics of a traced run. */
  private def layers(c: Ctx, all: Seq[String], ops: Seq[Double], replays: Seq[Double],
      persisted: Map[String, mutable.ArrayBuffer[Double]], pdfBytes: Long,
      pdfDir: String): Unit = {
    val t = c.tracer
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def traced(q: String) = t.named(q).filter(_.traced)
    val tracedPasses = traced(all.head).length
    c.metric("queries_operator_s", Stats.median(ops), "s")
    c.metric("queries_replay_s", Stats.median(replays), "s")
    val tracedPass = all.map(q => med(traced(q).map(_.wallS))).sum
    val plainPass = all.map(q => med(t.walls(q, traced = false))).sum
    c.metric("trace.overhead_pct", 100 * (tracedPass / plainPass - 1), "%")
    val byRow = all.map(q => q -> traced(q).map(t.work)).toMap
    all.filter(_.matches("[qx][0-9].*")).foreach { q =>
      val prefix = if (Operators.contains(q)) "ops" else "streaming"
      val work = byRow(q)
      c.metric(s"$prefix.$q.wall_s", med(traced(q).map(_.wallS)), "s")
      c.metric(s"$prefix.$q.jobs", med(work.map(_.jobs.toDouble)), "count")
      c.metric(s"$prefix.$q.task_cpu_s", med(work.map(_.cpuS)), "s")
      c.metric(s"$prefix.$q.persisted_rdds", med(persisted(q).toSeq), "count")
      if (prefix == "ops")
        c.metric(s"$prefix.$q.shuffle_bytes",
          med(work.map(w => (w.shuffleRead + w.shuffleWrite).toDouble)), "bytes")
    }
    val scan = t.walls("pdf_full_scan", traced = false)
    c.metric("pdf_mb_per_s", pdfBytes / 1e6 / Stats.median(scan), "MB/s")
    c.metric("pdf_pruned_s", Stats.median(t.walls("pdf_kind_counts", traced = false)), "s")
    c.metric("sources.PdfDataSource.tasks",
      med(byRow("pdf_full_scan").map(_.tasks.toDouble)), "count")
    c.metric("sources.PdfDataSource.task_cpu_s", med(byRow("pdf_full_scan").map(_.cpuS)), "s")
    c.metric("sources.PdfDataSource.pruned_shuffle_bytes",
      med(byRow("pdf_kind_counts").map(_.shuffleWrite.toDouble)), "bytes")
    val sample = new java.io.File(pdfDir).listFiles().sortBy(_.getName)
      .take(c.size(full = 100, tiny = 20))
      .map(f => f.getName -> Files.readAllBytes(f.toPath)).toSeq
    c.metric("io.Pdf.us_per_doc", Micro.pdfParseUsPerDoc(sample), "us")
    val work = byRow.values.flatten.toSeq
    val n = math.max(1, tracedPasses)
    c.metric("spark.gc_s", work.map(_.gcS).sum / n, "s")
    c.metric("spark.spill_bytes", work.map(_.spill.toDouble).sum / n, "bytes")
  }
}
