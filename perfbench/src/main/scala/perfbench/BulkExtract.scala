package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{ExtractMain, FixtureGoldens}
import graft.layout.{DocRow, FixtureCorpus}
import graft.pipeline.{Checkpointing, Extract, ExtractionPipeline, Merge}

/** bulk_extract: land a fresh seeded corpus (plus the 16 fixture documents)
  * through `ExtractMain.run` into an empty output (main operation), then
  * land one small seeded batch onto a long-lived committed table, followed
  * by a maintenance round ([[Incremental]]; side operation: the batch
  * landing). Traced runs also build the corpus sheet and pivot of the corpus
  * (`ExtractionPipeline.run(...).pivot`), run the prefix ladder and time the
  * parse kernel on one thread. */
object BulkExtract {
  val SaltPages = 64

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val t = c.tracer
    val n = c.size(full = 1000, tiny = 120)
    val nDocs = n + FixtureCorpus.fixtureDocs.length
    val input = c.dir("input")
    val inc = new Incremental(c, c.dir("incremental"), firstIndex = n,
      batch = c.size(full = 50, tiny = 10))
    (1 to 3).foreach { _ =>
      c.setupRep(Corpus.write(
        Corpus.docs(spark, 0, n, c.seed).union(Corpus.fixtures(spark)), input))
    }
    c.setupOnce(inc.generate(0))
    val inputIds = (0 until n).map(FixtureCorpus.scaledDoc(_, c.seed).doc_id) ++
      FixtureCorpus.fixtureDocs.map(_.doc_id)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def sheet(): Unit = {
      val r = ExtractionPipeline.run(spark, spark.read.parquet(input).as[DocRow])
      try noop(r.pivot) finally r.unpersist()
    }
    // the warm-up's bulk landing is the incremental table's base
    c.warmup {
      val (committed, total) = ExtractMain.run(spark, input, inc.out, SaltPages)
      inc.landed("base landing", inputIds, committed, total)
      val (committed0, total0) = ExtractMain.run(spark, inc.dir(0), inc.out, SaltPages)
      inc.landed("batch 0", inc.batchIds(0), committed0, total0)
      inc.maintenance()
      if (t.traced) sheet()
    }

    // At least two repetitions: one landing or batch alone read up to 25%
    // apart between runs on a shared 4-core box. A traced run alternates
    // plain repetitions (the overhead reference) with traced ones, whose
    // batch is replayed call by call.
    var lastOut: Option[String] = None
    val filesWritten = mutable.ArrayBuffer.empty[Double]
    c.measure(minReps = 2) { i =>
      val out = c.dir(s"out-$i")
      val k = i + 1
      val ids = inc.batchIds(k)
      inc.generate(k)
      val plain = !t.traced || i % 2 == 0
      def rep(): Unit = {
        c.op(s"landing $i") {
          val (committed, total) = t.span("bulk.land")(ExtractMain.run(spark, input, out, SaltPages))
          c.check(s"landing $i committed $committed docs, $total in total, " +
            s"of $nDocs input docs")(committed == nDocs && total == nDocs)
        }
        c.op(s"batch $k") {
          val (committed, total) =
            if (plain) t.span("inc.land")(ExtractMain.run(spark, inc.dir(k), inc.out, SaltPages))
            else t.span("inc.replay")(Landing.replay(c, inc.dir(k), inc.out, SaltPages))
          inc.landed(s"batch $k", ids, committed, total)
          if (!plain) filesWritten += LandLayers.lastFilesWritten(inc.out)
        }
        c.op(s"maintenance $k")(t.span("inc.maint")(inc.maintenance()))
        if (t.traced) c.op(s"sheet $i")(t.span("bulk.sheet")(sheet()))
      }
      if (plain) t.quiet(rep()) else rep()
      lastOut.foreach(Corpus.delete)
      lastOut = Some(out)
    }
    val out = lastOut.get
    val storedRatio = Corpus.bytesUnder(out).toDouble /
      Corpus.bytesUnder(input, ".parquet")
    if (c.mutate != "none") Mutate.spanRow(c, s"$out/spans", c.mutate)
    checkGoldens(c, out)
    checkSample(c, out, n)
    inc.checkInvariants()

    val land = t.walls("bulk.land", traced = false)
    val batches = t.walls("inc.land", traced = false)
    c.metric("main_op_p50_s", Stats.median(land), "s")
    c.metric("side_op_p50_s", Stats.median(batches), "s")
    c.metric("peak_heap_mb", c.peakHeapMb, "MB")
    if (t.traced) {
      // the bulk landing alone, three rounds of plain / traced / replayed
      // call by call: the tracing overhead and the call-span coverage
      (0 until 3).foreach { r =>
        Seq("plain", "traced", "replay").foreach { how =>
          val dst = c.dir(s"compare-$r-$how")
          c.op(s"compared landing $r $how") {
            val (committed, total) = how match {
              case "plain" => t.quiet(t.span("cmp.land")(ExtractMain.run(spark, input, dst, SaltPages)))
              case "traced" => t.span("cmp.land")(ExtractMain.run(spark, input, dst, SaltPages))
              case _ => t.span("cmp.replay")(Landing.replay(c, input, dst, SaltPages))
            }
            c.check(s"compared landing $r $how committed $committed docs, $total in " +
              s"total, of $nDocs input docs")(committed == nDocs && total == nDocs)
          }
          Corpus.delete(dst)
        }
      }
      val ladder = Ladder.run(c, input, c.dir("ladder"))
      layers(c, nDocs, inc, land, batches, storedRatio, ladder, filesWritten.toSeq)
    }
  }

  /** The fixture documents' committed stats and spans equal the golden
    * oracles, evaluated with Spark SQL. */
  private def checkGoldens(c: Ctx, out: String): Unit = {
    val spark = c.spark
    val ids = FixtureCorpus.fixtureDocs.map(_.doc_id)
    val goldenSql = spark.newSession()
    goldenSql.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
      .sorted
    Seq("stats" -> "x01_fixture_stats", "spans" -> "x05_fixture_spans").foreach {
      case (table, golden) =>
        c.check(s"fixture $table equal the $golden golden") {
          val want = goldenSql.sql(FixtureGoldens.oracleSql(golden))
          val dir = s"$out/$table"
          val got = Checkpointing.readAt(spark, dir, Checkpointing.snapshots(dir).last.seq)
            .where(col("doc_id").isin(ids: _*))
            .select(want.columns.map(col).toIndexedSeq: _*)
          rows(got) == rows(want)
        }
    }
  }

  /** A seeded sample of generated documents (plus the first oversized ones)
    * has committed span sequences equal to the single-document path. */
  private def checkSample(c: Ctx, out: String, n: Int): Unit = {
    val spark = c.spark
    val rnd = new scala.util.Random(c.seed)
    val oversized = Iterator.range(0, n)
      .filter(i => FixtureCorpus.scaledDoc(i, c.seed).spans.count(_.kind == "page") >= 100)
      .take(2).toSeq
    val sample = (rnd.shuffle((0 until n).toVector).take(16) ++ oversized).distinct
    val docs = sample.map(FixtureCorpus.scaledDoc(_, c.seed))
    val dir = s"$out/spans"
    val committed = Checkpointing.readAt(spark, dir, Checkpointing.snapshots(dir).last.seq)
      .where(col("doc_id").isin(docs.map(_.doc_id): _*))
      .collect().toSeq
      .groupBy(_.getAs[String]("doc_id"))
      .map { case (id, rs) => id -> rs.sortBy(_.getAs[Int]("ord")).map(r =>
        (r.getAs[Int]("ord"), r.getAs[String]("kind"), r.getAs[String]("text"),
          r.getAs[String]("media_ref"))) }
    docs.foreach { d =>
      c.check(s"sampled doc ${d.doc_id} spans equal the single-document path") {
        val r = Extract.extractDoc(d)
        val want =
          if (r.candidates.isEmpty) Nil
          else ExtractionPipeline.outputSpans(
            Merge.mergeDoc(d.doc_id, r.candidates.iterator), r.media)
        committed.getOrElse(d.doc_id, Nil) ==
          want.map(s => (s.ord, s.kind, s.text, s.media_ref))
      }
    }
  }

  /** Per-layer metrics of a traced run. */
  private def layers(c: Ctx, nDocs: Int, inc: Incremental, land: Seq[Double],
      batches: Seq[Double], storedRatio: Double, ladder: Ladder.Result,
      filesWritten: Seq[Double]): Unit = {
    val t = c.tracer
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def traced(name: String) = t.named(name).filter(_.traced)
    val lands = traced("bulk.land")
    val compared = traced("cmp.land")
    val replays = traced("cmp.replay")
    val sheets = traced("bulk.sheet")
    val batchReplays = traced("inc.replay")
    val landWork = (lands ++ compared).map(t.work)
    val batchWork = batchReplays.map(t.work)
    c.metric("extract_docs_per_s",
      nDocs / Stats.median(land ++ t.walls("cmp.land", traced = false)), "docs/s")
    c.metric("sheet_s", med(t.walls("bulk.sheet", traced = false)), "s")
    c.metric("stored_bytes_ratio", storedRatio, "ratio")
    c.metric("land_batch_p50_s", Stats.median(batches), "s")
    c.metric("maint_op_p50_s", med(t.walls("inc.maint", traced = false)), "s")
    c.metric("trace.overhead_pct", 100 * (med(compared.map(_.wallS)) /
      Stats.median(t.walls("cmp.land", traced = false)) - 1), "%")
    c.metric("bulk.callspan_coverage_pct", 100 * med(replays.map(r =>
      t.children(r).map(_.wallS).sum)) / med(compared.map(_.wallS)), "%")
    c.metric("io.scan_s", ladder.scanS, "s")
    c.metric("io.records_read_per_doc",
      med(landWork.map(_.inRecords.toDouble)) / nDocs, "count")
    c.metric("pipeline.Extract.us_per_doc", Micro.extractUsPerDoc(c), "us")
    c.metric("pipeline.Extract.self_s", ladder.extractS, "s")
    c.metric("pipeline.Merge.self_s", ladder.mergeS, "s")
    c.metric("pipeline.Merge.shuffle_write_bytes", ladder.mergeShuffleBytes, "bytes")
    c.metric("pipeline.Checkpointing.commit_persisted_s", ladder.commitS, "s")
    c.metric("pipeline.CorpusSheet.self_s", med(sheets.map(_.wallS)), "s")
    c.metric("pipeline.CorpusSheet.jobs", med(sheets.map(t.work(_).jobs.toDouble)), "count")
    LandLayers.report(c, batchReplays, inc.batch, med(filesWritten), inc.out)
    c.metric("spark.jobs_per_batch", med(batchWork.map(_.jobs.toDouble)), "count")
    c.metric("spark.tasks_per_batch", med(batchWork.map(_.tasks.toDouble)), "count")
    val verbs = traced("inc.maint").flatMap(t.children)
    Seq("delete", "snapshots", "readat").foreach { verb =>
      c.metric(s"maint.${verb}_s", med(verbs.filter(_.name == s"maint.$verb").map(_.wallS)), "s")
    }
    val all = (lands ++ sheets).map(t.work)
    c.metric("spark.gc_s", med(all.map(_.gcS)), "s")
    c.metric("spark.spill_bytes", med(all.map(_.spill.toDouble)), "bytes")
  }
}
