package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.layout.{DocRow, FixtureCorpus}
import graft.pipeline.{Checkpointing, Extract, ExtractionPipeline}

/** The prefix ladder: the extraction plan forced into the noop sink one
  * stage further per rung (scan, candidates, merged, output spans), then a
  * commit of an already-computed copy. The difference between consecutive
  * rungs is the self time of the layer the rung adds. */
object Ladder {
  final case class Result(scanS: Double, extractS: Double, mergeS: Double,
      commitS: Double, mergeShuffleBytes: Double)

  def run(c: Ctx, input: String, dir: String): Result = {
    val spark = c.spark
    import spark.implicits._
    val t = c.tracer
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val docs = spark.read.parquet(input).as[DocRow]
    val r = ExtractionPipeline.run(spark, docs, saltPages = Some(BulkExtract.SaltPages),
      persistIntermediate = false)
    t.span("ladder.scan")(noop(docs.toDF()))
    t.span("ladder.candidates")(noop(r.candidates.toDF()))
    t.span("ladder.merged")(noop(r.merged.toDF()))
    t.span("ladder.outspans")(noop(r.outSpans.toDF()))
    // the commit rung lands an already-computed copy (same files as the
    // pipeline's own output), so it times the commit alone
    val computed = s"$dir/computed"
    r.outSpans.write.parquet(computed)
    t.span("ladder.commit")(Checkpointing.commit(spark.read.parquet(computed),
      s"$dir/spans", "ladder"))
    def wall(name: String) = t.named(name).last.wallS
    Result(
      scanS = wall("ladder.scan"),
      extractS = wall("ladder.candidates") - wall("ladder.scan"),
      mergeS = wall("ladder.merged") - wall("ladder.candidates"),
      commitS = wall("ladder.commit"),
      mergeShuffleBytes = t.work(t.named("ladder.merged").last).shuffleWrite.toDouble)
  }
}

/** Per-layer metrics of landings replayed call by call ([[Landing.replay]]),
  * shared by bulk_extract and incremental_land. */
object LandLayers {
  def report(c: Ctx, replays: Seq[Span], newDocs: Double, filesWritten: Double,
      out: String): Unit = {
    val t = c.tracer
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def wall(names: String*) = med(replays.map(r =>
      t.children(r).filter(s => names.contains(s.name)).map(_.wallS).sum))
    def jobs(names: String*) = med(replays.map(r =>
      t.children(r).filter(s => names.contains(s.name)).map(t.work(_).jobs.toDouble).sum))
    val resume = replays.flatMap(t.children).filter(_.name == "land.resume")
    c.metric("pipeline.Checkpointing.resume_s", wall("land.resume"), "s")
    c.metric("pipeline.Checkpointing.resume_rows_read_per_new_doc",
      med(resume.map(t.work(_).inRecords.toDouble)) / newDocs, "count")
    c.metric("pipeline.Checkpointing.commit_s",
      wall("land.commit.spans", "land.commit.stats"), "s")
    c.metric("pipeline.Checkpointing.commit_jobs",
      jobs("land.commit.spans", "land.commit.stats"), "count")
    c.metric("pipeline.Checkpointing.files_written", filesWritten, "count")
    c.metric("pipeline.Checkpointing.snapshots_s", wall("land.snapshots"), "s")
    c.metric("pipeline.Checkpointing.log_files",
      Seq("stats", "spans").map(t => logFiles(s"$out/$t")).sum, "count")
  }

  /** Snapshot-log entries of a committed table. */
  def logFiles(table: String): Int =
    Option(new File(table + "_manifest").listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.startsWith("snapshot-") && f.getName.endsWith(".json"))

  /** Data files added by the latest snapshot of each table under `out`. */
  def lastFilesWritten(out: String): Int =
    Seq("stats", "spans").map { table =>
      Checkpointing.snapshots(s"$out/$table").lastOption.map(_.files.size).getOrElse(0)
    }.sum
}

/** Single-thread costs of the per-document kernels, without Spark. */
object Micro {
  private def usPerItem(items: Int)(pass: => Unit): Double = {
    pass // warm the JIT
    val walls = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); pass; (System.nanoTime() - t0) / 1e3
    }
    Stats.median(walls) / items
  }

  /** `Extract.extractDoc` (the layout/core parse) per generated document. */
  def extractUsPerDoc(c: Ctx): Double = {
    val docs = (0 until c.size(full = 400, tiny = 40)).map(FixtureCorpus.scaledDoc(_, c.seed))
    var sink = 0L
    val us = usPerItem(docs.length)(docs.foreach(d => sink += Extract.extractDoc(d).candidates.length))
    require(sink >= 0)
    us
  }

  /** `io.Pdf.parse` per rendered document. */
  def pdfParseUsPerDoc(pdfs: Seq[(String, Array[Byte])]): Double = {
    var sink = 0L
    val us = usPerItem(pdfs.length)(pdfs.foreach { case (id, b) =>
      sink += graft.io.Pdf.parse(id, b).spans.length })
    require(sink >= 0)
    us
  }
}
