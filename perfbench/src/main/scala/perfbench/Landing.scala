package perfbench

import graft.layout.DocRow
import graft.pipeline.{Checkpointing, ExtractionPipeline}

/** `ExtractMain.run`'s public calls (the plain, non-audit landing) replayed
  * in the same order, each as its own span, so a traced run can split one
  * landing by layer without changing the program. The replay's spans must
  * sum to the wall of a traced `ExtractMain.run` of the same input; the
  * bulk_extract traced run reports the ratio (`bulk.callspan_coverage_pct`),
  * which also catches the replay drifting from the real entrypoint. */
object Landing {
  def replay(c: Ctx, input: String, out: String, saltPages: Int): (Long, Long) = {
    val spark = c.spark
    import spark.implicits._
    val t = c.tracer
    val statsDir = s"$out/stats"
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val (pending, nothing) = t.span("land.resume") {
      val docs = spark.read.parquet(input).as[DocRow]
      val p = Checkpointing.resumeFilter(spark, docs, statsDir)
      (p, p.isEmpty)
    }
    val committed =
      if (nothing) 0L
      else {
        val r = t.span("land.pipeline") {
          ExtractionPipeline.run(spark, pending, saltPages = Some(saltPages),
            persistIntermediate = false)
        }
        t.span("land.commit.spans") {
          Checkpointing.commit(r.outSpans.toDF(), s"$out/spans", runId)
        }
        t.span("land.commit.stats") {
          Checkpointing.commit(r.stats.toDF(), statsDir, runId)
        }
      }
    val snaps = t.span("land.snapshots")(Checkpointing.snapshots(statsDir))
    val total = t.span("land.count") {
      if (snaps.isEmpty) 0L
      else Checkpointing.readAt(spark, statsDir, snaps.last.seq).count()
    }
    (committed, total)
  }
}
