package perfbench

import scala.collection.mutable

import graft.ExtractMain
import graft.layout.FixtureCorpus
import graft.pipeline.Checkpointing

/** The incremental side of bulk_extract: small seeded batches landed one
  * after another with `ExtractMain.run` onto one long-lived committed table,
  * each followed by a maintenance round of lifecycle verbs (an
  * `ExtractMain.maintain delete` takedown, a `snapshots` listing and a
  * time-travel `Checkpointing.readAt` count of an older version). Every batch
  * adds two snapshot-log entries per table, so later batches pay for a
  * longer history.
  *
  * Keeps the model the checks compare with: the live doc ids, the
  * takedowns, and the stats row count recorded at each stats version. */
final class Incremental(c: Ctx, val out: String, firstIndex: Int, val batch: Int) {
  private val spark = c.spark
  private val t = c.tracer
  private val root = c.dir("batches")
  private val live = mutable.LinkedHashSet.empty[String]
  private val countAt = mutable.LinkedHashMap.empty[Int, Long]
  private val rnd = new scala.util.Random(c.seed)
  private var landedDocs = 0L
  private var tombstoned = 0L

  def dir(k: Int): String = s"$root/batch=$k"

  /** Write batch `k`'s input; returns its directory. */
  def generate(k: Int): String = {
    Corpus.write(Corpus.docs(spark, firstIndex + k * batch, batch, c.seed), dir(k))
    dir(k)
  }

  private def statsSeq = Checkpointing.snapshots(s"$out/stats").last.seq

  /** Record a landing of `ids` that committed `committed` docs and left
    * `total` rows in the stats table, and check both. */
  def landed(what: String, ids: Seq[String], committed: Long, total: Long): Unit = {
    live ++= ids
    landedDocs += ids.size
    c.check(s"$what committed $committed of ${ids.size} new docs, total $total " +
      s"of ${live.size} live")(committed == ids.size && total == live.size)
    countAt(statsSeq) = total
  }

  def batchIds(k: Int): Seq[String] =
    (firstIndex + k * batch until firstIndex + (k + 1) * batch)
      .map(FixtureCorpus.scaledDoc(_, c.seed).doc_id)

  /** One maintenance round, each verb its own span. */
  def maintenance(): Unit = {
    val gone = rnd.shuffle(live.toVector.sorted).take(2)
    t.span("maint.delete")(ExtractMain.maintain(spark, out,
      Array("delete", gone.mkString(","))))
    live --= gone
    tombstoned += gone.size
    countAt(statsSeq) = live.size
    t.span("maint.snapshots")(ExtractMain.maintain(spark, out, Array("snapshots")))
    val versions = countAt.keys.toVector
    val v = versions(rnd.nextInt(versions.length))
    val n = t.span("maint.readat")(Checkpointing.readAt(spark, s"$out/stats", v).count())
    c.check(s"time travel to stats version $v reads $n rows, recorded " +
      s"${countAt(v)}")(n == countAt(v))
  }

  /** One stats row per doc, no span doc without a stats row, and
    * total = landed - tombstoned. */
  def checkInvariants(): Unit =
    c.check("incremental table: one stats row per doc, no span doc without " +
      "a stats row, total = landed - tombstoned") {
      val stats = Checkpointing.readAt(spark, s"$out/stats", statsSeq)
      val spansDir = s"$out/spans"
      val spans = Checkpointing.readAt(spark, spansDir,
        Checkpointing.snapshots(spansDir).last.seq)
      val rows = stats.count()
      val docs = stats.select("doc_id").distinct().count()
      val orphans = spans.select("doc_id").distinct()
        .join(stats.select("doc_id"), Seq("doc_id"), "left_anti").count()
      rows == docs && orphans == 0 && rows == landedDocs - tombstoned
    }
}
