package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.layout.FixtureCorpus
import graft.pipeline.Checkpointing

/** Deliberate damage to a committed output, for the checker self-test: the
  * checks that follow must count it as a failure. */
object Mutate {
  /** Rewrite the data file holding the first fixture document's first
    * committed span, either without that row (`drop_span`) or with its text
    * changed (`change_cell`). */
  def spanRow(c: Ctx, dir: String, kind: String): Unit = {
    val spark = c.spark
    import spark.implicits._
    val target = FixtureCorpus.fixtureDocs.head.doc_id
    val hit = col("doc_id") === target && col("ord") === 0
    val file = Checkpointing.readAt(spark, dir, Checkpointing.snapshots(dir).last.seq)
      .where(hit).select(input_file_name()).as[String].head()
    val path = Paths.get(new java.net.URI(file))
    val rows = spark.read.parquet(path.toString)
    val damaged = kind match {
      case "drop_span" => rows.where(!hit)
      case "change_cell" =>
        rows.withColumn("text", when(hit, lit("damaged")).otherwise(col("text")))
      case other => sys.error(s"unknown mutation $other")
    }
    val tmp = path.toString + ".rewrite"
    damaged.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
    // the old checksum sidecar no longer matches (Hadoop's local filesystem
    // would reject the read instead of returning the damaged rows)
    Files.deleteIfExists(path.resolveSibling(s".${path.getFileName}.crc"))
    Corpus.delete(tmp)
  }
}
