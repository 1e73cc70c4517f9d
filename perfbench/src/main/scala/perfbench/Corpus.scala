package perfbench

import java.io.File

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.layout.{DocRow, FixtureCorpus}

/** Seeded inputs: generated documents `FixtureCorpus.scaledDoc(i, seed)`
  * (about 5% are 100-199 pages, which take the salted extraction path) and
  * the 16 hand-verified fixture documents. Doc ids of generated documents
  * start at 100, so they never collide with the fixtures. */
object Corpus {

  /** Generated documents with indices [from, from + n), built on the
    * executors. */
  def docs(spark: SparkSession, from: Int, n: Int, seed: Long): Dataset[DocRow] = {
    import spark.implicits._
    spark.range(from.toLong, from.toLong + n, 1L, spark.sparkContext.defaultParallelism)
      .map(i => FixtureCorpus.scaledDoc(i.toInt, seed))
  }

  def fixtures(spark: SparkSession): Dataset[DocRow] = {
    import spark.implicits._
    spark.createDataset(FixtureCorpus.fixtureDocs).repartition(1)
  }

  def write(ds: Dataset[DocRow], dir: String): Unit =
    ds.write.mode("overwrite").parquet(dir)

  /** Bytes of the files under `dir` whose names end with `suffix`. */
  def bytesUnder(dir: String, suffix: String = ""): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else if (f.getName.endsWith(suffix)) f.length() else 0L
    size(new File(dir))
  }

  def delete(dir: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(dir))
  }
}
