package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one SparkSession at local[<cores>] with the
  * production entrypoint's settings (UTC session time zone), one closed-loop
  * client thread, one workload per launch.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--data <dir>] [--size full|tiny] [--mutate <kind>]
  *
  * The workload generates its inputs from the seed under `--work` (the
  * corpus_queries tables arrive pre-generated in `--data`), warms up, runs
  * its operations until `--seconds` have passed, checks the outputs and
  * writes `result.json` (and, traced, `spans.json`) into `--work`. The
  * launcher (run.py) turns that into the benchmark's result line. */
object Main {

  val Workloads: Map[String, Ctx => Unit] = Map(
    "bulk_extract" -> BulkExtract.run,
    "corpus_queries" -> CorpusQueries.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()
    val ctx = new Ctx(spark, workload, opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1",
      Paths.get(opt("work")), opts.get("data").map(Paths.get(_)),
      opts.getOrElse("size", "full") == "tiny", opts.getOrElse("mutate", "none"))
    try {
      ctx.op("workload")(run(ctx))
      // run hygiene: nothing the workload persisted may outlive it. Persisted
      // RDDs nothing references any more are released by Spark's context
      // cleaner once collected, so collect first; what stays is held. The
      // count before collecting (the workload's unreleased persists) is a
      // per-layer metric.
      ctx.metric("spark.persisted_rdds_pre_gc",
        spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
      val leaked = (1 to 5).map { _ =>
        System.gc()
        Thread.sleep(200)
        spark.sparkContext.getPersistentRDDs.size
      }.last
      ctx.check(s"persisted RDDs held after the workload: $leaked")(leaked == 0)
      ctx.log("checked")
    } finally ctx.tracer.close()
    if (ctx.tracer.traced)
      Files.writeString(ctx.work.resolve("spans.json"), ctx.tracer.toJson)
    Files.writeString(ctx.work.resolve("result.json"), ctx.resultJson(readyMs))
    spark.stop()
  }
}

/** What a workload sees: the session, its options, the tracer, and the
  * run's counters and metrics. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, traced: Boolean, val work: Path,
    val data: Option[Path], val tiny: Boolean, val mutate: String) {

  val tracer = new Tracer(spark, traced)
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val genS = mutable.ArrayBuffer.empty[Double]
  private var onceS = 0.0
  private var warmS = 0.0
  private var peakHeap = 0L

  def size(full: Int, tiny: Int): Int = if (this.tiny) tiny else full

  private val started = System.nanoTime()

  /** Progress line on stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%8.2f s  $msg")

  def dir(name: String): String = work.resolve(name).toString

  /** One attempted operation; an exception counts it as failed. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        System.err.println(s"[perfbench] operation failed: $name")
        e.printStackTrace()
        None
    }
  }

  /** One correctness check; false or an exception counts it as failed. */
  def check(name: String)(ok: => Boolean): Unit =
    if (!op(name)(ok).getOrElse(true)) {
      failed += 1
      failures += name.take(400)
      System.err.println(s"[perfbench] check failed: $name")
    }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Input generation repeated to steady the set-up time: set-up time
    * counts the median of the repetitions. */
  def setupRep[A](body: => A): A = {
    val (r, s) = tracer.timed(body)
    genS += s
    log(f"inputs generated in $s%.2f s")
    r
  }

  /** Input generation too costly to repeat: set-up time counts it whole. */
  def setupOnce[A](body: => A): A = {
    val (r, s) = tracer.timed(body)
    onceS += s
    log(f"inputs generated once in $s%.2f s")
    r
  }

  def warmup[A](body: => A): A = {
    val (r, s) = tracer.timed(body)
    warmS += s
    log(f"warmed up in $s%.2f s")
    r
  }

  /** Run `rep(i)` for i = 0, 1, ... until `seconds` of wall time have passed
    * and at least `minReps` repetitions ran. After each repetition the heap
    * is collected and its live size sampled, outside the repetition's own
    * timing. Returns the number of repetitions. */
  def measure(minReps: Int)(rep: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      rep(i)
      sampleHeap()
      i += 1
    }
    log(s"measured $i repetitions")
    i
  }

  private def sampleHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakHeap = math.max(peakHeap, used)
  }

  def peakHeapMb: Double = peakHeap / 1e6

  def resultJson(readyMs: Long): String = {
    import Json.{num, str}
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
    s"""{"workload":${str(workload)},"seed":$seed,"traced":${tracer.traced},""" +
      s""""attempted":$attempted,"failed":$failed,""" +
      s""""failures":[${failures.map(str).mkString(",")}],""" +
      s""""session_ready_ms":$readyMs,""" +
      s""""setup_gen_s":[${genS.map(num).mkString(",")}],""" +
      s""""setup_once_s":${num(onceS)},""" +
      s""""setup_warm_s":${num(warmS)},""" +
      s""""metrics":{${ms.mkString(",")}}}""" + "\n"
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
