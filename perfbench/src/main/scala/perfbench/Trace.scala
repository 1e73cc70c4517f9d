package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side work attributed to one span: the counters the listener sums
  * over the span's jobs. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    inRecords: Long = 0, inBytes: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    inRecords + o.inRecords, inBytes + o.inBytes,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spill + o.spill)
  def cpuS: Double = cpuNs / 1e9
  def gcS: Double = gcMs / 1e3
}

/** One timed call. `parent` is -1 for a root. Times are monotonic
  * nanoseconds for durations and epoch milliseconds for matching Spark job
  * start times to spans. */
final case class Span(id: Int, name: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, traced: Boolean) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Collects spans around calls into the program's public functions and, when
  * tracing, the Spark work each one caused.
  *
  * Untraced, a span is only a timer. Traced, each span runs under its own
  * job group (`pb-<id>`) and a listener owned by the benchmark sums task
  * metrics per job group. Jobs that carry another group (Structured
  * Streaming sets its own per query run) go to the innermost span open when
  * the job started: the client is a single closed-loop thread, so that span
  * caused them. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0
  private var on = traced

  private final class Listener extends SparkListener {
    // job -> (group, start ms); stage -> job; stage -> summed task work
    val jobs = new ConcurrentHashMap[Int, (String, Long)]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val stageWork = new ConcurrentHashMap[Int, Work]()
    val completedStages = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs.put(e.jobId, (group, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      completedStages.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = Work(tasks = 1, runMs = m.executorRunTime,
          cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
          inRecords = m.inputMetrics.recordsRead,
          inBytes = m.inputMetrics.bytesRead,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled)
        stageWork.merge(e.stageId, w, (a, b) => a + b)
      }
    }
  }

  private val listener = if (traced) Some(new Listener) else None
  listener.foreach(sc.addSparkListener)

  /** Run `body` with tracing off (no listener, no job groups): a traced run
    * interleaves such repetitions to measure the tracing overhead. */
  def quiet[A](body: => A): A =
    if (!on) body
    else {
      org.apache.spark.perfbench.Bus.drain(sc) // deliver traced events first
      listener.foreach(sc.removeSparkListener)
      on = false
      try body
      finally { on = true; listener.foreach(sc.addSparkListener) }
    }

  /** Time `body` as a span named `name`, nested in the open span. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    if (on) sc.setJobGroup(s"pb-$id", name, interruptOnCancel = false)
    stack = (id, name, System.nanoTime(), System.currentTimeMillis()) :: stack
    try body
    finally {
      val (_, _, t0, m0) = stack.head
      stack = stack.tail
      spans += Span(id, name, parent, t0, System.nanoTime(), m0,
        System.currentTimeMillis(), on)
      if (on) stack.headOption match {
        case Some((pid, pname, _, _)) =>
          sc.setJobGroup(s"pb-$pid", pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Time `body` without recording a span; returns (result, seconds). */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Walls of the spans named `name` recorded with tracing on / off. */
  def walls(name: String, traced: Boolean): Seq[Double] =
    named(name).filter(_.traced == traced).map(_.wallS)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Wall time of `s` not covered by any of its children. */
  def selfS(s: Span): Double = {
    val kids = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  private var cached: (Int, Map[Int, Work]) = (-1, Map.empty)

  /** Spark work attributed to each span directly (not its children). */
  def selfWork: Map[Int, Work] = listener match {
    case None => Map.empty
    case Some(_) if cached._1 == spans.length => cached._2
    case Some(l) =>
      org.apache.spark.perfbench.Bus.drain(sc)
      val byId = spans.map(s => s.id -> s).toMap
      def owner(group: String, startMs: Long): Option[Int] =
        if (group != null && group.startsWith("pb-"))
          Some(group.stripPrefix("pb-").toInt)
        else spans.filter(s => s.traced && s.startMs <= startMs && startMs <= s.endMs)
          .sortBy(s => s.endMs - s.startMs).headOption.map(_.id)
      val jobOwner = l.jobs.asScala.toSeq.flatMap { case (job, (g, t)) =>
        owner(g, t).map(job -> _)
      }.toMap
      val acc = mutable.Map.empty[Int, Work].withDefaultValue(Work())
      jobOwner.values.foreach(s => acc(s) = acc(s).copy(jobs = acc(s).jobs + 1))
      l.stageJob.asScala.foreach { case (stage, job) =>
        jobOwner.get(job).foreach { s =>
          val w = Option(l.stageWork.get(stage)).getOrElse(Work())
          val done = if (l.completedStages.contains(stage)) 1L else 0L
          acc(s) = acc(s) + w.copy(stages = done)
        }
      }
      cached = (spans.length, acc.toMap.filter { case (id, _) => byId.contains(id) })
      cached._2
  }

  /** Work of `s` and every span nested in it. */
  def work(s: Span): Work =
    children(s).foldLeft(selfWork.getOrElse(s.id, Work()))(_ + work(_))

  def close(): Unit = listener.foreach(sc.removeSparkListener)

  /** All spans with their self time and Spark work, one JSON object each. */
  def toJson: String = {
    def num(d: Double) = f"$d%.6f"
    spans.sortBy(_.id).map { s =>
      val w = work(s)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""traced":${s.traced},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""wall_s":${num(s.wallS)},"self_s":${num(selfS(s))},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""executor_run_s":${num(w.runMs / 1e3)},""" +
        s""""executor_cpu_s":${num(w.cpuS)},"jvm_gc_s":${num(w.gcS)},""" +
        s""""input_records":${w.inRecords},"input_bytes":${w.inBytes},""" +
        s""""shuffle_read_bytes":${w.shuffleRead},""" +
        s""""shuffle_write_bytes":${w.shuffleWrite},""" +
        s""""spill_bytes":${w.spill}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
