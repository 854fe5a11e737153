package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the library. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, runId: String, gcMs: Long = 0L) {
  def ms: Double = end - start
}

/** Spans and engine counters of one run, kept in memory and written at the
  * end. With `enabled = false` spans are still timed (the workloads need
  * their durations) but no listener is registered, so the engine does no
  * extra work. */
final class Trace(val enabled: Boolean, val runId: String) {
  private val base = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now(): Double = base + System.nanoTime() / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Runs `f` inside a span whose parent is the innermost open span of
    * this thread. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val id = nextId.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val gc0 = if (enabled) gcTotalMs() else 0L
    val t0 = now()
    try {
      val out = f
      val s = Span(id, name, t0, now(), parent, runId,
        if (enabled) gcTotalMs() - gc0 else 0L)
      spans.synchronized(spans += s)
      (out, s)
    } finally stack.set(stack.get.tail)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList).sortBy(_.start)

  // ── engine channels (registered only when enabled) ──────────────────
  final case class Job(start: Double, end: Double)
  final case class Task(end: Double, runMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)
  final case class Phases(start: Double, end: Double, analysis: Double,
      optimizer: Double, planning: Double)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[Phases]

  private def gcTotalMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time.toDouble)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = Option(jobStarts.remove(e.jobId)).getOrElse(e.time.toDouble)
        jobs.synchronized(jobs += Job(s, e.time.toDouble))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.synchronized(tasks += Task(e.taskInfo.finishTime.toDouble,
          m.executorRunTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        recordPhases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        recordPhases(qe)
    })
  }

  /** Materialises and digests `df` (see [[Digest.of]]); its planning
    * phases are recorded here because that execution path does not reach
    * the query-execution listeners. */
  def digest(df: org.apache.spark.sql.DataFrame): Digest = {
    val d = Digest.of(df)
    recordPhases(df.queryExecution)
    d
  }

  /** Analysis, optimizer and planning phases of one query execution. */
  def recordPhases(qe: QueryExecution): Unit = if (enabled) {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    if (ph.nonEmpty) phases.synchronized(phases += Phases(
      ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.endTimeMs).max.toDouble,
      d("analysis"), d("optimization"), d("planning")))
  }

  /** Waits until every started job has been reported as ended. */
  def quiesce(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (!jobStarts.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300) // task and query-execution events trail job ends
  }

  /** Planning, job time, driver gap and engine counters inside one span.
    * Job time is the union of job intervals that overlap the span; the
    * gap is the span's wall time that no job covers. */
  def breakdown(s: Span): Map[String, Double] = {
    val js = jobs.synchronized(jobs.toList).filter(j => j.end >= s.start && j.start <= s.end)
      .map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    js.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    val ph = phases.synchronized(phases.toList).filter(p => p.start >= s.start - 1 && p.end <= s.end + 1)
    val ts = tasks.synchronized(tasks.toList).filter(t => t.end >= s.start && t.end <= s.end + 1)
    val planning = ph.map(p => p.analysis + p.optimizer + p.planning).sum
    Map(
      "wall_ms" -> s.ms,
      "analysis_ms" -> ph.map(_.analysis).sum,
      "optimizer_ms" -> ph.map(_.optimizer).sum,
      "planning_ms" -> ph.map(_.planning).sum,
      "job_ms" -> covered,
      "driver_gap_ms" -> math.max(0.0, s.ms - covered - planning),
      "jobs" -> js.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "gc_ms" -> s.gcMs.toDouble)
  }
}
