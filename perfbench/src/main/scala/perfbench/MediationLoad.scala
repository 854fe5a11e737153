package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{ExecutionContext, Future, Promise}
import scala.jdk.CollectionConverters._

import graft.apps.MediationApp
import graft.model._
import graft.sources.Bus
import graft.streaming.AsyncEnrich
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Notification endpoint owned by the benchmark: answers every request
  * after a fixed delay, on a timer, without holding a thread meanwhile. */
final class DelayClient extends AsyncEnrich.NotificationClient {
  override def send(req: HttpRequest)(implicit ec: ExecutionContext): Future[NotificationResponse] = {
    val n = DelayClient.inflight.incrementAndGet()
    DelayClient.inflightMax.accumulateAndGet(n, math.max)
    DelayClient.sends.incrementAndGet()
    val p = Promise[NotificationResponse]()
    DelayClient.timer.schedule(new Runnable {
      def run(): Unit = {
        DelayClient.inflight.decrementAndGet()
        p.success(NotificationResponse(101, req.title, req.body, req.userId))
      }
    }, DelayClient.DelayMs, TimeUnit.MILLISECONDS)
    p.future
  }
}

object DelayClient {
  val DelayMs = 5L
  val sends = new AtomicLong()
  val inflight = new AtomicInteger()
  val inflightMax = new AtomicInteger()
  lazy val timer = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-endpoint"); t.setDaemon(true); t
  }
}

/** `mediation_open_loop`: the flagship pipeline (`MediationApp.start` over
  * the log bus, TWS dedup, async enrichment, analytics and toxic sinks)
  * fed by one generator thread, in a JVM of its own, on a fixed schedule
  * that does not slow when the pipeline does. The rate steps through
  * [[Rates]]; every record's due time is stamped into
  * `event.nhubTimestamp`, and its latency runs from that due time to the
  * end of the micro-batch that wrote its result.
  * Drain and backlog come from bus offsets and `StreamingQueryProgress`;
  * the sinks are read only after the queries stop. */
object MediationLoad {

  /** Offered rates (records/s) and each step's share of the window. The
    * end-to-end latency is taken at 1,667/s, which gets the longest step so
    * that it spans several micro-batches: 3,333/s, the reference's figure,
    * is ~95% of this pipeline's capacity on 4 cores, where the latency
    * flips between a steady and a growing backlog from run to run. */
  val Rates: Seq[Int] = Seq(1667, 3333, 6667, 13333, 26667)
  val StepShares: Seq[Double] = Seq(0.5, 0.2, 0.1, 0.1, 0.1)
  val PrefillKeys = 100000
  val TickMs = 100L
  val TriggerMs = 200L
  val InvalidShare = 0.02
  val HotShare = 0.05
  val RepeatShare = 0.10
  private val Message = "tienes un cargo de 101.0 EUR en tu cuenta *67890."

  /** Key of generated record `g`: (transactionId, customerId). */
  def novelKey(seed: Long, g: Long): (String, String) = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ g)
    (f"E2${r.nextLong()}%016x${r.nextInt(1 << 24)}%06x", (g % 1000).toString)
  }
  val HotKey = ("E2f0f0f0f0f0f0f0f0f0f0f0f0", "7")

  def record(tx: Option[String], cust: String, g: Long, due: Long): MyEventRecord =
    MyEventRecord(Event(Some(s"gen_$g"), tx, Some(due)), Customer(Some(cust), Some("Perf Bench")),
      Notification(Some("DEBIT_PURCHASE"), Some(Message)))

  /** Seeded stream of records with the workload's mix; tracks what the
    * pipeline must output. */
  final class Generator(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var g = 0L
    private val recent = new Array[(String, String)](50000)
    private var nRecent = 0
    private val seen = new java.util.HashSet[String]()
    var valid = 0L; var invalid = 0L; var distinct = 0L
    private def remember(k: (String, String)): Unit = {
      recent((nRecent % recent.length).toInt) = k; nRecent += 1
    }
    private def note(k: (String, String)): Unit =
      if (seen.add(s"${k._1}-${k._2}")) distinct += 1

    def prefill(n: Int, due: Long): Seq[MyEventRecord] = (0 until n).map { _ =>
      val k = novelKey(seed, g); remember(k); note(k); valid += 1
      val r = record(Some(k._1), k._2, g, due); g += 1; r
    }

    def next(due: Long): MyEventRecord = {
      val u = rnd.nextDouble()
      val r =
        if (u < InvalidShare) { invalid += 1; record(None, (g % 1000).toString, g, due) }
        else {
          val k =
            if (u < InvalidShare + HotShare) HotKey
            else if (u < InvalidShare + HotShare + RepeatShare && nRecent > 0)
              recent(rnd.nextInt(math.min(nRecent, recent.length)))
            else { val k = novelKey(seed, g); remember(k); k }
          valid += 1; note(k)
          record(Some(k._1), k._2, g, due)
        }
      g += 1
      r
    }
  }

  /** Step bounds (rate, start ms, end ms) of a window starting at `t0`. */
  def schedule(t0: Double, seconds: Double): IndexedSeq[(Int, Long, Long)] = {
    val bounds = StepShares.scanLeft(t0)((t, share) => t + share * seconds * 1000).map(_.toLong)
    Rates.indices.map(i => (Rates(i), bounds(i), bounds(i + 1)))
  }

  private def waitForFile(f: java.io.File, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (!f.exists() && System.nanoTime() < deadline) Thread.sleep(20)
    f.exists()
  }

  private def writeAtomically(f: java.io.File, text: String): Unit = {
    val tmp = new java.io.File(f.getPath + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, text)
    java.nio.file.Files.move(tmp.toPath, f.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The load generator, in a JVM of its own so that its publishes never
    * queue behind the pipeline's tasks for a task slot. It publishes the
    * pre-fill and two warm-up batches, reports `ready`, waits for `go`
    * (the window's start), runs the schedule and writes `log.txt`:
    * one `publish <start> <end> <records> <published so far> <lateness>`
    * line per publish and an `expected <valid> <distinct> <invalid>` line. */
  def generatorMain(bus: String, seed: Long, seconds: Double, parts: Int, control: String): Unit = {
    val spark = Main.session(2, control)
    import spark.implicits._
    val gen = new Generator(seed)
    val lines = Vector.newBuilder[String]
    var published = 0L
    def now() = System.currentTimeMillis().toDouble
    def publish(rs: Seq[MyEventRecord]): Unit = {
      val start = now()
      Bus.logBusAppend(rs.toDS(), bus, "events", parts)
      published += rs.size
      // how late the oldest record of this publish left, beyond one tick
      val late = math.max(0.0, now() - rs.head.event.nhubTimestamp.get - TickMs)
      lines += s"publish $start ${now()} ${rs.size} $published $late"
    }
    publish(gen.prefill(PrefillKeys, System.currentTimeMillis()))
    (0 until 2).foreach(_ => publish((0 until 100).map(_ => gen.next(System.currentTimeMillis()))))
    lines.clear()
    writeAtomically(new java.io.File(control, "ready"), published.toString)
    val go = new java.io.File(control, "go")
    if (!waitForFile(go, 150)) Runtime.getRuntime.halt(3)
    val t0 = java.nio.file.Files.readString(go.toPath).trim.toDouble
    val steps = schedule(t0, seconds)
    val end = steps.last._3.toDouble
    val emitted = Array.fill(steps.size)(0L) // records of each step published so far
    var tick = t0
    var done = false
    while (!done) {
      val sleep = tick - now()
      if (sleep > 0) Thread.sleep(sleep.toLong)
      val t = now()
      // every record due by now; record j of a step is due at start + j / rate
      val batch = steps.zipWithIndex.flatMap { case ((rate, a, b), k) =>
        val due = (math.max(0.0, math.min(t, b.toDouble) - a) * rate / 1000).toLong
        val rs = (emitted(k) until due).map(j => gen.next((a + j * 1000.0 / rate).toLong))
        emitted(k) = math.max(emitted(k), due)
        rs
      }
      if (batch.nonEmpty) publish(batch)
      if (t >= end) done = true
      else tick = math.min(end, math.max(tick + TickMs, now()))
    }
    lines += s"expected ${gen.valid} ${gen.distinct} ${gen.invalid} $published"
    writeAtomically(new java.io.File(control, "log.txt"), lines.result().mkString("\n"))
    spark.stop()
    Runtime.getRuntime.halt(0)
  }

  /** Starts the generator JVM with this JVM's class path and flags, on a
    * smaller heap. */
  private def startGenerator(bus: String, seed: Long, seconds: Double, parts: Int,
      control: java.io.File): Process = {
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ flags ++ Seq("-Xmx1g",
      "-cp", sys.props("java.class.path"), "perfbench.Main", "generator", bus, seed.toString,
      seconds.toString, parts.toString, control.getPath)
    new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(new java.io.File(control, "generator.log")).start()
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.trace
    val root = s"${ctx.workDir}/mediation"
    val bus = s"$root/bus"; val out = s"$root/out"; val toxic = s"$root/toxic"
    val control = new java.io.File(s"$root/control")
    control.mkdirs()
    val parts = ctx.cpus

    // progress of both queries, by query id
    val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def consumed(queryId: java.util.UUID): Long =
      progress.asScala.filter(_.id == queryId).map(p => offsetSum(p.sources.head.endOffset))
        .maxOption.getOrElse(0L)

    def start(enrich: AsyncEnrich.Config) = {
      val events = tr.span("bus.logBusRecordSource")(MediationApp.busStream(spark, bus, "events", parts))._1
      tr.span("MediationApp.start")(MediationApp.start(spark, events, Nil,
        MediationApp.Config(trigger = Trigger.ProcessingTime(TriggerMs), enrich = enrich),
        () => new DelayClient, out, toxic, s"$root/ckpt"))._1
    }

    val generator = startGenerator(bus, ctx.seed, ctx.seconds, parts, control)
    try {
      // setup: pre-fill dedup state through the pipeline itself, with the
      // enrichment throttle lifted so the fill does not take minutes; then
      // restart on the same checkpoint with the default enrichment config
      val ((queries, filled), setupSpan) = tr.span("setup.prefill") {
        val ready = new java.io.File(control, "ready")
        require(waitForFile(ready, 120), "the generator did not publish the pre-fill")
        val filled = java.nio.file.Files.readString(ready.toPath).trim.toLong
        val fill = start(AsyncEnrich.Config(clientId = "perfbench-prefill",
          ratePerSec = Int.MaxValue / 2, burst = Int.MaxValue / 2))
        waitFor(fill.map(_.id), consumed, filled, 120)
        fill.foreach(_.stop())
        (start(AsyncEnrich.Config()), filled)
      }
      val analyticsId = queries.head.id
      val sends0 = DelayClient.sends.get

      // timed window: the generator runs the open-loop schedule
      val t0 = tr.now() + 300
      val steps = schedule(t0, ctx.seconds)
      writeAtomically(new java.io.File(control, "go"), f"$t0%.3f")
      val (_, window) = tr.span("load.window") {
        generator.waitFor((ctx.seconds + 60).toLong, java.util.concurrent.TimeUnit.SECONDS)
      }
      val log = new java.io.File(control, "log.txt")
      require(generator.exitValue() == 0 && log.exists(), "the generator did not finish its schedule")
      val logLines = java.nio.file.Files.readAllLines(log.toPath).asScala.map(_.split(' ').toVector)
      val publishLog = logLines.filter(_.head == "publish").map(l =>
        Map("start" -> l(1).toDouble, "end" -> l(2).toDouble, "n" -> l(3).toLong,
          "published" -> l(4).toLong, "late_ms" -> l(5).toDouble)).toVector
      val Vector(_, valid, distinct, invalid, total) = logLines.find(_.head == "expected").get
      val (drained, drain) = tr.span("load.drain")(waitFor(queries.map(_.id), consumed, total.toLong, 90))
      queries.foreach(_.stop())
      tr.quiesce()
      val readT0 = tr.now()

      // results, read after the queries stopped
      val analytics = progress.asScala.filter(_.id == analyticsId).toVector.sortBy(_.batchId)
      val batchEnd = analytics.map(p => p.batchId ->
        (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toLong)).toMap
      val res = spark.read.parquet(out)
        .select(col("batch").cast("long").as("batch"), col("record.event.nhubTimestamp").as("due"),
          (col("response.id") === 101).as("sent"))
      val counts = res.agg(count(lit(1)), count(when(col("sent"), 1))).collect()(0)
      val (rowsOut, sentOut) = (counts.getLong(0), counts.getLong(1))
      val lat = res.filter(col("due") >= t0).select("batch", "due").collect()
        .map(r => (r.getLong(1), batchEnd.getOrElse(r.getLong(0), Long.MaxValue) - r.getLong(1)))
      val toxicRows = scala.util.Try(spark.read.parquet(toxic).count()).getOrElse(0L)

      val perStep = steps.map { case (rate, a, b) =>
        val ls = lat.filter { case (due, _) => due >= a && due < b }.map(_._2.toDouble)
        // backlog at the batch ends inside the step
        val sampled = analytics.map(p => (batchEnd(p.batchId), p)).filter(e => e._1 >= a && e._1 < b)
        val backlog = sampled.map { case (t, p) =>
          val pub = publishLog.filter(e => e("end").asInstanceOf[Double] <= t)
            .map(_("published").asInstanceOf[Long]).maxOption.getOrElse(filled)
          Seq(t.toDouble, (pub - offsetSum(p.sources.head.endOffset)).toDouble)
        }
        val finish = lat.filter { case (due, _) => due >= a && due < b }
          .map { case (due, l) => due + l }.maxOption.getOrElse(b)
        Map("rate" -> rate, "start" -> a, "end" -> b, "latency_ms" -> ls.toSeq, "backlog" -> backlog,
          "last_result_ms" -> finish)
      }
      val batches = analytics.filter(p => batchEnd(p.batchId) >= t0).map { p =>
        val st = p.stateOperators.headOption
        val obs = Option(p.observedMetrics.get("graft_dedup"))
        Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
          "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
          "dedup_rows" -> obs.map(_.getAs[Long]("rows")).getOrElse(0L),
          "dedup_sent" -> obs.map(_.getAs[Long]("sent")).getOrElse(0L))
      }
      Map("workload" -> "mediation_open_loop",
        "setup_parts_s" -> Map("prefill" -> setupSpan.ms / 1000.0),
        "prefill_keys" -> PrefillKeys, "tick_ms" -> TickMs, "trigger_ms" -> TriggerMs,
        "endpoint_delay_ms" -> DelayClient.DelayMs, "window_s" -> window.ms / 1000.0,
        "drain_s" -> drain.ms / 1000.0, "readback_s" -> (tr.now() - readT0) / 1000.0,
        "drained" -> drained, "published" -> total.toLong,
        "expected" -> Map("rows_out" -> valid.toLong, "sent" -> distinct.toLong, "toxic" -> invalid.toLong),
        "got" -> Map("rows_out" -> rowsOut, "sent" -> sentOut, "toxic" -> toxicRows),
        "generator_lag_ms" -> publishLog.map(_("late_ms")),
        "publish" -> publishLog,
        "steps" -> perStep, "batches" -> batches,
        "enrich" -> Map("sends" -> (DelayClient.sends.get - sends0),
          "inflight_max" -> DelayClient.inflightMax.get))
    } finally {
      generator.destroyForcibly()
      generator.waitFor()
    }
  }

  /** Sum of the per-partition offsets in a bus source offset JSON. */
  def offsetSum(json: String): Long =
    if (json == null) 0L else graft.sources.v2.BusOffset.parse(json).next.values.sum

  /** Waits until every query has consumed `target` records; false on timeout. */
  private def waitFor(ids: Seq[java.util.UUID], consumed: java.util.UUID => Long,
      target: Long, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (ids.exists(consumed(_) < target) && System.nanoTime() < deadline) Thread.sleep(50)
    ids.forall(consumed(_) >= target)
  }
}
