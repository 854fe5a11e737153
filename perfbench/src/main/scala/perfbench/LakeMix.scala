package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.lake.GraftLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `lake_dml_mix`: one `GraftLake` table of orders, then one closed-loop
  * client issuing a seeded mix of reads (~60%) and writes (~40%), each
  * checked against an in-memory replay model of the same op sequence. */
object LakeMix {

  final case class Order(key: Long, cust: Long, status: String, price: Double,
      days: Int, priority: String)

  val Rows = 150000
  val SetupReps = 3
  /** Every 15th write of a client is an `optimize`, so two or three land
    * in a 10 s window (about 40 writes). */
  val OptimizeEvery = 15
  /** 20 ops: 60% reads, 40% writes. */
  val Deck: List[String] = List.fill(5)("scanEq") ++ List.fill(3)("scanRange") ++
    List.fill(2)("aggregate") ++ List.fill(2)("timeTravel") ++ List.fill(2)("append") ++
    List.fill(2)("update") ++ List.fill(2)("delete") ++ List.fill(2)("merge")
  private val Writes = Set("append", "update", "delete", "merge")
  /** Every op kind the client issues, in a fixed order. */
  val Ops: Seq[String] = Deck.distinct :+ "optimize"
  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Row `id` of the table for `seed`: same (seed, id), same row. */
  def order(seed: Long, id: Long, salt: Long = 0L): Order = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id * 31 + salt))
    Order(id, r.nextLong(15000), Statuses(r.nextInt(3)),
      math.rint(r.nextDouble(1000.0, 500000.0) * 100) / 100, r.nextInt(2404),
      Priorities(r.nextInt(5)))
  }

  def frame(spark: SparkSession, rows: Seq[Order]): DataFrame = {
    import spark.implicits._
    rows.toDF().select(col("key").as("o_orderkey"), col("cust").as("o_custkey"),
      col("status").as("o_orderstatus"), col("price").as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1995-01-01")), col("days")).as("o_orderdate"),
      col("priority").as("o_orderpriority"))
  }

  /** Row hash in [[Digest]]'s canonical form (columns in name order). */
  def rowHash(o: Order): Long = {
    val sb = new java.lang.StringBuilder
    sb.append(o.cust).append('\u0001').append("d").append(o.days + Epoch1995).append('\u0001')
      .append(o.key).append('\u0001').append(o.priority).append('\u0001')
      .append(o.status).append('\u0001').append(Digest.number(o.price)).append('\u0001')
    Digest.hash64(sb.toString)
  }
  private val Epoch1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private val Columns = "o_custkey,o_orderdate,o_orderkey,o_orderpriority,o_orderstatus,o_totalprice"

  /** The replay model: the table's rows by key and its running digest. */
  final class Model {
    val rows = mutable.LongMap.empty[Order]
    var sum = 0L
    def put(o: Order): Unit = { remove(o.key); rows(o.key) = o; sum += rowHash(o) }
    def remove(k: Long): Unit = rows.remove(k).foreach(o => sum -= rowHash(o))
    def digest: Digest = Digest(rows.size.toLong, sum, Columns)
    def digestOf(os: Iterable[Order]): Digest =
      Digest(os.size.toLong, os.iterator.map(rowHash).sum, Columns)
    def range(lo: Long, hi: Long): Iterable[Order] =
      (lo to hi).iterator.flatMap(rows.get).toSeq
  }

  /** One closed-loop client on the table at `dir`, checking every read
    * against `model`. */
  final class Client(spark: SparkSession, tr: Trace, seed: Long, dir: String,
      val model: Model, rnd: scala.util.Random) {
    val versions = mutable.LinkedHashMap(GraftLake.latestVersion(dir) -> model.digest)
    var nextKey = model.rows.size.toLong
    var writes = 0
    var userRows = 0L
    val ops = Vector.newBuilder[Map[String, Any]]
    private def randomKey(): Long = (rnd.nextDouble() * nextKey).toLong
    private def record(kind: String, rw: String, s: Span, ok: Boolean, detail: String = ""): Unit =
      ops += Map("op" -> kind, "rw" -> rw, "ms" -> s.ms, "ok" -> ok, "detail" -> detail,
        "breakdown" -> (if (tr.enabled) Some(s) else None))
    private def afterWrite(kind: String, s: Span): Unit = {
      writes += 1
      val v = GraftLake.latestVersion(dir)
      versions(v) = model.digest
      record(kind, "write", s, ok = true, s"v$v")
    }

    // the op mix is dealt from a seeded shuffle of a fixed deck, so every
    // run issues the same shares of each op
    private var deck = List.empty[String]
    private def nextOp(): String = {
      if (deck.isEmpty) deck = rnd.shuffle(Deck)
      val op = deck.head
      deck = deck.tail
      if (Writes(op) && writes > 0 && writes % OptimizeEvery == 0) "optimize" else op
    }

    def step(op: String = nextOp()): Unit = {
      if (op == "optimize") {
        val (_, s) = tr.span("lake.optimize")(GraftLake.optimize(spark, dir))
        afterWrite("optimize", s)
      } else if (op == "scanEq") {
        val k = randomKey()
        val (d, s) = tr.span("lake.scanEq")(tr.digest(GraftLake.scanEq(spark, dir, "o_orderkey", k)._1))
        record("scanEq", "read", s, d == model.digestOf(model.rows.get(k)), s"k$k")
      } else if (op == "scanRange") {
        val lo = randomKey(); val hi = lo + 200
        val (d, s) = tr.span("lake.scanRange")(
          tr.digest(GraftLake.scanRange(spark, dir, "o_orderkey", lo, hi)._1))
        record("scanRange", "read", s, d == model.digestOf(model.range(lo, hi)), s"$lo-$hi")
      } else if (op == "aggregate") {
        val (got, s) = tr.span("lake.read.agg") {
          GraftLake.read(spark, dir).groupBy("o_orderstatus")
            .agg(count(lit(1)), sum("o_totalprice")).collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        }
        val want = model.rows.values.groupBy(_.status).map { case (st, os) =>
          st -> (os.size.toLong, os.iterator.map(_.price).sum) }
        val ok = got.keySet == want.keySet && got.forall { case (st, (n, sm)) =>
          want(st)._1 == n && math.abs(want(st)._2 - sm) <= 1e-9 * math.abs(sm) + 1e-6 }
        record("aggregate", "read", s, ok)
      } else if (op == "timeTravel") {
        val v = versions.keys.toIndexedSeq(rnd.nextInt(versions.size))
        val (d, s) = tr.span("lake.read.asOf")(tr.digest(GraftLake.read(spark, dir, Some(v))))
        record("timeTravel", "read", s, d == versions(v), s"v$v")
      } else if (op == "append") {
        val rows = (0 until 200).map(i => order(seed, nextKey + i))
        nextKey += 200
        val (_, s) = tr.span("lake.append")(GraftLake.append(frame(spark, rows), dir))
        rows.foreach(model.put)
        userRows += rows.size
        afterWrite("append", s)
      } else if (op == "update") {
        val lo = randomKey(); val hi = lo + 50
        val (_, s) = tr.span("lake.update")(GraftLake.update(spark, dir,
          col("o_orderkey").between(lo, hi), Seq("o_totalprice" -> (col("o_totalprice") + 1.0))))
        val hit = model.range(lo, hi)
        hit.foreach(o => model.put(o.copy(price = o.price + 1.0)))
        userRows += hit.size
        afterWrite("update", s)
      } else if (op == "delete") {
        val lo = randomKey(); val hi = lo + 30
        val (_, s) = tr.span("lake.delete")(GraftLake.delete(spark, dir,
          col("o_orderkey").between(lo, hi)))
        (lo to hi).foreach(model.remove)
        afterWrite("delete", s)
      } else {
        val lo = randomKey()
        val upd = (lo until math.min(lo + 1000, nextKey)).map(k => order(seed, k, salt = writes + 1L)) ++
          (0 until 100).map(i => order(seed, nextKey + i))
        nextKey += 100
        val (_, s) = tr.span("lake.merge")(GraftLake.merge(spark, dir, frame(spark, upd), "o_orderkey"))
        upd.foreach(model.put)
        userRows += upd.size
        afterWrite("merge", s)
      }
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.trace
    val seed = ctx.seed
    val base = (0L until Rows).map(order(seed, _))
    def model() = { val m = new Model; base.foreach(m.put); m }
    def create(dir: String): Unit =
      GraftLake.create(frame(spark, base).repartitionByRange(8, col("o_orderkey")), dir)
    val setupMs = (0 until SetupReps).map { i =>
      tr.span("lake.create")(create(s"${ctx.workDir}/lake/t$i"))._2.ms
    }
    // warm-up: one deck of ops and an optimize on a second table, so the
    // timed ops do not pay first-use compilation
    val warm = new Client(spark, tr, seed, s"${ctx.workDir}/lake/t1", model(),
      new scala.util.Random(seed + 1))
    val (_, warmSpan) = tr.span("setup.warmup") {
      Deck.foreach(_ => warm.step())
      warm.step("optimize")
    }
    val dir = s"${ctx.workDir}/lake/t0"
    val client = new Client(spark, tr, seed, dir, model(), new scala.util.Random(seed))
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) client.step()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val finalOk = Digest.of(GraftLake.read(spark, dir)) == client.model.digest
    tr.quiesce()
    val snap = GraftLake.snapshot(spark, dir)
    val logDir = new java.io.File(dir, "_log")
    val history = GraftLake.history(dir).drop(1) // (version, op, ts, adds, removes)
    // bytes of every data file the writes added (files stay on disk until a
    // vacuum), per byte of rows the user inserted or changed, at the
    // table's initial bytes per row
    val createdBytes = GraftLake.snapshot(spark, dir, Some(0L)).files.map(_.bytes).sum
    val root = java.nio.file.Paths.get(dir)
    val addedBytes = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !root.relativize(p).toString.startsWith("_"))
      .map(p => java.nio.file.Files.size(p)).sum - createdBytes
    val bytesPerRow = createdBytes.toDouble / Rows
    val out = client.ops.result().map { r =>
      r("breakdown") match {
        case Some(s: Span) => r.updated("breakdown", tr.breakdown(s))
        case _ => r - "breakdown"
      }
    }
    val snapMs = if (tr.enabled) (0 until 5).map(_ =>
      tr.span("lake.snapshot")(GraftLake.snapshot(spark, dir))._2.ms) else Nil
    Map("workload" -> "lake_dml_mix", "setup_parts_s" -> Map("create_median" ->
        setupMs.sorted.apply(setupMs.size / 2) / 1000.0, "warmup" -> warmSpan.ms / 1000.0),
      "elapsed_s" -> elapsed, "ops" -> out, "final_ok" -> finalOk,
      "final_rows" -> client.model.rows.size,
      "warmup_failures" -> warm.ops.result().count(_("ok") == false),
      "lake" -> Map("log_versions" -> (GraftLake.latestVersion(dir) + 1),
        "log_files" -> Option(logDir.listFiles()).map(_.length).getOrElse(0),
        "live_data_files" -> snap.files.size,
        "write_amp" -> (if (client.userRows > 0) addedBytes / (client.userRows * bytesPerRow) else 0.0),
        "files_rewritten_per_write" ->
          (if (history.nonEmpty) history.map(_._5).sum.toDouble / history.size else 0.0),
        "snapshot_ms" -> snapMs))
  }
}
