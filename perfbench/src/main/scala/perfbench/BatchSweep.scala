package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.queries._

/** `batch_sweep`: a fixed panel of `SparkEntry.queries`, run one at a time
  * in a seeded order, every result materialised in full and digested.
  *
  * Setup runs the panel once on the small table set, so whole-stage
  * codegen and the JIT have compiled each query shape before timing. The
  * timed window then runs whole passes, each in its own seeded order,
  * until `seconds` have elapsed, at least [[MinPasses]]. Each result's row
  * count and digest are checked against the DuckDB oracle's result for the
  * same query on the same tables. */
object BatchSweep {

  /** Each query is timed at two positions of two seeded orders, so one
    * position's effect on it does not decide its time. */
  val MinPasses = 2

  /** The panel, one query per line of `perfbench/panel.txt` (read from the
    * root of the checkout). The full 234-query sweep takes minutes and
    * does not fit one run. */
  lazy val Panel: Seq[String] = {
    val src = scala.io.Source.fromFile("perfbench/panel.txt")
    try src.getLines().map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toVector
    finally src.close()
  }

  /** The query objects (the `queries` layer's modules) and their queries. */
  lazy val Objects: Seq[(String, Iterable[String])] = Seq(
    "RelationalQueries" -> RelationalQueries.all.keys, "LlmQueries" -> LlmQueries.all.keys,
    "ExtensionQueries" -> ExtensionQueries.all.keys,
    "MultimodalQueries" -> MultimodalQueries.all.keys, "StatsQueries" -> StatsQueries.all.keys,
    "AnalyticsQueries" -> AnalyticsQueries.all.keys,
    "DecisionSupportQueries" -> DecisionSupportQueries.all.keys,
    "LakeQueries" -> LakeQueries.all.keys)

  /** Query object that defines each query. */
  lazy val objectOf: Map[String, String] =
    Objects.flatMap { case (obj, qs) => qs.map(_ -> obj) }.toMap

  /** Digests of the oracle results (one parquet per query, written by
    * DuckDB in `run.py`) as `name -> Digest.hex`. */
  def writeExpected(oracleDir: String, out: String): Unit = {
    val spark = Main.session(2, oracleDir)
    val digests = Panel.map { name =>
      val p = s"$oracleDir/$name.parquet"
      name -> (if (Files.exists(Paths.get(p))) Digest.of(spark.read.parquet(p)).hex
               else "missing")
    }.toMap
    spark.stop()
    Files.writeString(Paths.get(out), Json(digests))
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.trace
    val expected = Json.readStringMap(Files.readString(Paths.get(s"${ctx.dataDir}/expected.json")))
    val big = s"${ctx.dataDir}/sf0.01"
    val small = s"${ctx.dataDir}/sf0.001"

    def exec(name: String, dir: String): Either[String, Digest] =
      try Right(tr.digest(SparkEntry.queries(name)(spark, dir)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }

    val (_, warm) = tr.span("setup.warmup") { Panel.foreach(exec(_, small)) }

    val rows = Vector.newBuilder[Map[String, Any]]
    val passes = Vector.newBuilder[Double]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(Panel)
      val (_, ps) = tr.span(s"pass.$pass") {
        order.zipWithIndex.foreach { case (name, pos) =>
          val (res, s) = tr.span(s"query.$name")(exec(name, big))
          val got = res.map(_.hex).getOrElse("error")
          rows += Map(
            "query" -> name, "object" -> objectOf(name), "pass" -> pass, "position" -> pos,
            "ms" -> s.ms, "ok" -> (res.isRight && expected.get(name).contains(got)),
            "got" -> got, "want" -> expected.getOrElse(name, "missing"),
            "error" -> res.left.toOption,
            "breakdown" -> (if (tr.enabled) Some(s) else None))
        }
      }
      passes += ps.ms / 1000.0
      pass += 1
    }
    tr.quiesce()
    val out = rows.result().map { r =>
      r.get("breakdown") match {
        case Some(Some(s: Span)) => r.updated("breakdown", tr.breakdown(s))
        case _ => r - "breakdown"
      }
    }
    Map("workload" -> "batch_sweep", "setup_parts_s" -> Map("warmup" -> warm.ms / 1000.0),
      "pass_s" -> passes.result(), "queries" -> out)
  }
}
