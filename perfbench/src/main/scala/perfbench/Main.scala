package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, the run's settings and its trace. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    cpus: Int, dataDir: String, workDir: String, trace: Trace)

/** Runs one workload in this JVM and writes its raw artifact (samples,
  * checks, spans) as JSON. The wrapper `perfbench/run.py` turns the artifact
  * into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <cpus> <dataDir>
  *             <workDir> <artifact.json>
  *        Main oracle-sql <out.json>
  *        Main expected <oracleDir> <expected.json>
  *        Main selftest <workDir>
  *        Main generator <busDir> <seed> <seconds> <partitions> <controlDir>
  */
object Main {

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog", "graft.sources.lake.GraftLakeCatalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** High-water resident set size of this process (VmHWM), in KiB. */
  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = args match {
    case Array("oracle-sql", out) =>
      Files.writeString(Paths.get(out), Json(BatchSweep.Panel.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
    case Array("expected", oracleDir, out) => BatchSweep.writeExpected(oracleDir, out)
    case Array("selftest", workDir) => SelfTest.run(workDir)
    case Array("generator", bus, seed, seconds, parts, control) =>
      MediationLoad.generatorMain(bus, seed.toLong, seconds.toDouble, parts.toInt, control)
    case Array(workload, seed, seconds, trace, cpus, dataDir, workDir, out) =>
      val runId = s"$workload-s$seed-c$cpus-t$trace"
      val tr = new Trace(trace == "1", runId)
      val (spark, sessionSpan) = tr.span("session.start")(session(cpus.toInt, workDir))
      tr.register(spark)
      val ctx = Ctx(spark, seed.toLong, seconds.toDouble, cpus.toInt, dataDir, workDir, tr)
      val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      val result =
        try workload match {
          case "batch_sweep" => BatchSweep.run(ctx)
          case "lake_dml_mix" => LakeMix.run(ctx)
          case "mediation_open_loop" => MediationLoad.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        } finally tr.quiesce()
      val spans = tr.allSpans
      val artifact = result ++ Map(
        "run_id" -> runId,
        "jvm_start_to_session_s" -> (sessionSpan.end - jvmStartMs) / 1000.0,
        "spark_version" -> spark.version,
        // the names the per-layer metrics are made from, whatever the workload
        "catalogue" -> Map("query_objects" -> BatchSweep.Objects.map(_._1),
          "panel" -> BatchSweep.Panel, "lake_ops" -> LakeMix.Ops, "rates" -> MediationLoad.Rates),
        "spans" -> (if (tr.enabled) spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "start" -> s.start, "end" -> s.end, "parent" -> s.parent, "run" -> s.runId))
        else Nil))
      spark.stop()
      Files.writeString(Paths.get(out), Json(artifact + ("peak_rss_kb" -> peakRssKb())))
      // the session is stopped and the artifact written; skip shutdown
      // hooks, which can stall the exit for tens of seconds after a
      // streaming run
      Runtime.getRuntime.halt(0)
    case _ =>
      System.err.println("usage: Main <workload> <seed> <seconds> <trace> <cpus> " +
        "<dataDir> <workDir> <artifact.json> | Main oracle-sql <out.json> | " +
        "Main expected <oracleDir> <out.json> | Main selftest <workDir>")
      sys.exit(2)
  }
}
