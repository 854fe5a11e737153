package perfbench

import org.apache.spark.sql.functions._

/** Checks of [[Digest]] on synthetic results: what must compare equal
  * across engines and orders, and what must not. Exits 1 on a failure. */
object SelfTest {
  def run(workDir: String): Unit = {
    val spark = Main.session(2, workDir)
    import spark.implicits._
    val bad = Vector.newBuilder[String]
    def same(what: String, a: Digest, b: Digest): Unit = if (a != b) bad += s"$what: $a != $b"
    def differ(what: String, a: Digest, b: Digest): Unit = if (a == b) bad += s"$what: both $a"

    val t = Seq((1, "x", 1.5), (2, "y", 2.25), (3, null, -0.125)).toDF("k", "s", "v")
    same("row order", Digest.of(t), Digest.of(t.orderBy(desc("k")).repartition(3)))
    same("column order", Digest.of(t), Digest.of(t.select("v", "s", "k")))
    differ("multiplicity", Digest.of(t), Digest.of(t.union(t)))
    differ("one value", Digest.of(t), Digest.of(t.withColumn("v", col("v") + 1e-3)))
    differ("null vs empty", Digest.of(Seq(Some(""), None).toDF("s")),
      Digest.of(Seq(Some(""), Some("")).toDF("s")))
    same("int, long, integral double and decimal",
      Digest.of(Seq(1, 2).toDF("n")), Digest.of(Seq(1L, 2L).toDF("n")))
    same("integral double", Digest.of(Seq(1L, 2L).toDF("n")), Digest.of(Seq(1.0, 2.0).toDF("n")))
    same("decimal", Digest.of(Seq(1L, 2L).toDF("n")),
      Digest.of(Seq(1L, 2L).toDF("n").select(col("n").cast("decimal(38,0)").as("n"))))
    same("fractions to 10 digits", Digest.of(Seq(0.1 + 0.2).toDF("x")), Digest.of(Seq(0.3).toDF("x")))
    differ("fractions beyond 10 digits", Digest.of(Seq(1.00001).toDF("x")), Digest.of(Seq(1.0).toDF("x")))
    same("timestamp and timestamp_ntz at UTC",
      Digest.of(Seq("2024-01-01 10:00:00").toDF("s").select(to_timestamp(col("s")).as("t"))),
      Digest.of(Seq("2024-01-01 10:00:00").toDF("s").select(to_timestamp_ntz(col("s")).as("t"))))
    same("nested arrays", Digest.of(Seq(Seq(1, 2)).toDF("a")), Digest.of(Seq(Seq(1L, 2L)).toDF("a")))
    val orders = (0L until 50L).map(LakeMix.order(7L, _))
    val model = new LakeMix.Model
    orders.foreach(model.put)
    same("lake replay model", Digest.of(LakeMix.frame(spark, orders)), model.digest)
    spark.stop()
    val failures = bad.result()
    failures.foreach(f => System.err.println(s"selftest FAILED $f"))
    println(if (failures.isEmpty) "selftest ok" else s"selftest: ${failures.size} failures")
    if (failures.nonEmpty) sys.exit(1)
  }
}
