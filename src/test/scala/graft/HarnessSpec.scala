package graft

import java.io.{ByteArrayOutputStream, PrintStream}

/** [[Harness]] is the only session factory: every entry point resolves
  * one config, the sweep leaves nothing persisted, and every [[Diag]]
  * mode runs on the spec session. */
class HarnessSpec extends SparkSpec {

  private val shared = Seq(
    "spark.sql.codegen.cache.maxEntries", "spark.sql.session.timeZone",
    "spark.sql.maxMetadataStringLength")

  test("Bench, Verify, Diag and the spec session resolve one config, partitions = cpus") {
    assert(spark.sparkContext.master == s"local[${SparkSpec.cpus}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == SparkSpec.cpus.toString)
    val live = shared.map(k => k -> spark.conf.get(k)).toMap
    assert(live == Map(
      "spark.sql.codegen.cache.maxEntries" -> Harness.CodegenCacheEntries.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.maxMetadataStringLength" -> "4096"))
    for ((path, cpus) <- Seq("Bench" -> Bench.cpus, "Verify" -> Verify.cpus,
        "Diag" -> Diag.cpus, "SparkSpec" -> SparkSpec.cpus)) {
      val conf = Harness.settings(cpus).toMap
      assert(conf("spark.master") == s"local[$cpus]", path)
      assert(conf("spark.sql.shuffle.partitions") == cpus.toString, path)
      shared.foreach(k => assert(conf(k) == live(k), s"$path $k"))
    }
  }

  test("sweep returns the persistent RDDs a localCheckpoint left and leaves none") {
    Harness.sweep(spark)
    spark.range(0, 1000).localCheckpoint().count()
    spark.range(0, 10).toDF("i").localCheckpoint().count()
    val left = spark.sparkContext.getPersistentRDDs.size
    assert(left >= 2)
    assert(Harness.sweep(spark) == left)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("every Diag mode runs q6_forecast_revenue at sf0.001 and prints") {
    val q6 = Harness.select(Seq("q6_forecast_revenue")).filter(_._1 == "q6_forecast_revenue")
    assert(q6.size == 1)
    for ((mode, run) <- Diag.modes) {
      val buf = new ByteArrayOutputStream()
      run(spark, sf("sf0.001"), q6, new PrintStream(buf, true, "UTF-8"))
      val out = buf.toString("UTF-8")
      assert(out.contains("q6_forecast_revenue"), s"$mode printed:\n$out")
      assert(!out.contains("FAILED"), s"$mode printed:\n$out")
    }
  }
}
