package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def cpus: Int = Harness.cpus(4)

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query-substring…]; substrings restrict the
    // dump while iterating, and without them every query is dumped
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    val spark = Harness.session(cpus)
    new java.io.File(outDir).mkdirs()
    Harness.select(names).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Harness.sweep(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
