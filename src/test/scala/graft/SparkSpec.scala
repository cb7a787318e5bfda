package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM; sbt forks one
  * test JVM, so suites share it — cheap and deterministic), built by
  * [[Harness]] with the bench's config at 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(path: String): String = s"/root/testdata/$path"
}

object SparkSpec {
  val cpus = 4
  lazy val session: SparkSession = Harness.session(cpus)
}
