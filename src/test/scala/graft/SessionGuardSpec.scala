package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Sessions are built in [[Harness]] only, so the bench, the oracle
  * dump, the diagnostics and the specs cannot drift onto different
  * configs again. */
class SessionGuardSpec extends AnyFunSuite {
  test("no source file outside Harness builds a SparkSession") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val pattern = """SparkSession\s*\.\s*builder""".r
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator.asScala.toList
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Harness.scala")
        .filter((p: Path) => pattern.findFirstIn(Files.readString(p)).isDefined)
      finally walk.close()
    assert(offenders.isEmpty, s"SparkSession built outside Harness in: ${offenders.mkString(", ")}")
  }
}
