package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Wall clock in epoch milliseconds with nanoTime resolution, so the
  * benchmark's own timers line up with the epoch-ms timestamps of
  * Spark's listener events and planning-tracker phases. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def nowMs(): Double = baseMs + System.nanoTime() / 1e6
}

object Stats {
  /** Linear-interpolated percentile (q in 0..100). */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Minimal JSON writer for the result records (numbers, strings,
  * booleans, nested maps and sequences). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp")
    Files.write(tmp, apply(v).getBytes(UTF_8))
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** (files, bytes) under `p`, hidden and `_`-prefixed bookkeeping files excluded. */
  def sizeOf(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n = 0L; var b = 0L
        s.filter(f => Files.isRegularFile(f)).forEach { f =>
          val name = f.getFileName.toString
          if (!name.startsWith(".") && !name.startsWith("_")) { n += 1; b += Files.size(f) }
        }
        (n, b)
      } finally s.close()
    }

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)
}

/** The session every workload runs on: `graft.Bench`'s configuration
  * (local[nproc], shuffle partitions = nproc, codegen cache 5000,
  * UTC, no UI, scratch through `graft.util.LocalScratch`), its
  * function registration and its JVM warm-up job. */
object Session {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def create(warehouse: String): SparkSession = {
    val spark = graft.util.LocalScratch.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.{col, lit, pmod}
    spark.range(0, 100000).toDF("i")
      .repartition(4)
      .groupBy(pmod(col("i"), lit(7)).as("k"))
      .count()
      .write.mode("overwrite").format("noop").save()
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Persistent RDDs left behind, then the `graft.Bench` sweep:
    * blocking unpersist, cache clear and a full GC. */
  def sweep(spark: SparkSession): Int = {
    val cached = spark.sparkContext.getPersistentRDDs.values
    spark.catalog.clearCache()
    cached.foreach(_.unpersist(blocking = true))
    System.gc()
    cached.size
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Phase marks on stderr (the launcher keeps them in the run's log). */
object Log {
  private val t0 = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.2fs $what")
}
