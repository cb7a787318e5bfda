package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What every workload shares: the run's arguments, its directories,
  * the span store and, in a traced run, Spark's hooks. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, val trace: Boolean,
    val dataDir: Path, val workDir: Path) {
  val spans = new Spans
  @volatile var hooks: Option[Hooks] = None
}

/** A workload's result. `e2e` holds the end-to-end metrics, `layers`
  * the per-layer ones (both always filled; the launcher prints the
  * set the run asked for). */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double], checks: Map[String, Any])

trait Workload {
  /** Inputs that need a session (excluded from set-up time). */
  def gen(spark: SparkSession): Unit
  /** Workload warm-up, counted in set-up time. `last` = the set-up the
    * measurement continues from. */
  def warmup(spark: SparkSession, rep: Int, last: Boolean): Unit
  def measure(spark: SparkSession): Outcome
}

/** JVM side of the benchmark (launched by perfbench/run.py):
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <tables dir> --work <scratch dir> --out <result.json>
  * }}}
  *
  * Sets up [[SetupReps]] times (session, registration, warm-up job,
  * workload warm-up) and reports the median as `setup_s`; the first
  * set-up counts from JVM start. Input generation inside the first
  * set-up is timed apart (`bench.gen_s`). Then measures once and
  * writes the result record.
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Fs.path(a("data")), Fs.path(a("work")))
    val out = Fs.path(a("out"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val warehouse = ctx.workDir.resolve("warehouse").toString

    val w: Workload = ctx.workload match {
      case "cdc_large_state" => new CdcWorkload(ctx)
      case "llm_queries" => new QueriesWorkload(ctx)
      case "dedup_scale" => new DedupWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var genMs = 0.0
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { rep =>
      val t0 = if (rep == 1) jvmStartMs else Clock.nowMs()
      spark = Session.create(warehouse)
      if (rep == 1) {
        val g0 = Clock.nowMs()
        w.gen(spark)
        genMs = Clock.nowMs() - g0
      }
      // hooks go in before the last warm-up: a stream started there runs
      // its batches on a clone of the session, listeners included
      if (ctx.trace && rep == SetupReps) ctx.hooks = Some(new Hooks(spark))
      w.warmup(spark, rep, last = rep == SetupReps)
      val s = (Clock.nowMs() - t0 - (if (rep == 1) genMs else 0.0)) / 1000.0
      Log.phase(f"set-up $rep: $s%.2fs (generation ${genMs / 1000}%.2fs)")
      if (rep < SetupReps) Session.stop(spark)
      s
    }
    Codegen.mark()

    val o = try w.measure(spark) finally Session.stop(spark)
    Log.phase("measured and checked")

    val record = Map(
      "nproc" -> Session.cpus,
      "mem_total_kb" -> memTotalKb(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "seed" -> ctx.seed,
      "session" -> Map(
        "master" -> s"local[${Session.cpus}]",
        "spark.sql.shuffle.partitions" -> Session.cpus,
        "spark.sql.codegen.cache.maxEntries" -> 5000,
        "spark.local.dir" -> graft.util.LocalScratch.dir().getOrElse("default")),
      "setup_s_reps" -> setups)
    val coverage = ctx.spans.all.find(_.name == "bench.workload").map { root =>
      val (self, cov) = ctx.spans.selfTimes(root)
      ctx.spans.write(out.resolveSibling(out.getFileName.toString.replace(".json", ".spans.json")), self, cov)
      cov * 100
    }
    val layers = o.layers ++ coverage.map("bench.layer_coverage_pct" -> _) ++
      Map("bench.gen_s" -> (genMs / 1000.0 + a.get("pregen_s").map(_.toDouble).getOrElse(0.0)))
    val e2e = o.e2e ++ Map("setup_s" -> Stats.median(setups), "peak_rss_mb" -> Session.peakRssMb())
    Json.write(out, Map(
      "attempted" -> o.attempted, "failed" -> o.failed, "failures" -> o.failures,
      "e2e" -> e2e, "layers" -> layers, "checks" -> o.checks, "record" -> record))
  }

  private def memTotalKb(): Long =
    scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
