package graft

import java.io.PrintStream
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** One diagnostic main for the bench queries, on the bench's own
  * session ([[Harness]]); measurement only, its output is no contract.
  * Usage: `runMain graft.Diag <mode> [query-substring…]` (no substring
  * = every query) with SPARK_GRAFT_SF_DIR set to the tables' directory;
  * SPARK_GRAFT_CPUS as in [[Bench]]. Modes:
  *  - `reps`: each query 3× in one warm session, printing per-rep wall,
  *    GC, jobs/stages/tasks/summed task time, rep 1's planning phases
  *    and JIT code-cache occupancy. Rep 1 carries analysis, codegen
  *    and AQE planning, later reps are steady state;
  *  - `stages`: `reps` plus [[Harness.StageListener]]'s stage lines;
  *  - `hot`: `reps` while sampling executor task threads — the
  *    hottest frames attribute task CPU to an expression or operator;
  *  - `construct`: samples the main thread while the DataFrame is built
  *    and planned (after one warm build) — attributes plan-build
  *    seconds to an analyzer rule or eager job;
  *  - `explain`: the formatted physical plan, not executed;
  *  - `plan`: the executed plan after AQE (the query is collected).
  * Each mode is a function of the session, so specs run it too. */
object Diag {
  type Mode = (SparkSession, String, Seq[Harness.Query], PrintStream) => Unit
  val Reps = 3
  def cpus: Int = Harness.cpus(32)

  val modes: Map[String, Mode] = Map(
    "reps" -> reps(stages = false, hot = false),
    "stages" -> reps(stages = true, hot = false),
    "hot" -> reps(stages = false, hot = true),
    "construct" -> construct,
    "explain" -> { (spark, sfDir, queries, out) => queries.foreach { case (name, fn) =>
      out.println(s"===== $name =====\n${fn(spark, sfDir).queryExecution.explainString(FormattedMode)}")
    } },
    "plan" -> { (spark, sfDir, queries, out) => queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // AQE settles the final plan only once it has run
      out.println(s"===== $name =====\n${df.queryExecution.executedPlan}")
    } })

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.flatMap(modes.get).getOrElse(sys.error(
      s"usage: graft.Diag <${modes.keys.toSeq.sorted.mkString("|")}> [query-substring…]"))
    val queries = Harness.select(args.toSeq.drop(1))
    require(queries.nonEmpty, s"no query matches ${args.drop(1).mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("SPARK_GRAFT_SF_DIR is not set"))
    val spark = Harness.session(cpus)
    try mode(spark, sfDir, queries, System.out) finally spark.stop()
  }

  private def reps(stages: Boolean, hot: Boolean): Mode = (spark, sfDir, queries, out) => {
    Harness.warmUp(spark)
    val stats = new Harness.StageListener(if (stages) out.println else _ => ())
    spark.sparkContext.addSparkListener(stats)
    def rep(name: String, fn: (SparkSession, String) => DataFrame)(i: Int) = {
      val (jobs0, stages0, tasks0) = (stats.jobs, stats.stages, stats.taskCount)
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        if (i == 1) {
          df.queryExecution.executedPlan
          val phases = df.queryExecution.tracker.phases
            .map { case (p, s) => s"$p=${s.endTimeMs - s.startTimeMs}ms" }.mkString(" ")
          out.println(f"[diag] $name plan-build ${(System.nanoTime() - t0) / 1e9}%.2f s  phases: $phases")
        }
        df.write.mode("overwrite").format("noop").save()
      } catch { case e: Throwable => out.println(s"[diag] $name rep$i FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcMs() - gc0
      Harness.sweep(spark)
      val tasks = stats.tasksSince(tasks0)
      out.println(f"[diag] $name rep$i wall=$wall%.2fs gc=${gc}ms jobs=${stats.jobs - jobs0} " +
        f"stages=${stats.stages - stages0} tasks=${tasks.size} task_time=${tasks.map(_._2).sum / 1e3}%.1fs")
      wall
    }
    try queries.foreach { case (name, fn) =>
      def run = (1 to Reps).map(rep(name, fn))
      val (walls, frames) = if (hot) sampled(executorStacks)(run) else (run, Nil)
      out.println(f"[diag] $name%-36s ${walls.map(w => f"$w%6.2f").mkString(" ")}  cc[$codeCache]")
      frames.foreach { case (sig, n) => out.println(f"  $n%6d  $sig") }
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  private def construct: Mode = (spark, sfDir, queries, out) =>
    queries.foreach { case (name, fn) =>
      fn(spark, sfDir).queryExecution.executedPlan // warm: class loading and JIT drop out
      val main = Thread.currentThread()
      val t0 = System.nanoTime()
      val (_, frames) = sampled(() => Seq(main.getStackTrace))(fn(spark, sfDir).queryExecution.executedPlan)
      out.println(f"[diag] $name construct (warm) ${(System.nanoTime() - t0) / 1e9}%.2f s; hottest frames:")
      frames.foreach { case (sig, n) => out.println(f"  $n%6d  $sig") }
    }

  private def executorStacks(): Iterable[Array[StackTraceElement]] =
    Thread.getAllStackTraces.asScala.collect {
      case (t, st) if t.getName.startsWith("Executor task launch") => st
    }

  /** Runs `body` while a daemon thread samples `stacks` every 20 ms;
    * returns its result and the 25 commonest signatures, each the leaf
    * frame < the first two graft / Spark SQL frames under it. Stacks
    * with no such frame (idle pool threads) are skipped. */
  private def sampled[A](stacks: () => Iterable[Array[StackTraceElement]])(
      body: => A): (A, Seq[(String, Int)]) = {
    val tally = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    @volatile var running = true
    def short(f: StackTraceElement) = s"${f.getClassName.split('.').last}.${f.getMethodName}"
    val sampler = new Thread(() => while (running) {
      stacks().foreach { st =>
        val owners = st.iterator.drop(1).filter { f =>
          f.getClassName.startsWith("org.apache.spark.sql") || f.getClassName.startsWith("graft")
        }.take(2).toSeq
        if (owners.nonEmpty) tally((st.head +: owners).map(short).mkString(" < ")) += 1
      }
      Thread.sleep(20)
    })
    sampler.setDaemon(true)
    sampler.start()
    val result = try body finally { running = false; sampler.join() }
    (result, tally.toSeq.sortBy(-_._2).take(25))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def codeCache: String =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getName.startsWith("CodeHeap")).map { p =>
      val seg = p.getName.stripPrefix("CodeHeap '").stripSuffix("'").stripSuffix(" nmethods")
      s"$seg=${p.getUsage.getUsed / 1048576}/${p.getUsage.getMax / 1048576}M"
    }.mkString(" ")
}
