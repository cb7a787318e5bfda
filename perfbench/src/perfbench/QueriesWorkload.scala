package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A fixed slice of the `graft.SparkEntry.queries` catalog on seeded
  * sf0.01 tables, timed like `graft.Bench`: the query function and a
  * `noop` write inside the timer; the persistent-RDD sweep and a full
  * GC outside it. One cold pass over the list is the measured unit.
  * Each result is then written (outside the timer) for the launcher's
  * DuckDB check against `SparkEntry.oracleSql`. */
final class QueriesWorkload(ctx: Ctx) extends Workload {
  import QueriesWorkload._

  private val resultsDir = ctx.workDir.resolve("results")

  def gen(spark: SparkSession): Unit = {
    Fs.deleteTree(resultsDir)
    val missing = Names.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in the catalog: ${missing.mkString(", ")}")
    val oracle = graft.SparkEntry.oracleSql
    Json.write(resultsDir.resolve("oracle_sql.json"), Names.map(n => n -> oracle(n)).toMap)
  }

  def warmup(spark: SparkSession, rep: Int, last: Boolean): Unit = ()

  def measure(spark: SparkSession): Outcome = {
    val catalog = graft.SparkEntry.queries
    val data = ctx.dataDir.toString
    val sp = ctx.spans
    val failures = mutable.ArrayBuffer[String]()
    val walls = mutable.ArrayBuffer[Double]()
    val spans = mutable.ArrayBuffer[(String, Double, Double, Double)]() // name, start, built, done
    val sweeps = mutable.ArrayBuffer[(String, Double, Double)]()
    var leaked = 0
    val lo = Clock.nowMs()
    Names.foreach { name =>
      val t0 = Clock.nowMs()
      var t1 = t0
      val ok =
        try {
          val df = catalog(name)(spark, data)
          t1 = Clock.nowMs()
          df.write.mode("overwrite").format("noop").save()
          true
        } catch { case e: Throwable =>
          failures += s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
          false
        }
      val t2 = Clock.nowMs()
      if (ok) { walls += (t2 - t0); spans += ((name, t0, t1, t2)) }
      val s0 = Clock.nowMs()
      leaked += Session.sweep(spark)
      sweeps += ((name, s0, Clock.nowMs()))
    }
    val hi = Clock.nowMs()
    Log.phase("timed pass done")
    // results for the oracle check, outside every timer
    Names.foreach { name =>
      try catalog(name)(spark, data).coalesce(1).write.mode("overwrite").parquet(resultsDir.resolve(name).toString)
      catch { case e: Throwable => failures += s"$name result: ${Option(e.getMessage).getOrElse("").take(200)}" }
      Session.sweep(spark)
    }
    val total = walls.sum / 1000.0
    val e2e = Map(
      "throughput_per_s" -> (walls.size / math.max(1e-3, total)),
      "latency_ms_p50" -> (if (walls.isEmpty) 0.0 else Stats.pct(walls.toSeq, 50)))
    val layers = mutable.Map[String, Double](
      "queries.total_s" -> total,
      "queries.construction_ms" -> spans.map { case (_, a, b, _) => b - a }.sum,
      "queries.leaked_rdds" -> leaked.toDouble)
    ctx.hooks.foreach { h =>
      h.settle()
      val eager = spans.map { case (_, a, b, _) => h.jobs.toArray(Array.empty[JobRec]).count(j => j.startMs >= a && j.startMs <= b) }.sum
      layers ++= h.sparkLayer(lo, hi, spans.map { case (_, _, b, c) => (b, c) }.toSeq)
      layers("queries.eager_jobs") = eager.toDouble
      val root = sp.add(0, "bench.workload", ctx.workload, lo, hi)
      sweeps.foreach { case (name, a, b) => sp.add(root, "bench.sweep", name, a, b) }
      spans.foreach { case (name, a, b, c) =>
        val q = sp.add(root, "queries.query", name, a, c)
        sp.add(q, "queries.construction", name, a, b)
        val act = sp.add(q, "spark.action", name, b, c)
        SparkSpans.add(sp, h, act, name, b, c)
      }
    }
    Outcome(Names.size.toLong, failures.size.toLong, failures.toSeq, e2e, layers.toMap,
      Map("query_ms" -> spans.map { case (n, a, _, c) => n -> (c - a) }.toMap, "results_dir" -> resultsDir.toString))
  }
}

object QueriesWorkload {
  /** The fixed slice: relational (TPC-H-shaped and analytic SQL), CDC,
    * text/dedup and retrieval queries that carry DuckDB oracle SQL. */
  val Names: Seq[String] = Seq(
    "q1_pricing_summary", "q5_local_supplier_volume", "q6_forecast_revenue", "q14_promo_revenue",
    "q_anti_no_urgent_customers", "q_window_rank_suite", "q_events_daily",
    "cdc_typed_view", "p_token_counts", "p_exact_dedup_groups")
}

/** Planning and task spans inside one action: the tracker phases of
  * the executions that ran in it and the union of its running tasks;
  * the action's remaining self time is orchestration. */
object SparkSpans {
  def add(sp: Spans, h: Hooks, parent: Long, group: String, lo: Double, hi: Double): Unit = {
    val plans = h.planningIntervals(h.execsIn(lo, hi))
    merge(plans, lo, hi).foreach { case (a, b) => sp.add(parent, "spark.planning", group, a, b) }
    val tasks = h.tasksIn(lo, hi).map(t => (t.launchMs, t.finishMs))
    merge(tasks, lo, hi).foreach { case (a, b) => sp.add(parent, "spark.tasks", group, a, b) }
  }

  /** Union of intervals clipped to [lo, hi], as disjoint intervals. */
  def merge(xs: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] = {
    val s = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    val out = mutable.ArrayBuffer[(Double, Double)]()
    s.foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }
}
