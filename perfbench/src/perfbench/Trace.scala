package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `group` ties the spans of one query, one
  * micro-batch or one arm together; `parent` is the id of the
  * enclosing span (0 for the workload root). Layer = the name up to
  * its first dot. */
final case class Span(id: Long, parent: Long, name: String, group: String, startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = math.max(0.0, endMs - startMs)
}

object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def unionLength(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Span store: kept in memory, written once at exit. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def add(parent: Long, name: String, group: String, startMs: Double, endMs: Double): Long = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, name, group, startMs, endMs))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)

  /** Self time per layer under `root`: each span's duration minus the
    * union of its children's intervals. Returns (self ms per layer,
    * covered share of the root's wall). */
  def selfTimes(root: Span): (Map[String, Double], Double) = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    def visit(s: Span): Unit = {
      val ch = kids.getOrElse(s.id, Seq.empty)
      val covered = Intervals.unionLength(ch.map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      if (s.id != root.id) self(s.layer) += math.max(0.0, s.durMs - covered)
      ch.foreach(visit)
    }
    visit(root)
    val rootCovered = Intervals.unionLength(
      kids.getOrElse(root.id, Seq.empty).map(c => (c.startMs, c.endMs)), root.startMs, root.endMs)
    (self.toMap, if (root.durMs > 0) rootCovered / root.durMs else 0.0)
  }

  def write(path: java.nio.file.Path, selfMs: Map[String, Double], coverage: Double): Unit =
    Json.write(path, Map(
      "self_ms" -> selfMs, "coverage_pct" -> coverage * 100,
      "spans" -> all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "group" -> s.group,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
}

final case class TaskRec(stageId: Int, launchMs: Double, finishMs: Double,
    cpuMs: Double, gcMs: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class StageRec(stageId: Int, submitMs: Double, doneMs: Double)
final case class JobRec(jobId: Int, startMs: Double, stageIds: Seq[Int], batchId: Option[Long])
final case class ExecRec(endMs: Double, durMs: Double, phases: Map[String, (Double, Double)],
    outputPath: Option[String], observed: Map[String, Long])

/** Spark's public hooks, registered by the benchmark: a SparkListener
  * for job/stage/task events and a QueryExecutionListener for each
  * execution's planning-tracker phases, write target and observed
  * metrics. Listener callbacks arrive asynchronously; [[settle]]
  * waits for the bus to go quiet before the records are read. */
final class Hooks(spark: SparkSession) {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val lastEventMs = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .flatMap(s => scala.util.Try(s.toLong).toOption)
      jobs.add(JobRec(e.jobId, e.time.toDouble, e.stageIds, batch))
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L).toDouble,
        i.completionTime.getOrElse(0L).toDouble))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) tasks.add(TaskRec(
        e.stageId, info.launchTime.toDouble, info.finishTime.toDouble,
        m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
      touch()
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = Clock.nowMs()
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
      val write = Seq(qe.logical, qe.analyzed).iterator.flatMap(_.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c
      }).toSeq.headOption
      val observed = qe.observedMetrics.toSeq.flatMap { case (name, row) =>
        row.schema.fieldNames.toSeq.zipWithIndex.collect {
          case (f, i) if !row.isNullAt(i) && row.get(i).isInstanceOf[Number] =>
            s"$name.$f" -> row.get(i).asInstanceOf[Number].longValue()
        }
      }.toMap
      execs.add(ExecRec(end, durationNs / 1e6, phases, write.map(_.outputPath.toString), observed))
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  /** Wait until no listener event arrived for 300 ms (at most 5 s). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(100)
    while (System.currentTimeMillis() - lastEventMs.get() < 300 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  def tasksIn(lo: Double, hi: Double): Seq[TaskRec] =
    tasks.asScala.filter(t => t.launchMs >= lo && t.finishMs <= hi).toSeq
  def execsIn(lo: Double, hi: Double): Seq[ExecRec] =
    execs.asScala.filter(e => e.endMs - e.durMs >= lo - 1 && e.endMs <= hi + 1).toSeq

  /** Planning-tracker time (analysis + optimization + planning) as intervals. */
  def planningIntervals(es: Seq[ExecRec]): Seq[(Double, Double)] =
    es.flatMap(_.phases.values)

  /** The Spark-layer metrics over [lo, hi]: counts, task totals, skew,
    * slot use and the orchestration remainder of `actions` (wall
    * covered neither by planning nor by any running task). */
  def sparkLayer(lo: Double, hi: Double, actions: Seq[(Double, Double)]): Map[String, Double] = {
    val ts = tasksIn(lo, hi)
    val es = execsIn(lo, hi)
    val st = stages.asScala.filter(s => s.submitMs >= lo && s.doneMs <= hi).toSeq
    val js = jobs.asScala.filter(j => j.startMs >= lo && j.startMs <= hi).toSeq
    val plan = planningIntervals(es)
    val busy = plan ++ ts.map(t => (t.launchMs, t.finishMs))
    val orch = actions.map { case (a, b) => (b - a) - Intervals.unionLength(busy, a, b) }.sum
    val byStage = ts.groupBy(_.stageId)
    val longest = if (byStage.isEmpty) Seq.empty[TaskRec]
      else byStage.values.maxBy(g => g.map(_.finishMs).max - g.map(_.launchMs).min)
    val durs = longest.map(t => t.finishMs - t.launchMs)
    val wall = math.max(1.0, hi - lo)
    val codegen = Codegen.snapshot()
    Map(
      "spark.planning_ms" -> Intervals.unionLength(plan, lo, hi),
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.orchestration_ms" -> math.max(0.0, orch),
      "spark.task_ms" -> ts.map(t => t.finishMs - t.launchMs).sum,
      "spark.task_cpu_ms" -> ts.map(_.cpuMs).sum,
      "spark.gc_ms" -> ts.map(_.gcMs).sum,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite.toDouble).sum,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead.toDouble).sum,
      "spark.spill_bytes" -> ts.map(_.spill.toDouble).sum,
      "spark.max_task_ms" -> (if (ts.isEmpty) 0.0 else ts.map(t => t.finishMs - t.launchMs).max),
      "spark.stage_skew" -> (if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Stats.median(durs))),
      "spark.slot_busy_pct" -> 100.0 * ts.map(t => t.finishMs - t.launchMs).sum / (wall * Session.cpus)) ++ codegen
  }
}

/** Janino compilations from spark-core's CodegenMetrics histogram.
  * The histogram keeps an exact count but a sampled reservoir, so the
  * compile time is count × reservoir mean. [[mark]] starts a window. */
object Codegen {
  private val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  @volatile private var startCount = 0L
  def mark(): Unit = startCount = h.getCount
  def snapshot(): Map[String, Double] = {
    val n = (h.getCount - startCount).toDouble
    Map("spark.codegen_compiles" -> n, "spark.codegen_compile_ms" -> n * h.getSnapshot.getMean)
  }
}
