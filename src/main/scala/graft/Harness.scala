package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place this repo builds a SparkSession, plus the helpers its
  * mains share. Specs, [[Verify]] and [[Diag]] get the session
  * [[Bench]] times: `local[cpus]` with shuffle partitions = cpus; a
  * 5000-entry codegen class cache (the default 100 thrashes inside one
  * composite query — executor threads serialized on
  * CodeGenerator.compile, and 10000 entries took it from 14.7 to 8.5 s
  * warm, OPTIMIZATION_r21.md); UTC; no UI; 4096-char plan metadata
  * (the default truncates the scan PushedFilters plan-shape specs
  * read); [[graft.util.LocalScratch]] scratch; the graft functions
  * registered. Other settings ride `-Dspark.*` JVM properties, which
  * Spark loads into every SparkConf. */
object Harness {
  type Query = (String, (SparkSession, String) => DataFrame)
  val CodegenCacheEntries = 5000
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.maxMetadataStringLength" -> "4096")

  /** `overrides` replace same-key settings; `ramScratch = false` keeps
    * Spark's default scratch directory. */
  def session(cpus: Int, overrides: Seq[(String, String)] = Nil,
      ramScratch: Boolean = true): SparkSession = {
    val b = (settings(cpus) ++ overrides)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
    val spark = (if (ramScratch) graft.util.LocalScratch.configure(b) else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** JVM warm-up outside every timer: Janino/codegen init, the noop
    * sink lookup and the shuffle machinery are one-time costs that
    * otherwise land on the first timed query (sf0.1: 3.4 s as the first
    * query against 0.4 s for the same pipeline warm). Never throws. */
  def warmUp(spark: SparkSession): Unit =
    try {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      spark.range(0, 100000).toDF("i").repartition(4)
        .groupBy(pmod(col("i"), lit(7)).as("k")).count()
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => () }

  /** Isolates one query or op from the next, outside every timer:
    * clearCache misses the RDD blocks eager localCheckpoints pin, and
    * removal is asynchronous (one query's eviction debt once made a
    * 3.5 s query read 100+ s). So unpersist blocking, then a full GC.
    * Returns how many persistent RDDs were left behind. */
  def sweep(spark: SparkSession): Int = {
    val cached = spark.sparkContext.getPersistentRDDs.values
    spark.catalog.clearCache()
    cached.foreach(_.unpersist(blocking = true))
    System.gc()
    cached.size
  }

  /** SparkEntry queries whose name contains any of `names` (all when
    * `names` is empty), sorted by name. */
  def select(names: Seq[String]): Seq[Query] =
    SparkEntry.queries.toSeq
      .filter { case (n, _) => names.isEmpty || names.exists(n.contains) }
      .sortBy(_._1)

  /** JSON string literal; every control char escaped (a raw tab in a
    * query's SQL would make the file unparseable). */
  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Counts jobs and completed stages and keeps every successful task's
    * (stage, ms). When a stage completes with a max task ≥ 200 ms,
    * `log` gets one line: tasks, max/median task ms, shuffle read and
    * write, spill, stage name — it names the straggler stage (max ≫
    * median) or the uniformly wide one (max ≈ median) by number. */
  final class StageListener(log: String => Unit = _ => ()) extends SparkListener {
    private var jobCount, stageCount = 0
    private val tasks = ArrayBuffer[(Int, Long)]()
    private val open = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
    def jobs: Int = synchronized(jobCount)
    def stages: Int = synchronized(stageCount)
    def taskCount: Int = synchronized(tasks.size)
    /** (stage, ms) of the successful tasks after the first `from`. */
    def tasksSince(from: Int): Seq[(Int, Long)] = synchronized(tasks.drop(from).toSeq)
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobCount += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null && t.taskInfo.successful) synchronized {
        tasks += ((t.stageId, t.taskInfo.duration))
        open.getOrElseUpdate(t.stageId, ArrayBuffer()) += t.taskInfo.duration
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val info = s.stageInfo
      val ds = synchronized { stageCount += 1; open.remove(info.stageId) }
        .fold(Seq.empty[Long])(_.sorted.toSeq)
      if (ds.nonEmpty && ds.last >= 200) {
        val m = info.taskMetrics
        def mb(b: Long) = f"${b / 1e6}%.0fMB"
        log(f"[stage] ${info.stageId}%4d tasks=${info.numTasks}%5d max_ms=${ds.last}%7d med_ms=${ds(ds.size / 2)}%6d " +
          s"sread=${m.shuffleReadMetrics.recordsRead}/${mb(m.shuffleReadMetrics.totalBytesRead)} " +
          s"swrite=${m.shuffleWriteMetrics.recordsWritten}/${mb(m.shuffleWriteMetrics.bytesWritten)} " +
          s"spill=${mb(m.memoryBytesSpilled + m.diskBytesSpilled)} ${info.name}")
      }
    }
  }
}
