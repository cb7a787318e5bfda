package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.cdc.{CdcDecode, CdcFrame, PgOutput}
import graft.sources.CdcFrameFiles
import graft.streaming.CdcPipeline

/** The CDC path end to end: `.cdcf` frame files →
  * `CdcPipeline.framesFromCdcSource(txnAtomic = true)` →
  * `CdcDecode.decode` → `CdcPipeline.run` (changelog append + MERGE
  * into the versioned state store).
  *
  * Phases: warm-up drain (part of set-up), then the drain of a fixed
  * pre-written backlog (capacity), then an open loop in which one
  * generator thread writes pre-encoded files on a fixed schedule that
  * never waits on the pipeline (visibility latency, counted from each
  * file's due time), while one closed-loop reader thread runs a
  * point lookup plus a count over `StateStore.latest`.
  *
  * The state has [[CdcWorkload.Keys]] keys and every change picks its
  * key uniformly, so each micro-batch rewrites the whole state: the
  * per-state-row MERGE work dominates and decode is far below 1% of a
  * batch.
  */
final class CdcWorkload(ctx: Ctx) extends Workload {
  import CdcWorkload._

  private val gen = new CdcGen(ctx.seed, Keys)
  private val root = ctx.workDir.resolve("cdc")
  private val basePath = root.resolve("base").toString
  private var warmFiles: Seq[Seq[CdcFrame]] = Nil
  private var backlogFiles: Seq[Seq[CdcFrame]] = Nil
  private var openFiles: Seq[Seq[CdcFrame]] = Nil
  private var query: StreamingQuery = _
  private var progress: Progress = _
  private var dirs: Dirs = _

  /** `count` files of at least `perFile` frames each. Every file ends
    * on a regular Commit, so the txn-atomic source can admit the whole
    * file as soon as it lands. */
  private def files(count: Int, perFile: Int): Seq[Seq[CdcFrame]] =
    Seq.fill(count) {
      val f = mutable.ArrayBuffer[CdcFrame]()
      while (f.size < perFile || f.last.payload(0) != 'C') f ++= gen.nextTxn()
      f.toSeq
    }

  private def openTicks: Int = math.max(10, (ctx.seconds * OpenShare * 1000 / TickMs).toInt)

  def gen(spark: SparkSession): Unit = {
    Fs.deleteTree(root)
    val first = gen.relationFrame()
    warmFiles = files(1, WarmFrames).map(first +: _)
    // one file, so the backlog lands in the feed at one instant
    backlogFiles = files(1, BacklogFrames)
    openFiles = files(openTicks, FramesPerTick)
    CdcGen.baseState(spark, ctx.seed, Keys).write.parquet(basePath)
  }

  private def allFrames: Seq[CdcFrame] = (warmFiles ++ backlogFiles ++ openFiles).flatten

  private def start(spark: SparkSession, d: Dirs, streamId: String): Unit = {
    progress = new Progress
    spark.streams.addListener(progress)
    val frames = CdcPipeline.framesFromCdcSource(spark, d.feed, Cap, txnAtomic = true)
    val events = CdcDecode.decode(frames, streamId)
    query = CdcPipeline.run(events, spark.read.parquet(basePath),
      CdcPipeline.SinkConfig(streamId, d.events, d.state, d.ckpt, "users", "id", CdcGen.ValueCols))
  }

  def warmup(spark: SparkSession, rep: Int, last: Boolean): Unit = {
    dirs = Dirs(root.resolve(if (last) "run" else s"warm$rep"))
    start(spark, dirs, s"bench-${ctx.seed}-$rep")
    var seq = 0
    warmFiles.foreach { f => CdcFrameFiles.write(dirs.feed, f"$seq%09d", f); seq += 1 }
    progress.awaitLsn(warmFiles.last.last.lsn, query)
    if (!last) {
      query.stop()
      spark.streams.removeListener(progress)
      CdcDecode.resetStream(s"bench-${ctx.seed}-$rep")
      Fs.deleteTree(dirs.base)
    }
  }

  def measure(spark: SparkSession): Outcome = {
    val failures = mutable.ArrayBuffer[String]()
    var seq = warmFiles.size
    def write(f: Seq[CdcFrame]): Unit = { CdcFrameFiles.write(dirs.feed, f"$seq%09d", f); seq += 1 }
    val written = new ConcurrentLinkedQueue[(Double, Long)]() // (ms, last lsn written)

    // capacity: drain of a fixed backlog
    val t0 = Clock.nowMs()
    backlogFiles.foreach(write)
    written.add((Clock.nowMs(), backlogFiles.last.last.lsn))
    val backlogLast = backlogFiles.last.last.lsn
    val drained = progress.awaitLsn(backlogLast, query)
    Log.phase("backlog drained")
    val tDrain = progress.visibleAt(backlogLast).getOrElse(Clock.nowMs())
    val backlogLo = warmFiles.last.last.lsn
    val backlogEvents = gen.expectedEvents.count { case (l, _, _) => l > backlogLo && l <= backlogLast }
    val capacity = backlogEvents / math.max(1e-3, (tDrain - t0) / 1000.0)
    if (!drained) failures += "backlog drain timed out"

    // open loop: a fixed schedule that never waits on the pipeline
    val reads = new ConcurrentLinkedQueue[Double]()
    val readFailures = new AtomicLong(0)
    @volatile var stop = false
    val reader = new Thread(() => {
      val store = new CdcPipeline.StateStore(dirs.state)
      val rnd = new java.util.SplittableRandom(ctx.seed)
      while (!stop) {
        val r0 = Clock.nowMs()
        try {
          val df = store.latest(spark).get
          df.filter(col("id") === rnd.nextInt(Keys).toString).collect()
          df.count()
          reads.add(Clock.nowMs() - r0)
        } catch { case _: Throwable => if (!stop) readFailures.incrementAndGet() }
      }
    }, "bench-reader")
    val due = new Array[Double](openFiles.size)
    val late = new Array[Double](openFiles.size)
    val tOpen = Clock.nowMs() + 50
    val generator = new Thread(() => {
      openFiles.indices.foreach { i =>
        due(i) = tOpen + i * TickMs
        val wait = due(i) - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        write(openFiles(i))
        val now = Clock.nowMs()
        late(i) = math.max(0.0, now - due(i))
        written.add((now, openFiles(i).last.lsn))
      }
    }, "bench-generator")
    reader.start()
    generator.start()
    generator.join()
    val tEnd = math.max(Clock.nowMs(), tOpen + openFiles.size * TickMs)
    while (Clock.nowMs() < tEnd) Thread.sleep(5)
    val lastLsn = openFiles.last.last.lsn
    val endBacklog = lastLsn - progress.committedAt(tEnd)
    stop = true
    reader.join(60000)
    val openDrained = progress.awaitLsn(lastLsn, query)
    if (!openDrained) failures += "open-loop drain timed out"
    val latencies = openFiles.indices.flatMap { i =>
      progress.visibleAt(openFiles(i).last.lsn).map(_ - due(i))
    }
    if (latencies.size < openFiles.size) failures += s"${openFiles.size - latencies.size} files never became visible"
    val mEnd = Clock.nowMs()
    Log.phase("open loop drained")
    query.stop()
    query.exception.foreach(e => failures += s"stream failed: ${e.getMessage.take(200)}")
    spark.streams.removeListener(progress)
    ctx.hooks.foreach(_.settle())

    // output checks
    val checks = mutable.LinkedHashMap[String, Any]()
    def check(name: String, ok: Boolean, detail: Any): Unit = {
      checks(name) = Map("ok" -> ok, "detail" -> detail)
      if (!ok) failures += s"check $name failed: $detail"
    }
    val store = new CdcPipeline.StateStore(dirs.state)
    val state = store.latest(spark)
    val actual = state.map(CdcGen.digest).getOrElse((0L, 0L))
    val expected = CdcGen.digest(CdcGen.expectedState(spark, gen))
    check("state_digest", actual == expected, Map("actual" -> actual.toString, "expected" -> expected.toString))
    val log = spark.read.parquet(dirs.events)
      .select(col("lsn"), col("operation"), coalesce(col("new_values")("id"), col("old_values")("id")).cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), String.valueOf(r.getString(2)))).sortBy(_._1).toSeq
    check("changelog_events", log == gen.expectedEvents.sortBy(_._1).toSeq,
      Map("rows" -> log.size, "expected" -> gen.expectedEvents.size))
    val frames = allFrames
    val dec = new PgOutput.Decoder
    val decoded = frames.iterator.map(f => dec.decodeAll(f.payload, f.lsn, f.ingestMicros).size.toLong).sum
    check("decoder_counters",
      dec.droppedUnknownRelation == gen.expectedUnknownDrops &&
        dec.streamedAbortDiscards == gen.expectedAbortDiscards && decoded == gen.expectedEvents.size,
      Map("dropped_unknown_relation" -> dec.droppedUnknownRelation, "expected_unknown" -> gen.expectedUnknownDrops,
        "streamed_abort_discards" -> dec.streamedAbortDiscards, "expected_aborted" -> gen.expectedAbortDiscards,
        "events" -> decoded))
    check("open_loop_backlog", endBacklog <= Cap, Map("frames" -> endBacklog, "cap" -> Cap))

    val batches = progress.all.filter(b => b.startMs >= t0 && b.startMs <= mEnd)
    val e2e = Map(
      "throughput_per_s" -> capacity,
      "latency_ms_p50" -> (if (latencies.isEmpty) 0.0 else Stats.pct(latencies, 50)))
    // p90 has ten samples beyond it from 100 open-loop files on
    val layers = layerMetrics(spark, batches, t0, mEnd, written.asScala.toSeq, reads.asScala.toSeq,
      late.max, frames, dec.droppedUnknownRelation, dec.streamedAbortDiscards, actual._1) +
      ("cdc.visible_ms_p90" -> (if (latencies.size < 100) 0.0 else Stats.pct(latencies, 90)))
    val attempted = batches.size + checks.size + reads.size + readFailures.get
    Outcome(attempted, failures.size.toLong + readFailures.get, failures.toSeq, e2e, layers,
      checks.toMap ++ Map("latency_samples" -> latencies.size, "read_samples" -> reads.size))
  }

  private def layerMetrics(spark: SparkSession, batches: Seq[Batch], lo: Double, hi: Double,
      written: Seq[(Double, Long)], reads: Seq[Double], lateMax: Double, frames: Seq[CdcFrame],
      unknownDrops: Long, abortDiscards: Long, stateRows: Long): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def p90(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.pct(xs, 90)
    val writtenSorted = written.sortBy(_._1)
    val lag = batches.map { b =>
      val w = writtenSorted.takeWhile(_._1 <= b.visibleMs).lastOption.map(_._2).getOrElse(0L)
      math.max(0L, w - b.endLsn).toDouble
    }
    val stateBytes = Fs.sizeOf(Fs.path(dirs.state))._2
    val latest = new CdcPipeline.StateStore(dirs.state).latestVersion
    val latestBytes = latest.map(v => Fs.sizeOf(Fs.path(dirs.state, s"v=$v"))._2).getOrElse(0L)
    val versions = Option(new java.io.File(dirs.state).list()).map(_.count(_.startsWith("v="))).getOrElse(0)
    val eventFiles = Fs.sizeOf(Fs.path(dirs.events))._1
    val nBatches = math.max(1, progress.all.size)
    val base = Map(
      "sources.latest_offset_ms" -> med(batches.map(_.d("latestOffset"))),
      "cdc.events_per_frame" -> gen.expectedEvents.size.toDouble / frames.size,
      "cdc.dropped_unknown_relation" -> unknownDrops.toDouble,
      "cdc.streamed_abort_discards" -> abortDiscards.toDouble,
      "cdc.state_rows" -> stateRows.toDouble,
      "cdc.state_bytes" -> latestBytes.toDouble,
      "streaming.add_batch_ms" -> med(batches.map(_.d("addBatch"))),
      "streaming.trigger_overhead_ms" -> med(batches.map(b => b.d("triggerExecution") - b.d("addBatch"))),
      "streaming.frames_per_batch" -> (if (batches.isEmpty) 0.0 else batches.map(_.rows.toDouble).sum / batches.size),
      "streaming.append_files_per_batch" -> eventFiles.toDouble / nBatches,
      "streaming.state_versions_on_disk" -> versions.toDouble,
      "streaming.state_disk_bytes" -> stateBytes.toDouble,
      "control.lag_frames_p90" -> p90(lag),
      "state.read_ms_p50" -> med(reads),
      "state.read_ms_p90" -> p90(reads),
      "bench.generator_late_ms_max" -> lateMax)
    ctx.hooks match {
      case None => base
      case Some(h) =>
        val execs = h.execsIn(lo, hi)
        def under(dir: String)(e: ExecRec) = e.outputPath.exists(_.contains(Fs.path(dir).toAbsolutePath.toString))
        val merges = execs.filter(under(dirs.state))
        val appends = execs.filter(under(dirs.events))
        val events = batches.map(_.rows).sum.toDouble * gen.expectedEvents.size / frames.size
        val jobsByBatch = h.jobs.asScala.toSeq.filter(_.batchId.isDefined).groupBy(_.batchId.get)
        val stagesById = h.stages.asScala.map(s => s.stageId -> s).toMap
        val scanDecode = batches.flatMap { b =>
          jobsByBatch.get(b.id).flatMap(js => js.minBy(_.jobId).stageIds.sorted.flatMap(stagesById.get).headOption)
            .map(s => s.doneMs - s.submitMs)
        }
        // the MERGE rewrites the state: each batch's version holds what it wrote
        val stateRowsWritten = batches.map(b => Fs.path(dirs.state, s"v=${b.id}"))
          .filter(Files.exists(_)).map(v => spark.read.parquet(v.toString).count().toDouble).sum
        val sparkLayer = h.sparkLayer(lo, hi, batches.map(b => (b.startMs, b.visibleMs)))
        addSpans(batches, merges, appends, lo, hi)
        // one warm pass, then the median of three timed passes
        def decodePass(): Double = {
          val d = new PgOutput.Decoder
          val t = System.nanoTime()
          frames.foreach(f => d.decodeAll(f.payload, f.lsn, f.ingestMicros))
          (System.nanoTime() - t) / 1e3 / frames.size
        }
        decodePass()
        base ++ sparkLayer ++ Map(
          "cdc.decode_us_per_frame" -> Stats.median(Seq(decodePass(), decodePass(), decodePass())),
          "cdc.scan_decode_ms" -> med(scanDecode),
          "cdc.merge_ms" -> med(merges.map(_.durMs)),
          "cdc.merge_rows_written_per_event" -> stateRowsWritten / math.max(1.0, events),
          "streaming.append_ms" -> med(appends.map(_.durMs)))
    }
  }

  /** Spans: root → per trigger (source offsets, WAL, planning,
    * addBatch → append / MERGE executions, commit) and the idle gaps
    * in which the stream waited for frames. */
  private def addSpans(batches: Seq[Batch], merges: Seq[ExecRec], appends: Seq[ExecRec],
      lo: Double, hi: Double): Unit = {
    val sp = ctx.spans
    val root = sp.add(0, "bench.workload", ctx.workload, lo, hi)
    var prevEnd = lo
    batches.sortBy(_.startMs).foreach { b =>
      val g = s"batch-${b.id}"
      if (b.startMs > prevEnd) sp.add(root, "streaming.idle", g, prevEnd, b.startMs)
      val trig = sp.add(root, "streaming.trigger", g, b.startMs, b.visibleMs)
      var t = b.startMs
      Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "streaming.wal_commit",
        "getBatch" -> "sources.get_batch", "queryPlanning" -> "streaming.query_planning",
        "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit_offsets").foreach {
        case (k, name) =>
          val d = b.d(k)
          val id = sp.add(trig, name, g, t, t + d)
          if (k == "addBatch") {
            (merges.map(e => ("cdc.merge", e)) ++ appends.map(e => ("streaming.append", e)))
              .filter { case (_, e) => e.endMs - e.durMs >= t - 5 && e.endMs <= t + d + 50 }
              .foreach { case (n, e) => sp.add(id, n, g, e.endMs - e.durMs, math.min(e.endMs, t + d)) }
          }
          t += d
      }
      prevEnd = math.max(prevEnd, b.visibleMs)
    }
    if (hi > prevEnd) sp.add(root, "streaming.idle", ctx.workload, prevEnd, hi)
  }
}

object CdcWorkload {
  /** Base state: this many keys, each touched uniformly. */
  val Keys = 50000
  /** Admission cap, frames per micro-batch. */
  val Cap = 5000L
  val WarmFrames = 100
  /** The backlog is one file just under one cap: one batch drains it. */
  val BacklogFrames = 4900
  /** Open loop: one file of this many frames every [[TickMs]], for
    * [[OpenShare]] of `--seconds` (~300 frames/s, well below capacity;
    * 100 files in 5 s). */
  val FramesPerTick = 10
  val TickMs = 50
  val OpenShare = 1.0

  final case class Dirs(base: Path) {
    val feed: String = base.resolve("feed").toString
    val events: String = base.resolve("events").toString
    val state: String = base.resolve("state").toString
    val ckpt: String = base.resolve("ckpt").toString
  }

  final case class Batch(id: Long, startMs: Double, durations: Map[String, Double], rows: Long, endLsn: Long) {
    def d(k: String): Double = durations.getOrElse(k, 0.0)
    def visibleMs: Double = startMs + d("triggerExecution")
  }

  /** The streaming progress feed: each trigger's start, phase
    * durations, rows and the source end offset (the last LSN the
    * trigger committed). */
  final class Progress extends StreamingQueryListener {
    private val batches = new ConcurrentLinkedQueue[Batch]()
    private val committed = new AtomicLong(Long.MinValue)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = p.sources.headOption.flatMap(s => Option(s.endOffset)).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      end.foreach { lsn =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val ds = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
        batches.add(Batch(p.batchId, start, ds, p.numInputRows, lsn))
        committed.accumulateAndGet(lsn, math.max)
      }
    }
    def all: Seq[Batch] = batches.asScala.toSeq.filter(_.rows > 0)
    /** Wall time the first trigger covering `lsn` finished. */
    def visibleAt(lsn: Long): Option[Double] =
      batches.asScala.filter(_.endLsn >= lsn).map(_.visibleMs).minOption
    /** Highest LSN visible by wall time `ms`. */
    def committedAt(ms: Double): Long =
      batches.asScala.filter(_.visibleMs <= ms).map(_.endLsn).maxOption.getOrElse(Long.MinValue)
    /** Wait (≤ 120 s) until a trigger has committed `lsn`. */
    def awaitLsn(lsn: Long, q: StreamingQuery): Boolean = {
      val deadline = System.currentTimeMillis() + 120000
      while (committed.get() < lsn && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(5)
      committed.get() >= lsn
    }
  }
}
