package graft.operators

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.streaming.StreamingOps
import Multimodal.UnitHashes

/** The set-overlap family validates BEFORE any job runs: every
  * [[Multimodal.UnitHashes]] factory and every verb rejects an
  * out-of-range argument with IllegalArgumentException while no Spark
  * job has been submitted. */
class SetOverlapFamilySpec extends SparkSpec {

  // a computed (not literal) payload: a literal one constant-folds
  // every kernel to NULL, so the optimizer proves the frontier empty
  // and a premature job would plan to no job at all
  private lazy val docs = spark.range(3)
    .select(col("id"), col("id").cast("string").cast("binary").as("payload"))
  private lazy val index = spark.range(3)
    .select(col("id"), (col("id") * 7).as("dhash"))
  private val bitmaps = Array.fill(4)(new Array[Long](1024))
  private def frames = UnitHashes.videoFrames(1)

  private val cases: Seq[(String, () => Any)] = Seq(
    "UnitHashes.videoFrames stride 0" -> (() => UnitHashes.videoFrames(0)),
    "UnitHashes.videoShots cutHamming -1" -> (() => UnitHashes.videoShots(-1)),
    "UnitHashes.videoShots cutHamming 65" -> (() => UnitHashes.videoShots(65)),
    "UnitHashes.audioSegments segFrames 64" -> (() => UnitHashes.audioSegments(64)),
    "UnitHashes.audioSegmentsMs msPerSeg 0" -> (() => UnitHashes.audioSegmentsMs(0)),
    "UnitHashes.audioSliding segFrames 64" -> (() => UnitHashes.audioSliding(64)),
    "UnitHashes.audioSliding hop 0" -> (() => UnitHashes.audioSliding(128, hop = 0)),
    "UnitHashes.videoSoundtrack segFrames 64" -> (() => UnitHashes.videoSoundtrack(64)),
    "setOverlapPairs minFrac 0" ->
      (() => Multimodal.setOverlapPairs(docs, "id", "payload", frames, minFrac = 0)),
    "setOverlapPairs maxHamming 4" ->
      (() => Multimodal.setOverlapPairs(docs, "id", "payload", frames, maxHamming = 4)),
    "setOverlapPairs maxBucket 1" ->
      (() => Multimodal.setOverlapPairs(docs, "id", "payload", frames, maxBucket = 1)),
    "setOverlapPairs chunkSize 0" ->
      (() => Multimodal.setOverlapPairs(docs, "id", "payload", frames, chunkSize = 0)),
    "dedupSetOverlap minFrac 1.5" ->
      (() => Multimodal.dedupSetOverlap(docs, "id", "payload", frames, minFrac = 1.5)),
    "setOverlapIndex with an out-of-range extractor" ->
      (() => Multimodal.setOverlapIndex(docs, "id", "payload", UnitHashes.audioSegments(10))),
    "dedupAgainstSetOverlapIndex minFrac 0" ->
      (() => Multimodal.dedupAgainstSetOverlapIndex(
        docs, "id", "payload", index, frames, minFrac = 0)),
    "dedupAgainstSetOverlapIndex maxBucket 1" ->
      (() => Multimodal.dedupAgainstSetOverlapIndex(
        docs, "id", "payload", index, frames, maxBucket = 1)),
    "dedupAgainstSetOverlapIndex chunkSize 0" ->
      (() => Multimodal.dedupAgainstSetOverlapIndex(
        docs, "id", "payload", index, frames, chunkSize = 0)),
    "blockBitmaps with an out-of-range extractor" ->
      (() => Multimodal.blockBitmaps(docs, "payload", UnitHashes.videoFrames(-2))),
    "dropSetOverlapNearDups minFrac 0" ->
      (() => StreamingOps.dropSetOverlapNearDups(docs, "payload", frames, bitmaps, minFrac = 0)),
    "audioVideoMatches segFrames 64" ->
      (() => Multimodal.audioVideoMatches(docs, "id", "payload", docs, "id", "payload", 64)),
    "audioVideoMatches minFrac 0" ->
      (() => Multimodal.audioVideoMatches(
        docs, "id", "payload", docs, "id", "payload", 128, minFrac = 0)))

  private val Marker = "set-overlap-family-spec-marker"

  /** Jobs submitted while `body` ran: a marker job follows it, and the
    * listener bus delivers job starts in submission order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.put(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(starts.poll(30, TimeUnit.SECONDS))
        .takeWhile { d => assert(d != null, "marker job never reached the listener"); d != Marker }
        .size
    } finally sc.removeSparkListener(listener)
  }

  cases.foreach { case (name, call) =>
    test(s"$name throws IllegalArgumentException before any Spark job") {
      val jobs = jobsDuring { intercept[IllegalArgumentException](call()) }
      assert(jobs == 0, s"$jobs job(s) ran before the argument was rejected")
    }
  }
}
