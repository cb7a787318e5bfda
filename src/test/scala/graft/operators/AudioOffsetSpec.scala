package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{AudioEnvelope, WavDecode}
import graft.operators.Multimodal.UnitHashes

/** Arbitrary-offset audio trim tolerance: the prefix-sum kernel is
  * bit-identical to the reference window walk, sliding hashes at
  * hop = segFrames reproduce the single-phase segment hashes
  * (aligned-case equivalence), non-multiple trims pair at full
  * containment where the fixed-phase form reads zero, and the
  * incremental index form drops offset-trimmed copies against an
  * UNCHANGED persisted index. */
class AudioOffsetSpec extends SparkSpec {

  /** Quadratic-phase (chirp-like) fixture signal: a LINEAR sawtooth
    * has period 4001/31 ≈ 129 ≈ segFrames, which makes ±1-frame alias
    * alignments hash-identical; f² mod p decorrelates every shift. */
  private def clip(nf: Int, mult: Int = 1, shift: Int = 0,
      b: Int = 31, ch: Int = 1): Array[Byte] =
    Multimodal.encodeWav(ch, 8000, nf, (c, f) => {
      val g = f + shift
      mult * ((((g * g % 4001) * b + g * 7 + c * 17 + 101) % 4001) - 2000)
    })

  test("hashRangePrefix is bit-identical to hashRange on every sub-range") {
    val d = WavDecode.decode(clip(700, ch = 2))
    val p = AudioEnvelope.prefixAbs(d.samples, d.channels, d.nFrames)
    for (from <- Seq(0, 1, 37, 128, 300); len <- Seq(65, 66, 128, 200, 400)
         if from + len <= d.nFrames) {
      assert(
        AudioEnvelope.hashRangePrefix(p, from, from + len) ==
          AudioEnvelope.hashRange(d.samples, d.channels, from, from + len),
        s"range [$from, ${from + len})")
    }
  }

  test("sliding at hop=segFrames equals the segment hashes' full segments") {
    import spark.implicits._
    val row = Seq(clip(500)).toDF("payload")
      .select(
        Multimodal.audioSlidingDHashes(col("payload"), 128, 128).as("sw"),
        Multimodal.audioSegmentDHashes(col("payload"), 128).as("sh"))
      .head()
    val sliding = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0) / 128, r.getLong(1)))
    val segs = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getInt(0), r.getLong(1)))
    // 500 frames: segments 0..2 full, segment 3 is the ≥65-frame
    // trailing partial the sliding form (full windows only) omits
    assert(segs.size == 4 && sliding.size == 3)
    assert(segs.take(3) == sliding)
  }

  test("aligned trims: offset pairs carry the exact trim, shifted form agrees") {
    import spark.implicits._
    val docs = Seq(0L -> clip(500), 1L -> clip(372, shift = 128))
      .toDF("id", "payload")
    val off = Multimodal.audioNearDupPairsOffset(docs, "id", "payload", 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    assert(off.toSeq == Seq((0L, 1L, -128, 1.0), (1L, 0L, 128, 1.0)))
    val shifted = Multimodal.setOverlapPairs(docs, "id", "payload", UnitHashes.audioSegments(128))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(shifted.toSeq == Seq((0L, 1L)), "the aligned case both forms catch")
  }

  test("37-frame trim: fixed-phase reads zero, offset form pairs at 1.0") {
    import spark.implicits._
    val docs = Seq(0L -> clip(500), 1L -> clip(463, mult = 3, shift = 37))
      .toDF("id", "payload")
    assert(Multimodal.setOverlapPairs(docs, "id", "payload", UnitHashes.audioSegments(128))
      .isEmpty, "non-multiple trim defeats fixed-phase segmentation by design")
    val off = Multimodal.audioNearDupPairsOffset(docs, "id", "payload", 128)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    assert(off.toSeq == Seq((0L, 1L, -37, 1.0), (1L, 0L, 37, 1.0)))
  }

  test("hop granularity: hop=64 catches 64-multiples, misses the 37 trim") {
    import spark.implicits._
    val docs = Seq(
      0L -> clip(500), 1L -> clip(436, shift = 64), 2L -> clip(463, shift = 37))
      .toDF("id", "payload")
    val pairs = Multimodal.audioNearDupPairsOffset(docs, "id", "payload", 128,
      hop = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 0L)) && pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "a 37-frame trim needs hop=1 — the documented granularity trade")
  }

  test("incremental: offset-trimmed copy drops against the UNCHANGED index") {
    import spark.implicits._
    val history = Seq(10L -> clip(500)).toDF("id", "payload")
    val index = Multimodal.setOverlapIndex(history, "id", "payload", UnitHashes.audioSegments(128))
      .cache()
    val increment = Seq(
      20L -> clip(463, mult = 2, shift = 37), // trimmed+gained copy of history
      21L -> clip(400, b = 37))               // fresh content
      .toDF("id", "payload")
    val keptPlain = Multimodal.dedupAgainstSetOverlapIndex(
      increment, "id", "payload", index, UnitHashes.audioSegments(128))
      .select("id").as[Long].collect().toSet
    assert(keptPlain == Set(20L, 21L),
      "single-phase probe misses the 37-frame trim (the r19 gap)")
    val keptOffset = Multimodal.dedupAgainstSetOverlapIndex(
      increment, "id", "payload", index, UnitHashes.audioSliding(128))
      .select("id").as[Long].collect().toSet
    assert(keptOffset == Set(21L),
      "dense probe drops the trimmed copy; fresh content survives")
    index.unpersist()
  }
}
