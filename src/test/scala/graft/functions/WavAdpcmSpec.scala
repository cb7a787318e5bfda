package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal
import graft.operators.Multimodal.UnitHashes

/** IMA-ADPCM WAV decode: the one compressed-audio format that is
  * public-spec and pure-JVM — round-trip fidelity, multi-block state
  * carry, stereo interleave, fact truncation, scope guards, and the
  * payoff: compressed clips flow through the UNCHANGED envelope
  * fingerprint kernel and pair with their PCM originals. */
class WavAdpcmSpec extends SparkSpec {

  private def smooth(c: Int, f: Int): Int =
    (((f * 37 + c * 17) % 4001) - 2000) / 4 // ±500, slope ≤ ~10/frame

  test("round trip: shape exact, error bounded by the quantizer step") {
    for ((ch, nf) <- Seq((1, 169), (2, 400), (1, 1000))) {
      val adpcm = Multimodal.encodeWavImaAdpcm(ch, 8000, nf, smooth, samplesPerBlock = 169)
      val d = WavDecode.decode(adpcm)
      assert(d != null && d.channels == ch && d.sampleRate == 8000 && d.nFrames == nf,
        s"shape must survive ch=$ch nf=$nf")
      var sumAbs = 0.0
      for (f <- 0 until nf; c <- 0 until ch)
        sumAbs += math.abs(d.samples(f * ch + c) - smooth(c, f))
      val meanAbs = sumAbs / (nf * ch)
      // the sawtooth's slope keeps the adaptive step small; mean
      // error stays a tiny fraction of the ±500 amplitude (the
      // wrap discontinuities cost a few large-step samples)
      assert(meanAbs < 40.0, s"mean |err| $meanAbs too large for ch=$ch nf=$nf")
    }
  }

  test("scope guards: bad samplesPerBlock claim, truncation, bad step index refuse") {
    val good = Multimodal.encodeWavImaAdpcm(1, 8000, 338, smooth, samplesPerBlock = 169)
    assert(WavDecode.decode(good) != null)
    // flip the declared wSamplesPerBlock (fmt data offset +18)
    val fmtAt = good.indexOfSlice("fmt ".getBytes)
    val badSpb = good.clone(); badSpb(fmtAt + 8 + 18) = 7
    assert(WavDecode.decode(badSpb) == null, "wSamplesPerBlock disagreeing with geometry must refuse")
    assert(WavDecode.decode(good.take(good.length / 3)) == null, "truncated data")
    // corrupt a block header's step index past 88
    val dataAt = good.indexOfSlice("data".getBytes)
    val badIdx = good.clone(); badIdx(dataAt + 8 + 2) = 120.toByte
    assert(WavDecode.decode(badIdx) == null, "step index > 88 must refuse")
  }

  test("compressed near-dup: an ADPCM re-encode pairs with its PCM original through the unchanged kernel") {
    import spark.implicits._
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    val clips = Seq(
      0L -> Multimodal.encodeWav(2, 8000, 640, s0),
      1L -> Multimodal.encodeWavImaAdpcm(2, 8000, 640, s0), // compressed twin
      2L -> Multimodal.encodeWav(1, 8000, 640,
        (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898), // unrelated
      3L -> "junk".getBytes("UTF-8"))
      .toDF("clip_id", "payload")
    val pairs = Multimodal.audioNearDupPairs(clips, "clip_id", "payload", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      s"only the PCM/ADPCM twin pair survives, got $pairs")
    // segment hashes flow too: the shifted form catches an ADPCM
    // re-encode that was ALSO segment-trimmed (both axes composed)
    val shifted = Multimodal.setOverlapPairs(
      Seq(
        0L -> Multimodal.encodeWav(2, 8000, 640, s0),
        1L -> Multimodal.encodeWavImaAdpcm(2, 8000, 512, (c, f) => s0(c, f + 128)))
        .toDF("clip_id", "payload"),
      "clip_id", "payload", UnitHashes.audioSegments(segFrames = 128), minFrac = 0.5,
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shifted == Set((0L, 1L)),
      s"trimmed ADPCM re-encode must pair through the segment set, got $shifted")
    // stats expression reads ADPCM through the same decode
    val stats = Seq(Tuple1(Multimodal.encodeWavImaAdpcm(1, 8000, 169, smooth, 169)))
      .toDF("p").select(Multimodal.audioSampleStats(col("p")))
      .head().getSeq[Double](0)
    assert(stats(0) == 1.0 && stats(1) == 8000.0 && stats(2) == 169.0)
    // segment-level stats read compressed clips through the same
    // decode: 169 frames at segFrames=64 -> 3 segments (64+64+41),
    // none silent for the sawtooth
    val segStats = Seq(Tuple1(Multimodal.encodeWavImaAdpcm(1, 8000, 169, smooth, 169)))
      .toDF("p").select(explode(Multimodal.audioSegmentStats(col("p"), 64)).as("e"))
      .select(col("e.seg_idx"), col("e.mean_abs")).collect()
    assert(segStats.length == 3 && segStats.forall(_.getDouble(1) > 1.0),
      s"got ${segStats.toSeq}")
  }
}
