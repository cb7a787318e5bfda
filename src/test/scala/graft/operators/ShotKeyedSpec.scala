package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal.UnitHashes

/** Shot-keyed frame sampling: representatives agree with the boundary
  * detector by construction, one fingerprint per scene regardless of
  * scene duration, and time-stretched re-cuts pair at containment 1.0
  * through the UNCHANGED set-overlap core. */
class ShotKeyedSpec extends SparkSpec {

  /** Scene-keyed gradient content (the p_video_shots structure) with
    * a sparse +25 jitter mask on NON-opening frames — intra-scene
    * hamming stays in the low bits (no cut), scene changes restructure
    * the gradient (cut). `lens` gives each scene's duration. */
  private def clip(lens: Seq[Int], b: Int = 0): Array[Byte] = {
    val opens = lens.scanLeft(0)(_ + _)
    def sceneOf(f: Int): Int = opens.lastIndexWhere(_ <= f, opens.length - 2)
    Multimodal.encodeAvi(12, 10, lens.sum, (f, x, y, c) => {
      val s = sceneOf(f)
      val jitter = if (f != opens(s) && (x + y) % 11 == 0) 25 else 0
      ((x * (2 + s) + y * (3 + 2 * s) + c * 37 + b * 53) * (s * 97 + 13)) % 180 + jitter
    })
  }

  test("representatives = frame 0 + videoShotBoundaries, shots ranked") {
    import spark.implicits._
    val row = Seq(clip(Seq(3, 4, 3))).toDF("payload")
      .select(
        Multimodal.videoShotFrameDHashes(col("payload"), 16).as("reps"),
        Multimodal.videoShotBoundaries(col("payload"), 16).as("cuts"),
        Multimodal.videoFrameDHashes(col("payload"), 1).as("fh"))
      .head()
    val reps = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val cuts = row.getSeq[Int](1)
    assert(reps.map(_._2) == 0 +: cuts, "openers are frame 0 plus every cut")
    assert(reps.map(_._1) == reps.indices.toSeq, "shot_idx ranks openers")
    val all = row.getSeq[org.apache.spark.sql.Row](2)
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(reps.forall { case (_, f, h) => all(f) == h },
      "each representative carries its own frame's hash")
  }

  test("time-stretched re-cut pairs at 1.0 on shot fingerprints") {
    import spark.implicits._
    val docs = Seq(
      0L -> clip(Seq(3, 4, 3)),            // scenes of 3/4/3 frames
      1L -> clip(Seq(6, 2, 5)),            // same scenes, re-timed
      2L -> clip(Seq(4, 4, 4), b = 9),     // unrelated content
      3L -> "junk".getBytes("UTF-8"))
      .toDF("id", "payload")
    val pairs = Multimodal.setOverlapPairs(docs, "id", "payload", UnitHashes.videoShots())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(pairs == Set((0L, 1L, 1.0)), s"got $pairs")
  }

  test("one representative per scene regardless of duration") {
    import spark.implicits._
    val counts = Seq(0 -> clip(Seq(3, 4, 3)), 1 -> clip(Seq(20, 20, 20)))
      .toDF("id", "payload")
      .select(col("id"),
        size(Multimodal.videoShotFrameDHashes(col("payload"), 16)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(counts == Map(0 -> 3, 1 -> 3),
      "a 3x-longer static scene still samples once")
  }
}
