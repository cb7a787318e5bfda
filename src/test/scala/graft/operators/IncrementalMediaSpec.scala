package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal.UnitHashes

/** Incremental media curation + lineage + the decode-derived
  * 'undecodable' reason: frozen-history reuse, same-id exclusion,
  * animated-GIF routing through the video family, and a payload that
  * sniffs as PNG yet fails its decoder. */
class IncrementalMediaSpec extends SparkSpec {

  private def png(b: Int, shift: Int = 0): Array[Byte] =
    Multimodal.encodePng(16, 12, 3,
      (x, y, c) => (x * 17 + y * 29 + c * 37 + b * 53) % 180 + shift)

  private def wav(b: Int, trim: Int = 0, gain: Int = 1): Array[Byte] =
    Multimodal.encodeWav(1, 8000, 500 - trim,
      (c, f) => ((((f + trim) * 31 + b * 101) % 4001) - 2000) * gain)

  private def report(df: DataFrame): DataFrame =
    Multimodal.mediaCurationReport(df, "id", "payload")

  private def withMd5(rep: DataFrame, docs: DataFrame): DataFrame =
    rep.join(docs.select(col("id"),
      Multimodal.payloadMd5(col("payload")).as("payload_md5")), "id")

  test("frozen history: a reused doc keeps its verdict after its partner left") {
    import spark.implicits._
    val old = Seq(0L -> png(1), 1L -> png(1, shift = 30)).toDF("id", "payload")
    // run N: 1 drops as dup of 0
    val oldRep = withMd5(report(old), old)
    // run N+1: 0 retired; 1 unchanged — verdict reused VERBATIM even
    // though a full re-run would now keep it
    val nw = Seq(1L -> png(1, shift = 30)).toDF("id", "payload")
    val out = Multimodal.incrementalMediaCurationReport(
      nw, "id", "payload", oldRep,
      Multimodal.imageHashIndex(old, "id", "payload"),
      Multimodal.setOverlapIndex(old, "id", "payload", UnitHashes.videoFrames(1)),
      Multimodal.setOverlapIndex(old, "id", "payload", UnitHashes.audioSegments(128)))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("verdict") == "drop" &&
      r.getAs[Long]("dup_of") == 0L && r.getAs[Boolean]("reused"),
      s"frozen-history contract: $r")
  }

  test("same-id exclusion: a changed clip never drops as its own old self") {
    import spark.implicits._
    val old = Seq(10L -> wav(3)).toDF("id", "payload")
    val oldRep = withMd5(report(old), old)
    val nw = Seq(
      10L -> wav(3, trim = 128, gain = 2), // trim of ITS OWN old content
      11L -> wav(3, trim = 128, gain = 5)) // someone else's trim of it
      .toDF("id", "payload")
    val out = Multimodal.incrementalMediaCurationReport(
      nw, "id", "payload", oldRep,
      Multimodal.imageHashIndex(old, "id", "payload"),
      Multimodal.setOverlapIndex(old, "id", "payload", UnitHashes.videoFrames(1)),
      Multimodal.setOverlapIndex(old, "id", "payload", UnitHashes.audioSegments(128)))
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("verdict"), r.getAs[Any]("dup_of"))).toMap
    // 10: only index match is old-10 → excluded → keep... BUT 10 and
    // 11 are near-dups WITHIN the delta (same content, gain apart):
    // the intra chain still collapses them — 10 keeps as the
    // smaller id, 11 drops with dup_of 10
    assert(out(10L) == ("keep", null), s"got $out")
    assert(out(11L)._1 == "drop" && out(11L)._2 == 10L, s"got $out")
  }

  test("report: animated GIF dedups as video, still GIF as image") {
    import spark.implicits._
    def pal(i: Int) = ((i * 3) % 256, (i * 5 + 7) % 256, (i * 11 + 3) % 256)
    def frame(f: Int)(x: Int, y: Int): Int = (x * 7 + y * 13 + f * 29) % 256
    val anim = Multimodal.encodeGifAnim(14, 10, 0, pal,
      (0 until 5).map(f => Multimodal.GifFrameSpec(0, 0, 14, 10, frame(f))))
    val avi = Multimodal.encodeAvi(14, 10, 3, (f, x, y, c) => {
      val (r, g, b2) = pal(frame(f + 2)(x, y)); Seq(r, g, b2)(c)
    })
    val still = Multimodal.encodeGifAnim(14, 10, 0, pal,
      Seq(Multimodal.GifFrameSpec(0, 0, 14, 10, frame(0))))
    val rows = report(
      Seq(0L -> anim, 1L -> avi, 2L -> still).toDF("id", "payload"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    // the trimmed AVI collapses onto the GIF animation CROSS-container
    assert(rows(0L) == ("gif", "keep", "unique"))
    assert(rows(1L) == ("avi", "drop", "video_near_dup"))
    // the still GIF shares frame 0's pixels with the animation but
    // routes through the IMAGE family — no video pairing
    assert(rows(2L) == ("gif", "keep", "unique"))
  }

  test("decode-derived reason: sniffs as PNG, fails decode → undecodable") {
    import spark.implicits._
    val realPng = png(4)
    val corrupt = realPng.take(40) ++ Array.fill[Byte](8)(0x5A) // IHDR ok, body garbage
    val shortWav = Multimodal.encodeWav(1, 8000, 30, (_, f) => f * 50) // < 65 frames
    val rows = report(Seq(
      0L -> realPng, 1L -> corrupt, 2L -> shortWav,
      3L -> "noise".getBytes("UTF-8")).toDF("id", "payload"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    assert(rows(0L) == ("png", "unique"))
    assert(rows(1L) == ("png", "undecodable"), "sniffed-but-broken is NOT unique")
    assert(rows(2L) == ("wav", "unique"), "decodable-but-short testified: unique")
    assert(rows(3L) == ("other", "undecodable"))
  }

  test("lineage: transitions and flipped fields across two runs") {
    import spark.implicits._
    val old = Seq(0L -> png(1), 1L -> png(1, 30), 2L -> png(2), 3L -> png(9))
      .toDF("id", "payload")
    val nw = Seq(1L -> png(1, 30), 2L -> png(7), 4L -> png(1, 60))
      .toDF("id", "payload")
    // old: 1 drops as dup of 0; new: 0 retired, 1 unchanged (now
    // pairs with added 4 — full re-run keeps 1 as min id), 2 changed
    // (fresh), 3 removed, 4 added (drops as dup of 1)
    val out = Multimodal.mediaCurationLineage(
      old, nw, report(old), report(nw), "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getAs[String]("flipped"))).toMap
    assert(out(0L) == ("removed", "retired", ""))
    assert(out(1L) == ("unchanged", "promoted", "reason,dup_of"))
    assert(out(2L)._1 == "changed" && out(2L)._2 == "still_kept")
    assert(out(3L) == ("removed", "retired", ""))
    assert(out(4L) == ("added", "entered_dropped", ""))
  }
}
