package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Multimodal.UnitHashes

/** Animated GIF as a VIDEO column: one hash kernel across containers
  * (a GIF and an AVI carrying the same RGB frames hash identically
  * frame for frame), palette-permuted re-encodes pair at containment
  * 1.0, trimmed cross-container copies pair through the shifted
  * family unchanged, and the composited-volume bomb guard holds. */
class GifAnimSpec extends SparkSpec {

  private def pal(i: Int) = ((i * 3) % 256, (i * 5 + 7) % 256, (i * 11 + 3) % 256)
  private def idx(f: Int, x: Int, y: Int): Int = (x * 7 + y * 13 + f * 29) % 256

  private def gifOf(w: Int, h: Int, nf: Int, f0: Int = 0): Array[Byte] =
    Multimodal.encodeGifAnim(w, h, 0, pal,
      (0 until nf).map(f => Multimodal.GifFrameSpec(0, 0, w, h,
        (x, y) => idx(f + f0, x, y))))

  private def aviOf(w: Int, h: Int, nf: Int, f0: Int = 0): Array[Byte] =
    Multimodal.encodeAvi(w, h, nf, (f, x, y, c) => {
      val (r, g, b) = pal(idx(f + f0, x, y))
      Seq(r, g, b)(c)
    })

  test("gifAnimMeta: canvas dims + frame count, NULL for junk") {
    import spark.implicits._
    val rows = Seq(0 -> gifOf(12, 8, 4), 1 -> "junk".getBytes("UTF-8"))
      .toDF("id", "payload")
      .select(col("id"), Multimodal.gifAnimMeta(col("payload")).as("m"))
      .collect().sortBy(_.getInt(0))
    val m = rows(0).getStruct(1)
    assert((m.getInt(0), m.getInt(1), m.getInt(2)) == (12, 8, 4))
    assert(rows(1).isNullAt(1))
  }

  test("cross-container kernel identity: GIF and AVI of the same frames") {
    import spark.implicits._
    val row = Seq((gifOf(14, 10, 5), aviOf(14, 10, 5))).toDF("gif", "avi")
      .select(
        Multimodal.videoFrameDHashes(col("gif"), 1).as("g"),
        Multimodal.videoFrameDHashes(col("avi"), 1).as("a"))
      .head()
    assert(!row.isNullAt(0) && !row.isNullAt(1))
    assert(row.getSeq[Any](0) == row.getSeq[Any](1),
      "one grid/luma/gradient kernel across containers")
  }

  test("palette-permuted re-encode pairs at 1.0; trimmed AVI twin pairs too") {
    import spark.implicits._
    // byte-different, pixel-identical re-encode: palette rotated by
    // 77, indices counter-rotated
    val reenc = Multimodal.encodeGifAnim(14, 10, 0, i => pal((i + 77) % 256),
      (0 until 5).map(f => Multimodal.GifFrameSpec(0, 0, 14, 10,
        (x, y) => (idx(f, x, y) + 256 - 77) % 256)))
    val docs = Seq(
      0L -> gifOf(14, 10, 5),
      1L -> reenc,
      2L -> aviOf(14, 10, 3, f0 = 2), // first two frames trimmed, AVI container
      3L -> "junk".getBytes("UTF-8"))
      .toDF("id", "payload")
    val pairs = Multimodal.setOverlapPairs(docs, "id", "payload", UnitHashes.videoFrames(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(pairs == Set((0L, 1L, 1.0), (0L, 2L, 1.0), (1L, 2L, 1.0)),
      s"got $pairs")
  }

  test("composited-volume bomb guard: huge canvas declared, tiny rect") {
    import spark.implicits._
    val bomb = Multimodal.encodeGifAnim(5000, 5000, 0, pal,
      Seq(Multimodal.GifFrameSpec(0, 0, 1, 1, (_, _) => 1)))
    val row = Seq(bomb).toDF("payload")
      .select(Multimodal.videoFrameDHashes(col("payload"), 1))
      .head()
    assert(row.isNullAt(0), "a 75 MB composited claim must refuse, not allocate")
  }
}
