package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{AviDecode, GraftFunctions}
import graft.operators.Multimodal.UnitHashes

/** Round-19 AVI extensions: MJPEG frame decode (the compressed
  * legacy-AVI class reachable with the shipped JDK JPEG reader) and
  * the PCM 'auds' track → audio-in-video containment. */
class AviAudioMjpegSpec extends SparkSpec {

  test("MJPEG container: header/meta/frames decode, shape contract holds, bad chunks refuse") {
    import spark.implicits._
    def grad(f: Int, x: Int, y: Int, c: Int): Int = 40 + x * 3 + y * 2 + f * 5
    val avi = Multimodal.encodeAviMjpeg(48, 32, 3, grad)
    val hd = AviDecode.header(avi)
    assert(hd != null && hd.codec == AviDecode.CodecMjpeg &&
      hd.frameOffsets.length == 3 && hd.width == 48 && hd.height == 32)
    // meta through the Column API sees the same container facts
    val meta = Seq(Tuple1(avi)).toDF("p")
      .select(Multimodal.videoMeta(col("p")).as("m")).head().getStruct(0)
    assert(meta.getInt(0) == 48 && meta.getInt(1) == 32 && meta.getInt(4) == 3)
    // every frame decodes to the shared layout and matches a direct
    // ImageIO decode of the same chunk bytes
    val d = AviDecode.decode(avi)
    assert(d != null && d.frames.length == 3 &&
      d.frames.forall(_.length == 48 * 32 * 3))
    // single-frame access agrees with the full decode
    val f1 = Seq(Tuple1(avi)).toDF("p")
      .select(Multimodal.videoFramePixels(col("p"), lit(1))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(f1, d.frames(1).toArray))
    // a corrupted frame chunk (SOI intact, body broken) refuses the
    // whole payload rather than garbling
    val broken = avi.clone()
    val off = hd.frameOffsets(2)
    for (i <- 8 until 40) broken(off + i) = 0x55
    assert(Seq(Tuple1(broken)).toDF("p")
      .select(Multimodal.videoFrameDHashes(col("p"), 1)).head().isNullAt(0),
      "bad MJPEG chunk must null the hash array, not skip the frame")
    // unknown codec ids still refuse (scope unchanged beyond MJPG)
    val strfAt = avi.indexOfSlice("strf".getBytes)
    val h264 = avi.clone()
    for ((b, i) <- "H264".getBytes.zipWithIndex) h264(strfAt + 8 + 16 + i) = b
    assert(AviDecode.header(h264) == null)
  }

  test("MJPEG re-encode of an uncompressed clip pairs through the tolerant shifted join") {
    import spark.implicits._
    // smooth gradients: grid-sample luma deltas (~3/px) dwarf codec
    // quantization noise, so each frame's dHash lands within the
    // Hamming band of its uncompressed twin (the JPEG spec fixture
    // discipline), while an inverted-gradient MJPEG clip scatters
    def grad(f: Int, x: Int, y: Int, c: Int): Int = 40 + x * 3 + y * 2 + f * 7
    val vids = Seq(
      0L -> Multimodal.encodeAvi(48, 32, 4, grad),
      1L -> Multimodal.encodeAviMjpeg(48, 32, 4, grad, quality = 0.7f),
      2L -> Multimodal.encodeAviMjpeg(48, 32, 4,
        (f, x, y, _) => 250 - x * 3 - y * 2 - f * 7, quality = 0.9f),
      3L -> "junk".getBytes("UTF-8")).toDF("video_id", "payload")
    val pairs = Multimodal.setOverlapPairs(
      vids, "video_id", "payload", UnitHashes.videoFrames(stride = 1), minFrac = 0.5,
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)),
      s"the MJPEG re-encode must pair with its uncompressed twin, got $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"the unrelated MJPEG clip must not pair, got $pairs")
    // frame-aligned stats flow through the MJPEG branch too (means
    // within codec noise of the uncompressed twin's exact means)
    val stats = Seq(Tuple1(Multimodal.encodeAviMjpeg(48, 32, 2, grad)))
      .toDF("p").select(explode(Multimodal.frameSample(col("p"), 1)).as("e"))
      .select(col("e.mean")).collect().map(_.getDouble(0))
    val exact = Seq(Tuple1(Multimodal.encodeAvi(48, 32, 2, grad)))
      .toDF("p").select(explode(Multimodal.frameSample(col("p"), 1)).as("e"))
      .select(col("e.mean")).collect().map(_.getDouble(0))
    assert(stats.length == 2 &&
      stats.zip(exact).forall { case (a, b) => math.abs(a - b) < 2.0 },
      s"MJPEG means must track the exact means, got ${stats.toSeq} vs ${exact.toSeq}")
  }

  test("PCM 'auds' track: segment hashes bit-equal the same PCM in a WAV (incl. chunk straddle)") {
    import spark.implicits._
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    // stereo + odd total byte count per channel layout exercises the
    // encoder's deliberate odd-offset chunk split (sample straddles)
    val avi = Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200,
      audioChannels = 2, audioRate = 8000, audioFrames = 640, audioSample = s0)
    val wav = Multimodal.encodeWav(2, 8000, 640, s0)
    val hd = AviDecode.header(avi)
    assert(hd != null && hd.audChannels == 2 && hd.audRate == 8000 &&
      hd.audFrames == 640 && hd.audChunkOffs.length == 2,
      "audio track must surface through the header walk as two chunks")
    val df = Seq((avi, wav)).toDF("avi", "wav")
    val got = df.select(
      Multimodal.videoAudioSegmentDHashes(col("avi"), 128).as("a"),
      Multimodal.audioSegmentDHashes(col("wav"), 128).as("w")).head()
    assert(!got.isNullAt(0) && got.getSeq[Any](0) == got.getSeq[Any](1),
      "soundtrack segment hashes must bit-equal the WAV form's")
    // no audio track / non-PCM scope → honest NULL
    val mute = Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200)
    assert(Seq(Tuple1(mute)).toDF("p")
      .select(Multimodal.videoAudioSegmentDHashes(col("p"), 128)).head().isNullAt(0))
  }

  test("shot boundaries: structural cuts detected, brightness shifts are not cuts, degenerates empty") {
    import spark.implicits._
    def scenePix(scene: Int)(x: Int, y: Int, c: Int): Int =
      ((x * (2 + scene) + y * (3 + 2 * scene) + c * 37) * (scene * 97 + 13)) % 180
    val vids = Seq(
      // structural cut at frame 2
      0L -> Multimodal.encodeAvi(12, 10, 5,
        (f, x, y, c) => scenePix(if (f >= 2) 1 else 0)(x, y, c)),
      // brightness-only change at frame 2: dHash-invariant, NO cut
      1L -> Multimodal.encodeAvi(12, 10, 5,
        (f, x, y, c) => scenePix(0)(x, y, c) + (if (f >= 2) 40 else 0)),
      // single frame and junk: empty / null
      2L -> Multimodal.encodeAvi(12, 10, 1, (_, x, y, c) => scenePix(0)(x, y, c)),
      3L -> "junk".getBytes("UTF-8")).toDF("video_id", "payload")
    val got = vids.select(col("video_id"),
      Multimodal.videoShotBoundaries(col("payload"), 16).as("b"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    assert(got(0L) == Seq(2), s"cut at frame 2: got ${got(0L)}")
    assert(got(1L) == Seq(), s"brightness shift must not cut: got ${got(1L)}")
    assert(got(2L) == Seq(), s"single frame: got ${got(2L)}")
    assert(got(3L) == null, "junk payloads are NULL")
    // MJPEG clips flow through the same hashes
    val mjpeg = Seq(Tuple1(Multimodal.encodeAviMjpeg(48, 32, 5,
      (f, x, y, _) => 40 + (if (f >= 3) 255 - x * 3 - y * 2 else x * 3 + y * 2))))
      .toDF("p")
      .select(Multimodal.videoShotBoundaries(col("p"), 16)).head().getSeq[Int](0)
    assert(mjpeg == Seq(3), s"MJPEG cut at frame 3: got $mjpeg")
  }

  test("IMA-ADPCM soundtrack: container parity with the WAV form, containment end-to-end") {
    import spark.implicits._
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    // 1010 frames = 2 whole 505-sample blocks: no final-block padding,
    // so the AVI track (no 'fact' chunk) and the WAV (fact = nFrames)
    // decode the IDENTICAL nibble stream to identical samples
    val avi = Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200,
      audioChannels = 2, audioRate = 8000, audioFrames = 1010,
      audioSample = s0, audioAdpcm = true)
    val wav = Multimodal.encodeWavImaAdpcm(2, 8000, 1010, s0, samplesPerBlock = 505)
    val hd = AviDecode.header(avi)
    assert(hd != null && hd.audFormat == 17 && hd.audChannels == 2 &&
      hd.audFrames == 1010, s"ADPCM track must surface: $hd")
    val got = Seq((avi, wav)).toDF("avi", "wav").select(
      Multimodal.videoAudioSegmentDHashes(col("avi"), 128).as("a"),
      Multimodal.audioSegmentDHashes(col("wav"), 128).as("w")).head()
    assert(!got.isNullAt(0) && got.getSeq[Any](0) == got.getSeq[Any](1),
      "compressed soundtrack segment hashes must bit-equal the WAV form's")
    // end-to-end containment: the identical compressed clip scores 1.0
    // against the video carrying it; a fresh clip and junk never match
    val matches = Multimodal.audioVideoMatches(
      Seq(0L -> avi).toDF("video_id", "payload"), "video_id", "payload",
      Seq(
        0L -> wav,
        1L -> Multimodal.encodeWav(1, 8000, 640,
          (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898),
        2L -> "junk".getBytes("UTF-8")).toDF("clip_id", "payload"),
      "clip_id", "payload", segFrames = 128, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(matches == Set((0L, 0L, 1.0)), s"got $matches")
    // geometry guard: a corrupted wSamplesPerBlock drops the TRACK,
    // never the video
    val strfs = {
      var at = -1
      var all = List.empty[Int]
      while ({ at = avi.indexOfSlice("strf".getBytes, at + 1); at >= 0 })
        all = all :+ at
      all
    }
    val bad = avi.clone(); bad(strfs(1) + 8 + 18) = 7 // audio strf is the 2nd
    val badHd = AviDecode.header(bad)
    assert(badHd != null && badHd.audChannels == 0 &&
      badHd.frameOffsets.length == 2,
      "bad ADPCM geometry must drop only the audio track")
  }

  test("streaming cross-modal audio gate: drops videos embedding banned audio, keeps mute/fresh/junk, zero state") {
    import spark.implicits._
    def base(b: Int)(c: Int, f: Int): Int = (((f * 53 + c * 17 + b * 101) % 3989) - 1994)
    // banned catalog: ONE WAV clip — its 32 KB bitmaps gate videos
    // because soundtrack and clip segments hash through one kernel
    val banned = Multimodal.blockBitmaps(
      Seq(100L -> Multimodal.encodeWav(2, 8000, 640, base(0))).toDF("clip_id", "payload"),
      "payload", UnitHashes.audioSegments(128))
    val arrivals = Seq(
      // soundtrack = the banned clip, segment-trimmed AND gain x3: drop
      0L -> Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200,
        audioChannels = 2, audioRate = 8000, audioFrames = 512,
        audioSample = (c, f) => base(0)(c, f + 128) * 3),
      // structurally fresh soundtrack: keep
      1L -> Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200,
        audioChannels = 1, audioRate = 8000, audioFrames = 640,
        audioSample = (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898),
      // mute video and junk: no PCM track, kept
      2L -> Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200),
      3L -> "junk".getBytes("UTF-8"))
    val keptBatch = graft.streaming.StreamingOps.dropSetOverlapNearDups(
      arrivals.toDF("video_id", "payload"), "payload",
      UnitHashes.videoSoundtrack(segFrames = 128), banned)
      .select("video_id").collect().map(_.getLong(0)).toSet
    assert(keptBatch == Set(1L, 2L, 3L), s"batch gate verdicts: got $keptBatch")
    // streaming form: join-free pure expression, zero state rows
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[(Long, Array[Byte])](spark)
    val out = graft.streaming.StreamingOps.dropSetOverlapNearDups(
      stream.toDS().toDF("video_id", "payload"), "payload",
      UnitHashes.videoSoundtrack(segFrames = 128), banned)
    assert(!out.queryExecution.analyzed.toString.toLowerCase.contains("join"),
      "the bitmap gate must be join-free")
    val ckpt = java.nio.file.Files.createTempDirectory("avgate").toString
    val q = out.writeStream.format("memory").queryName("av_gate_out")
      .option("checkpointLocation", ckpt).start()
    try {
      stream.addData(arrivals)
      q.processAllAvailable()
      val keptStream = spark.table("av_gate_out")
        .select("video_id").collect().map(_.getLong(0)).toSet
      assert(keptStream == keptBatch, "stream verdicts must equal the batch gate")
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 0L)
    } finally q.stop()
  }

  test("streaming media curation verdicts: per-kind catalog gates in one pass, zero state") {
    import spark.implicits._
    def ipix(b: Int)(x: Int, y: Int, c: Int): Int =
      (x * 17 + y * 29 + c * 37 + b * 53) % 180
    def vpix(b: Int)(f: Int, x: Int, y: Int, c: Int): Int =
      (x * 17 + y * 29 + c * 37 + f * 41 + b * 53) % 180
    def s0(c: Int, f: Int): Int = ((f * 53 + c * 17 + 101) % 3989) - 1994
    val imgCat = Multimodal.blockBitmaps(
      Seq(900L -> Multimodal.encodePng(12, 10, 1, ipix(0))).toDF("id", "payload"), "payload",
      UnitHashes.image)
    val vidCat = Multimodal.blockBitmaps(
      Seq(901L -> Multimodal.encodeAvi(12, 10, 24, vpix(0))).toDF("id", "payload"), "payload",
      UnitHashes.videoFrames(4))
    val audCat = Multimodal.blockBitmaps(
      Seq(902L -> Multimodal.encodeWav(2, 8000, 640, s0)).toDF("id", "payload"), "payload",
      UnitHashes.audioSegments(128))
    val arrivals = Seq(
      0L -> Multimodal.encodePng(12, 10, 1, (x, y, c) => ipix(0)(x, y, c) + 40), // image twin → drop
      1L -> Multimodal.encodePng(14, 11, 3, ipix(4)), // fresh family → keep
      2L -> Multimodal.encodeAvi(12, 10, 20, // video trim+shift → drop
        (f, x, y, c) => vpix(0)(f + 4, x, y, c) + 40, topDown = true),
      3L -> Multimodal.encodeAvi(12, 10, 24, // noise video → keep
        (f, x, y, c) => ((f * 7 + x) * (y * 5 + c) * 73 + x * y) % 256),
      4L -> Multimodal.encodeWav(2, 8000, 512, (c, f) => s0(c, f + 128) * 3), // audio trim+gain → drop
      5L -> Multimodal.encodeWav(1, 8000, 640, // fresh audio → keep
        (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898),
      6L -> "not media".getBytes("UTF-8")) // junk → keep 'undecodable'
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamingOps.mediaCurationVerdicts(
        df, "payload", imgCat, vidCat, audCat,
        videoStride = 4, audioSegFrames = 128, minFrac = 0.3)
    val got = verdicts(arrivals.toDF("media_id", "payload"))
      .select("media_id", "kind", "verdict", "reason")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(got(0L) == (("png", "drop", "image_near_dup")), s"got ${got(0L)}")
    assert(got(1L) == (("png", "keep", "unique")), s"got ${got(1L)}")
    assert(got(2L) == (("avi", "drop", "video_near_dup")), s"got ${got(2L)}")
    assert(got(3L) == (("avi", "keep", "unique")), s"got ${got(3L)}")
    assert(got(4L) == (("wav", "drop", "audio_near_dup")), s"got ${got(4L)}")
    assert(got(5L) == (("wav", "keep", "unique")), s"got ${got(5L)}")
    assert(got(6L) == (("other", "keep", "undecodable")), s"got ${got(6L)}")
    // streaming form: join-free, zero state, verdicts identical
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val stream = MemoryStream[(Long, Array[Byte])](spark)
    val out = verdicts(stream.toDS().toDF("media_id", "payload"))
      .select("media_id", "kind", "verdict", "reason")
    assert(!out.queryExecution.analyzed.toString.toLowerCase.contains("join"),
      "the verdict pass must be join-free")
    val ckpt = java.nio.file.Files.createTempDirectory("mcv").toString
    val q = out.writeStream.format("memory").queryName("mcv_out")
      .option("checkpointLocation", ckpt).start()
    try {
      stream.addData(arrivals)
      q.processAllAvailable()
      val streamed = spark.table("mcv_out")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
      assert(streamed == got, "stream verdicts must equal the batch pass")
      assert(q.lastProgress.stateOperators.map(_.numRowsTotal).sum == 0L)
    } finally q.stop()
  }

  test("audioVideoMatches: soundtrack-cut clips contain at 1.0, gain-invariant; junk never matches") {
    import spark.implicits._
    def base(b: Int)(c: Int, f: Int): Int = (((f * 53 + c * 17 + b * 101) % 3989) - 1994)
    // 3 videos with 640-frame stereo soundtracks + 1 without audio + junk
    val vids = (0 until 3).map { b =>
      (b.toLong, Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x * 3 + y + f + c + b) % 200,
        audioChannels = 2, audioRate = 8000, audioFrames = 640, audioSample = base(b)))
    } ++ Seq(
      3L -> Multimodal.encodeAvi(8, 6, 2, (f, x, y, c) => (x + y + f + c) % 200),
      4L -> "not a video".getBytes("UTF-8"))
    val clips = Seq(
      // segments 1-2 of video 0's track, gain x3: containment 1.0
      0L -> Multimodal.encodeWav(2, 8000, 256, (c, f) => base(0)(c, f + 128) * 3),
      // segments 0-3 of video 1's track, exact
      1L -> Multimodal.encodeWav(2, 8000, 512, (c, f) => base(1)(c, f)),
      // a NON-boundary cut of video 2's track: misses (modulo-segFrames caveat)
      2L -> Multimodal.encodeWav(2, 8000, 256, (c, f) => base(2)(c, f + 64)),
      // unrelated content
      3L -> Multimodal.encodeWav(1, 8000, 256, (c, f) => ((f * 173 + c * 13 + 999) % 3797) - 1898),
      // sub-segment and junk: never match
      4L -> Multimodal.encodeWav(1, 8000, 64, base(0)),
      5L -> "junk".getBytes("UTF-8"))
    val got = Multimodal.audioVideoMatches(
      vids.toDF("video_id", "payload"), "video_id", "payload",
      clips.toDF("clip_id", "payload"), "clip_id", "payload",
      segFrames = 128, minFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(got == Set((0L, 0L, 1.0), (1L, 1L, 1.0)),
      s"boundary cuts contain at 1.0 (gain-invariant), everything else misses: got $got")
    // chunked-cell equivalence on the containment join too
    val chunked = Multimodal.audioVideoMatches(
      vids.toDF("video_id", "payload"), "video_id", "payload",
      clips.toDF("clip_id", "payload"), "clip_id", "payload",
      segFrames = 128, minFrac = 0.5, chunkSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(chunked == got, "chunkSize=1 must not change the containment set")
  }
}
