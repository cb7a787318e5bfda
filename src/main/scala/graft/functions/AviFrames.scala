package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Pure-JVM AVI (RIFF) video frame decoder — upgrades the multimodal
  * family's last stub (video frame sampling) to REAL frame access for
  * the one video format decodable without a codec library:
  * uncompressed BI_RGB AVI (fourcc 'DIB '/raw, 24-bit), the standard
  * interchange form every transcoder can emit.
  *
  * Wire format per the public Microsoft RIFF/AVI spec (all
  * little-endian, even-padded chunks):
  *   'RIFF' u32size 'AVI ' { 'LIST' u32 'hdrl' [avih, 'LIST' 'strl'
  *   [strh, strf(BITMAPINFOHEADER), …]…], 'LIST' 'movi' ['00db'/'00dc'
  *   frame chunks…], 'idx1'? }
  *
  * Scope (documented, not silently wrong): the FIRST 'vids' stream,
  * with TWO codecs — biCompression = BI_RGB (0) + biBitCount = 24
  * (raw), and biCompression = 'MJPG' (Motion JPEG, each frame chunk a
  * standalone JPEG image decoded through the audited [[JpegDecode]]
  * path — the one compressed legacy-AVI class reachable with the
  * already-shipped JDK reader; frames that omit their Huffman tables,
  * the old "AVI1" shorthand, are out of scope and null like any other
  * undecodable payload). Frame chunks are matched by the stream's
  * ACTUAL strh index (nndb/nndc), not a hardcoded 00. Bottom-up rows
  * (positive biHeight, the AVI default) and top-down (negative) both
  * decode; frames come out TOP-DOWN, row-major, RGB-interleaved — the
  * SAME layout as [[PngPixels]]/[[JpegPixels]], so one featurizer
  * consumes stills and frames alike. Other codecs (H.264/…) return
  * NULL — honest absence; the `mapPartitions` JNI bridge documented
  * in [[graft.operators.Multimodal]] is the production swap-in for
  * those, with THIS as the layout contract it must match.
  *
  * The walk also surfaces the FIRST 'auds' stream when it is 16-bit
  * PCM (WAVEFORMATEX wFormatTag = 1, the [[WavDecode]] scope): its
  * nnwb chunks concatenate, in wire order, into the interleaved
  * sample stream that [[AviAudioSegmentDHashes]] fingerprints — the
  * audio-in-video containment frontier. Non-PCM audio tracks are
  * simply absent (the video side still decodes).
  *
  * Safety at scale: a media lake WILL contain container bombs — a
  * few-KB payload declaring huge dimensions or frame counts. The
  * walker is length-checked against the physical buffer everywhere
  * (a declared size never reads past the payload), and total decoded
  * volume (nFrames·width·height·3) is capped at
  * [[AviDecode.MaxRawBytes]] BEFORE any frame is allocated.
  *
  * Codegen: [[CodegenFallback]] — the cost is the container walk +
  * byte shuffling, not expression dispatch (same call as
  * [[PngPixels]]).
  */
private[graft] object AviDecode {
  /** Decoded-volume ceiling (64 MiB), shared spirit with
    * [[PngDecode.MaxRawBytes]]. */
  val MaxRawBytes: Long = 64L * 1024 * 1024

  final case class Decoded(
      width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      frames: IndexedSeq[Array[Byte]])

  /** Video codec of a decodable container: raw BI_RGB 24-bit. */
  val CodecRaw = 0
  /** Video codec of a decodable container: Motion JPEG. */
  val CodecMjpeg = 1

  /** Container header + validated frame-chunk directory, with NO
    * pixel materialization — the one walk every AVI expression
    * shares. `frameOffsets(i)`/`frameLens(i)` locate frame i's wire
    * data; for [[CodecRaw]] every chunk is pre-validated to hold a
    * full `wireStride·height` frame (wireStride = 0 for
    * [[CodecMjpeg]], whose chunks are SOI-checked variable-length
    * JPEGs), and the total decoded volume is pre-checked against
    * [[MaxRawBytes]], so a consumer that passes the header can read
    * any frame without further bounds logic. Null ⇔ [[decode]] null
    * (same scope, same caps — result-equivalence by construction).
    *
    * `audChannels` > 0 ⇔ the container carries a decodable 'auds'
    * stream — 16-bit PCM (`audFormat` = 1) or IMA-ADPCM
    * (`audFormat` = 17, with `audBlockAlign`/`audSpb` geometry):
    * `audChunkOffs`/`audChunkLens` locate its nnwb chunks (total
    * bytes capped at [[MaxRawBytes]]). */
  final case class Header(
      width: Int, height: Int, topDown: Boolean,
      fpsNum: Int, fpsDen: Int, wireStride: Int, codec: Int,
      frameOffsets: Array[Int], frameLens: Array[Int],
      audChannels: Int, audRate: Int, audFormat: Int,
      audBlockAlign: Int, audSpb: Int,
      audChunkOffs: Array[Int], audChunkLens: Array[Int]) {
    /** Interleaved frames in the audio track (0 when absent); a
      * trailing partial PCM frame / ADPCM block is dropped. */
    def audFrames: Int = {
      if (audChannels <= 0) return 0
      val bytes = audChunkLens.foldLeft(0L)(_ + _)
      if (audFormat == 1) (bytes / (2L * audChannels)).toInt
      else if (audFormat == 6 || audFormat == 7) (bytes / audChannels).toInt
      else (bytes / audBlockAlign).toInt * audSpb
    }
  }

  private def leU32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  private def leI32(b: Array[Byte], i: Int): Int = leU32(b, i).toInt
  private def leU16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** Header walk or null. Never throws on malformed input. */
  def header(b: Array[Byte]): Header = {
    if (b == null || b.length < 24) return null
    if (fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ") return null
    var width, height = -1
    var fpsNum, fpsDen = 0
    var bitCount, compression = -1
    var compFcc = ""
    var strhSeen = 0 // strh ORDER defines the stream number in chunk ids
    var vidStream, audStream = -1
    var vidStrfPending, audStrfPending = false
    var audChannels, audRate, audFormat, audBlockAlign, audSpb = 0
    val frameChunks = scala.collection.mutable.ArrayBuffer[(Int, Int)]() // (off, len)
    val audChunks = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var chunks = 0

    // Iterative chunk walk: `walk(from, until)` scans one chunk run;
    // LIST chunks descend (hdrl/strl/movi all matter). Depth ≤ 3 by
    // grammar, so recursion is safe.
    def walk(from: Int, until: Int): Boolean = { // false = structurally bad
      var pos = from
      while (pos + 8 <= until) {
        chunks += 1
        if (chunks > 100000) return false
        val id = fourcc(b, pos)
        val len = leU32(b, pos + 4)
        val dataOff = pos + 8
        if (len > Int.MaxValue - 16 || dataOff + len > until) return false
        val dataLen = len.toInt
        id match {
          case "LIST" =>
            if (dataLen < 4) return false
            if (!walk(dataOff + 4, dataOff + dataLen)) return false
          case "strh" =>
            val streamNo = strhSeen
            strhSeen += 1
            if (dataLen >= 32) {
              val typ = fourcc(b, dataOff)
              if (typ == "vids" && vidStream < 0) {
                vidStream = streamNo
                vidStrfPending = true
                fpsDen = leI32(b, dataOff + 20) // dwScale
                fpsNum = leI32(b, dataOff + 24) // dwRate
              } else if (typ == "auds" && audStream < 0) {
                audStream = streamNo
                audStrfPending = true
              }
            }
          case "strf" =>
            if (vidStrfPending) {
              vidStrfPending = false
              if (dataLen < 20) return false
              width = leI32(b, dataOff + 4) // biWidth
              height = leI32(b, dataOff + 8) // biHeight (neg = top-down)
              bitCount = leU16(b, dataOff + 14)
              compression = leI32(b, dataOff + 16)
              compFcc = fourcc(b, dataOff + 16)
            } else if (audStrfPending) {
              audStrfPending = false
              // WAVEFORMATEX: the WavDecode scope — 16-bit PCM (tag 1)
              // or IMA-ADPCM (tag 17, geometry-validated at decode);
              // anything else leaves the audio track honestly absent
              if (dataLen >= 16) {
                val tag = leU16(b, dataOff)
                val bits = leU16(b, dataOff + 14)
                val ch = leU16(b, dataOff + 2)
                if (ch >= 1 && ch <= 8 &&
                  ((tag == 1 && bits == 16) || (tag == 17 && bits == 4) ||
                    ((tag == 6 || tag == 7) && bits == 8))) {
                  audChannels = ch
                  audRate = leI32(b, dataOff + 4)
                  audFormat = tag
                  audBlockAlign = leU16(b, dataOff + 12)
                  audSpb = if (dataLen >= 20) leU16(b, dataOff + 18) else 0
                }
              }
            }
          case _ =>
            // data chunks carry their stream number: nndb/nndc video,
            // nnwb audio (avih/idx1/JUNK/… fall through untouched).
            // The two digits are HEX per avifmt.h's StreamFromFOURCC
            // (stream 10 is '0A', 16 is '10' — NOT decimal), so a
            // container with ≥10 streams still matches its chunks.
            def hexDigit(ch: Char): Int =
              if (ch >= '0' && ch <= '9') ch - '0'
              else if (ch >= 'A' && ch <= 'F') ch - 'A' + 10
              else if (ch >= 'a' && ch <= 'f') ch - 'a' + 10
              else -1
            val d0 = hexDigit(id.charAt(0))
            val d1 = hexDigit(id.charAt(1))
            if (d0 >= 0 && d1 >= 0) {
              val streamNo = d0 * 16 + d1
              val suffix = id.substring(2)
              if (streamNo == vidStream && (suffix == "db" || suffix == "dc"))
                frameChunks += ((dataOff, dataLen))
              else if (streamNo == audStream && suffix == "wb")
                audChunks += ((dataOff, dataLen))
            }
        }
        pos = dataOff + dataLen + (dataLen & 1) // chunks pad to even
      }
      true
    }
    if (!walk(12, b.length)) return null
    val codec =
      if (compression == 0 && bitCount == 24) CodecRaw
      else if (compFcc == "MJPG") CodecMjpeg
      else return null
    if (vidStream < 0) return null
    val topDown = height < 0
    val h = math.abs(height)
    if (width <= 0 || h <= 0) return null
    val outFrame = width.toLong * h * 3
    if (outFrame * math.max(frameChunks.size, 1) > MaxRawBytes) return null
    val wireStride =
      if (codec == CodecRaw) ((width * 3 + 3) / 4) * 4 // rows pad to 4 bytes
      else 0
    val offsets = new Array[Int](frameChunks.size)
    val lens = new Array[Int](frameChunks.size)
    var i = 0
    while (i < frameChunks.size) {
      val (off, len) = frameChunks(i)
      if (codec == CodecRaw) {
        if (len < wireStride.toLong * h) return null // truncated frame
      } else {
        // MJPEG: each chunk must at least open as a JPEG (SOI marker);
        // full validation happens at decode time per sampled frame
        if (len < 4 || (b(off) & 0xFF) != 0xFF || (b(off + 1) & 0xFF) != 0xD8)
          return null
      }
      offsets(i) = off
      lens(i) = len
      i += 1
    }
    // audio: only a validated track survives; cap total bytes. For
    // ADPCM the WAVEFORMATEX geometry must cohere (the WavDecode
    // rule) — a bad claim drops the TRACK, never the video.
    var audOk = audChannels > 0 && audChunks.nonEmpty &&
      audChunks.foldLeft(0L)(_ + _._2) <= MaxRawBytes
    if (audOk && audFormat == 17) {
      val dpb = audBlockAlign - 4 * audChannels
      if (dpb <= 0 || dpb % (4 * audChannels) != 0) audOk = false
      else {
        val spbGeom = dpb * 2 / audChannels + 1
        if (audSpb > 0 && audSpb != spbGeom) audOk = false
        else audSpb = spbGeom
      }
    }
    val (aOffs, aLens) =
      if (audOk) (audChunks.map(_._1).toArray, audChunks.map(_._2).toArray)
      else (Array.empty[Int], Array.empty[Int])
    Header(width, h, topDown, fpsNum, fpsDen, wireStride, codec,
      offsets, lens,
      if (aOffs.isEmpty) 0 else audChannels,
      if (aOffs.isEmpty) 0 else audRate,
      if (aOffs.isEmpty) 0 else audFormat,
      if (aOffs.isEmpty) 0 else audBlockAlign,
      if (aOffs.isEmpty) 0 else audSpb,
      aOffs, aLens)
  }

  /** One MJPEG frame decoded to the shared layout (top-down row-major
    * RGB), or null when the chunk fails to decode or its dimensions /
    * channel count disagree with the container header — a consumer
    * treats that as an out-of-scope payload, never a silent skip. */
  def mjpegFrame(b: Array[Byte], off: Int, len: Int, w: Int, h: Int): Array[Byte] = {
    val d = JpegDecode.decode(java.util.Arrays.copyOfRange(b, off, off + len))
    if (d == null || d.width != w || d.height != h || d.channels != 3) null
    else d.pixels
  }

  /** The audio track as interleaved i16 samples (whole frames only —
    * a trailing partial frame / ADPCM block across the chunk
    * concatenation is dropped), or null when the container carries
    * none. PCM reads straight off the chunks; IMA-ADPCM assembles
    * the chunk bytes and runs the SAME audited
    * [[WavDecode.imaDecodeBlocks]] state walk the WAV branch uses. */
  def audioSamples(b: Array[Byte], hd: Header): Array[Short] = {
    if (hd.audChannels <= 0) return null
    if (hd.audFormat == 17) {
      // contiguous copy (≤ MaxRawBytes by the header cap), then the
      // shared block decoder — chunk boundaries need not align with
      // ADPCM blocks, so decoding per chunk would be wrong
      val total = hd.audChunkLens.sum
      val raw = new Array[Byte](total)
      var at = 0
      var c = 0
      while (c < hd.audChunkOffs.length) {
        System.arraycopy(b, hd.audChunkOffs(c), raw, at, hd.audChunkLens(c))
        at += hd.audChunkLens(c)
        c += 1
      }
      return WavDecode.imaDecodeBlocks(raw, 0, total, hd.audChannels,
        hd.audBlockAlign, hd.audSpb, -1L)
    }
    if (hd.audFormat == 6 || hd.audFormat == 7) {
      // G.711: one byte per sample, chunk boundaries can't split one
      val n = hd.audFrames * hd.audChannels
      if (n <= 0) return null
      val out = new Array[Short](n)
      var s = 0
      var c = 0
      while (c < hd.audChunkOffs.length && s < n) {
        val off = hd.audChunkOffs(c)
        val len = hd.audChunkLens(c)
        var i = 0
        while (i < len && s < n) {
          out(s) =
            if (hd.audFormat == 7) WavDecode.ulawToLinear(b(off + i) & 0xFF)
            else WavDecode.alawToLinear(b(off + i) & 0xFF)
          s += 1
          i += 1
        }
        c += 1
      }
      return out
    }
    val nSamples = hd.audFrames * hd.audChannels
    if (nSamples <= 0) return null
    val out = new Array[Short](nSamples)
    var s = 0
    var c = 0
    var lo = -1 // pending low byte when a chunk ends mid-sample
    while (c < hd.audChunkOffs.length && s < nSamples) {
      val off = hd.audChunkOffs(c)
      val len = hd.audChunkLens(c)
      var i = 0
      while (i < len && s < nSamples) {
        if (lo < 0) lo = b(off + i) & 0xFF
        else {
          out(s) = (lo | (b(off + i) << 8)).toShort
          s += 1
          lo = -1
        }
        i += 1
      }
      c += 1
    }
    out
  }

  /** One raw (BI_RGB) frame re-ordered to the shared layout. */
  private[graft] def rawFrame(b: Array[Byte], hd: Header, off: Int): Array[Byte] = {
    val w = hd.width; val h = hd.height
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = off + (if (hd.topDown) y else h - 1 - y) * hd.wireStride
      var x = 0
      while (x < w) {
        val s = srcRow + x * 3 // wire BGR → out RGB
        val d = (y * w + x) * 3
        out(d) = b(s + 2); out(d + 1) = b(s + 1); out(d + 2) = b(s)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Frame i to the shared layout, or null (MJPEG chunk that fails
    * [[mjpegFrame]]'s decode/shape contract). */
  private[graft] def frame(b: Array[Byte], hd: Header, i: Int): Array[Byte] =
    if (hd.codec == CodecRaw) rawFrame(b, hd, hd.frameOffsets(i))
    else mjpegFrame(b, hd.frameOffsets(i), hd.frameLens(i), hd.width, hd.height)

  /** Decode or null. Never throws on malformed input. */
  def decode(b: Array[Byte]): Decoded = {
    val hd = header(b)
    if (hd == null) return null
    val frames = new Array[Array[Byte]](hd.frameOffsets.length)
    var i = 0
    while (i < frames.length) {
      val f = frame(b, hd, i)
      if (f == null) return null // one bad MJPEG chunk ⇒ out of scope
      frames(i) = f
      i += 1
    }
    Decoded(hd.width, hd.height, hd.fpsNum, hd.fpsDen,
      frames.toIndexedSeq)
  }
}

/** Container metadata of an uncompressed AVI payload as
  * `struct<width:int, height:int, fps_num:int, fps_den:int,
  * n_frames:int>` (fps = fps_num/fps_den, the strh dwRate/dwScale
  * pair — kept as the exact rational, never a lossy float; n_frames
  * counts the PHYSICAL frame chunks, not the header's claim). NULL
  * for non-AVI / unsupported / corrupt payloads ([[AviDecode]]
  * scope). */
case class AviMeta(child: Expression) extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects binary, got $t")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("fps_num", IntegerType, nullable = false),
    StructField("fps_den", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_avi_meta"
  override protected def nullSafeEval(input: Any): Any = {
    // Header-only walk — metadata never materializes a pixel buffer.
    val hd = AviDecode.header(input.asInstanceOf[Array[Byte]])
    if (hd == null) null
    else InternalRow(hd.width, hd.height, hd.fpsNum, hd.fpsDen,
      hd.frameOffsets.length)
  }
  override protected def withNewChildInternal(newChild: Expression): AviMeta =
    copy(child = newChild)
}

/** One decoded frame of a raw or MJPEG AVI as BINARY — top-down,
  * row-major, RGB-interleaved, the SAME layout as [[PngPixels]], so
  * still-image featurizers consume sampled frames unchanged. NULL
  * when the payload is out of [[AviDecode]] scope, the index is out
  * of range, or (MJPEG) that frame's JPEG chunk fails the decode /
  * shape contract. Only the ADDRESSED frame is decoded — one header
  * walk plus one frame, never a full-container decode. Frame index
  * is 0-based. */
case class AviFramePixels(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, integral), got ($l, $r)")
    }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_avi_frame"
  override protected def nullSafeEval(payload: Any, idx: Any): Any = {
    val b = payload.asInstanceOf[Array[Byte]]
    val hd = AviDecode.header(b)
    if (hd == null) return null
    val i = idx match { case l: Long => l; case n: Int => n.toLong }
    if (i < 0 || i >= hd.frameOffsets.length) null
    else AviDecode.frame(b, hd, i.toInt)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AviFramePixels =
    copy(left = newLeft, right = newRight)
}

/** Frame sampling + per-frame dHash in ONE container walk:
  * `array<struct<frame_idx:int, dhash:long>>` for frames 0, stride,
  * 2·stride, … — the video near-dup frontier
  * ([[graft.operators.Multimodal.videoNearDupPairs]] and the
  * [[graft.operators.Multimodal.UnitHashes.videoFrames]] extractor
  * of the set-overlap family) without the
  * quadratic decode the composed form
  * (`ImageDHash64(AviFramePixels(payload, f), …)` per exploded frame
  * row) pays: that shape re-runs the full container decode once per
  * sampled frame (1 + f/stride passes per video), this one walks the
  * container ONCE and never allocates a frame buffer at all — dHash
  * needs only 72 samples per frame, read straight from the wire
  * (padded bottom-up BGR), exploiting that [[ImageDHash64]]'s luma
  * ⌊(c0+c1+c2)/3⌋ is channel-order-invariant and its NN floor grid
  * maps to wire rows by the same top-down flip [[AviDecode.decode]]
  * applies. Bit-identical to the composed form by construction
  * (pinned by AviSpec's equivalence test). NULL when the payload is
  * out of [[AviDecode]] scope or stride < 1; empty array when the
  * container holds zero frame chunks. */
case class AviFrameDHashes(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, integral), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("dhash", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_avi_frame_dhashes"

  private final val GridW = 9
  private final val GridH = 8

  override protected def nullSafeEval(payload: Any, strideAny: Any): Any = {
    val stride = strideAny match { case l: Long => l; case n: Int => n.toLong }
    if (stride < 1) return null
    val b = payload.asInstanceOf[Array[Byte]]
    val hd = AviDecode.header(b)
    if (hd == null) return null
    val w = hd.width; val h = hd.height
    // Wire offset of the NN-sampled source pixel for grid cell
    // (gx, gy) of the frame at `off` — the same floor rule as
    // ImageDHash64 (sy = ⌊gy·h/8⌋, sx = ⌊gx·w/9⌋ in the TOP-DOWN
    // frame), flipped to the wire's row order.
    def wireLuma(off: Int, gx: Int, gy: Int): Int = {
      val sy = (gy.toLong * h / GridH).toInt
      val sx = (gx.toLong * w / GridW).toInt
      val s = off + (if (hd.topDown) sy else h - 1 - sy) * hd.wireStride + sx * 3
      // wire BGR; luma = ⌊(R+G+B)/3⌋ — order-free sum
      ((b(s) & 0xFF) + (b(s + 1) & 0xFF) + (b(s + 2) & 0xFF)) / 3
    }
    // MJPEG frames can't wire-sample — the SAMPLED frame decodes
    // through JpegDecode into the shared top-down RGB layout (still
    // one container walk; only every stride-th frame pays a decode)
    // and the same grid rule reads the buffer.
    def bufLuma(px: Array[Byte], gx: Int, gy: Int): Int = {
      val sy = (gy.toLong * h / GridH).toInt
      val sx = (gx.toLong * w / GridW).toInt
      val s = (sy * w + sx) * 3
      ((px(s) & 0xFF) + (px(s + 1) & 0xFF) + (px(s + 2) & 0xFF)) / 3
    }
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0L
    while (i < hd.frameOffsets.length) {
      val fi = i.toInt
      val off = hd.frameOffsets(fi)
      val px =
        if (hd.codec == AviDecode.CodecRaw) null
        else {
          val p = AviDecode.frame(b, hd, fi)
          if (p == null) return null // one bad chunk ⇒ out of scope
          p
        }
      def luma(gx: Int, gy: Int): Int =
        if (px == null) wireLuma(off, gx, gy) else bufLuma(px, gx, gy)
      var hash = 0L
      var gy = 0
      while (gy < GridH) {
        var prev = luma(0, gy)
        var gx = 0
        while (gx < GridW - 1) {
          val next = luma(gx + 1, gy)
          if (next > prev) hash |= 1L << (gy * 8 + gx)
          prev = next
          gx += 1
        }
        gy += 1
      }
      out += InternalRow(fi, hash)
      i += stride
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AviFrameDHashes =
    copy(left = newLeft, right = newRight)
}

/** Frame sampling + per-frame brightness in one pass:
  * `array<struct<frame_idx:long, mean:double>>` for frames 0, stride,
  * 2·stride, … — the "sample frames, featurize each" shape a video
  * curation pipeline runs, without materializing pixel buffers into
  * the row. Mean is over all RGB samples of the frame (∈ [0, 255]).
  * NULL when the payload is out of scope or stride < 1. */
case class AviFrameStats(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, integral), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("mean", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_avi_frame_stats"
  override protected def nullSafeEval(payload: Any, strideAny: Any): Any = {
    val stride = strideAny match { case l: Long => l; case n: Int => n.toLong }
    if (stride < 1) return null
    val b = payload.asInstanceOf[Array[Byte]]
    val hd = AviDecode.header(b)
    if (hd == null) return null
    // Raw frames sum wire bytes directly (row padding excluded) — a
    // mean is row-order- and channel-order-free, so no frame buffer
    // is ever allocated; MJPEG frames decode (sampled frames only)
    // and sum the shared-layout buffer.
    val rowBytes = hd.width * 3
    val nSamples = hd.width.toLong * hd.height * 3
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0L
    while (i < hd.frameOffsets.length) {
      val fi = i.toInt
      var sum = 0L
      if (hd.codec == AviDecode.CodecRaw) {
        val off = hd.frameOffsets(fi)
        var y = 0
        while (y < hd.height) {
          val row = off + y * hd.wireStride
          var j = 0
          while (j < rowBytes) { sum += b(row + j) & 0xFF; j += 1 }
          y += 1
        }
      } else {
        val px = AviDecode.frame(b, hd, fi)
        if (px == null) return null // one bad chunk ⇒ out of scope
        var j = 0
        while (j < px.length) { sum += px(j) & 0xFF; j += 1 }
      }
      out += InternalRow(i, sum.toDouble / nSamples)
      i += stride
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AviFrameStats =
    copy(left = newLeft, right = newRight)
}

/** Segment fingerprints of an AVI's PCM AUDIO TRACK in one container
  * walk: `array<struct<seg_idx:int, dhash:long>>` — the container's
  * 'auds' stream ([[AviDecode.Header]] scope: first 16-bit PCM audio
  * stream, nnwb chunks concatenated in wire order) cut into fixed
  * `segFrames`-frame segments, each fingerprinted by the SAME
  * 65-window envelope kernel as [[AudioSegmentDHashes]] — so a clip
  * extracted from a video's soundtrack (PCM is exact: same samples,
  * any uniform gain) hashes IDENTICALLY to the corresponding
  * segments of the track, and a hash-set join finds which videos
  * CONTAIN a catalog clip
  * ([[graft.operators.Multimodal.audioVideoMatches]]; as a stream
  * gate, [[graft.operators.Multimodal.UnitHashes.videoSoundtrack]]).
  * Same segment
  * semantics as the WAV form: trailing partial ≥65 frames hashes
  * over its actual length, shorter is dropped; tolerance is modulo
  * segFrames. NULL when the payload is out of AVI scope, carries no
  * PCM audio track, or segFrames < 65. */
case class AviAudioSegmentDHashes(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, integral), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("seg_idx", IntegerType, nullable = false),
    StructField("dhash", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_avi_audio_segment_dhashes"

  override protected def nullSafeEval(payload: Any, segAny: Any): Any = {
    val segFrames = segAny match { case l: Long => l; case n: Int => n.toLong }
    if (segFrames < AudioEnvelope.Windows) return null
    val b = payload.asInstanceOf[Array[Byte]]
    val hd = AviDecode.header(b)
    if (hd == null) return null
    val samples = AviDecode.audioSamples(b, hd)
    if (samples == null) return null
    val ch = hd.audChannels
    val nFrames = samples.length / ch
    // same clamp as AudioSegmentDHashes: segFrames ≥ track length ⇒
    // one whole-track segment; keeps the Int cursor arithmetic exact
    val seg = math.min(segFrames, nFrames.toLong).toInt
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var s = 0
    var from = 0
    while (from + AudioEnvelope.Windows <= nFrames) {
      val to = math.min(from + seg, nFrames)
      out += InternalRow(s, AudioEnvelope.hashRange(samples, ch, from, to))
      s += 1
      from += seg
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AviAudioSegmentDHashes =
    copy(left = newLeft, right = newRight)
}
