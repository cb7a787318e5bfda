package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** The 65-window envelope-gradient kernel shared by [[AudioDHash64]]
  * (whole clip) and [[AudioSegmentDHashes]] (per fixed-length
  * segment): windows partition frames [from, to) by the floor rule,
  * energy is total |amplitude| over all channels, bit w compares
  * adjacent windows cross-multiplied by their lengths (exact — no
  * division). The overflow argument on [[AudioDHash64]] covers any
  * sub-range of a decodable clip a fortiori. */
private[graft] object AudioEnvelope {
  final val Windows = 65

  /** Envelope hash of frames [from, to); requires to - from ≥ 65. */
  def hashRange(samples: Array[Short], ch: Int, from: Int, to: Int): Long = {
    val n = to - from
    val e = new Array[Long](Windows)
    val len = new Array[Long](Windows)
    var w = 0
    while (w < Windows) {
      val wf = from + (w.toLong * n / Windows).toInt
      val wt = from + ((w + 1).toLong * n / Windows).toInt
      len(w) = wt - wf
      var acc = 0L
      var i = wf * ch
      val end = wt * ch
      while (i < end) {
        acc += math.abs(samples(i).toLong)
        i += 1
      }
      e(w) = acc
      w += 1
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (e(b + 1) * len(b) > e(b) * len(b + 1)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** Per-frame prefix sums of total |amplitude| across channels:
    * P(f) = Σ_{g<f} Σ_c |s(g,c)| — so any window's energy is one
    * subtraction and [[hashRangePrefix]] costs O(65) per window
    * regardless of window length. Makes DENSE sliding-window hashing
    * (the arbitrary-offset probe) linear in nFrames instead of
    * nFrames·segFrames. */
  def prefixAbs(samples: Array[Short], ch: Int, nFrames: Int): Array[Long] = {
    val p = new Array[Long](nFrames + 1)
    var f = 0
    while (f < nFrames) {
      var acc = 0L
      var i = f * ch
      val end = i + ch
      while (i < end) { acc += math.abs(samples(i).toLong); i += 1 }
      p(f + 1) = p(f) + acc
      f += 1
    }
    p
  }

  /** [[hashRange]] computed off a [[prefixAbs]] table — BIT-IDENTICAL
    * by construction (same floor windows, same exact integer
    * energies, same cross-multiplied comparisons; pinned by
    * AudioOffsetSpec). */
  def hashRangePrefix(p: Array[Long], from: Int, to: Int): Long = {
    val n = to - from
    var hash = 0L
    var prevE = 0L
    var prevLen = 0L
    var wf = from
    var w = 0
    while (w < Windows) {
      val wt = from + ((w + 1).toLong * n / Windows).toInt
      val e = p(wt) - p(wf)
      val len = (wt - wf).toLong
      if (w > 0 && e * prevLen > prevE * len) hash |= 1L << (w - 1)
      prevE = e
      prevLen = len
      wf = wt
      w += 1
    }
    hash
  }
}

/** 64-bit perceptual audio fingerprint over a PCM WAV payload — the
  * audio member of the dHash family ([[ImageDHash64]] stills,
  * frame-composed video), completing fingerprint-based near-dup
  * across every media column this library decodes.
  *
  * Pipeline, all integer arithmetic (bit-deterministic and
  * oracle-checkable cross-engine):
  *  1. decode PCM frames ([[WavDecode]] — the audited chunk walk,
  *     16-bit/1–8ch scope, 64 MiB bomb guard);
  *  2. partition the frame axis into 65 floor-rule windows
  *     (boundary_w = ⌊w·n/65⌋ — the [[ImageDHash64]] grid rule on
  *     the time axis) and take each window's total absolute
  *     amplitude E_w summed over ALL channels (a mono energy
  *     envelope, no division anywhere);
  *  3. bit w set ⇔ the ENVELOPE RISES across the window boundary:
  *     E_{w+1}·len_w > E_w·len_{w+1} — cross-multiplied by the
  *     window lengths so unequal floor windows compare exactly
  *     (lengths differ by ≤1; no ratio, no rounding).
  *
  * The envelope-gradient sign is invariant to uniform GAIN (both
  * sides of every comparison scale together) — the audio analog of
  * dHash's brightness invariance, and the edit a re-encoded /
  * re-normalized duplicate clip actually carries. Overflow safety:
  * E_w ≤ (n/65+1)·ch·32768 and len ≤ n/65+1 with n·ch ≤ 2²⁵ (the
  * 64 MiB decode cap), so E·len < 2⁵⁴ — Long arithmetic is exact.
  *
  * NULL when the payload is not decodable PCM WAV or has fewer than
  * 65 frames (too short for one sample per window — no meaningful
  * envelope to fingerprint). */
case class AudioDHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a binary WAV payload, got $t")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_audio_dhash"

  private final val Windows = 65

  override protected def nullSafeEval(payload: Any): Any = {
    val d = WavDecode.decode(payload.asInstanceOf[Array[Byte]])
    if (d == null || d.nFrames < Windows) return null
    AudioEnvelope.hashRange(d.samples, d.channels, 0, d.nFrames)
  }

  override protected def withNewChildInternal(newChild: Expression): AudioDHash64 =
    copy(child = newChild)
}

/** Per-SEGMENT audio fingerprints in one decode:
  * `array<struct<seg_idx:int, dhash:long>>` — the clip's frame axis
  * cut into consecutive FIXED-LENGTH segments of `segFrames` frames
  * (segment s = frames [s·segFrames, (s+1)·segFrames)), each
  * fingerprinted by the SAME 65-window envelope kernel as
  * [[AudioDHash64]]. Fixed absolute segment length — NOT the whole-
  * clip floor rule — is what makes the hashes TRIM-TOLERANT: a copy
  * missing its first k·segFrames frames produces the identical hash
  * sequence shifted by k, so a hash-SET overlap pairs them
  * ([[graft.operators.Multimodal.setOverlapPairs]] with
  * [[graft.operators.Multimodal.UnitHashes.audioSegments]]), while
  * the whole-clip hash re-stretches its 65 windows over the new
  * length and misses. Tolerance is modulo segFrames, the exact
  * analog of the video form's stride caveat. Gain invariance carries
  * per segment (each bit compares energies of the same clip).
  *
  * A trailing partial segment shorter than 65 frames is dropped
  * (can't fill one sample per window); a partial of ≥65 frames is
  * hashed over its actual length — its hash only matches a copy
  * truncated at the same point, the honest semantics for tails.
  * NULL when the payload is out of [[WavDecode]] scope or
  * segFrames < 65; empty array when no segment reaches 65 frames. */
case class AudioSegmentDHashes(left: Expression, right: Expression)
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
  override def prettyName: String = "graft_audio_segment_dhashes"

  override protected def nullSafeEval(payload: Any, segAny: Any): Any = {
    val segFrames = segAny match { case l: Long => l; case n: Int => n.toLong }
    if (segFrames < AudioEnvelope.Windows) return null
    val d = WavDecode.decode(payload.asInstanceOf[Array[Byte]])
    if (d == null) return null
    // Clamp to the clip length BEFORE narrowing to Int: any segFrames
    // ≥ nFrames means exactly one whole-clip segment, and nFrames ≤
    // 2²⁵ (the 64 MiB decode cap) keeps the cursor arithmetic below
    // exact — an unclamped `.toInt` would truncate huge Long args
    // (2³²+65 → 65) and overflow `from += seg` near Int.MaxValue.
    val seg = math.min(segFrames, d.nFrames.toLong).toInt
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var s = 0
    var from = 0
    while (from + AudioEnvelope.Windows <= d.nFrames) {
      val to = math.min(from + seg, d.nFrames)
      out += InternalRow(s, AudioEnvelope.hashRange(d.samples, d.channels, from, to))
      s += 1
      from += seg
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AudioSegmentDHashes =
    copy(left = newLeft, right = newRight)
}

/** TIME-based segment fingerprints — [[AudioSegmentDHashes]] with the
  * segment length given in MILLISECONDS instead of frames, the
  * sample-rate-tolerant form: `segFrames = ⌊sample_rate · ms / 1000⌋`
  * is derived PER CLIP from the decoded header, so segment k covers
  * the same span of TIME at every rate and two ideal resamples of
  * one recording fingerprint the same audio with the same segment
  * indexes — the cross-rate match [[AudioSegmentDHashes]]' fixed
  * frame count structurally cannot make (a 44.1→48 kHz re-encode
  * changes frames-per-second, so a fixed 128-frame segment covers
  * different audio and NO unit hash survives).
  *
  * Exactness contract (documented, not perceptual hand-waving):
  * when the derived segFrames is a MULTIPLE of 65 the floor-rule
  * windows all have equal length segFrames/65, so every envelope
  * bit reduces to E_{w+1} > E_w over same-duration time windows —
  * and an ideal integer-factor resample (each source sample
  * repeated m times, rate ×m) scales every window's energy AND
  * length uniformly by m, leaving each cross-multiplied comparison
  * bit-identical. AudioResampleSpec pins 4/8/16 kHz twins of one
  * source to byte-equal hash arrays. Rates where sr·ms/1000 is not
  * 65-divisible keep the same time-window semantics with ±1-frame
  * floor wobble at window boundaries — near-tie bits may differ and
  * matching falls back to the set-overlap fraction, never to a
  * claimed exactness.
  *
  * Same output schema, trailing-partial rule, and NULL semantics as
  * [[AudioSegmentDHashes]]; additionally NULL when the derived
  * segFrames is under 65 (rate too low for one frame per window at
  * the asked granularity — an 8 kHz clip needs ms ≥ 9). */
case class AudioSegmentDHashesMs(left: Expression, right: Expression)
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
  override def prettyName: String = "graft_audio_segment_dhashes_ms"

  override protected def nullSafeEval(payload: Any, msAny: Any): Any = {
    val ms = msAny match { case l: Long => l; case n: Int => n.toLong }
    if (ms < 1) return null
    val d = WavDecode.decode(payload.asInstanceOf[Array[Byte]])
    if (d == null) return null
    // sampleRate ≤ u32; do the product in Long BEFORE the divide so
    // 192 kHz · 10 min never wraps. ms itself is clamped first: the
    // Scala operator wrappers bound it, but the registered SQL
    // function accepts an arbitrary Long column and rate·ms could
    // wrap Long to a small positive segFrames — a silently wrong
    // segmentation instead of the intended whole-clip clamp
    // (ADVICE r20). The clamp bounds ms so rate·ms cannot exceed
    // Long.MaxValue; a clamped ms still yields segFrames ≥ nFrames
    // (every such ms exceeds any representable clip length), so the
    // clamp only ever lands on the whole-clip path below.
    val rate = d.sampleRate.toLong
    val msC = math.min(ms, Long.MaxValue / math.max(rate, 1L))
    val segFrames = rate * msC / 1000L
    if (segFrames < AudioEnvelope.Windows) return null
    // same clamp discipline as AudioSegmentDHashes (see its comment)
    val seg = math.min(segFrames, d.nFrames.toLong).toInt
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var s = 0
    var from = 0
    while (from + AudioEnvelope.Windows <= d.nFrames) {
      val to = math.min(from + seg, d.nFrames)
      out += InternalRow(s, AudioEnvelope.hashRange(d.samples, d.channels, from, to))
      s += 1
      from += seg
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AudioSegmentDHashesMs =
    copy(left = newLeft, right = newRight)
}

/** SLIDING-window audio fingerprints in one decode:
  * `array<struct<offset:int, dhash:long>>` — one [[AudioDHash64]]-
  * style envelope hash per `segFrames`-frame window STARTING AT
  * EVERY `hop`-th frame (offsets 0, hop, 2·hop, … while
  * offset + segFrames ≤ nFrames), the PROBE side of
  * arbitrary-offset trim tolerance
  * ([[graft.operators.Multimodal.audioNearDupPairsOffset]]): the
  * fixed-phase segmentation of [[AudioSegmentDHashes]] tolerates
  * trims only at segFrames multiples (a 37-frame trim shifts every
  * window and NO unit hash survives), whereas a dense probe emits a
  * window at every phase — for any catalog segment there is a probe
  * offset aligning with it EXACTLY (hop = 1), so the hash survives
  * verbatim. hop > 1 trades probe volume for granularity: only
  * trims ≡ 0 (mod hop) keep exact alignment (documented, not
  * perceptual hand-waving — the envelope is too fine for partial
  * alignment credit).
  *
  * Cost: one decode + one [[AudioEnvelope.prefixAbs]] pass, then
  * O(65) per window off the prefix table — (nFrames − segFrames)/hop
  * + 1 hashes per clip, linear in nFrames at hop = 1, NOT
  * nFrames·segFrames. Window hashes at offsets k·segFrames are
  * bit-identical to [[AudioSegmentDHashes]]' full segments (the
  * aligned-case equivalence, spec-pinned). A clip shorter than
  * segFrames but ≥ 65 frames emits one whole-clip window at offset 0
  * (the segment form's clamp rule). Gain invariance carries per
  * window. NULL when the payload is out of [[WavDecode]] scope,
  * segFrames < 65, or hop < 1; empty when no window fits. */
case class AudioSlidingDHashes(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, IntegerType | LongType, IntegerType | LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, integral, integral), got ($a, $b, $c)")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("offset", IntegerType, nullable = false),
    StructField("dhash", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_audio_sliding_dhashes"

  override protected def nullSafeEval(payload: Any, segAny: Any, hopAny: Any): Any = {
    val segFrames = segAny match { case l: Long => l; case n: Int => n.toLong }
    val hop = hopAny match { case l: Long => l; case n: Int => n.toLong }
    if (segFrames < AudioEnvelope.Windows || hop < 1) return null
    val d = WavDecode.decode(payload.asInstanceOf[Array[Byte]])
    if (d == null) return null
    // same Long-clamp discipline as AudioSegmentDHashes: a clip
    // shorter than segFrames (but ≥ 65 frames) hashes once, whole
    val seg = math.min(segFrames, d.nFrames.toLong).toInt
    val h = math.min(hop, math.max(d.nFrames.toLong, 1L)).toInt
    if (d.nFrames < AudioEnvelope.Windows) return new GenericArrayData(Array.empty[Any])
    val p = AudioEnvelope.prefixAbs(d.samples, d.channels, d.nFrames)
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var from = 0
    while (from + seg <= d.nFrames) {
      out += InternalRow(from, AudioEnvelope.hashRangePrefix(p, from, from + seg))
      from += h
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AudioSlidingDHashes =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Per-SEGMENT level statistics in one decode:
  * `array<struct<seg_idx:int, mean_abs:double, peak:int>>` — the
  * clip's frame axis cut into consecutive `segFrames`-frame segments
  * (same fixed-length rule as [[AudioSegmentDHashes]], so segment
  * indexes line up when a pipeline joins level gates with segment
  * fingerprints), each reporting mean |amplitude| over ALL channels
  * (exact integer sum ÷ exact count — one bit-deterministic double
  * division) and peak |amplitude|. Unlike the fingerprint form, NO
  * 65-frame floor: stats are meaningful for any segment length, so
  * every frame belongs to a segment and a trailing partial is
  * reported over its actual length — the silence-trim / clipping /
  * level signal an audio curation pass gates on, per segment instead
  * of [[WavSampleStats]]'s whole-clip granularity. segFrames ≥ 1;
  * NULL when the payload is out of [[WavDecode]] scope. */
case class AudioSegmentStats(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType | LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (binary, integral), got ($l, $r)")
    }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("seg_idx", IntegerType, nullable = false),
    StructField("mean_abs", DoubleType, nullable = false),
    StructField("peak", IntegerType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_audio_segment_stats"

  override protected def nullSafeEval(payload: Any, segAny: Any): Any = {
    val segFrames = segAny match { case l: Long => l; case n: Int => n.toLong }
    if (segFrames < 1) return null
    val d = WavDecode.decode(payload.asInstanceOf[Array[Byte]])
    if (d == null) return null
    val ch = d.channels
    // same Long-clamp discipline as AudioSegmentDHashes
    val seg = math.min(segFrames, math.max(d.nFrames.toLong, 1L)).toInt
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var s = 0
    var from = 0
    while (from < d.nFrames) {
      val to = math.min(from + seg, d.nFrames)
      var sum = 0L
      var peak = 0
      var i = from * ch
      val end = to * ch
      while (i < end) {
        val a = math.abs(d.samples(i).toInt)
        sum += a
        if (a > peak) peak = a
        i += 1
      }
      out += InternalRow(s, sum.toDouble / ((to - from).toLong * ch), peak)
      s += 1
      from += seg
    }
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AudioSegmentStats =
    copy(left = newLeft, right = newRight)
}
