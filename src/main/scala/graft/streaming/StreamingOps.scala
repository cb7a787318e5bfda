package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Multimodal.UnitHashes

/** Streaming operator layer over event streams (SURVEY §2.9 streaming
  * rows): watermarked exact dedup, windowed aggregation, and
  * stream–static enrichment. All built-ins — state store, watermark
  * eviction and incremental planning come from Structured Streaming.
  */
object StreamingOps {

  /** Exact streaming dedup: drop events whose `idCols` repeat within
    * the watermark horizon. State is bounded by the watermark (old
    * keys are evicted), so this runs indefinitely at constant memory
    * per key-horizon — the scale-safe streaming form of
    * `dropDuplicates`. */
  def dedupWithinWatermark(
      events: DataFrame,
      eventTimeCol: String,
      watermark: String,
      idCols: Seq[String]): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Tumbling-window counts/sums per event type — the streaming
    * aggregation slice: partial aggregation per micro-batch, state
    * store holds open windows, watermark closes and emits them. */
  def windowedEventStats(
      events: DataFrame,
      eventTimeCol: String,
      watermark: String,
      windowLen: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Session windows: group a key's events into activity sessions
    * separated by at least `gap` of silence (`session_window` — state
    * store merges overlapping windows as events arrive, watermark
    * closes sessions `gap` past the last event). The sessionization
    * primitive behind user-journey and burst analysis; state per key
    * is one open session, watermark-bounded like every op here. */
  def sessionStats(
      events: DataFrame,
      eventTimeCol: String,
      watermark: String,
      gap: String,
      keyCol: String): DataFrame =
    events
      .withWatermark(eventTimeCol, watermark)
      .groupBy(session_window(col(eventTimeCol), gap), col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(
        col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Output row of [[runningCounts]]: per-key totals after each
    * micro-batch. */
  final case class KeyCount(key: String, total: Long, in_batch: Long)

  /** Per-key sample emitted by [[uniformSampleStream]]: the current
    * k smallest-hash member ids, in hash order. */
  final case class KeySample(key: String, ids: Seq[String])

  /** Incremental EXACT-k uniform sample per key over an unbounded
    * stream — the streaming counterpart of
    * [[graft.operators.Sampling.uniformPerKey]]. Hash-min-k: keep the
    * k ids with the smallest md5(salt:id). The statistic is MONOTONE
    * (an id can only enter by displacing a larger hash, never grows
    * state), so per-key state is exactly ≤ k (hash, id) pairs forever
    * — bounded regardless of stream length, no watermark needed —
    * and after ANY prefix of the stream the sample equals the batch
    * `uniformPerKey` over everything seen so far with the same salt
    * (the spec runs both and diffs them). Repeated ids are absorbed
    * (same hash — idempotent under at-least-once delivery). Emits the
    * key's current sample each batch it receives rows (Update mode). */
  def uniformSampleStream(
      events: DataFrame, keyCol: String, idCol: String,
      k: Int, salt: String): Dataset[KeySample] = {
    require(k > 0, s"k must be positive, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(
        col(keyCol).cast("string").as("key"),
        md5(concat_ws(":", lit(salt), col(idCol).cast("string"))).as("h"),
        col(idCol).cast("string").as("id"))
      .as[(String, String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(String, String)], KeySample](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[(String, String, String)],
         state: GroupState[Seq[(String, String)]]) =>
          var best = state.getOption.getOrElse(Seq.empty)
          batch.foreach { case (_, h, id) =>
            // fast no-op path: once the sample is full, only a hash
            // strictly under the k-th (h, id) can displace — skip the
            // dedup scan and re-sort entirely for the common miss
            // (ADVICE r11; ordering matches batch uniformPerKey's
            // (md5, string-cast id) rank exactly)
            val admit = best.size < k || {
              val (lh, lid) = best.last
              h < lh || (h == lh && id < lid)
            }
            if (admit && !best.exists(_._2 == id))
              best = ((h, id) +: best).sortBy(identity).take(k)
          }
          state.update(best)
          Iterator(KeySample(key, best.map(_._2)))
      }
  }

  /** Arbitrary-state streaming aggregation via
    * `flatMapGroupsWithState` — the custom-state escape hatch for
    * semantics the built-in aggregations can't express (here the
    * simplest instance: a per-key running event counter that also
    * reports each batch's contribution, which windowless `groupBy`
    * cannot emit incrementally in update mode).
    *
    * State is ONE long per key, partitioned by key in the state
    * store, checkpointed and restored like every stateful op — no
    * driver state, horizontal scale by key hash. Production variants
    * swap the state type for a case class and add
    * `GroupStateTimeout` eviction; the shape (groupByKey →
    * flatMapGroupsWithState → update-mode sink) is identical. */
  def runningCounts(events: DataFrame, keyCol: String): Dataset[KeyCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr(s"CAST($keyCol AS STRING) AS key").as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, KeyCount](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, batch: Iterator[String], state: GroupState[Long]) =>
          val n = batch.size.toLong
          val total = state.getOption.getOrElse(0L) + n
          state.update(total)
          Iterator(KeyCount(key, total, n))
      }
  }

  /** [[runningCounts]] on the Spark 4 `transformWithState` API — the
    * successor to `flatMapGroupsWithState`: state lives in NAMED,
    * individually-encoded variables on a processor handle (here one
    * `ValueState[Long]`) instead of a single opaque blob, which is
    * what enables independent TTL per state variable, state
    * re-reading within a batch, timers, and schema evolution of one
    * variable without rewriting the rest. Requires the RocksDB state
    * store provider (named variables map to column families).
    * Output contract is IDENTICAL to [[runningCounts]] — the spec
    * runs both APIs over the same feed and diffs them. */
  def runningCountsTws(events: DataFrame, keyCol: String): Dataset[KeyCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.selectExpr(s"CAST($keyCol AS STRING) AS key").as[String]
      .groupByKey(identity)
      .transformWithState(new RunningCountProcessor, TimeMode.None(), OutputMode.Update)
  }

  /** The [[runningCountsTws]] processor: one named Long per key. */
  private final class RunningCountProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, String, KeyCount] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var count: streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      count = getHandle.getValueState[Long](
        "count", Encoders.scalaLong, streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[String],
        timerValues: streaming.TimerValues): Iterator[KeyCount] = {
      val n = rows.size.toLong
      val total = (if (count.exists()) count.get() else 0L) + n
      count.update(total)
      Iterator(KeyCount(key, total, n))
    }
  }

  /** Stream–stream inner join within an event-time interval — the
    * attribution shape (impressions ⋈ clicks within N minutes):
    * rows match when `keyEq` holds AND the right event lands in
    * `[leftTime, leftTime + within]`.
    *
    * Both sides carry watermarks and the join condition bounds event
    * time in BOTH directions, so Structured Streaming derives a state
    * eviction horizon for each side: buffered rows are dropped once
    * no future match can reach them. Without the time bound the join
    * state grows forever — that variant is deliberately not offered.
    * State is key-partitioned in the state store; scale-out is by
    * key hash, same as every stateful op here.
    *
    * Column names must be distinct across the two sides (rename
    * before calling) — the time predicate references them unqualified. */
  def streamStreamIntervalJoin(
      left: DataFrame,
      leftTimeCol: String,
      leftWatermark: String,
      right: DataFrame,
      rightTimeCol: String,
      rightWatermark: String,
      keyEq: Column,
      within: String): DataFrame = {
    val l = left.withWatermark(leftTimeCol, leftWatermark)
    val r = right.withWatermark(rightTimeCol, rightWatermark)
    l.join(r,
      keyEq &&
        col(rightTimeCol) >= col(leftTimeCol) &&
        col(rightTimeCol) <= col(leftTimeCol) + expr(s"INTERVAL $within"))
  }

  /** Stream–static enrichment: attach dimension attributes to a
    * stream. The static side is re-read per micro-batch (picks up
    * slowly changing dims); broadcast when dimension-sized. */
  def enrich(
      stream: DataFrame,
      dim: DataFrame,
      joinCols: Seq[String],
      broadcastDim: Boolean = true): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    stream.join(d, joinCols, "left")
  }

  /** INCREMENTAL near-dup dedup: drop streaming documents whose
    * simhash lands within Hamming ≤3 of the already-ingested corpus,
    * represented by its [[graft.operators.Dedup.simhashBlockTable]]
    * (band, bv) membership table.
    *
    * Mechanics: the stream side computes its four 16-bit blocks
    * map-side ([[graft.operators.Dedup.withSimhashBlocks]] — pure
    * expressions, legal on a stream), then each band probes the
    * reference with its own stream–static broadcast EQUI left join
    * (refBlocks is distinct on (band, bv), so a single band's `bv`
    * values are unique — no row multiplication) and docs where all
    * four probes missed survive. Four O(1) hash probes per doc: an
    * OR-of-equalities anti-join would instead plan as a
    * BroadcastNestedLoopJoin that walks the whole reference table
    * per doc. The reference table is bounded at ≤262,144 rows
    * (≤65,536 per band) regardless of corpus size (see the
    * block-table scaladoc), so it is ALWAYS broadcast: per
    * micro-batch this is stateless — no watermark, no state store,
    * and reference scale never enters the plan. Pigeonhole gives
    * 100% recall on true Hamming-≤3 dups; coincidental block
    * collisions over-drop (high-recall prefilter semantics) — route
    * kept-vs-dropped through an exact verify downstream when
    * precision matters. */
  def dropSimhashNearDups(
      stream: DataFrame, idCol: String, textCol: String,
      refBlocks: DataFrame): DataFrame =
    dropBlockHits(graft.operators.Dedup.withSimhashBlocks(stream, textCol), refBlocks)

  /** The four-band broadcast probe of the single-hash gates: one
    * stream–static broadcast EQUI left join per band of `withBlocks`'
    * __b0..__b3 against `refBlocks` (band, bv), keeping the rows all
    * four probes missed, with the block columns dropped again. */
  private def dropBlockHits(withBlocks: DataFrame, refBlocks: DataFrame): DataFrame = {
    val probed = (0 until 4).foldLeft(withBlocks) { (df, b) =>
      val ref = broadcast(
        refBlocks.filter(col("band") === b).select(col("bv").as(s"__m$b")))
      df.join(ref, col(s"__b$b") === col(s"__m$b"), "left")
    }
    probed
      .filter((0 until 4).map(b => col(s"__m$b").isNull).reduce(_ && _))
      .drop((0 until 4).flatMap(b => Seq(s"__b$b", s"__m$b")): _*)
  }

  /** STREAMING image near-dup gate — the multimodal twin of
    * [[dropSimhashNearDups]]: drop an arriving image iff any of its
    * four dHash blocks appears in the reference catalog's block
    * table ([[graft.operators.Multimodal.imageBlockTable]], ≤262,144
    * rows by construction → always broadcast). Stateless per
    * micro-batch — no watermark, no state store, and catalog scale
    * never enters the plan. Pigeonhole gives 100% recall on true
    * Hamming-≤3 image dups (re-encodes, brightness nudges, exact NN
    * rescales); coincidental block collisions over-drop (high-recall
    * prefilter semantics) — verify downstream when precision
    * matters. Undecodable payloads have NULL blocks, match nothing,
    * and are KEPT: absence of evidence is not duplication.
    *
    * `idCol` is unused by the gate (membership is decided per
    * payload, not per id) — kept for signature symmetry with the
    * batch near-dup family ([[graft.operators.Multimodal.imageNearDupPairs]])
    * so gate and pairs calls stay drop-in swappable. */
  def dropImageNearDups(
      stream: DataFrame, idCol: String, payloadCol: String,
      refBlocks: DataFrame): DataFrame =
    dropBlockHits(graft.operators.Multimodal.withHashBlocks(
      stream, graft.operators.Multimodal.imageDHash(col(payloadCol))), refBlocks)

  /** STREAMING audio near-dup gate — [[dropImageNearDups]] for the
    * audio column: drop an arriving clip iff any of its four
    * envelope-hash blocks appears in the reference catalog's block
    * table ([[graft.operators.Multimodal.audioBlockTable]], always
    * broadcast). Stateless; pigeonhole-complete for Hamming-≤3
    * envelope edits (gain rescales land at Hamming 0 and always
    * drop); undecodable or sub-65-frame payloads match nothing and
    * are kept. `idCol` is unused — signature symmetry, see
    * [[dropImageNearDups]]. */
  def dropAudioNearDups(
      stream: DataFrame, idCol: String, payloadCol: String,
      refBlocks: DataFrame): DataFrame =
    dropBlockHits(graft.operators.Multimodal.withHashBlocks(
      stream, graft.operators.Multimodal.audioDHash(col(payloadCol))), refBlocks)

  /** STREAMING set-overlap gate — the trim-tolerant twin of the
    * single-hash gates: drop an arriving payload iff at least
    * `minFrac` of its unit hashes (`fp`, e.g.
    * [[graft.operators.Multimodal.UnitHashes.audioSegments]]) hit the
    * reference catalog's block bitmaps
    * ([[graft.operators.Multimodal.blockBitmaps]] — a 32 KB artifact
    * bounded by the block space, probed at O(1) per band inside ONE
    * pure expression). Catches re-uploads the whole-payload gates
    * miss, along whichever axis the extractor tolerates: leading
    * trims by whole segments or sampled frames, sample-rate
    * conversion (ms segments on both sides), and cross-modal
    * containment (a video's frames against an image catalog's
    * bitmaps, its soundtrack against an audio catalog's). PURE
    * per-row: no join stage at all (the single-hash gates pay four
    * broadcast joins), no watermark, no state. Per unit the block
    * probe is pigeonhole-complete for Hamming ≤3; block coincidences
    * over-count matched units (high-recall semantics — `minFrac` is
    * the precision lever the single-hash gates don't have).
    * Undecodable payloads have no units and are KEPT. */
  def dropSetOverlapNearDups(
      stream: DataFrame, payloadCol: String,
      fp: UnitHashes, refBitmaps: Array[Array[Long]],
      minFrac: Double = 0.5): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    val frac = graft.functions.GraftFunctions.blockBitmapMatchFrac(
      fp(col(payloadCol)), refBitmaps)
    stream.filter(frac.isNull || frac < minFrac)
  }

  /** STREAMING media curation VERDICTS — the per-row twin of
    * [[graft.operators.Multimodal.mediaCurationReport]] against
    * FROZEN per-kind catalogs: one pass adds (kind, verdict, reason)
    * to an arriving mixed-media stream, dispatching by magic sniff —
    * images probe the image catalog's bitmaps (single dHash), videos
    * their sampled-frame hashes, audio its segment hashes, each
    * against a 32 KB [[graft.functions.BlockBitmapMatchFrac]]
    * artifact ([[graft.operators.Multimodal.blockBitmaps]] of each
    * kind's catalog). A row drops when its matched
    * fraction clears `minFrac` (reason '<family>_near_dup');
    * 'undecodable' is DECODE-DERIVED — unrecognized payloads AND
    * payloads that sniff as a known format yet fail its decoder
    * (NULL fingerprint; the batch report's rule) — while a decodable
    * payload too short to fingerprint keeps as 'unique' (the kernel
    * returns −1.0 for an empty hash set, so one column reference
    * drives both drop and reason). PURE per-row — no join, no
    * watermark, no state; the
    * per-kind branch evaluates only the matched kind's decode
    * (CaseWhen laziness), so an image arrival never walks the AVI
    * decoder. Emitting VERDICTS rather than filtering lets a
    * streaming sink route drops to a quarantine table — the decision
    * LOG semantics the batch report established. */
  def mediaCurationVerdicts(
      stream: DataFrame, payloadCol: String,
      imageBitmaps: Array[Array[Long]],
      videoBitmaps: Array[Array[Long]],
      audioBitmaps: Array[Array[Long]],
      videoStride: Int, audioSegFrames: Int,
      minFrac: Double = 0.5): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac outside (0,1]")
    val p = col(payloadCol)
    val kind = graft.operators.Multimodal.mediaKind(p)
    def frac(hashes: Column, maps: Array[Array[Long]]): Column =
      graft.functions.GraftFunctions.blockBitmapMatchFrac(hashes, maps)
    val matchedFrac =
      when(kind.isin("png", "bmp", "gif", "jpeg"),
        frac(array(graft.operators.Multimodal.imageDHash(p)), imageBitmaps))
        .when(kind === "avi",
          frac(UnitHashes.videoFrames(videoStride)(p), videoBitmaps))
        .when(kind === "wav",
          frac(UnitHashes.audioSegments(audioSegFrames)(p), audioBitmaps))
    val isDup = matchedFrac.isNotNull && matchedFrac >= minFrac
    stream
      .withColumn("kind", kind)
      .withColumn("verdict", when(isDup, "drop").otherwise("keep"))
      .withColumn("reason",
        when(isDup && kind === "avi", "video_near_dup")
          .when(isDup && kind === "wav", "audio_near_dup")
          .when(isDup, "image_near_dup")
          .when(kind === "other" || matchedFrac.isNull, "undecodable")
          .otherwise("unique"))
  }

  /** Misra–Gries summary state of one shard: tracked item → counter,
    * plus the total decrement count that bounds every estimate. */
  final case class MgState(counts: Map[String, Long], decrements: Long)

  /** One tracked heavy-hitter candidate after a micro-batch:
    * the true frequency f(item) within the shard satisfies
    * `min_count <= f <= max_count`. */
  final case class HeavyHitter(
      shard: Int, item: String, min_count: Long, max_count: Long)

  /** Streaming heavy hitters with BOUNDED state — the Misra–Gries
    * frequent-items summary (Misra & Gries, "Finding Repeated
    * Elements", 1982) as an arbitrary-state streaming op. The naive
    * alternative (stateful count per distinct item) grows state with
    * stream CARDINALITY — unbounded on an open-vocabulary column; a
    * Misra–Gries summary holds at most `k` counters per shard
    * FOREVER, and still guarantees every item with shard frequency
    * > N/(k+1) is tracked, with per-item bounds
    * `count <= f <= count + decrements`.
    *
    * Sharding: items hash into `shards` groups (`groupByKey` on the
    * shard id), each holding an independent summary in the state
    * store — state is `shards × k` counters TOTAL regardless of
    * stream length or cardinality, checkpointed/restored like every
    * stateful op, scaled out by shard hash. A skew-heavy item lands
    * wholly in its one shard, where it dominates that summary — the
    * guarantee degrades gracefully per shard, never globally.
    *
    * Per batch each shard folds its items through the classic update
    * (increment tracked / adopt free slot / decrement all when full)
    * and emits its surviving candidates with current bounds
    * (update-mode semantics: downstream keeps the latest row per
    * (shard, item)). Exact counts for the survivors, when needed,
    * are one targeted second pass filtered to the candidate set —
    * the standard two-pass pattern this summary exists to enable. */
  def heavyHitters(
      events: DataFrame, itemCol: String,
      shards: Int, k: Int): Dataset[HeavyHitter] = {
    require(shards > 0 && k > 0, s"need shards>0, k>0; got $shards, $k")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(
        pmod(hash(col(itemCol)), lit(shards)).as("shard"),
        col(itemCol).cast("string").as("item"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[MgState, HeavyHitter](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[(Int, String)], state: GroupState[MgState]) =>
          val st = batch.foldLeft(state.getOption.getOrElse(MgState(Map.empty, 0L))) {
            (s, row) => mgFold(s, row._2, k)
          }
          state.update(st)
          st.counts.iterator.map { case (item, n) =>
            HeavyHitter(shard, item, n, n + st.decrements)
          }
      }
  }

  /** One Misra–Gries update step (pure — the unit the streaming op
    * folds and the property tests exercise directly): increment a
    * tracked item, adopt a free slot, or — with all `k` slots taken —
    * decrement every counter by one (dropping zeros) and charge the
    * unseen item to the same global decrement. */
  private[streaming] def mgFold(st: MgState, item: String, k: Int): MgState = {
    val c = st.counts
    if (c.contains(item)) st.copy(counts = c.updated(item, c(item) + 1L))
    else if (c.size < k) st.copy(counts = c.updated(item, 1L))
    else MgState(
      c.map { case (i, n) => (i, n - 1L) }.filter(_._2 > 0L),
      st.decrements + 1L)
  }

  /** One minhash-LSH candidate pair discovered in the stream:
    * normalized orientation (id_a < id_b as strings). */
  final case class CandidatePair(id_a: String, id_b: String)

  /** Streaming minhash-LSH near-dup CANDIDATE detection WITHIN the
    * stream — the stream-internal complement of
    * [[dropSimhashNearDups]] (which only checks against a static
    * reference set): as documents arrive, each is banded with the
    * IDENTICAL minhash/banding pipeline as the batch operator
    * ([[graft.operators.Dedup.bandMembership]], map-side), and a
    * per-(band, bucket) member list in the state store emits a
    * candidate pair against every earlier member of the bucket.
    *
    * Stream≡batch: on any stream prefix, the emitted pair SET equals
    * `Dedup.minhashCandidatePairs` over the prefix as a batch
    * (spec-diffed), provided no bucket overflows — the batch cap
    * drops whole overflowing buckets retroactively, which a stream
    * cannot do, so the stream cap instead stops ADMITTING members at
    * `maxBucket` (arrival-order dependent, the honest streaming
    * semantics; a flood bucket emits at most maxBucket·(maxBucket−1)/2
    * pairs ever).
    *
    * State is ≤ `maxBucket` id strings per occupied bucket, keyed by
    * the bucket hash in the state store (checkpointed, scaled out by
    * key hash). Like streaming `dropDuplicates` without a watermark,
    * occupied-bucket count grows with the corpus (measured at 100×
    * StreamScaleStress: 140k→1.07M state rows over 10 batches) — so
    * this form is ONLY for bounded candidate horizons (one corpus
    * epoch per query restart). For an UNBOUNDED stream use
    * [[nearDupCandidatesIndexed]], which keeps the state store EMPTY
    * and persists membership in a parquet signature index instead.
    * Exact verification happens downstream (stream–static join
    * against the document store) exactly as batch candidates verify. */
  def nearDupCandidatesStream(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int,
      maxBucket: Int = 1024): Dataset[CandidatePair] = {
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // same micro-batch frontier as [[nearDupCandidatesIndexed]]:
    // spread off the few-file trigger scan BEFORE the projections
    // (fused, they run at scan parallelism) and materialize
    // tokens/shingles as attributes so the k minhash transforms read
    // them instead of re-deriving split() each — A/B'd r16 on the
    // indexed twin (StreamScaleStress 50×: ~83 s/batch → ~2 s/batch;
    // this operator re-measured 10×/50×/100× after the same fix)
    val spread = docs.select(col(idCol), col(textCol))
      .repartition(graft.operators.Dedup.pinnedParts(docs))
      .select(col(idCol), graft.operators.Dedup.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        graft.functions.GraftFunctions.shingles(col("__tk"), n).as("__sh"))
    val sig = graft.operators.Dedup.minhashSignatureOver(
      spread, idCol, col("__sh"), k)
    graft.operators.Dedup.bandMembership(sig, idCol, k, rowsPerBand)
      .select(
        concat_ws("|", col("band"), col("band_hash")).as("bucket"),
        col(idCol).cast("string").as("id"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[String], CandidatePair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[(String, String)],
         state: GroupState[Seq[String]]) =>
          var members = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
          batch.foreach { case (_, id) =>
            if (!members.contains(id) && members.size < maxBucket) {
              members.foreach { m =>
                out += (if (m < id) CandidatePair(m, id) else CandidatePair(id, m))
              }
              members = members :+ id
            }
          }
          state.update(members)
          out.iterator
      }
  }

  /** UNBOUNDED-HORIZON streaming near-dup candidates — the
    * [[nearDupCandidatesStream]] semantics with bucket membership
    * moved OUT of the state store into a PERSISTED parquet signature
    * index under `indexDir`. Full-history candidate detection is
    * inherently corpus-sized state; the scale question is only WHERE
    * that state lives. The state-store form keeps it in executor
    * memory, checkpointed wholesale every batch — it grows without
    * eviction (measured: 1.07M rows after just 10 batches at 100×)
    * and eventually dominates the job. This form keeps the state
    * store at ZERO rows forever: membership is (bucket, id, pos)
    * parquet — columnar, compactable, object-store-resident, the
    * same home [[graft.operators.Dedup.minhashIndex]] gives the
    * batch incremental pipeline.
    *
    * Call from `writeStream.foreachBatch`; each call bands the
    * micro-batch with the IDENTICAL minhash/banding pipeline as the
    * batch operator, probes the index for cross-history candidates,
    * pairs within the batch, and appends the admitted memberships to
    * `indexDir/b<batchId>`:
    *
    * {{{
    * docs.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
    *   val pairs = StreamingOps.nearDupCandidatesIndexed(
    *     batch, id, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3,
    *     indexDir = idx)
    *   pairs.write.mode("append").parquet(out)
    * }
    * }}}
    *
    * Semantics match the state-store form: a bucket stops ADMITTING
    * members at `maxBucket` (admission order is arrival order across
    * batches, id order within one — deterministic where the stateful
    * form is partition-order dependent); an already-indexed (bucket,
    * id) is absorbed (idempotent under redelivery); only admitted
    * members emit pairs, one against every earlier member of the
    * bucket. On any prefix with no overflowing bucket the cumulative
    * pair set equals batch `minhashCandidatePairs` over the prefix
    * (spec-diffed, same anchor as the stateful form).
    *
    * Exactly-once: the index write is per-batch-scoped
    * (`b<batchId>`, mode overwrite) and the history read EXCLUDES
    * the current batch's directory, so a foreachBatch retry
    * recomputes from the same history and overwrites the same dir —
    * idempotent; pair output is as transactional as the caller's
    * sink (parquet append = at-least-once, standard foreachBatch
    * contract).
    *
    * LIFECYCLE CONTRACT: `indexDir` is an extension of the query's
    * CHECKPOINT, and the two must live and die together. The
    * overwrite-idempotency above distinguishes a retry from a fresh
    * batch purely by batchId — and batchIds come from the
    * checkpoint. Restarting with a FRESH checkpoint but the SAME
    * indexDir restarts batchIds at 0, so each "new" batch would
    * silently overwrite b0, b1, … and corrupt the accumulated
    * history. The function REFUSES that state: batchIds are
    * monotone within one checkpoint's lifetime, so `batchId` below
    * the largest member id already in `indexDir` can only mean a
    * checkpoint/index lifecycle split, and throws
    * IllegalStateException before touching the index (a retry of
    * the newest batch — batchId == max id — stays legal and
    * idempotent). Treat them as one unit: same lifetime, same
    * deletion, ideally sibling paths (`$root/checkpoint`,
    * `$root/ndindex`).
    *
    * Scale shape: banding is map-side; admission is one
    * bucket-keyed window rank over the BATCH (not history); the
    * probe is a bucket equi-join with the batch side as the
    * shuffle-hash build, so history is streamed, never sorted. Per
    * batch the index IS scanned (ids are 128-bit-hash-sized rows,
    * ~100 bytes/member — three orders under the text) — at real
    * scale, partition `indexDir` by bucket hash so the probe prunes,
    * and fold the per-batch dirs into one compacted dir periodically
    * with [[compactNearDupIndex]] (one maintenance call every N
    * triggers keeps the dir/file count CONSTANT in stream horizon —
    * without it the per-batch listing grows forever).
    *
    * The returned pair frame is LAZY but stable: the admitted
    * members are written before it is built, and both its inputs are
    * file-backed with explicitly pinned paths (history = the prior
    * dirs, batch = the dir just written), so re-evaluation can never
    * see a different index than the one this batch ran against — no
    * checkpoint, no block-manager residue on an unbounded stream. */
  def nearDupCandidatesIndexed(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      n: Int, k: Int, rowsPerBand: Int,
      indexDir: String, maxBucket: Int = 1024): DataFrame = {
    require(maxBucket > 1, s"maxBucket=$maxBucket must exceed 1")
    val spark = batch.sparkSession
    import spark.implicits._
    // spread the batch off its one-file-per-trigger scan BEFORE the
    // shingle/minhash projections (a projection below the first
    // exchange fuses INTO the scan stage — the gram-frontier lesson,
    // measured same-session r16: the unspread form idled 31 cores),
    // and materialize tokens/shingles as attributes so the 12 minhash
    // transforms read them instead of re-deriving split() each
    val spread = batch.select(col(idCol), col(textCol))
      .repartition(graft.operators.Dedup.pinnedParts(batch))
      .select(col(idCol), graft.operators.Dedup.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        graft.functions.GraftFunctions.shingles(col("__tk"), n).as("__sh"))
    val sig = graft.operators.Dedup.minhashSignatureOver(
      spread, idCol, col("__sh"), k)
    val bm = graft.operators.Dedup.bandMembership(sig, idCol, k, rowsPerBand)
      .select(
        concat_ws("|", col("band"), col("band_hash")).as("bucket"),
        col(idCol).cast("string").as("id"))
      .distinct()
    // history = every PRIOR batch's admitted members; the current
    // batchId's dir is excluded so a retry reruns against the same
    // history and its overwrite stays idempotent
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // member dirs are b<id> (per batch) and c<id> (compacted, covers
    // every admitted member from batches ≤ id — [[compactNearDupIndex]]);
    // the name filter also shields the probe from a crashed
    // compaction's _tmp_ leftovers
    val memberDirs =
      if (!fs.exists(dir)) Seq.empty[org.apache.hadoop.fs.Path]
      else fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("[bc]\\d+"))
        .map(_.getPath)
    // lifecycle guard: batchIds are monotone within one checkpoint,
    // so a batchId BELOW the max member id means a fresh checkpoint
    // was pointed at a populated indexDir — refusing here is the
    // difference between a crash and silent history corruption
    val maxSeen = memberDirs.map(_.getName.tail.toLong).maxOption.getOrElse(-1L)
    if (batchId < maxSeen)
      throw new IllegalStateException(
        s"nearDupCandidatesIndexed: batchId=$batchId is below the newest " +
          s"index member id=$maxSeen in $indexDir — the checkpoint was reset " +
          "without resetting the index (they must live and die together); " +
          "replaying would overwrite committed history. Delete/fork the " +
          "indexDir together with the checkpoint.")
    // covered-by-c invariant (same rule as compactNearDupIndex's
    // recovery sweep): c<cover> contains every admitted member of
    // batches ≤ cover, so if a compaction crashed between rename and
    // source deletion, the surviving [bc]<j> with j ≤ cover are stale
    // DUPLICATES — reading them would double-count bucket sizes and
    // permanently mis-admit until the next sweep
    val cover = memberDirs.filter(_.getName.startsWith("c"))
      .map(_.getName.tail.toLong).maxOption.getOrElse(-1L)
    val prior = memberDirs
      .filter(p => p.getName != s"b$batchId" &&
        (p.getName == s"c$cover" || p.getName.tail.toLong > cover))
      .map(_.toString)
    val idx =
      if (prior.isEmpty) Seq.empty[(String, String, Long)].toDF("bucket", "id", "pos")
      else spark.read.parquet(prior: _*)
    val cnts = idx.groupBy("bucket").agg(count(lit(1)).as("__n"))
    val ranked = bm
      .join(idx.select("bucket", "id"), Seq("bucket", "id"), "left_anti")
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket").orderBy("id")))
    ranked
      .join(cnts, Seq("bucket"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
      .filter(col("__n") + col("__r") <= maxBucket)
      .select(col("bucket"), col("id"), (col("__n") + col("__r") - 1L).as("pos"))
      .write.mode("overwrite").parquet(s"$indexDir/b$batchId")
    // the batch's admitted members, file-backed (the one evaluation
    // of the admission plan above was the write action; everything
    // below reads stable files at pinned paths)
    val adm = spark.read.parquet(s"$indexDir/b$batchId")
    val crossPairs = adm.select(col("bucket"), col("id").as("__new"))
      .hint("shuffle_hash") // build on the batch side, stream history unsorted
      .join(idx.select(col("bucket"), col("id").as("__old")), Seq("bucket"))
    val withinPairs = adm
      .select(col("bucket"), col("id").as("__new"), col("pos").as("__pn"))
      .join(adm.select(col("bucket"), col("id").as("__old"), col("pos").as("__po")),
        Seq("bucket"))
      .filter(col("__po") < col("__pn"))
    crossPairs.select("__new", "__old")
      .unionByName(withinPairs.select("__new", "__old"))
      .select(
        least(col("__new"), col("__old")).as("id_a"),
        greatest(col("__new"), col("__old")).as("id_b"))
      .distinct()
  }

  /** Maintenance pass for [[nearDupCandidatesIndexed]]'s signature
    * index: merge the accumulated per-batch dirs into one cumulative
    * compacted dir. An unbounded stream otherwise accretes one
    * small-file directory per trigger FOREVER — at real horizons the
    * per-batch listing + footer reads become their own scale problem
    * long before the data does (the classic small-files tax). After
    * compaction the history read costs one dir + `targetFiles`
    * footers no matter how many batches have passed.
    *
    * Call BETWEEN batches from the same single-writer maintenance
    * context as the stream (e.g. inside foreachBatch every N
    * triggers, after the batch's pairs are consumed). The newest
    * b<id> dir is always LEFT ALONE — it is the retry target of the
    * possibly-in-flight trigger; everything older is committed
    * history (foreachBatch never retries a committed batchId while
    * the checkpoint lives — and [[nearDupCandidatesIndexed]]'s
    * lifecycle contract already ties indexDir to the checkpoint).
    *
    * Layout + crash safety: members merge into `c<maxId>` (maxId =
    * the largest compacted member id), which by construction covers
    * EVERY admitted membership from batches ≤ maxId. The write goes
    * to a `_tmp_` dir first (invisible to the `[bc]\d+` reader
    * filter), renames into place, then deletes its sources — so a
    * crash at any point leaves either the old dirs (rerun compacts
    * them) or the new dir plus stale sources; the recovery sweep at
    * the top of every call deletes members with id ≤ an existing
    * c-dir's id (they are covered by it, by the invariant), making
    * the pass idempotent and crash-rerunnable. Admitted (bucket, id,
    * pos) rows are immutable facts, so compaction is a pure union —
    * no merge logic, no ordering requirement. */
  def compactNearDupIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      targetFiles: Int = 4): Unit = {
    require(targetFiles > 0, s"targetFiles=$targetFiles must be positive")
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    def members() = fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("[bc]\\d+"))
      .map(_.getPath)
    // recovery sweep: a previous pass that crashed between rename and
    // source deletion leaves members the surviving c-dir already
    // covers — deleting them first keeps the pass idempotent
    val cIds = members().filter(_.getName.startsWith("c"))
      .map(_.getName.tail.toLong)
    if (cIds.nonEmpty) {
      val cover = cIds.max
      members()
        .filter(p => p.getName != s"c$cover" && p.getName.tail.toLong <= cover)
        .foreach(p => fs.delete(p, true))
    }
    val live = members().sortBy(_.getName.tail.toLong)
    if (live.size < 3) return // nothing worth compacting
    // live.last — the newest dir — is the in-flight trigger's retry
    // target and stays untouched; everything older is committed
    val sources = live.init
    val cId = sources.map(_.getName.tail.toLong).max
    val tmp = new org.apache.hadoop.fs.Path(dir, s"_tmp_c$cId")
    spark.read.parquet(sources.map(_.toString): _*)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, s"c$cId")))
      throw new java.io.IOException(
        s"compactNearDupIndex: rename of $tmp failed (concurrent writer?)")
    sources.foreach(p => fs.delete(p, true))
  }

  /** STREAMING importance gate — online DSIR curation: keep a
    * streaming document iff its exact affinity against a trained
    * counts artifact passes `minAffinity`. The artifact is collected
    * once ([[graft.operators.Importance.collectCounts]], ≤ dim rows
    * by construction) and baked into the plan as literal maps, so the
    * gate is a PURE per-row expression: stateless, no watermark, no
    * state store, no stream-static join — at 100 TB/day the filter
    * costs exactly one fold over each document's gram array.
    * Affinity values are bit-identical to the batch
    * [[graft.operators.Importance.scoreAffinity]] (same integer sums,
    * same single IEEE division, same md5 buckets) — spec-diffed in
    * StreamingSpec. Emits the affinity as `outCol` for downstream
    * routing/audit. */
  def importanceFilterStream(
      docs: DataFrame, textCol: String,
      counts: Map[Long, (Long, Long)], minAffinity: Double,
      n: Int = 2, dim: Int = 1024, salt: String = "dsir",
      outCol: String = "affinity"): DataFrame =
    docs
      .withColumn("__tk", graft.operators.Dedup.tokens(col(textCol)))
      .withColumn(outCol,
        graft.operators.Importance.affinityColumn(col("__tk"), counts, n, dim, salt))
      .drop("__tk")
      .filter(col(outCol) >= minAffinity)

  /** STREAMING contamination DETECTION — the exact online twin of
    * [[graft.operators.Fingerprint.ngramContamination]]'s hit side:
    * each arriving training document's distinct word `n`-grams are
    * probed against the frozen held-out gram set
    * ([[graft.operators.Fingerprint.heldOutGrams]], a STATIC frame —
    * eval suites freeze rarely), emitting one row per (document,
    * leaked gram). Stateless: the gram explode is map-side and the
    * stream-static inner join needs no watermark or state store, so
    * the horizon is unbounded by construction. Contamination is a
    * PER-DOCUMENT property (doc × frozen set — no cross-doc
    * interaction), so any stream prefix equals the batch detector on
    * the same rows exactly (spec-diffed).
    *
    * Output: (`idCol`, gh) — a document appears iff contaminated,
    * once per distinct leaked gram (the audit granularity: WHICH
    * gram leaked decides whether the eval item or the crawl is at
    * fault). Route it to the quarantine/audit sink; the REMOVAL
    * twin is [[decontaminateStreamBloom]]. */
  def contaminationHitsStream(
      docs: DataFrame, idCol: String, textCol: String,
      heldGrams: DataFrame, n: Int): DataFrame = {
    import graft.operators.Dedup
    docs
      .select(col(idCol), col(textCol))
      // the gramHashes frontier lesson (Fingerprint.scala): a small
      // static side broadcasts, so without this exchange the whole
      // tokenize/shingle/md5 frontier fuses into the source scan —
      // which in a maxFilesPerTrigger micro-batch is ~ONE task
      .repartition(Dedup.pinnedParts(docs), col(idCol))
      .select(col(idCol),
        // fused distinct-shingle kernel (r22): same gram values, and
        // the kernel evaluates its token child ONCE per row (the
        // inline-split O(tokens²) trap this call previously carried)
        explode(graft.functions.GraftFunctions.distinctShingles(
          Dedup.tokens(col(textCol)), n)).as("__gram"))
      .select(col(idCol), md5(col("__gram")).as("gh"))
      .join(heldGrams.select("gh"), Seq("gh"))
      .select(col(idCol), col("gh"))
  }

  /** STREAMING decontamination REMOVAL — the online gate of
    * [[graft.operators.Fingerprint.decontaminate]]: keep an arriving
    * training document iff NONE of its word `n`-grams might be in
    * the held-out set, probed through a serialized Bloom filter
    * ([[graft.operators.Fingerprint.gramBloomFilter]]) baked into
    * the plan as a binary literal. The probe is a pure per-row
    * expression (one `exists` over the doc's gram array, each gram
    * one codegen'd might_contain) — stateless, no watermark, no
    * state store, no join stage at all, so it composes inside any
    * continuous streaming pipeline and the horizon is unbounded by
    * construction; at 100 TB/day the gate costs one fold per
    * document, and the filter blob (numBits/8 bytes, MBs for
    * millions of grams) ships once per executor like a broadcast.
    *
    * CONSERVATIVE by design: Bloom filters have no false negatives,
    * so every document the batch [[Fingerprint.decontaminate]] would
    * drop is dropped here too (leakage NEVER survives); a false
    * positive can only OVER-drop a clean document, with per-doc
    * probability ≤ |grams(doc)| · fpp — size `numBits` per
    * [[Fingerprint.gramBloomFilter]]'s scaladoc and the kept stream
    * equals the batch kept set exactly up to that budget (the spec
    * measures zero over-drops on the test corpus at 28 bits/gram).
    * A null filter (gram-free held-out split) keeps everything.
    *
    * Parallelism contract (same as [[importanceFilterStream]]): a
    * pure filter runs at the SOURCE's partitioning — under a
    * one-file-per-trigger replay that is one task, and the measured
    * `stream_decontaminate_bloom` batch walls are per-THREAD
    * throughput (~3.4k docs/s/core at 50×/100×, flat across
    * batches), not a scaling ceiling; a well-partitioned production
    * source widens it for free, with no exchange to pay. */
  def decontaminateStreamBloom(
      docs: DataFrame, textCol: String,
      heldGramFilter: Array[Byte], n: Int): DataFrame =
    if (heldGramFilter == null) docs
    else {
      import graft.operators.{BloomPrune, Dedup}
      val grams = graft.functions.GraftFunctions.distinctShingles(
        Dedup.tokens(col(textCol)), n)
      docs.filter(!exists(grams,
        g => BloomPrune.mightContain(heldGramFilter, md5(g))))
    }

  /** STREAMING LM scoring — the online twin of
    * [[graft.operators.LanguageModel.perplexity]]: score each
    * arriving document against FROZEN backoff-model artifacts
    * (collected once via [[graft.operators.LanguageModel.collectModel]]
    * from a trusted reference slice — reference models retrain
    * rarely, exactly the importanceFilterStream artifact contract).
    * The score is a pure per-row fold with literal-map probes
    * ([[graft.operators.LanguageModel.perplexityColumn]]): stateless,
    * no watermark, no state store, no join stage, so the horizon is
    * unbounded by construction and any stream prefix equals the
    * batch scorer on the same rows — BIT-identically for
    * n_scored/n_hit/n_backoff/hit_frac, up to FP reassociation for
    * the ln/exp-bearing avg_logprob/ppl (spec-diffed on both terms).
    * Output schema matches the batch operator exactly:
    * (idCol, n_scored, n_hit, n_backoff, hit_frac, avg_logprob, ppl).
    *
    * Scale contract: legal when the model is a bounded curated
    * artifact (the maps ship once per executor inside the task
    * binary, like a broadcast); for open-vocabulary models keep the
    * DataFrame artifacts and run the batch operator per micro-batch
    * in foreachBatch — a document's grams never straddle batches, so
    * that form is exact too. */
  def perplexityScoreStream(
      docs: DataFrame, idCol: String, textCol: String,
      uniCounts: Map[String, Long], biCounts: Map[String, Long],
      nTotal: Long, vocab: Long, alpha: Double = 0.4): DataFrame =
    docs
      .withColumn("__lm", graft.operators.LanguageModel.perplexityColumn(
        split(col(textCol), " "), uniCounts, biCounts, nTotal, vocab, alpha))
      // NULL text ⇒ the whole kernel struct is NULL; the batch
      // operator's left-join+coalesce path emits 0/0/0 counts for
      // such docs (fracs stay NULL both ways) — coalesce to keep the
      // "matches the batch operator exactly" claim true on null rows
      .select(col(idCol),
        coalesce(col("__lm.n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("__lm.n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("__lm.n_backoff"), lit(0L)).as("n_backoff"),
        col("__lm.hit_frac").as("hit_frac"),
        col("__lm.avg_logprob").as("avg_logprob"), col("__lm.ppl").as("ppl"))

  /** STREAMING LM gate — [[perplexityScoreStream]]'s scoring with
    * [[graft.operators.LanguageModel.perplexityFilter]]'s keep rule
    * (drop ⇔ provably ppl > maxPpl; unscorable documents pass), as a
    * composable filter that preserves the input columns. Stateless —
    * composes inside any continuous pipeline at one fold per
    * document. */
  def perplexityFilterStream(
      docs: DataFrame, textCol: String,
      uniCounts: Map[String, Long], biCounts: Map[String, Long],
      nTotal: Long, vocab: Long, maxPpl: Double,
      alpha: Double = 0.4): DataFrame = {
    val ppl = graft.operators.LanguageModel.perplexityColumn(
      split(col(textCol), " "), uniCounts, biCounts, nTotal, vocab, alpha)
      .getField("ppl")
    docs.filter(ppl.isNull || ppl <= maxPpl)
  }

  /** STREAMING corpus monitor — the online twin of
    * [[graft.operators.Drift.report]]'s counting side: running
    * (feature, bucket, n) histogram counts over an unbounded document
    * stream, maintained by a plain streaming aggregation whose state
    * is BOUNDED BY THE BUCKET SPACE (len_bin ≤ 64 binary magnitudes,
    * stop_decile ≤ 12 values, lang ≤ live languages — never the
    * corpus), so the horizon is unbounded by construction with no
    * watermark or eviction policy needed. The bucket expressions are
    * the batch operator's own ([[graft.operators.Drift.buckets]]),
    * so after ANY stream prefix the counts equal the batch histogram
    * over the same rows exactly (spec-diffed) — join the output
    * against a frozen baseline snapshot's ppm (stream-static,
    * bucket-keyed broadcast) to alert on live distribution shift.
    * Use output mode Update (deltas) or Complete (the whole bounded
    * table, ≤ the bucket space). */
  def driftCountsStream(
      docs: DataFrame, idCol: String, textCol: String,
      langCol: Option[String] = None): DataFrame =
    graft.operators.Drift.buckets(docs, textCol, langCol)
      .groupBy("feature", "bucket")
      .agg(count(lit(1)).as("n"))

  /** STREAMING cluster-balanced sample — the incremental form of
    * [[graft.operators.Similarity.cellBalancedSample]]: assign each
    * arriving embedding to its nearest-centroid cell with the
    * STATELESS [[graft.operators.Similarity.assignCellColumn]]
    * expression (centroids are a fixed trained artifact, collected
    * once — ≤ nCells driver rows, the same contract as
    * importanceFilterStream's counts), then maintain the hash-min-k
    * sample per cell with [[uniformSampleStream]]. Because hash-min-k
    * is a MONOTONE statistic and the md5 rank matches the batch
    * window's ordering exactly, after ANY stream prefix each cell's
    * sample equals the batch operator over everything seen — the
    * running topic-balanced coreset of an unbounded embedding stream,
    * at ≤ perCellK·nCells state forever (spec-diffed). */
  def cellBalancedSampleStream(
      events: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Float])],
      perCellK: Int, salt: String): Dataset[KeySample] =
    uniformSampleStream(
      events.withColumn("cell",
        graft.operators.Similarity.assignCellColumn(col(vecCol), centroids)),
      "cell", idCol, perCellK, salt)
}
