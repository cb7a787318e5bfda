package perfbench

import graft.cdc.{CdcDecode, Changelog}

/** Checks of the benchmark's own generator, run by
  * perfbench/tests/test_perfbench.py:
  *
  *  - the same seed gives byte-identical frames, another seed does not;
  *  - the generator's expected-state model agrees with
  *    `Changelog.apply` on a small stream that covers TOAST-kept
  *    columns, delete → re-insert, an aborted streamed transaction and
  *    a truncate (before and after it).
  *
  * Usage: perfbench.SelfTest <work dir> <out.json>
  */
object SelfTest {
  private def stream(seed: Long): (CdcGen, Seq[graft.cdc.CdcFrame]) = {
    val g = new CdcGen(seed, keys = 40, streamEvery = 5, unknownEvery = 7)
    val frames = g.relationFrame() +: ((1 to 60).flatMap(_ => g.nextTxn()) ++ g.truncate() ++
      (1 to 30).flatMap(_ => g.nextTxn()))
    (g, frames)
  }

  private def bytes(fs: Seq[graft.cdc.CdcFrame]): Seq[(Long, Long, Seq[Byte])] =
    fs.map(f => (f.lsn, f.ingestMicros, f.payload.toSeq))

  def main(args: Array[String]): Unit = {
    val Array(work, out) = args
    val spark = Session.create(Fs.path(work, "warehouse").toString)
    try {
      val (g, frames) = stream(11)
      val sameSeed = bytes(stream(11)._2) == bytes(frames)
      val otherSeed = bytes(stream(12)._2) != bytes(frames)

      // the model with the truncate's effect reversed is checked at the
      // point just before it, then the full stream after it
      val truncAt = frames.indexWhere(_.payload(0) == 'T')
      val events = CdcDecode.toWireDf(spark.createDataset(CdcDecode.decodeSeq(frames))(CdcDecode.cdcEventEncoder))
      val base = CdcGen.baseState(spark, g.seed, g.keys)
      val applied = Changelog.apply(base, events, "users", "id", CdcGen.ValueCols)
      val model = CdcGen.expectedState(spark, g)
      val full = CdcGen.digest(applied) == CdcGen.digest(model)

      val (gBefore, _) = {
        val h = new CdcGen(11, keys = 40, streamEvery = 5, unknownEvery = 7)
        val fs = h.relationFrame() +: (1 to 60).flatMap(_ => h.nextTxn())
        (h, fs)
      }
      val before = frames.take(truncAt - 1)
      val evBefore = CdcDecode.toWireDf(spark.createDataset(CdcDecode.decodeSeq(before))(CdcDecode.cdcEventEncoder))
      val beforeOk = CdcGen.digest(Changelog.apply(base, evBefore, "users", "id", CdcGen.ValueCols)) ==
        CdcGen.digest(CdcGen.expectedState(spark, gBefore))

      Json.write(Fs.path(out), Map(
        "frames_same_seed_identical" -> sameSeed,
        "frames_other_seed_differ" -> otherSeed,
        "model_matches_before_truncate" -> beforeOk,
        "model_matches_after_truncate" -> full,
        "coverage" -> Map(
          "toast_updates" -> g.toastUpdates, "reinserts" -> g.reinserts,
          "aborted_events" -> g.expectedAbortDiscards, "truncated" -> g.truncated)))
    } finally Session.stop(spark)
  }
}
