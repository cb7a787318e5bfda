package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The two near-duplicate arms of the operator library over the
  * seeded `documents` table amplified with `ScaleStress.amplifyDocs`
  * and written to multi-file parquet before timing (the seed permutes
  * which rows land in which file):
  *
  *  - minhash: `Dedup.nearDupPairsShingled(n = 3, k = 12,
  *    rowsPerBand = 3, threshold = 0.5)`;
  *  - simhash: `Dedup.simhashNearDupPairs(maxHamming = 3)`.
  *
  * An arm's time runs from the input to the collected pair set; a
  * round is one run of each arm (comparing the pairs and the
  * `graft.Bench` sweep happen between the timers). Rounds repeat
  * until `--seconds` have passed (at least
  * [[DedupWorkload.MinRounds]] rounds). Every round's pairs must equal
  * the first round's, and every emitted pair is re-checked here
  * against its threshold with an independent shingle Jaccard / simhash.
  */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import DedupWorkload._

  private val input = ctx.workDir.resolve("dedup-docs").toString

  def gen(spark: SparkSession): Unit = {
    val docs = spark.read.parquet(ctx.dataDir.resolve("documents.parquet").toString)
    graft.ScaleStress.amplifyDocs(docs, Amplify)
      .repartitionByRange(Files, xxhash64(col("doc_id"), lit(ctx.seed)))
      .write.mode("overwrite").parquet(input)
  }

  private def docs(spark: SparkSession): DataFrame = spark.read.parquet(input)

  private def minhash(spark: SparkSession): DataFrame =
    Dedup.nearDupPairsShingled(docs(spark), "doc_id", "text", n = 3, k = 12, rowsPerBand = 3, threshold = 0.5)
  private def simhash(spark: SparkSession): DataFrame =
    Dedup.simhashNearDupPairs(docs(spark), "doc_id", "text", maxHamming = 3)

  /** Warm-up: both arms once over a 500-document slice. */
  def warmup(spark: SparkSession, rep: Int, last: Boolean): Unit = {
    val small = docs(spark).filter(col("doc_id") < 500)
    Dedup.nearDupPairsShingled(small, "doc_id", "text", n = 3, k = 12, rowsPerBand = 3, threshold = 0.5).collect()
    Dedup.simhashNearDupPairs(small, "doc_id", "text", maxHamming = 3).collect()
    Session.sweep(spark)
  }

  def measure(spark: SparkSession): Outcome = {
    val failures = mutable.ArrayBuffer[String]()
    val arms = Seq[(String, SparkSession => DataFrame)]("minhash" -> minhash, "simhash" -> simhash)
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val firstPairs = mutable.Map[String, Array[(Long, Long, Double)]]()
    val rounds = mutable.ArrayBuffer[Double]()
    val armSpans = mutable.ArrayBuffer[(String, String, Double, Double)]()
    val checkSpans = mutable.ArrayBuffer[(String, Double, Double)]()
    var attempted = 0L
    var failed = 0L
    val lo = Clock.nowMs()
    while (rounds.size < MinRounds || Clock.nowMs() - lo < ctx.seconds * 1000) {
      var round = 0.0
      arms.foreach { case (arm, run) =>
        attempted += 1
        val t0 = Clock.nowMs()
        var t1 = t0
        try {
          val pairs = run(spark).collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).asInstanceOf[Number].doubleValue()))
          t1 = Clock.nowMs()
          round += t1 - t0
          times.getOrElseUpdate(arm, mutable.ArrayBuffer()) += t1 - t0
          armSpans += ((arm, s"$arm-${rounds.size}", t0, t1))
          val sorted = pairs.sortBy(p => (p._1, p._2))
          firstPairs.get(arm) match {
            case None => firstPairs(arm) = sorted
            case Some(first) if !first.sameElements(sorted) =>
              failed += 1; failures += s"$arm round ${rounds.size}: pairs differ from round 0"
            case _ =>
          }
        } catch { case e: Throwable =>
          failed += 1; failures += s"$arm: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}"
        }
        Session.sweep(spark)
        checkSpans += ((s"$arm-${rounds.size}", t1, Clock.nowMs()))
      }
      rounds += round
    }
    val hi = Clock.nowMs()

    // independent re-check of every emitted pair
    val texts = docs(spark).select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val checks = mutable.LinkedHashMap[String, Any]()
    firstPairs.get("minhash").foreach { ps =>
      val sh = mutable.HashMap[Long, Set[String]]()
      def shingles(id: Long) = sh.getOrElseUpdate(id, Recheck.shingles(texts(id), 3))
      val bad = ps.count { case (a, b, jac) =>
        val j = Recheck.jaccard(shingles(a), shingles(b))
        j < 0.5 || math.abs(j - jac) > 1e-9
      }
      attempted += 1
      if (bad > 0) { failed += 1; failures += s"minhash: $bad pairs fail the Jaccard re-check" }
      checks("minhash") = Map("pairs" -> ps.length, "bad" -> bad, "digest" -> Recheck.digest(ps))
    }
    firstPairs.get("simhash").foreach { ps =>
      val sig = mutable.HashMap[Long, Long]()
      def simhash(id: Long) = sig.getOrElseUpdate(id, Recheck.simhash64(texts(id)))
      val bad = ps.count { case (a, b, ham) =>
        val h = java.lang.Long.bitCount(simhash(a) ^ simhash(b))
        h > 3 || h != ham.toInt
      }
      attempted += 1
      if (bad > 0) { failed += 1; failures += s"simhash: $bad pairs fail the Hamming re-check" }
      checks("simhash") = Map("pairs" -> ps.length, "bad" -> bad, "digest" -> Recheck.digest(ps))
    }

    val nDocs = texts.size.toDouble
    val e2e = Map(
      "throughput_per_s" -> nDocs * rounds.size / math.max(1e-3, rounds.sum / 1000.0),
      "latency_ms_p50" -> Stats.pct(rounds.toSeq, 50))
    def armMed(a: String) = times.get(a).map(t => Stats.median(t.toSeq) / 1000.0).getOrElse(0.0)
    val mh = firstPairs.get("minhash").map(_.length.toDouble).getOrElse(0.0)
    val layers = mutable.Map[String, Double](
      "operators.minhash_s" -> armMed("minhash"),
      "operators.simhash_s" -> armMed("simhash"),
      "operators.output_pairs" -> (mh + firstPairs.get("simhash").map(_.length.toDouble).getOrElse(0.0)))
    ctx.hooks.foreach { h =>
      h.settle()
      layers ++= h.sparkLayer(lo, hi, armSpans.map { case (_, _, a, b) => (a, b) }.toSeq)
      // candidate pairs of the minhash arm, counted once outside the timers
      val sh = docs(spark).select(col("doc_id"),
        graft.functions.GraftFunctions.distinctShingles(Dedup.tokens(col("text")), 3).as("sh"))
      val sig = Dedup.minhashSignatureOver(sh, "doc_id", col("sh"), 12)
      val cand = Dedup.minhashCandidatePairs(sig, "doc_id", 12, 3).count().toDouble
      layers("operators.minhash_candidate_pairs") = cand
      // ids the minhash bucket cap dropped, from the operator's own observe()
      layers("operators.minhash_dropped_ids") = h.execsIn(lo, hi).flatMap(_.observed.collect {
        case (k, v) if k.startsWith("graft_minhash_drops_") && k.endsWith(".dropped_ids") => v.toDouble
      }).sum
      layers("operators.candidates_per_output_pair") = cand / math.max(1.0, mh)
      val root = ctx.spans.add(0, "bench.workload", ctx.workload, lo, hi)
      armSpans.foreach { case (arm, g, a, b) =>
        val id = ctx.spans.add(root, s"operators.$arm", g, a, b)
        SparkSpans.add(ctx.spans, h, id, g, a, b)
      }
      checkSpans.foreach { case (g, a, b) => ctx.spans.add(root, "bench.check", g, a, b) }
    }
    Outcome(attempted, failed, failures.toSeq, e2e, layers.toMap, checks.toMap ++ Map("round_ms" -> rounds.toSeq))
  }
}

object DedupWorkload {
  val Amplify = 5
  val Files = 8
  val MinRounds = 2
}

/** The benchmark's own implementations of what the arms promise,
  * written from the operators' contracts (space tokens, distinct word
  * n-gram sets, 64-bit md5-prefix simhash over distinct tokens). */
object Recheck {
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    val md = MessageDigest.getInstance("MD5")
    text.split(" ", -1).distinct.foreach { tok =>
      val d = md.digest(tok.getBytes(UTF_8))
      var w = 0L
      (0 until 8).foreach(i => w = (w << 8) | (d(i) & 0xffL))
      (0 until 64).foreach(i => votes(i) += (if (((w >>> i) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((acc, i) => if (votes(i) > 0) acc | (1L << i) else acc)
  }

  def digest(pairs: Array[(Long, Long, Double)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    pairs.foreach { case (a, b, v) => md.update(s"$a,$b,$v\n".getBytes(UTF_8)) }
    md.digest().take(8).map(x => f"${x & 0xff}%02x").mkString
  }
}
