package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.CdcFrame
import graft.cdc.PgOutput.{ColumnInfo, Encoder => E, RelationInfo, WText, WUnchanged, WireValue}

/** Seeded pgoutput stream of users-shaped rows, plus the in-memory
  * model of the state it should leave behind.
  *
  * Rows have six text columns (`id` is the key; `bio` is ~200 B).
  * Transactions hold 1–10 changes, ~10/80/10 insert/update/delete,
  * with full ('O') old images; an update leaves `bio` TOASTed
  * ('u' → "keep previous") half of the time. Keys are drawn
  * uniformly; a delete frees its key and a later insert re-uses a
  * freed key (delete → re-insert). Every `streamEvery`-th transaction is sent as
  * a protocol-v2 streamed transaction (S … E c); the second of them
  * is aborted (A) instead, so its changes never happen. Every
  * `unknownEvery`-th transaction carries one insert for a relation
  * the stream never announced, which the decoder must drop.
  *
  * Base rows are a pure function of (seed, key) — [[baseRow]] in
  * Scala and [[baseState]] in Spark give the same values — so a
  * million-key base state never has to live on the driver; the model
  * stores only the keys the stream touched.
  */
final class CdcGen(val seed: Long, val keys: Int,
    streamEvery: Int = 97, unknownEvery: Int = 151) {
  import CdcGen._

  private val rng = new java.util.SplittableRandom(seed)
  private var lsn = 1000L
  private var xid = 5000
  private var txnCount = 0
  private var streamedCount = 0
  private var version = 0L

  /** Touched keys: Some(row) when live, None when deleted. */
  val touched = mutable.HashMap[Int, Option[Array[String]]]()
  private val absent = new mutable.ArrayBuffer[Int]()
  private val absentIdx = mutable.HashMap[Int, Int]()

  /** Generated change events that must reach the changelog: (lsn, op, key). */
  val expectedEvents = mutable.ArrayBuffer[(Long, String, String)]()
  var expectedUnknownDrops = 0L
  var expectedAbortDiscards = 0L
  /** Committed updates that left `bio` TOASTed, and committed inserts
    * (every insert re-uses a key freed by a delete or a truncate). */
  var toastUpdates = 0L
  var reinserts = 0L

  private def drawKey(): Int = rng.nextInt(keys)

  /** Set by [[truncate]]: base rows no longer exist. */
  var truncated = false

  def current(k: Int): Option[Array[String]] =
    touched.getOrElse(k, if (truncated) None else Some(baseRow(seed, k)))

  private def markAbsent(k: Int): Unit = { absentIdx(k) = absent.size; absent += k }
  private def unmarkAbsent(k: Int): Unit = absentIdx.remove(k).foreach { i =>
    val last = absent.remove(absent.size - 1)
    if (last != k) { absent(i) = last; absentIdx(last) = i }
  }

  private def newRow(k: Int, keepBio: Option[String]): Array[String] = {
    version += 1
    val bio = keepBio.getOrElse(hex(sha256(s"$k:$seed:$version")) * 4).take(200)
    Array(k.toString, s"user-$k-v$version", s"u$k@example.com", Statuses(rng.nextInt(3)), bio,
      f"2026-01-02 ${(version / 3600) % 24}%02d:${(version / 60) % 60}%02d:${version % 60}%02d")
  }

  /** Draw one change against the live state plus the transaction's
    * own earlier changes (`pending`). */
  private def drawChange(pending: mutable.HashMap[Int, Option[Array[String]]]): Change = {
    def cur(k: Int) = pending.getOrElse(k, current(k))
    val u = rng.nextDouble()
    val c: Change =
      if (u < 0.1 && absent.nonEmpty) {
        val k = absent(rng.nextInt(absent.size))
        if (pending.contains(k) && pending(k).isDefined) { val o = cur(k).get; Upd(k, o, newRow(k, None), false) }
        else Ins(k, newRow(k, None))
      } else {
        val k = drawKey()
        cur(k) match {
          case None => Ins(k, newRow(k, None))
          case Some(old) if u >= 0.9 => Del(k, old)
          case Some(old) =>
            val toast = rng.nextBoolean()
            Upd(k, old, newRow(k, if (toast) Some(old(4)) else None), toast)
        }
      }
    c match {
      case Ins(k, r) => pending(k) = Some(r)
      case Upd(k, _, r, _) => pending(k) = Some(r)
      case Del(k, _) => pending(k) = None
      case Unknown =>
    }
    c
  }

  private def encode(c: Change, sx: Option[Int]): Array[Byte] = c match {
    case Ins(_, r) => E.insert(RelId, r.toSeq.map(WText(_)), sx)
    case Upd(_, o, r, toast) =>
      val neu: Seq[WireValue] = r.toSeq.zipWithIndex.map {
        case (_, 4) if toast => WUnchanged
        case (v, _) => WText(v)
      }
      E.update(RelId, Some(('O', o.toSeq.map(WText(_)))), neu, sx)
    case Del(_, o) => E.delete(RelId, 'O', o.toSeq.map(WText(_)), sx)
    case Unknown => E.insert(UnknownRelId, Seq(WText("0")), sx)
  }

  private def opOf(c: Change): String = c match {
    case _: Ins => "INSERT"; case _: Upd => "UPDATE"; case _: Del => "DELETE"; case Unknown => ""
  }
  private def keyOf(c: Change): Int = c match {
    case Ins(k, _) => k; case Upd(k, _, _, _) => k; case Del(k, _) => k; case Unknown => -1
  }

  private def frame(payload: Array[Byte]): CdcFrame = {
    lsn += 1
    CdcFrame(lsn, IngestBaseMicros + lsn, payload)
  }

  /** The relation announcement that opens the stream. */
  def relationFrame(): CdcFrame = frame(E.relation(Relation))

  /** One transaction's frames; the model and the expected events are
    * updated as PostgreSQL would have committed it. */
  def nextTxn(): Seq[CdcFrame] = {
    txnCount += 1
    xid += 1
    val n = 1 + rng.nextInt(10)
    val streamed = txnCount % streamEvery == 0
    val aborted = streamed && { streamedCount += 1; streamedCount == 2 }
    val pending = mutable.HashMap[Int, Option[Array[String]]]()
    val changes = (0 until n).map(_ => drawChange(pending)) ++
      (if (!streamed && txnCount % unknownEvery == 0) Seq(Unknown) else Seq.empty)
    val commitMicros = IngestBaseMicros + txnCount * 1000L
    val out = mutable.ArrayBuffer[CdcFrame]()
    val sx = if (streamed) Some(xid) else None
    if (streamed) out += frame(E.streamStart(xid))
    else out += frame(E.begin(commitMicros, 0L, xid))
    changes.foreach { c =>
      val f = frame(encode(c, sx))
      out += f
      c match {
        case Unknown => expectedUnknownDrops += 1
        case _ if aborted => expectedAbortDiscards += 1
        case _ =>
          expectedEvents += ((f.lsn, opOf(c), keyOf(c).toString))
          c match {
            case Upd(_, _, _, true) => toastUpdates += 1
            case _: Ins => reinserts += 1
            case _ =>
          }
      }
    }
    if (streamed) {
      out += frame(E.streamStop())
      out += frame(if (aborted) E.streamAbort(xid, xid) else E.streamCommit(xid, commitMicros))
    } else out += frame(E.commit())
    if (!aborted) pending.foreach { case (k, v) =>
      val wasLive = current(k).isDefined
      touched(k) = v
      (wasLive, v.isDefined) match {
        case (true, false) => markAbsent(k)
        case (false, true) => unmarkAbsent(k)
        case _ =>
      }
    }
    out.toSeq
  }

  /** A transaction that truncates the table: every row goes. */
  def truncate(): Seq[CdcFrame] = {
    txnCount += 1
    xid += 1
    val fs = Seq(frame(E.begin(IngestBaseMicros + txnCount * 1000L, 0L, xid)),
      frame(E.truncate(Seq(RelId))), frame(E.commit()))
    expectedEvents += ((fs(1).lsn, "TRUNCATE", "null"))
    truncated = true
    touched.clear()
    absent.clear(); absentIdx.clear()
    (0 until keys).foreach(markAbsent)
    fs
  }

  /** Whole transactions until at least `frames` frames. */
  def take(frames: Int): Seq[CdcFrame] = {
    val out = mutable.ArrayBuffer[CdcFrame]()
    while (out.size < frames) out ++= nextTxn()
    out.toSeq
  }

  /** The model's live rows among the touched keys. */
  def touchedLive: Seq[Array[String]] = touched.values.flatten.toSeq
}

object CdcGen {
  private[perfbench] sealed trait Change
  private[perfbench] final case class Ins(k: Int, row: Array[String]) extends Change
  private[perfbench] final case class Upd(k: Int, old: Array[String], row: Array[String], toastBio: Boolean) extends Change
  private[perfbench] final case class Del(k: Int, old: Array[String]) extends Change
  private[perfbench] case object Unknown extends Change

  val RelId = 16384
  val UnknownRelId = 99999
  val Cols: Seq[String] = Seq("id", "name", "email", "status", "bio", "updated_at")
  val ValueCols: Seq[String] = Cols.tail
  val Statuses: Array[String] = Array("active", "inactive", "banned")
  val IngestBaseMicros = 1767225600000000L
  val Relation: RelationInfo = RelationInfo(RelId, "public", "users", 'f',
    Cols.toIndexedSeq.map(c => ColumnInfo(c, typeId = 25, flags = if (c == "id") 1 else 0, typeMod = -1)))

  def sha256(s: String): Array[Byte] = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Base row of key `k` (Scala side of [[baseState]]). */
  def baseRow(seed: Long, k: Int): Array[String] =
    Array(k.toString, s"user-$k-v0", s"u$k@example.com",
      Statuses(((k.toLong * 7 + seed) % 3 + 3).toInt % 3),
      (hex(sha256(s"$k:$seed")) * 4).take(200), "2026-01-01 00:00:00")

  /** Base state of keys 0 until `keys` (Spark side of [[baseRow]]). */
  def baseState(spark: SparkSession, seed: Long, keys: Int): DataFrame = {
    val k = col("id").cast("string")
    spark.range(0, keys).select(
      k.as("id"),
      concat(lit("user-"), k, lit("-v0")).as("name"),
      concat(lit("u"), k, lit("@example.com")).as("email"),
      element_at(typedLit(Statuses.toSeq), (pmod(col("id") * 7 + lit(seed), lit(3L)) + 1).cast("int")).as("status"),
      substring(repeat(sha2(concat(k, lit(s":$seed")), 256), 4), 1, 200).as("bio"),
      lit("2026-01-01 00:00:00").as("updated_at"))
  }

  /** Order-independent digest of a state frame: (rows, xor of row hashes). */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(Cols.map(col): _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The state the model expects: base rows of untouched keys plus the
    * live touched rows. */
  def expectedState(spark: SparkSession, gen: CdcGen): DataFrame = {
    import spark.implicits._
    val touchedDf = gen.touched.keys.toSeq.map(_.toString).toDF("id")
    val live = gen.touchedLive.map(r => (r(0), r(1), r(2), r(3), r(4), r(5))).toDF(Cols: _*)
    if (gen.truncated) live
    else baseState(spark, gen.seed, gen.keys).join(touchedDf, Seq("id"), "left_anti").unionByName(live)
  }
}
