package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded event log in the `events` table schema
  * `(event_id, ts, user_id, event_type, value, props)`.
  *
  * The properties are fixed, not settings:
  *  - `user_id` is Zipf(`zipfS`) over `users` users, so hot keys exist;
  *  - `event_type` follows `typeMix` over the table's five types;
  *  - `ts` advances by `stepMs` per event plus a jitter below `stepMs / 2`,
  *    so it is strictly increasing. Offered at `Gen.rate` events per wall
  *    second, event time runs at `stepMs * rate / 1000` times wall time;
  *  - `value` is a multiple of 0.25, so every sum of values is exact in
  *    any order (streaming partial sums equal batch sums bit for bit).
  *
  * The same seed gives the same log, byte for byte ([[Gen.digest]]). */
final class Gen(val seed: Long, val n: Int) {
  val tsMs = new Array[Long](n)
  val user = new Array[Int](n)
  val kind = new Array[Byte](n)
  val quarters = new Array[Int](n) // value * 4
  val propK = new Array[Int](n)

  locally {
    val rnd = new SplittableRandom(seed)
    var i = 0
    while (i < n) {
      tsMs(i) = Gen.t0Ms + i.toLong * Gen.stepMs + rnd.nextLong(Gen.stepMs / 2)
      user(i) = Gen.zipfUser(rnd.nextDouble())
      kind(i) = Gen.pickType(rnd.nextDouble()).toByte
      quarters(i) = rnd.nextInt(800)
      propK(i) = rnd.nextInt(100)
      i += 1
    }
  }

  def eventType(i: Int): String = Gen.types(kind(i))
  def value(i: Int): Double = quarters(i) / 4.0
  def tsText(i: Int): String = Gen.fmt(tsMs(i))

  /** Delimited payload for the `graft-events` converter; `withProps` adds
    * the sixth (`props`) field the batch tables carry. */
  def payload(i: Int, withProps: Boolean = false): String = {
    val base = s"$i,${tsText(i)},${user(i)},${eventType(i)},${value(i)}"
    if (withProps) base + s""",{"k": ${propK(i)}}""" else base
  }
}

object Gen {
  val users = 3000
  val zipfS = 1.0
  val types: IndexedSeq[String] =
    IndexedSeq("view", "click", "signup", "purchase", "error")
  val typeMix: IndexedSeq[Double] = IndexedSeq(0.35, 0.30, 0.12, 0.08, 0.15)
  /** Events per wall second in the open loop. */
  val rate = 2000
  /** Event-time spacing: 30 s per event, i.e. event time runs at 60,000x
    * wall time at [[rate]], so a 24-hour WITHIN window closes every 1.44 s
    * of wall time. */
  val stepMs = 30000L
  val t0Ms: Long = LocalDateTime.of(2024, 1, 1, 0, 0)
    .toInstant(ZoneOffset.UTC).toEpochMilli

  val streamFields =
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
  val tableFields: String = streamFields + ", props STRING"

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(users)(r => math.pow(r + 1.0, -zipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  /** Expected share of user rank `r` (1-based). */
  def zipfShare(r: Int): Double =
    zipfCdf(r - 1) - (if (r == 1) 0.0 else zipfCdf(r - 2))

  private def zipfUser(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    val idx = if (i >= 0) i else -i - 1
    math.min(idx, users - 1) + 1
  }

  private val typeCdf = typeMix.scanLeft(0.0)(_ + _).tail.toArray

  private def pickType(u: Double): Int = {
    var t = 0
    while (t < typeCdf.length - 1 && u >= typeCdf(t)) t += 1
    t
  }

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")

  def fmt(ms: Long): String =
    LocalDateTime.ofEpochSecond(Math.floorDiv(ms, 1000L),
      (Math.floorMod(ms, 1000L) * 1000000L).toInt, ZoneOffset.UTC)
      .format(tsFormat)

  /** SHA-256 over every payload of the log, newline-terminated. */
  def digest(g: Gen): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < g.n) {
      md.update((g.payload(i, withProps = true) + "\n").getBytes("UTF-8"))
      i += 1
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
