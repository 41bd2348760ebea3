package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** Cross-batch LATE data (inside the watermark lateness bound) must not
  * produce wrong answers — the failure family a per-batch event clock
  * introduces: early-pruned state, unretractable no-match verdicts, and
  * future-valued enrichment. Each case here failed before the
  * watermark-horizon fixes. */
class LateDataSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, u: Long, t: String, typ: String) =
    CepEvent(id, Timestamp.valueOf(t), u, typ, 1.0)

  test("2-step chain: late second still matches (watermark prune horizon)") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "late_seq"
    val q = ChainEngine.detect(
        stream.toDS().withWatermark("ts", "1 hour"),
        Steps.of("signup", "purchase"), 30L * 60 * 1000)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    // batch 1: the first, plus in-window noise — a batch-max prune would
    // drop the open first here (10:00 + 30min < 11:00)
    stream.addData(ev(1, 7L, "2024-01-01 10:00:00", "signup"),
      ev(2, 7L, "2024-01-01 11:00:00", "view"))
    q.processAllAvailable()
    // batch 2: the purchase arrives LATE (ts 10:20 < batch-1 max) but
    // inside the 1-hour lateness — it must still complete the match
    stream.addData(ev(3, 7L, "2024-01-01 10:20:00", "purchase"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .select($"step_ids"(0), $"step_ids"(1)).as[(Long, Long)]
      .collect().toSet
    assert(got === Set((1L, 3L)),
      s"late purchase inside lateness must match the open signup: $got")
  }

  test("RunDetector: no-follow verdict waits for the watermark") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "late_runs"
    val q = RunDetector.detect(stream.toDS(), "click", 3, "purchase",
        10L * 60 * 1000, watermarkDelay = Some("30 minutes"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    stream.addData(ev(1, 7L, "2024-01-01 10:00:00", "click"),
      ev(2, 7L, "2024-01-01 10:01:00", "click"),
      ev(3, 7L, "2024-01-01 10:02:00", "click"),
      ev(4, 7L, "2024-01-01 10:03:00", "view"))
    q.processAllAvailable()
    // batch 2: same-key event far past the window END (10:12) — but the
    // WATERMARK (10:03 - 30min lateness) hasn't closed the window, so a
    // late purchase could still arrive: no verdict may be emitted yet
    stream.addData(ev(5, 7L, "2024-01-01 10:40:00", "view"))
    q.processAllAvailable()
    assert(spark.table(name).count() === 0,
      "event-clock expiry must not outrun the watermark in append mode")
    // batch 3: the purchase arrives late (10:05 > current wm 10:10 - no,
    // wm = 10:40 - 30min = 10:10 … 10:05 would be dropped; use 10:11,
    // inside the run's follow window AND above the watermark)
    stream.addData(ev(6, 7L, "2024-01-01 10:11:00", "purchase"))
    q.processAllAvailable()
    stream.addData(ev(7, 7L, "2024-01-01 12:00:00", "view"))
    q.processAllAvailable()
    stream.addData(ev(8, 7L, "2024-01-01 12:00:01", "view"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name)
      .select("run_len", "next_follow").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(rows.size === 1 && rows.head._1 === 3L &&
      rows.head._2.isDefined,
      s"late follow inside lateness must resolve the run as matched: $rows")
  }

  test("AsofEnrich: late left is not enriched with a future right") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "late_asof"
    val q = AsofEnrich.enrich(stream.toDS(), "error", "click")
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    stream.addData(ev(1, 7L, "2024-01-01 10:00:00", "click"))
    q.processAllAvailable()
    // a late error BEFORE the retained click: the as-of invariant
    // (click_ts <= err_ts) forbids enriching it with the 10:00 click
    stream.addData(ev(2, 7L, "2024-01-01 09:30:00", "error"),
      ev(3, 7L, "2024-01-01 10:30:00", "error"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("err_id", "click_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(got(2L) === None, "future right must not enrich a late left")
    assert(got(3L) === Some(1L))
  }

  test("AsofEnrich: stateTtl expires stale rights once the watermark passes") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "asof_ttl"
    val q = AsofEnrich.enrich(stream.toDS(), "error", "click",
        watermarkDelay = Some("10 minutes"), stateTtl = Some("30 minutes"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    // user 7's click is retained; an error inside the TTL is enriched
    stream.addData(ev(1, 7L, "2024-01-01 10:00:00", "click"))
    q.processAllAvailable()
    stream.addData(ev(2, 7L, "2024-01-01 10:20:00", "error"))
    q.processAllAvailable()
    // other-user traffic drives the watermark far past 10:00 + 30min
    stream.addData(ev(3, 99L, "2024-01-01 12:00:00", "view"))
    q.processAllAvailable()
    stream.addData(ev(4, 98L, "2024-01-01 12:01:00", "view"))
    q.processAllAvailable()
    // the 10:00 click is now expired state: this error goes unmatched
    stream.addData(ev(5, 7L, "2024-01-01 12:30:00", "error"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("err_id", "click_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(got(2L) === Some(1L), "inside the TTL the right must enrich")
    assert(got(5L) === None,
      s"beyond the TTL the expired right must not enrich: $got")
  }

  test("AsofEnrich: TTL is a data semantic — enforced even when the key " +
      "has traffic (no timeout fires) and in a single batch") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "asof_ttl_data"
    val q = AsofEnrich.enrich(stream.toDS(), "error", "click",
        watermarkDelay = Some("10 minutes"), stateTtl = Some("30 minutes"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    // ONE batch: click at 10:00, one error inside the TTL, one beyond it
    // — the key has data, so no event-time timeout is involved at all;
    // eligibility alone must decide, independent of batch boundaries
    stream.addData(ev(1, 7L, "2024-01-01 10:00:00", "click"),
      ev(2, 7L, "2024-01-01 10:29:00", "error"),
      ev(3, 7L, "2024-01-01 10:31:00", "error"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("err_id", "click_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(got(2L) === Some(1L))
    assert(got(3L) === None,
      s"left past right.ts + ttl must be unmatched on the data path: $got")
  }
}
