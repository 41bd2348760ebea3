package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** An open first-step event awaiting its match (TWS state row). */
case class OpenFirst(id: Long, ts: Timestamp)

/** The 2-step chain `first THEN second` on Spark 4's `transformWithState`
  * (SURVEY §7.1 M4 named this the preferred API, with
  * flatMapGroupsWithState as the fallback — [[ChainEngine]] runs every
  * unquantified chain on the latter; StreamingTwinSpec pins this one to
  * the batch `q_cep_seq`).
  *
  * What the new API buys at scale: typed per-key `ListState` in the state
  * store (RocksDB-ready), and EVENT-TIME TIMERS — expired-window pruning
  * runs when the watermark passes, not piggybacked on the next input for
  * the key, so an idle key's state is still reclaimed. That is the
  * unbounded-stream hygiene the reference delegated to Redis TTLs.
  */
class SeqProcessor(first: String, second: String, withinMs: Long)
    extends StatefulProcessor[Long, CepEvent, CepMatch] {
  @transient private var open: ListState[OpenFirst] = _

  private def us(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getListState[OpenFirst]("open",
      Encoders.product[OpenFirst], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[CepEvent],
      timers: TimerValues): Iterator[CepMatch] = {
    var opens = if (open.exists()) open.get().toList else Nil
    val out = List.newBuilder[CepMatch]
    val batch = rows.toArray.sortBy(e => (us(e.ts), e.event_id))
    var maxMs = 0L
    batch.foreach { e =>
      val t = us(e.ts)
      if (e.ts.getTime > maxMs) maxMs = e.ts.getTime
      if (e.event_type == second) {
        val (hit, miss) = opens.partition(o =>
          t > us(o.ts) && t <= us(o.ts) + withinMs * 1000L)
        hit.foreach(o => out += CepMatch(key, o.id, e.event_id, o.ts, e.ts))
        opens = miss
      }
      if (e.event_type == first) opens = OpenFirst(e.event_id, e.ts) :: opens
    }
    // the state store rejects empty list writes — clear() instead
    if (opens.isEmpty) open.clear() else open.put(opens.toArray)
    // event-time timer: prune this key when the watermark passes the
    // window end of its newest open first (idle keys still get cleaned)
    if (opens.nonEmpty) getHandle.registerTimer(maxMs + withinMs)
    out.result().iterator
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[CepMatch] = {
    val wmUs = timers.getCurrentWatermarkInMs * 1000L
    if (open.exists()) {
      val keep = open.get().toList.filter(o =>
        us(o.ts) + withinMs * 1000L >= wmUs)
      if (keep.isEmpty) open.clear() else open.put(keep.toArray)
    }
    Iterator.empty
  }
}

object CepSequenceTws {
  /** Requires the RocksDB state store provider (transformWithState uses
    * multiple column families — HDFSBackedStateStoreProvider rejects it;
    * apply [[StreamingConf.rocksDb]]) and a watermark on `events.ts`
    * (event-time timers). */
  def detect(events: Dataset[CepEvent], first: String, second: String,
      withinMs: Long, lateness: String): Dataset[CepMatch] = {
    implicit val enc = Encoders.product[CepMatch]
    implicit val keyEnc = Encoders.scalaLong
    events.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new SeqProcessor(first, second, withinMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
