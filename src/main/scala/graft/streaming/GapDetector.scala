package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A detected per-key silence: no event for >= the threshold. */
case class GapMatch(user_id: Long, gap_start: Timestamp, gap_end: Timestamp,
    gap_min: Long)

/** The newest event seen so far for a key. */
case class LastEvent(ts: Timestamp, id: Long)

/** Streaming twin of the batch key `q_sequence_gap` (SURVEY §2.9, the gap
  * side of gaps-and-islands): emits a [[GapMatch]] when an event arrives
  * after >= `minGapMinutes` of per-key silence. Semantics match the batch
  * lead()-window formulation exactly under the same (ts, event_id) total
  * order — a gap is the distance between ADJACENT events, so it is
  * emitted on the closing event's arrival, deterministically.
  *
  * State per key is ONE (ts, id) row — O(keys), not O(stream). A
  * cross-batch late event (older than the retained newest) is ignored by
  * the monotonic rule, matching what a watermark would have done to it
  * upstream. Unlike [[ChainEngine]]'s absence forms (which need timers to
  * prove a non-arrival), a gap is closed BY an arrival, so no timeout machinery
  * is required — silence that never ends is never reported (batch
  * agrees: lead() is NULL on the last event).
  */
object GapDetector {
  private def us(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  def detect(events: Dataset[CepEvent], minGapMinutes: Long = 60)
      : Dataset[GapMatch] = {
    implicit val outEnc = Encoders.product[GapMatch]
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val keyEnc = Encoders.scalaLong

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, GapMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[CepEvent], state: GroupState[LastEvent]) =>
          var last = state.getOption
          val out = List.newBuilder[GapMatch]
          it.toArray.sortBy(e => (us(e.ts), e.event_id)).foreach { e =>
            last match {
              case Some(l) if us(e.ts) > us(l.ts) ||
                  (us(e.ts) == us(l.ts) && e.event_id > l.id) =>
                // integer minutes, exactly the batch key's
                // `unix_micros div 60000000` arithmetic
                val gapMin = (us(e.ts) - us(l.ts)) / 60000000L
                if (gapMin >= minGapMinutes)
                  out += GapMatch(user, l.ts, e.ts, gapMin)
                last = Some(LastEvent(e.ts, e.event_id))
              case Some(_) => () // late (or duplicate) event: ignore
              case None => last = Some(LastEvent(e.ts, e.event_id))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }
}
