package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** A typed event row for the CEP detectors (mirrors the events table). */
case class CepEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One 2-step match: `first` (e.g. signup) followed by its first `second`
  * (e.g. purchase) within the window, per key — [[SeqProcessor]]'s row. */
case class CepMatch(user_id: Long, sid: Long, pid: Long,
    s_ts: Timestamp, p_ts: Timestamp)

/** One finished chain. Per step, in chain order, the matched event's id
  * and ts — `None` for a skipped optional step; an absence lists its
  * positive prefix only. `start_ts`/`end_ts` are the anchor's and the last
  * matched step's ts. `vals` holds the MEASURES in declared order
  * (MATCH_NUMBER as a double) and is empty without MEASURES. */
case class ChainMatch(user_id: Long, step_ids: Seq[Option[Long]],
    step_ts: Seq[Option[Timestamp]], start_ts: Timestamp, end_ts: Timestamp,
    vals: Seq[Double])

/** Per-key state, packed as primitive arrays (cheap to encode; nested
  * structs and options cost more to encode than the data they hold). The
  * partials — open ones, then `parked` finished prefixes awaiting an
  * absence verdict, then finished matches held for MATCH_NUMBER's ordered
  * release — lie end to end: `lens` gives each one's step count, `ids` and
  * `tss` (micros) its steps in chain order and `regs` its MEASURES
  * registers (none without MEASURES). `nots` holds the NOT-class event
  * times at or above the watermark; `counter` is the last assigned match
  * number, which must outlive every partial. */
case class ChainState(lens: Array[Int], ids: Array[Long], tss: Array[Long],
    regs: Array[Double], open: Int, parked: Int, nots: Array[Long],
    counter: Long)

/** The streaming engine for every unquantified MATCH PATTERN chain: plain
  * chains of any length, step conditions, optional steps, a trailing
  * `THEN NOT`, and MEASURES. [[ContinuousQueries.submitPattern]] sends the
  * whole family here; the batch twin is [[CepSql.translate]].
  *
  * Scan, per key, over the micro-batch's events in (ts, event_id) order:
  *
  *  - every event that satisfies the first step anchors a partial;
  *  - a partial takes the FIRST event of its next step with
  *    `last < ts <= anchor + within`; when that step is optional, an event
  *    of the step after it may claim the slot instead, skipping the
  *    optional step (the optional class is tried first, as a greedy regex
  *    scan would); one event may advance several partials, so each anchor
  *    gets its earliest completion (AFTER MATCH SKIP TO NEXT ROW);
  *  - with MEASURES, every event of the key folds into each open
  *    partial's accumulators (the span is anchor .. last match, inclusive,
  *    any type), and each matched step captures its class-ref columns.
  *
  * What happens to a finished partial:
  *
  *  - plain chains emit it at once;
  *  - with a trailing `THEN NOT z` the finished prefix is parked, killed by
  *    a z-event in `(last, anchor + within]`, and emitted once the
  *    watermark reaches `anchor + within` (inclusive: Spark drops stateful
  *    rows at ts <= watermark, so no admissible z can still arrive). The
  *    z-events seen at or above the watermark are kept, so a prefix that
  *    finishes late — inside the lateness bound — is killed by a z that was
  *    processed before it existed;
  *  - with MATCH_NUMBER a finished match is held until its own window has
  *    closed behind the watermark and no open or parked partial is anchored
  *    before it, then numbered in (anchor ts, anchor id) order from a
  *    per-key counter — the batch row_number.
  *
  * Absence verdicts and held releases are timer-driven (EventTimeTimeout),
  * so those forms need a watermarked streaming input; the engine adds no
  * watermark of its own. The other forms prune partials against the
  * watermark when there is one and against the batch's newest event
  * otherwise. Without span aggregates only events some step accepts reach
  * the shuffle. State is one row per key, bounded by the open windows. */
object ChainEngine extends Serializable {
  /** The ts slot of a skipped optional step. */
  private val Skipped: Long = Long.MinValue

  /** A partial or finished match while a key is processed, newest step
    * first: each step's event id and ts in micros ([[Skipped]] for a
    * skipped optional step; the oldest entry is the anchor, the newest
    * always a match), and its MEASURES registers. */
  private case class ChainPartial(ids: List[Long], tss: List[Long],
      regs: Seq[Double])

  private def us(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  /** Exact inverse of [[us]] for post-epoch event times. */
  private def tsOf(u: Long): Timestamp = {
    val t = new Timestamp(u / 1000000L * 1000L)
    t.setNanos(((u % 1000000L) * 1000L).toInt)
    t
  }

  /** Numeric accessor for a converter-schema column, for step conditions
    * and measures. `event_id`/`user_id` are exact as doubles (< 2^53);
    * other columns are batch-only and rejected loudly. */
  private[streaming] def numColumn(c: String): CepEvent => Double =
    c.toLowerCase(java.util.Locale.ROOT) match {
      case "value"    => _.value
      case "event_id" => _.event_id.toDouble
      case "user_id"  => _.user_id.toDouble
      case other => throw new IllegalArgumentException(
        s"streaming measures/conditions read the converter schema's " +
          s"numeric columns (value, event_id, user_id) — got '$other'; " +
          "run the batch rewrite via CepSql.sql")
    }

  /** `steps` are the positive steps' predicates in chain order (at least
    * two, or one before an `absent` step); `optional(i)` marks step i
    * optional (mid-chain, never two in a row; empty = none); `absent` is
    * the trailing NOT step's predicate. */
  def detect(events: Dataset[CepEvent], steps: Seq[CepEvent => Boolean],
      withinMs: Long, optional: Seq[Boolean] = Nil,
      absent: Option[CepEvent => Boolean] = None,
      measures: Seq[CepSql.Measure] = Nil): Dataset[ChainMatch] = {
    val n = steps.length
    val opt = if (optional.isEmpty) Seq.fill(n)(false) else optional
    require(n >= 2 || (n == 1 && absent.isDefined),
      "a pattern needs at least 2 steps")
    require(opt.length == n, "one optional flag per step")
    require(!opt.head && !opt.last,
      "optional steps are mid-chain only, before a concrete step")
    require(!opt.sliding(2).exists(_.forall(identity)),
      "consecutive optional steps are not supported")
    require(measures.isEmpty || !opt.contains(true),
      "MEASURES do not combine with optional steps")
    measures.foreach {
      case CepSql.SpanAgg(fn, c, _) =>
        require(Set("SUM", "AVG", "MIN", "MAX", "COUNT")(fn),
          s"unsupported measure fn '$fn'")
        if (c != "*") numColumn(c)
      case CepSql.ClassRef(_, c, step, _) =>
        numColumn(c)
        require(step >= 1 && step <= n, s"class-ref step $step out of range")
      case CepSql.MatchNum(_) => ()
      case other => throw new IllegalArgumentException(
        s"measure $other needs a quantified step")
    }
    val numbered = measures.exists(_.isInstanceOf[CepSql.MatchNum])
    val timed = numbered || absent.isDefined
    require(!timed || (events.isStreaming &&
        events.schema.exists(_.metadata.contains(EventTimeWatermark.delayKey))),
      "absence and MATCH_NUMBER verdicts fire on event-time timers — they " +
        "need a STREAMING input with a watermark (withWatermark); for batch " +
        "input use the batch rewrite via CepSql.sql")
    def lc(c: String) = c.toLowerCase(java.util.Locale.ROOT)
    // one accumulator slot per DISTINCT aggregated column, one capture slot
    // per distinct class-ref column
    val aggCols = measures.collect {
      case CepSql.SpanAgg(fn, c, _) if fn != "COUNT" && c != "*" => lc(c)
    }.distinct
    val refCols = measures.collect { case r: CepSql.ClassRef => lc(r.col) }
      .distinct
    val aggSels = aggCols.map(numColumn)
    val refSels = refCols.map(numColumn)
    val spans = measures.exists(_.isInstanceOf[CepSql.SpanAgg])
    val registers = spans || refCols.nonEmpty
    val withinUs = withinMs * 1000L
    // register layout: sums, mins, maxes (one slot per aggregated column),
    // the span count, then the class-ref captures of each matched step
    val na = aggCols.length
    val cntAt = 3 * na

    def start(p: ChainPartial): Long = p.tss.last
    def last(p: ChainPartial): Long = p.tss.head
    def order(p: ChainPartial): (Long, Long) = (start(p), p.ids.last)
    def vals(p: ChainPartial, no: Long): Seq[Double] = measures.map {
      case CepSql.SpanAgg(fn, c, _) =>
        lazy val i = aggCols.indexOf(lc(c))
        fn match {
          case "SUM" => p.regs(i)
          case "AVG" => p.regs(i) / p.regs(cntAt)
          case "MIN" => p.regs(na + i)
          case "MAX" => p.regs(2 * na + i)
          case _     => p.regs(cntAt)
        }
      case CepSql.ClassRef(_, c, step, _) =>
        p.regs(cntAt + 1 + (step - 1) * refCols.length +
          refCols.indexOf(lc(c)))
      case _ => no.toDouble
    }

    implicit val matchEnc = Encoders.product[ChainMatch]
    implicit val stateEnc = Encoders.product[ChainState]
    implicit val keyEnc = Encoders.scalaLong
    // a span aggregate reads every event of the key; otherwise only
    // events some step accepts can change a partial
    val input =
      if (spans) events
      else events.filter(e => steps.exists(_(e)) || absent.exists(_(e)))
    input.groupByKey(_.user_id)
      .flatMapGroupsWithState[ChainState, ChainMatch](OutputMode.Append(),
        if (timed) GroupStateTimeout.EventTimeTimeout()
        else GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[CepEvent], state: GroupState[ChainState]) =>
          var open, parked, held = List.empty[ChainPartial]
          var counter = 0L
          var prevNots = List.empty[Long]
          state.getOption.foreach { st =>
            var at, r = 0
            val parts = st.lens.toList.map { len =>
              val w = if (registers) cntAt + 1 + len * refCols.length else 0
              val p = ChainPartial(st.ids.slice(at, at + len).reverse.toList,
                st.tss.slice(at, at + len).reverse.toList,
                st.regs.slice(r, r + w).toSeq)
              at += len
              r += w
              p
            }
            open = parts.take(st.open)
            parked = parts.slice(st.open, st.open + st.parked)
            held = parts.drop(st.open + st.parked)
            counter = st.counter
            prevNots = st.nots.toList
          }
          val wmMs = scala.util.Try(state.getCurrentWatermarkMs()).toOption
          // a future prefix ends above the watermark, so only NOT events
          // at or above it can still kill one
          var nots =
            wmMs.fold(prevNots)(w => prevNots.filter(_ >= w * 1000L))
          val out = List.newBuilder[ChainMatch]
          def emit(p: ChainPartial, no: Long): Unit = {
            val taken = p.tss.reverse.map(t => Some(t).filter(_ != Skipped))
            out += ChainMatch(user,
              p.ids.reverse.lazyZip(taken).map((id, t) => t.map(_ => id)),
              taken.map(_.map(tsOf)), tsOf(start(p)), tsOf(last(p)),
              vals(p, no))
          }
          def finish(p: ChainPartial): Unit =
            if (absent.isDefined) {
              val (l, s) = (last(p), start(p))
              if (!nots.exists(z => z > l && z <= s + withinUs))
                parked = p :: parked
            } else if (numbered) held = p :: held
            else emit(p, 0L)

          var maxTs = 0L
          val batch =
            if (state.hasTimedOut) Array.empty[CepEvent]
            else it.toArray.sortBy(e => (us(e.ts), e.event_id))
          batch.foreach { e =>
            val t = us(e.ts)
            if (t > maxTs) maxTs = t
            if (absent.exists(_(e))) {
              parked = parked.filterNot(p =>
                t > last(p) && t <= start(p) + withinUs)
              if (wmMs.forall(w => t >= w * 1000L)) nots = t :: nots
            }
            val ev = aggSels.map(_(e))
            def fold(r: Seq[Double]) =
              r.indices.map { i =>
                if (i < na) r(i) + ev(i)
                else if (i < 2 * na) math.min(r(i), ev(i - na))
                else if (i < cntAt) math.max(r(i), ev(i - 2 * na))
                else if (i == cntAt) r(i) + 1
                else r(i)
              }
            // `skip`: the event fills the step after a skipped optional one
            def take(p: ChainPartial, skip: Boolean) = ChainPartial(
              e.event_id :: (if (skip) 0L :: p.ids else p.ids),
              t :: (if (skip) Skipped :: p.tss else p.tss),
              if (registers) p.regs ++ refSels.map(_(e)) else p.regs)
            open = open.flatMap { p0 =>
              val p = if (spans) p0.copy(regs = fold(p0.regs)) else p0
              val next = p.ids.length
              val moved =
                if (t <= last(p) || t > start(p) + withinUs) None
                else if (steps(next)(e)) Some(take(p, skip = false))
                else if (opt(next) && steps(next + 1)(e))
                  Some(take(p, skip = true))
                else None
              moved match {
                case Some(q) if q.ids.length == n => finish(q); Nil
                case Some(q) => List(q)
                case None => List(p)
              }
            }
            if (steps.head(e)) {
              val regs = if (!registers) Nil
                else ev ++ ev ++ ev ++ (1.0 +: refSels.map(_(e)))
              val p = ChainPartial(List(e.event_id), List(t), regs)
              if (n == 1) finish(p) else open = p :: open
            }
          }

          val horizon = wmMs.fold(maxTs)(_ * 1000L)
          open = open.filter(p => start(p) + withinUs >= horizon)
          if (absent.isDefined) {
            val (due, keep) =
              parked.partition(p => start(p) + withinUs <= horizon)
            parked = keep
            due.sortBy(order).foreach { p =>
              if (numbered) held = p :: held else emit(p, 0L)
            }
          }
          if (numbered) {
            // an open or parked partial anchored earlier could still
            // become an earlier-numbered match
            val minOpen = (open ++ parked).map(order).minOption
            val (rel, keep) = held.partition(p =>
              start(p) + withinUs <= horizon &&
                minOpen.forall(o => Ordering[(Long, Long)].gt(o, order(p))))
            rel.sortBy(order).foreach { p => counter += 1; emit(p, counter) }
            held = keep
          }
          if (open.isEmpty && parked.isEmpty && held.isEmpty && nots.isEmpty &&
              counter == 0L)
            state.remove()
          else {
            val all = open ++ parked ++ held
            state.update(ChainState(all.map(_.ids.length).toArray,
              all.flatMap(_.ids.reverse).toArray,
              all.flatMap(_.tss.reverse).toArray,
              all.flatMap(_.regs).toArray, open.length, parked.length,
              nots.toArray, counter))
            val waiting = if (numbered) parked ++ held ++ open else parked
            if (timed && waiting.nonEmpty)
              // +1 ms: getTime truncates the micros, so the true deadline
              // lies inside the truncated millisecond
              state.setTimeoutTimestamp(math.max(
                waiting.map(p => (start(p) + withinUs) / 1000L + 1).min,
                wmMs.get + 1))
          }
          out.result().iterator
      }
  }
}
