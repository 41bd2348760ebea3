package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One matched quantified chain: per step, `step_vals(i)` is the event id
  * (unquantified step) or the RUN LENGTH (quantified step), and
  * `step_ts(i)` the event ts / run end — the streaming twin of the batch
  * generalized-chain output (id_i/len_i + ts_i). */
case class RunChainMatch(user_id: Long, step_vals: Seq[Long],
    step_ts: Seq[Timestamp], start_ts: Timestamp, end_ts: Timestamp)

/** One open partial: values/ts matched so far (reversed), the anchor
  * window start, the previous step's match time, and — when the current
  * step is quantified — the open run (start ts, last ts, length);
  * `runStart/runLast` are null when no run is open. */
case class RunChainPartial(vals: List[Long], tss: List[Timestamp],
    anchorTs: Timestamp, prevTs: Timestamp,
    runStart: Timestamp, runLast: Timestamp, runLen: Long)

/** A completed prefix awaiting its absence verdict (absent mode only):
  * vals/tss in chain order; `start` = ts_1 (window anchor), `end` =
  * the prefix's last matched time (cancellers must be strictly after). */
case class RunChainPending(vals: List[Long], tss: List[Timestamp],
    start: Timestamp, end: Timestamp)

/** `pending`/`cancels` are used by the absent mode only (empty lists
  * otherwise): completed prefixes held for the watermark verdict, and
  * completion-class events retained for late-completing prefixes
  * (pruned to the lateness horizon, [[ChainEngine]]'s discipline). */
case class RunChainState(partials: List[RunChainPartial],
    pending: List[RunChainPending] = Nil,
    cancels: List[Timestamp] = Nil)

/** A measured quantified-chain match (r8): [[RunChainMatch]] plus
  * `vals(i)` = measure i in declared MEASURES order (span aggregates
  * and COUNT only — the streaming surface of the batch quantified
  * measures rewrite). */
case class RunChainMeasured(user_id: Long, step_vals: Seq[Long],
    step_ts: Seq[Timestamp], start_ts: Timestamp, end_ts: Timestamp,
    vals: Seq[Double])

/** One open measured partial: [[RunChainPartial]]'s fields + span
  * accumulators (one sum/min/max slot per distinct aggregated column,
  * one shared count). Invariant: `cnt == 0` ⇔ the span has not started
  * (a quantified-head tracker between runs). */
case class RunChainMPartial(vals: List[Long], tss: List[Timestamp],
    anchorTs: Timestamp, prevTs: Timestamp,
    runStart: Timestamp, runLast: Timestamp, runLen: Long,
    sums: Seq[Double], cnt: Long, mns: Seq[Double], mxs: Seq[Double],
    bnd: Seq[Double] = Nil, hrsid: Long = 0L)

/** A completed measured match held for MATCH_NUMBER release (r9):
  * `hrsid` is the anchor identity — the head run's START row id for a
  * quantified head, the anchor event id otherwise — exactly the batch
  * numbering tie-break ((ts_1, rsid_1) / (ts_1, id_1)). */
case class RunChainMDone(m: RunChainMeasured, hrsid: Long)

case class RunChainMState(partials: List[RunChainMPartial],
    done: List[RunChainMDone] = Nil, counter: Long = 0L,
    // completed positive prefixes awaiting the absent form's watermark
    // verdict (r14) — their spans froze at the last positive match by
    // construction (only partials fold). NOTE: this field breaks
    // state-store schema compatibility with pre-r14 checkpoints of
    // measure queries (MIGRATION.md §4).
    waiting: List[RunChainMDone] = Nil)

/** Streaming quantified chains (r7): `MATCH PATTERN` chains with `{m,}`
  * on any step — the last pattern form [[ContinuousQueries.submitPattern]]
  * rejected. Mirrors the batch generalized-chain rewrite exactly:
  *
  *  - an unquantified step takes the FIRST event of its class strictly
  *    after the previous step's time, inside `anchor + within`
  *    ([[ChainEngine]] rules; a quantified FIRST step anchors at its
  *    run's END, consistent with the batch window anchoring);
  *  - a quantified step takes the FIRST MAXIMAL run of ≥ m consecutive
  *    class events whose start is strictly after the previous step and
  *    whose END fits the window (whole-run semantics). "Consecutive"
  *    means consecutive in the key's FULL stream — ANY other event
  *    breaks a run — so this detector must see every event of the key
  *    (no type pruning; the batch twin scans the whole table for the
  *    same reason).
  *
  * A run's verdict needs its CLOSING event (maximal runs stay extendable
  * until a non-class event arrives — same contract as
  * [[RunDetector]]'s open runs), so emission is event-driven; a partial
  * whose window the watermark has closed is pruned unless its still-open
  * run could yet qualify. State per key is O(open partials), each
  * carrying one open run at most — bounded for unbounded streams.
  *
  * `THEN NOT` after a quantified prefix streams via [[detectAbsent]]
  * (r8). RunChainSpec pins replay ≡ the batch rewrite for both. */
object RunChainDetector {
  private def us(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** One (classes, minTimes) spec per step; minTimes None = plain step. */
  def detect(events: Dataset[CepEvent],
      steps: Seq[(Set[String], Option[Int])], withinMs: Long)
      : Dataset[RunChainMatch] =
    detect(events, steps, withinMs, steps.map(_ => None))

  /** Bounded-quantifier form (r7, `{m,n}`/`{m}`): `maxTimes(i)` caps step
    * i's accepted run length with whole-run semantics — a maximal run
    * longer than the cap does not qualify (the tracker waits for the
    * next run instead), mirroring the batch HAVING bound exactly. */
  def detect(events: Dataset[CepEvent],
      steps: Seq[(Set[String], Option[Int])], withinMs: Long,
      maxTimes: Seq[Option[Int]])
      : Dataset[RunChainMatch] =
    detectWhere(events,
      steps.map { case (cls, mt) =>
        ((e: CepEvent) => cls.contains(e.event_type), mt)
      }, withinMs, maxTimes)

  /** Predicate form (r8, DEFINE-lite conditions on quantified chains):
    * each step is (predicate, minTimes). The predicate REPLACES the class
    * test everywhere the class test appeared — so for a quantified step,
    * an event that fails the predicate (wrong type OR failed condition)
    * BREAKS the open run, exactly like the batch gaps-and-islands
    * indicator `CASE WHEN <type AND cond> THEN 1 ELSE 0 END`: runs are
    * maximal stretches of consecutive predicate-satisfying events, and a
    * same-class event outside the condition is a run breaker, not a
    * bystander. */
  def detectWhere(events: Dataset[CepEvent],
      steps: Seq[(CepEvent => Boolean, Option[Int])], withinMs: Long,
      maxTimes: Seq[Option[Int]], lazySteps: Seq[Boolean] = Nil)
      : Dataset[RunChainMatch] =
    core(events, steps, withinMs, maxTimes, None, lazySteps)

  /** Absence after a quantified chain (r8): `steps` is the PREFIX
    * (>= 2 steps, >= 1 quantifier, predicate form); a match is a fully
    * completed prefix with NO `absentP` event in
    * `(prefix end, ts_1 + within]` — the batch `translateChain` absent
    * rewrite's anti join after the quantified rank-1 prefix.
    *
    * Composes the quantified-prefix machinery above with
    * [[ChainEngine]]'s verdict discipline: a completed prefix
    * is held PENDING; a condition-satisfying completion cancels it; the
    * verdict "nothing arrived" is only provable by the WATERMARK
    * crossing `ts_1 + within`, so emission is timer-driven
    * (EventTimeTimeout) and the input is watermarked here with
    * `lateness`. Completion-class events at or above the watermark are
    * retained so a prefix that COMPLETES late (its run's closing event
    * arrives within the lateness bound) is pre-cancelled by a
    * completion processed earlier. The same event may close a run,
    * complete the prefix, and cancel it — handled by checking the
    * staged completions against the current event before they pend. */
  def detectAbsent(events: Dataset[CepEvent],
      steps: Seq[(CepEvent => Boolean, Option[Int])], withinMs: Long,
      maxTimes: Seq[Option[Int]], absentP: CepEvent => Boolean,
      lateness: String, lazySteps: Seq[Boolean] = Nil)
      : Dataset[RunChainMatch] =
    core(events.withWatermark("ts", lateness), steps, withinMs, maxTimes,
      Some(absentP), lazySteps)

  private def core(events: Dataset[CepEvent],
      steps: Seq[(CepEvent => Boolean, Option[Int])], withinMs: Long,
      maxTimes: Seq[Option[Int]], absentP: Option[CepEvent => Boolean],
      lazyStepsIn: Seq[Boolean] = Nil)
      : Dataset[RunChainMatch] = {
    // RELUCTANT steps (r8, `{m,}?`): lazySteps(i) truncates step i's run
    // to its first m events — completion fires ON the m-th class event
    // instead of waiting for the island's breaker. An empty seq means
    // all-greedy (the pre-r8 callers).
    val lazySteps =
      if (lazyStepsIn.isEmpty) steps.map(_ => false) else lazyStepsIn
    require(lazySteps.length == steps.length,
      "one lazySteps entry per step")
    lazySteps.lazyZip(steps).foreach { case (lz, (_, mt)) =>
      require(!lz || mt.isDefined, "a lazy flag needs a quantified step")
      // m = 1 lazy ({1,}?) would need completion checks on the anchor
      // and greedy-close fast paths too — batch-routed instead (loud)
      require(!lz || mt.exists(_ >= 2),
        "reluctant {1,}? stays batch-routed — use CepSql.sql")
    }
    require(maxTimes.length == steps.length,
      "one maxTimes entry per step (None = uncapped)")
    require(steps.length >= 2, "a pattern needs at least 2 steps")
    require(steps.exists(_._2.isDefined),
      "no quantifier — use ChainEngine for plain chains")
    val n = steps.length
    val withinUs = withinMs * 1000L
    implicit val matchEnc = Encoders.product[RunChainMatch]
    implicit val stateEnc = Encoders.product[RunChainState]
    implicit val keyEnc = Encoders.scalaLong
    val timeoutConf =
      if (absentP.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunChainState, RunChainMatch](
        OutputMode.Append(), timeoutConf) {
        (user: Long, it: Iterator[CepEvent], state: GroupState[RunChainState]) =>
          val prev = state.getOption.getOrElse(RunChainState(Nil))
          var partials = prev.partials
          var pending = prev.pending
          val wmMsOpt =
            scala.util.Try(state.getCurrentWatermarkMs()).toOption
          val wmMs = wmMsOpt.getOrElse(0L)
          // cancels bounded by the lateness horizon: any future prefix
          // completion ends above the watermark, and its cancellers sit
          // beyond that
          var cancels = prev.cancels.filter(_.getTime >= wmMs)
          val out = List.newBuilder[RunChainMatch]
          val batch =
            if (state.hasTimedOut) Array.empty[CepEvent]
            else it.toArray.sortBy(e => (us(e.ts), e.event_id))
          var maxTs = 0L

          def windowEnd(p: RunChainPartial): Long =
            // a quantified FIRST step measures the window from the run's
            // end = ts_1, which is tss.last once step 1 is matched
            us(if (p.tss.isEmpty) p.anchorTs else p.tss.last) + withinUs

          // prefixes completed while processing the CURRENT event
          // (absent mode only) — staged so the event's own cancel check
          // runs before they pend
          var completedNow: List[RunChainPending] = Nil

          // advance `p` with a completed QUALIFYING run (or plain event):
          // returns the advanced partial; a finished chain emits (stages,
          // in absent mode)
          def advance(p: RunChainPartial, v: Long, ts: Timestamp)
              : Option[RunChainPartial] = {
            val vals2 = v :: p.vals
            val tss2 = ts :: p.tss
            if (vals2.length == n) {
              if (absentP.isDefined)
                completedNow = RunChainPending(vals2.reverse, tss2.reverse,
                  tss2.last, ts) :: completedNow
              else
                out += RunChainMatch(user, vals2.reverse, tss2.reverse,
                  tss2.last, ts)
              None
            } else Some(RunChainPartial(vals2, tss2, p.anchorTs, ts,
              null, null, 0L))
          }

          batch.foreach { e =>
            val t = us(e.ts)
            completedNow = Nil
            // absent mode: a completion-class event cancels every pending
            // prefix whose window covers it (strictly after the prefix
            // end, like the batch anti join's b.ts > ts_np)
            absentP.foreach { ap =>
              if (ap(e)) {
                pending = pending.filterNot(p =>
                  t > us(p.end) && t <= us(p.start) + withinUs)
                if (e.ts.getTime >= wmMs) cancels = e.ts :: cancels
              }
            }
            if (t > maxTs) maxTs = t
            partials = partials.flatMap { p =>
              val step = p.vals.length // 0-based index of the awaited step
              val (pred, mt) = steps(step)
              val inClass = pred(e)
              mt match {
                case None =>
                  // plain step: first class event strictly after prevTs
                  if (inClass && t > us(p.prevTs) && t <= windowEnd(p))
                    advance(p, e.event_id, e.ts).toList
                  else List(p)
                case Some(m) =>
                  val lz = lazySteps(step)
                  // RELUCTANT completion (r8): the m-th class event of a
                  // fresh island completes the lazy run right here — the
                  // chain continues from this event; the island's
                  // remaining class events are consumed (head: a
                  // runLen = -1 suppressor holds the single-tracker slot
                  // until a breaker, so event m+1 cannot anchor a second
                  // lazy match inside the SAME island, mirroring the
                  // batch one-match-per-island truncation).
                  def lazyComplete(p1: RunChainPartial)
                      : List[RunChainPartial] = {
                    val qualifies = us(p1.runStart) > us(p1.prevTs) &&
                      (step == 0 || t <= windowEnd(p1))
                    if (!qualifies) {
                      if (step > 0 && t > windowEnd(p1)) Nil
                      // runStart <= prevTs edge: batch rejects the WHOLE
                      // island (its global start precedes the previous
                      // match), so consume it — a reset here would let
                      // event m+1 re-open mid-island and manufacture a
                      // run batch never had
                      else List(p1.copy(runLen = -1L))
                    } else {
                      val adv = advance(p1.copy(runStart = null,
                        runLast = null, runLen = 0L), m.toLong, e.ts)
                      val supp =
                        if (step == 0)
                          List(RunChainPartial(Nil, Nil, e.ts,
                            new Timestamp(0L), e.ts, e.ts, -1L))
                        else Nil
                      adv.toList ::: supp
                    }
                  }
                  if (inClass) {
                    if (lz && p.runLen == -1L) List(p) // consumed island
                    else if (p.runStart == null) {
                      // runs that START inside the window are the only
                      // candidates; a run starting beyond it means every
                      // later run is beyond it too -> partial is dead.
                      // (step 1 quantified: the window is unanchored
                      // until the run completes - never dead here.)
                      if (step > 0 && t > windowEnd(p)) Nil
                      // (m >= 2 for lazy steps, so an open never
                      // completes the run)
                      else List(p.copy(runStart = e.ts, runLast = e.ts,
                        runLen = 1L))
                    } else {
                      val p1 = p.copy(runLast = e.ts,
                        runLen = p.runLen + 1L)
                      if (lz && p1.runLen == m) lazyComplete(p1)
                      else List(p1)
                    }
                  } else if (p.runStart != null && lz) {
                    // lazy breaker: a sub-m island failed (or a consumed
                    // island ended) — re-idle the tracker either way
                    List(p.copy(runStart = null, runLast = null,
                      runLen = 0L))
                  } else if (p.runStart != null) {
                    // a non-class event CLOSES the open run: qualify it
                    val qualifies = p.runLen >= m &&
                      maxTimes(step).forall(p.runLen <= _) &&
                      us(p.runStart) > us(p.prevTs) &&
                      (step == 0 || us(p.runLast) <= windowEnd(p))
                    if (qualifies) {
                      val adv = advance(p.copy(runStart = null,
                        runLast = null, runLen = 0L), p.runLen, p.runLast)
                      // the closing event may itself serve the NEXT step
                      adv match {
                        case Some(p2) =>
                          val (pred2, mt2) = steps(p2.vals.length)
                          if (mt2.isEmpty && pred2(e) &&
                              t > us(p2.prevTs) && t <= windowEnd(p2))
                            advance(p2, e.event_id, e.ts).toList
                          else if (mt2.isDefined && pred2(e) &&
                              t <= windowEnd(p2))
                            List(p2.copy(runStart = e.ts, runLast = e.ts,
                              runLen = 1L))
                          else List(p2)
                        case None => Nil
                      }
                    } else List(p.copy(runStart = null, runLast = null,
                      runLen = 0L)) // failed run: wait for the next one
                  } else List(p)
              }
            }
            // every head-predicate event anchors a new partial
            val (headPred, headMt) = steps.head
            if (headPred(e)) {
              val anchored = RunChainPartial(Nil, Nil, e.ts, e.ts,
                null, null, 0L)
              headMt match {
                case None =>
                  // plain head: the event itself is step 1. Anchor only
                  // if no identical partial exists (each head event is
                  // its own anchor, as in ChainEngine).
                  advance(anchored.copy(prevTs =
                    new Timestamp(0L)), e.event_id, e.ts)
                    .foreach(p2 => partials = p2 :: partials)
                case Some(_) =>
                  // quantified head: runs are per-KEY maximal, so ONE
                  // run tracker suffices — anchor a single partial when
                  // none is currently tracking a head run
                  val tracking = partials.exists(p =>
                    p.vals.isEmpty && p.runStart != null)
                  if (!tracking)
                    partials = anchored.copy(runStart = e.ts,
                      runLast = e.ts, runLen = 1L,
                      prevTs = new Timestamp(0L)) :: partials
              }
            }
            // absent mode: stage the prefixes completed AT this event —
            // dead on arrival when the current event or a remembered
            // completion already cancels them (a run-closing canceller
            // completes the prefix and kills it in one stroke; the
            // cancels memory covers prefixes completing late)
            absentP.foreach { ap =>
              val live = completedNow.filterNot { p =>
                (ap(e) && t > us(p.end) && t <= us(p.start) + withinUs) ||
                  cancels.exists(c => us(c) > us(p.end) &&
                    us(c) <= us(p.start) + withinUs)
              }
              pending = live ::: pending
            }
          }

          // prune: a partial whose window the horizon has passed can only
          // still qualify through a run that is already OPEN (its closing
          // event may come later); an idle quantified-head tracker (no
          // open run, nothing matched) carries no information — the
          // anchor code recreates one on demand — so it is dropped too
          val horizon = scala.util.Try(state.getCurrentWatermarkMs() * 1000L)
            .getOrElse(maxTs)
          partials = partials.filter { p =>
            p.runStart != null ||
              (p.tss.nonEmpty && windowEnd(p) >= horizon)
          }
          // absent mode: watermark-proven absences emit (timer-driven or
          // piggybacked on an input batch). Inclusive <=: Spark drops
          // stateful late rows at ts <= watermark, so once wm >=
          // ts_1+within no admissible canceller can still arrive (see
          // ChainEngine's scaladoc).
          absentP.foreach { _ =>
            val wmUs = wmMs * 1000L
            val (due, keep) = pending.partition(p =>
              us(p.start) + withinUs <= wmUs)
            due.sortBy(p => (us(p.start), p.vals.head)).foreach { p =>
              out += RunChainMatch(user, p.vals, p.tss, p.start, p.end)
            }
            pending = keep
          }
          if (partials.isEmpty && pending.isEmpty && cancels.isEmpty)
            state.remove()
          else {
            state.update(RunChainState(partials, pending, cancels))
            if (absentP.isDefined && pending.nonEmpty) {
              val nextMs = pending
                .map(p => (us(p.start) + withinUs) / 1000L + 1).min
              state.setTimeoutTimestamp(math.max(nextMs, wmMs + 1))
            }
          }
          out.result().iterator
      }
  }

  /** Measured quantified chains (r8): [[detectWhere]]'s scan rules plus
    * span-aggregate accumulators — the streaming twin of the batch
    * quantified-measures rewrite. The span runs from the match's FIRST
    * row (a quantified head's run START — accumulators re-seed whenever
    * the head tracker opens a fresh run, and reset when a head run
    * fails) to its LAST row, inclusive, any type. The one subtle row is
    * a quantified LAST step's CLOSING event: it proves the run maximal
    * but sits OUTSIDE the span, so a chain completing on a run closure
    * emits with the PRE-fold accumulators, while the same closing event
    * folds forward when the chain continues (it lies between matched
    * rows). Span aggregates, COUNT, and (r8) FIRST/LAST boundary refs
    * over numeric converter columns AND (r9) `ts` — the partial carries
    * one boundary slot per measure, seeded at each candidate run's open
    * and (LAST) refreshed per run event, so a failed run's stale slots
    * are always overwritten by the accepted run; a ts boundary rides
    * the slot as exact event micros and casts back to TIMESTAMP at
    * emission. MATCH_NUMBER streams since r9 via ChainEngine's
    * held-release discipline — a completed match takes its number only
    * once the watermark closes its window and no open partial could
    * still complete into an earlier-ordered match, ordered by
    * (ts_1, anchor identity): the head run's START row id for a
    * quantified head (the batch "ts_1, rsid_1"), the anchor event id
    * otherwise. Class refs on unquantified steps stay batch-routed
    * (they need a single matched row's arbitrary column).
    * Matches the batch span join exactly
    * on in-order replay (RunChainSpec law); out-of-order span events
    * inside the lateness bound still advance STEPS but cannot
    * retro-enter an already-accumulated span — batch is authoritative
    * there. */
  /** `absentPred` (r14): the trailing NOT step's predicate — `steps`
    * then lists only the POSITIVE prefix. A partial completing the
    * prefix parks (its span froze at the last positive match — parked
    * items never fold); a NOT-class event strictly after that match
    * inside the anchor window kills it; the no-follow verdict emits
    * once the watermark passes the anchor deadline (timer-driven — a
    * WATERMARKED streaming input required). Matches the batch
    * anti-join-wrapped measures rewrite; MATCH_NUMBER composes
    * (verdicts join the held list; waiting prefixes block release
    * like open partials). */
  def detectMeasures(events: Dataset[CepEvent],
      steps: Seq[(CepEvent => Boolean, Option[Int])], withinMs: Long,
      maxTimes: Seq[Option[Int]], measures: Seq[CepSql.Measure],
      lazyStepsIn: Seq[Boolean] = Nil,
      absentPred: Option[CepEvent => Boolean] = None)
      : Dataset[RunChainMeasured] = {
    val absent = absentPred.isDefined
    require(!absent || events.isStreaming,
      "the absent measures form needs a STREAMING watermarked input " +
        "(no-Z verdicts are timer-driven; for batch input use the " +
        "batch rewrite via CepSql.sql)")
    // RELUCTANT steps (r8): same lazy completion as [[core]] — the run
    // truncates at its m-th event, which IS a span row, so lazy
    // completions fold POST (unlike a greedy closure, whose closing
    // event sits outside the span and emits PRE-fold).
    val lazySteps =
      if (lazyStepsIn.isEmpty) steps.map(_ => false) else lazyStepsIn
    require(lazySteps.length == steps.length,
      "one lazySteps entry per step")
    lazySteps.lazyZip(steps).foreach { case (lz, (_, mt)) =>
      require(!lz || mt.isDefined, "a lazy flag needs a quantified step")
      require(!lz || mt.exists(_ >= 2),
        "reluctant {1,}? stays batch-routed — use CepSql.sql")
    }
    require(maxTimes.length == steps.length,
      "one maxTimes entry per step (None = uncapped)")
    require(steps.length >= 2 || (absent && steps.nonEmpty),
      "a pattern needs at least 2 steps")
    require(steps.exists(_._2.isDefined),
      "no quantifier — use ChainEngine for plain chains")
    require(measures.nonEmpty, "at least one measure")
    measures.foreach {
      case CepSql.SpanAgg(fn, c, _) =>
        require(Set("SUM", "AVG", "MIN", "MAX", "COUNT")(fn),
          s"unsupported measure fn '$fn'")
        if (c != "*") ChainEngine.numColumn(c) // loud on non-numeric
      case CepSql.BoundRef(fn, _, c, st, _) =>
        // boundary refs (r8; ts since r9): the partial carries the
        // referenced run's boundary VALUES, one slot per measure. A ts
        // boundary rides the same Double slot as event MICROS — exact
        // (2026-era micros ≈ 1.8e15 < 2^53) — and casts back to
        // TIMESTAMP at emission (ContinuousQueries), so the batch
        // rewrite's run_start/run_end columns stream bit-identically.
        require(Set("FIRST", "LAST")(fn), s"unsupported boundary fn '$fn'")
        require(st >= 1 && st <= steps.length && steps(st - 1)._2.isDefined,
          s"FIRST/LAST reference step $st, which is not quantified")
        if (!c.equalsIgnoreCase("ts"))
          ChainEngine.numColumn(c) // loud on non-numeric
      case _: CepSql.MatchNum => () // streams since r9 (held-release)
      case CepSql.ClassRef(_, c, st, _) =>
        // class refs on UNQUANTIFIED steps stream since r9: the matched
        // row's column is captured into the same per-measure slot
        // vector the boundary refs use, at the step's advance. (A ref
        // to a quantified step never reaches here — the parser desugars
        // it to LAST.) ts rides the slot as exact micros.
        require(st >= 1 && st <= steps.length && steps(st - 1)._2.isEmpty,
          s"class ref step $st must be unquantified (runs desugar to " +
            "FIRST/LAST)")
        if (!c.equalsIgnoreCase("ts")) ChainEngine.numColumn(c)
      case m => throw new IllegalArgumentException(
        s"streaming quantified-chain measures support span aggregates, " +
          s"class refs, FIRST/LAST boundary refs, and MATCH_NUMBER — " +
          s"got '$m'; run the batch rewrite via CepSql.sql")
    }
    val clsRefs: Seq[(CepSql.ClassRef, Int, CepEvent => Double)] =
      measures.zipWithIndex.collect {
        case (cr: CepSql.ClassRef, j) =>
          val get: CepEvent => Double =
            if (cr.col.equalsIgnoreCase("ts")) e => us(e.ts).toDouble
            else ChainEngine.numColumn(cr.col)
          (cr, j, get)
      }
    // MATCH_NUMBER (r9): ChainEngine's held-release
    // discipline — a completed match takes its number only once the
    // watermark closes its window and no open partial could still
    // complete into an earlier-ordered match. Ordering key =
    // (ts_1, anchor identity): the head run's START row id for a
    // quantified head (the batch mnOrd "ts_1, rsid_1"), the anchor
    // event id otherwise ("ts_1, id_1").
    val hasNum = measures.exists(_.isInstanceOf[CepSql.MatchNum])
    val numIdx = measures.zipWithIndex.collect {
      case (_: CepSql.MatchNum, j) => j }
    val bndRefs: Seq[(CepSql.BoundRef, Int, CepEvent => Double)] =
      measures.zipWithIndex.collect {
        case (b: CepSql.BoundRef, j) =>
          val get: CepEvent => Double =
            if (b.col.equalsIgnoreCase("ts")) e => us(e.ts).toDouble
            else ChainEngine.numColumn(b.col)
          (b, j, get)
      }
    val bndZero: Seq[Double] = measures.map(_ => 0.0)
    val aggCols = measures.collect {
      case CepSql.SpanAgg(fn, c, _) if fn != "COUNT" && c != "*" =>
        c.toLowerCase(java.util.Locale.ROOT)
    }.distinct
    val aggSels = aggCols.map(ChainEngine.numColumn)
    val zero = aggCols.map(_ => 0.0)
    val n = steps.length
    val withinUs = withinMs * 1000L
    implicit val matchEnc = Encoders.product[RunChainMeasured]
    implicit val stateEnc = Encoders.product[RunChainMState]
    implicit val keyEnc = Encoders.scalaLong

    val timeoutConf =
      if (hasNum || absent) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RunChainMState, RunChainMeasured](
        OutputMode.Append(), timeoutConf) {
        (user: Long, it: Iterator[CepEvent],
            state: GroupState[RunChainMState]) =>
          val prev = state.getOption.getOrElse(RunChainMState(Nil))
          var partials = prev.partials
          var done = prev.done
          var counter = prev.counter
          var waiting = prev.waiting
          val out = List.newBuilder[RunChainMeasured]
          val batch =
            if (state.hasTimedOut) Array.empty[CepEvent]
            else it.toArray.sortBy(e => (us(e.ts), e.event_id))
          var maxTs = 0L

          def windowEnd(p: RunChainMPartial): Long =
            us(if (p.tss.isEmpty) p.anchorTs else p.tss.last) + withinUs

          def measureVals(sums: Seq[Double], cnt: Long, mns: Seq[Double],
              mxs: Seq[Double], bnd: Seq[Double]): Seq[Double] =
            measures.zipWithIndex.map {
              case (CepSql.SpanAgg(fn, c, _), _) =>
                lazy val i =
                  aggCols.indexOf(c.toLowerCase(java.util.Locale.ROOT))
                fn match {
                  case "SUM" => sums(i)
                  case "AVG" => sums(i) / cnt
                  case "MIN" => mns(i)
                  case "MAX" => mxs(i)
                  case _     => cnt.toDouble
                }
              case (_: CepSql.BoundRef, j) =>
                if (bnd.isEmpty) 0.0 else bnd(j)
              case (_: CepSql.ClassRef, j) =>
                if (bnd.isEmpty) 0.0 else bnd(j)
              case _ => 0.0 // MatchNum: patched at numbered release
            }

          // advance with (emitAcc, contAcc): a completion emits with
          // emitAcc; a surviving partial carries contAcc (they differ
          // exactly when the advancing row is a run's closing event)
          def advance(p: RunChainMPartial, v: Long, ts: Timestamp,
              emit: (Seq[Double], Long, Seq[Double], Seq[Double]),
              cont: (Seq[Double], Long, Seq[Double], Seq[Double]))
              : Option[RunChainMPartial] = {
            val vals2 = v :: p.vals
            val tss2 = ts :: p.tss
            if (vals2.length == n) {
              val m = RunChainMeasured(user, vals2.reverse, tss2.reverse,
                tss2.last, ts,
                measureVals(emit._1, emit._2, emit._3, emit._4, p.bnd))
              // absent (r14): the completed PREFIX parks until the
              // watermark verdict (parked items never fold, so the
              // span froze at this — the last positive — match)
              if (absent) waiting = RunChainMDone(m, p.hrsid) :: waiting
              else if (hasNum) done = RunChainMDone(m, p.hrsid) :: done
              else out += m
              None
            } else Some(RunChainMPartial(vals2, tss2, p.anchorTs, ts,
              null, null, 0L, cont._1, cont._2, cont._3, cont._4, p.bnd,
              p.hrsid))
          }

          batch.foreach { e =>
            val t = us(e.ts)
            if (t > maxTs) maxTs = t
            val ev = aggSels.map(_(e))
            // boundary-ref slots (r8): seed FIRST+LAST at a run's open,
            // refresh LAST on every run event — only the slots belonging
            // to the step whose run this event extends
            def seedBnd(b: Seq[Double], step0: Int): Seq[Double] =
              if (bndRefs.isEmpty) b
              else {
                val base = if (b.isEmpty) bndZero else b
                bndRefs.foldLeft(base) { case (acc, (br, j, get)) =>
                  if (br.step == step0 + 1) acc.updated(j, get(e)) else acc
                }
              }
            def lastBnd(b: Seq[Double], step0: Int): Seq[Double] =
              if (bndRefs.isEmpty) b
              else {
                val base = if (b.isEmpty) bndZero else b
                bndRefs.foldLeft(base) { case (acc, (br, j, get)) =>
                  if (br.step == step0 + 1 && br.fn == "LAST")
                    acc.updated(j, get(e))
                  else acc
                }
              }
            // class-ref slots (r9): the matched row of an unquantified
            // step fills its refs' slots at the step's advance
            def classFill(b: Seq[Double], step0: Int): Seq[Double] =
              if (clsRefs.isEmpty) b
              else {
                val base = if (b.isEmpty) bndZero else b
                clsRefs.foldLeft(base) { case (acc, (cr, j, get)) =>
                  if (cr.step == step0 + 1) acc.updated(j, get(e))
                  else acc
                }
              }
            partials = partials.flatMap { p =>
              val started = p.cnt > 0L
              val pre = (p.sums, p.cnt, p.mns, p.mxs)
              val post =
                if (!started) pre
                else (p.sums.lazyZip(ev).map(_ + _).toSeq, p.cnt + 1,
                  p.mns.lazyZip(ev).map(math.min).toSeq,
                  p.mxs.lazyZip(ev).map(math.max).toSeq)
              def carry(q: RunChainMPartial): RunChainMPartial =
                q.copy(sums = post._1, cnt = post._2, mns = post._3,
                  mxs = post._4)
              val step = p.vals.length
              val (pred, mt) = steps(step)
              val inClass = pred(e)
              mt match {
                case None =>
                  // plain step: its matching event is IN the span (and
                  // fills any class-ref slots for this step)
                  if (inClass && t > us(p.prevTs) && t <= windowEnd(p))
                    advance(p.copy(bnd = classFill(p.bnd, step)),
                      e.event_id, e.ts, post, post).toList
                  else List(carry(p))
                case Some(m) =>
                  val lz = lazySteps(step)
                  // lazy completion (r8): the m-th class event completes
                  // the run HERE; it is a span row → post-fold. The
                  // consumed-island suppressor mirrors [[core]]'s.
                  def lazyComplete(p1: RunChainMPartial)
                      : List[RunChainMPartial] = {
                    val qualifies = us(p1.runStart) > us(p1.prevTs) &&
                      (step == 0 || t <= windowEnd(p1))
                    if (!qualifies) {
                      if (step > 0 && t > windowEnd(p1)) Nil
                      else List(p1.copy(runLen = -1L))
                    } else {
                      val acc = (p1.sums, p1.cnt, p1.mns, p1.mxs)
                      val adv = advance(p1.copy(runStart = null,
                        runLast = null, runLen = 0L), m.toLong, e.ts,
                        acc, acc)
                      val supp =
                        if (step == 0)
                          List(RunChainMPartial(Nil, Nil, e.ts,
                            new Timestamp(0L), e.ts, e.ts, -1L,
                            zero, 0L, zero, zero))
                        else Nil
                      adv.toList ::: supp
                    }
                  }
                  if (inClass) {
                    if (lz && p.runLen == -1L)
                      // consumed island: its remaining class events are
                      // still BETWEEN matched rows — they fold into the
                      // span like any bystander (batch span join parity);
                      // the head suppressor's cnt = 0 makes this a no-op
                      List(carry(p))
                    else if (p.runStart == null) {
                      if (step > 0 && t > windowEnd(p)) Nil
                      else if (step == 0)
                        // head tracker: a fresh run (re)starts the span
                        // — accumulators seed with this event (m >= 2
                        // for lazy steps, so an open never completes);
                        // hrsid = the run's start row id (numbering key)
                        List(p.copy(runStart = e.ts, runLast = e.ts,
                          runLen = 1L, sums = ev, cnt = 1L, mns = ev,
                          mxs = ev, bnd = seedBnd(p.bnd, 0),
                          hrsid = e.event_id))
                      else
                        List(carry(p.copy(runStart = e.ts,
                          runLast = e.ts, runLen = 1L,
                          bnd = seedBnd(p.bnd, step))))
                    } else {
                      val p1 = carry(p.copy(runLast = e.ts,
                        runLen = p.runLen + 1L,
                        bnd = lastBnd(p.bnd, step)))
                      if (lz && p1.runLen == m) lazyComplete(p1)
                      else List(p1)
                    }
                  } else if (p.runStart != null && lz) {
                    // lazy breaker: failed sub-m island or a consumed
                    // island's end — re-idle; a failed HEAD island also
                    // resets the span seed (it never started a match)
                    if (step == 0)
                      List(p.copy(runStart = null, runLast = null,
                        runLen = 0L, sums = zero, cnt = 0L, mns = zero,
                        mxs = zero))
                    else List(carry(p.copy(runStart = null,
                      runLast = null, runLen = 0L)))
                  } else if (p.runStart != null) {
                    // the closing event: qualify the run. On COMPLETION
                    // it is outside the span (pre-fold); on continuation
                    // it lies between matched rows (post-fold).
                    val qualifies = p.runLen >= m &&
                      maxTimes(step).forall(p.runLen <= _) &&
                      us(p.runStart) > us(p.prevTs) &&
                      (step == 0 || us(p.runLast) <= windowEnd(p))
                    if (qualifies) {
                      val adv = advance(p.copy(runStart = null,
                          runLast = null, runLen = 0L),
                        p.runLen, p.runLast, pre, post)
                      adv match {
                        case Some(p2) =>
                          val (pred2, mt2) = steps(p2.vals.length)
                          if (mt2.isEmpty && pred2(e) &&
                              t > us(p2.prevTs) && t <= windowEnd(p2))
                            advance(p2.copy(bnd =
                                classFill(p2.bnd, p2.vals.length)),
                              e.event_id, e.ts, post, post).toList
                          else if (mt2.isDefined && pred2(e) &&
                              t <= windowEnd(p2))
                            List(p2.copy(runStart = e.ts, runLast = e.ts,
                              runLen = 1L,
                              bnd = seedBnd(p2.bnd, p2.vals.length)))
                          else List(p2)
                        case None => Nil
                      }
                    } else if (step == 0)
                      // failed head run: the span never started — reset
                      List(p.copy(runStart = null, runLast = null,
                        runLen = 0L, sums = zero, cnt = 0L, mns = zero,
                        mxs = zero))
                    else List(carry(p.copy(runStart = null,
                      runLast = null, runLen = 0L)))
                  } else List(carry(p))
              }
            }
            val (headPred, headMt) = steps.head
            if (headPred(e)) headMt match {
              case None =>
                // plain head: the anchor event seeds its own span;
                // hrsid = the anchor id (the batch "ts_1, id_1" order)
                advance(RunChainMPartial(Nil, Nil, e.ts,
                    new Timestamp(0L), null, null, 0L, zero, 0L, zero,
                    zero, classFill(Nil, 0), e.event_id), e.event_id,
                  e.ts, (ev, 1L, ev, ev), (ev, 1L, ev, ev))
                  .foreach(p2 => partials = p2 :: partials)
              case Some(_) =>
                val tracking = partials.exists(p =>
                  p.vals.isEmpty && p.runStart != null)
                if (!tracking)
                  partials = RunChainMPartial(Nil, Nil, e.ts,
                    new Timestamp(0L), e.ts, e.ts, 1L,
                    ev, 1L, ev, ev, seedBnd(Nil, 0),
                    e.event_id) :: partials
            }
            // absent kill scan (r14): a NOT-class event strictly after
            // a parked prefix's last positive match and inside its
            // anchor window kills it — the batch anti join verbatim
            // (runs AFTER this event's own close/advance above, so a
            // NOT-class breaker kills the prefix it just completed:
            // its ts is strictly past the run's end, as in batch)
            absentPred.foreach { np =>
              if (np(e))
                waiting = waiting.filter(d =>
                  !(t > us(d.m.end_ts) &&
                    t <= us(d.m.start_ts) + withinUs))
            }
          }

          val horizon = scala.util.Try(state.getCurrentWatermarkMs() * 1000L)
            .getOrElse(maxTs)
          partials = partials.filter { p =>
            p.runStart != null ||
              (p.tss.nonEmpty && windowEnd(p) >= horizon)
          }
          // absent verdicts (r14): once the watermark passes a parked
          // prefix's anchor deadline STRICTLY, no admissible NOT-class
          // event can still kill it — emit (or hold for numbering)
          if (absent) {
            val (ripe, still) = waiting.partition(d =>
              us(d.m.start_ts) + withinUs < horizon)
            waiting = still
            ripe.foreach { d =>
              if (hasNum) done = d :: done
              else out += d.m
            }
          }
          if (hasNum) {
            // numbered release (r9, ChainEngine's discipline): a done
            // match takes its number once its window closed behind the
            // watermark AND no open partial could still complete into
            // an earlier-ordered match. Each open partial's EVENTUAL
            // (ts_1, anchor) is bounded below: fixed once the head
            // advanced (tss.last, hrsid); an open head RUN ends no
            // earlier than its current last event (runLast, hrsid);
            // a consumed-island suppressor (runLen == -1) and idle
            // trackers never produce a match — future anchors carry
            // ts >= watermark, which the window-closed test dominates.
            // A head run whose completion window has provably closed
            // (runLast + within <= horizon) is excluded too (r10
            // ADVICE): it can never complete — windowEnd anchors at or
            // before runLast — and any RESTART must anchor at
            // ts >= watermark, which the released matches' own
            // window-closed test already dominates; without this, a
            // tracker (re)seeded by a late in-lateness event could
            // carry runLast earlier than a held match's start_ts and
            // withhold its number forever on a live stream.
            val bounds = partials.flatMap { p =>
              if (p.vals.nonEmpty) Some((us(p.tss.last), p.hrsid))
              else if (p.runStart != null && p.runLen != -1L &&
                  us(p.runLast) + withinUs > horizon)
                Some((us(p.runLast), p.hrsid))
              else None
            } ++
              // a parked prefix awaiting its absence verdict could
              // still emit with an EARLIER anchor — it blocks release
              // exactly like an open partial (r14)
              waiting.map(d => (us(d.m.start_ts), d.hrsid))
            val minOpen = bounds.minOption
            val releasable = (d: RunChainMDone) =>
              us(d.m.start_ts) + withinUs <= horizon &&
                minOpen.forall(o => Ordering[(Long, Long)]
                  .gt(o, (us(d.m.start_ts), d.hrsid)))
            val (rel, keep) = done.partition(releasable)
            rel.sortBy(d => (us(d.m.start_ts), d.hrsid)).foreach { d =>
              counter += 1
              val patched = d.m.vals.zipWithIndex.map { case (v, j) =>
                if (numIdx.contains(j)) counter.toDouble else v }
              out += d.m.copy(vals = patched)
            }
            done = keep
          }
          if (partials.isEmpty && done.isEmpty && waiting.isEmpty &&
              counter == 0L)
            state.remove()
          else {
            state.update(RunChainMState(partials, done, counter, waiting))
            if ((hasNum || absent) && (done.nonEmpty ||
                partials.nonEmpty || waiting.nonEmpty)) {
              // wake when the earliest still-relevant window closes
              val anchorUs = done.map(d => us(d.m.start_ts)) ++
                waiting.map(d => us(d.m.start_ts)) ++
                partials.map(p =>
                  us(if (p.tss.isEmpty) p.anchorTs else p.tss.last))
              val targetMs = anchorUs.map(_ / 1000L + withinMs + 1).min
              state.setTimeoutTimestamp(math.max(targetMs,
                state.getCurrentWatermarkMs() + 1))
            }
          }
          out.result().iterator
      }
  }
}
