package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A completed `A THEN B{m,}` match where B's class OVERLAPS A's:
  * columns mirror the batch `CepSql.translateChain` output for the
  * 2-step quantified-tail form — anchor row id, accepted run length,
  * anchor ts, run-end ts. */
case class OverlapChainMatch(user_id: Long, id_1: Long, len_2: Long,
    ts_1: Timestamp, ts_2: Timestamp)

/** The 3-step form `A THEN B{m,} THEN C` (r11): the 2-step columns plus
  * the completing row — batch emits (id_1, len_2, id_3, ts_1..ts_3). */
case class OverlapChain3Match(user_id: Long, id_1: Long, len_2: Long,
    id_3: Long, ts_1: Timestamp, ts_2: Timestamp, ts_3: Timestamp)

/** The generalized N-step form (r12): the 2-step columns plus the
  * matched TAIL rows in step order — the batch columns id_3..id_N /
  * ts_3..ts_N as arrays (the dispatch flattens them back to the batch
  * names). For the absent form the arrays carry the matched POSITIVE
  * tail (length N−3 there — the batch absent rewrite emits prefix
  * columns only). */
case class OverlapChainNMatch(user_id: Long, id_1: Long, len_2: Long,
    ts_1: Timestamp, ts_2: Timestamp,
    tail_ids: Seq[Long], tail_ts: Seq[Timestamp])

case class OvIsland(count: Long, start: Timestamp, end: Timestamp)
case class OvAnchor(id1: Long, ts1: Timestamp)
/** An anchor whose rank-1 island has CLOSED, advancing through the
  * unquantified TAIL steps (r12 — was a single step 3): `tailIds/tailTs`
  * carry the matched tail rows so far; the next wanted step is their
  * length. Completion emits when every tail step is matched; the absent
  * form matches every POSITIVE tail step, then waits for proof no
  * final-class event arrives (watermark-timer-driven). In-memory form
  * only — the STORED state packs pendings as parallel primitive arrays
  * (see [[OverlapChainState]]). */
case class OvPending(id1: Long, ts1: Timestamp, len: Long, ts2: Timestamp,
    tailIds: Seq[Long], tailTs: Seq[Timestamp])
/** Stored per-key state. Pendings are packed STRUCT-OF-ARRAYS (r13,
  * verdict #5): the natural `List[OvPending]` encodes each pending as a
  * nested struct with TWO nested variable-length arrays — ~250 B/pending
  * in the state store on the HotKeyStateProbe adversary (1.6 MB/key at
  * 30k one-key events), dominated by per-element struct headers and
  * array envelopes, not data. Packing the five scalar fields as parallel
  * Long arrays and flattening the tails into one shared (ids, ts, end-
  * offset) triple stores the same information at ~7 longs/pending —
  * the measured ceiling drops ~4× with zero semantic change (pack and
  * unpack live only at the state load/save boundary; OverlapRunSpec's
  * batch-equivalence fuzz and RecoverySpec's checkpoint pin cover the
  * round trip). Timestamps ride as exact micros — Spark event time is
  * microsecond-precision, so the round trip is lossless. */
case class OverlapChainState(open: Option[OvIsland],
    anchors: List[OvAnchor],
    pendId1: Seq[Long], pendTs1: Seq[Long], pendLen: Seq[Long],
    pendTs2: Seq[Long], pendTailEnd: Seq[Int],
    pendTailIds: Seq[Long], pendTailTs: Seq[Long],
    // open island per QUANTIFIED tail step (r13): stage index plus the
    // island triple (count, start, end as micros) — parallel arrays,
    // at most one entry per quantified tail step
    tIslStage: Seq[Int], tIslCount: Seq[Long],
    tIslStart: Seq[Long], tIslEnd: Seq[Long])

/** Measures-form state (r12): the island additionally carries its
  * first/last rows' slot values (FIRST/LAST boundary refs desugared from
  * quantified-step class refs); each anchor carries its own span
  * accumulators — the batch span join covers EVERY event of the key
  * between the anchor and the run end inclusive, REGARDLESS of class, so
  * the accumulators live per anchor, seeded at the anchor event. */
case class OvMIsland(count: Long, start: Timestamp, end: Timestamp,
    firstBnd: Seq[Double], lastBnd: Seq[Double])
case class OvMAnchor(id1: Long, ts1: Timestamp, sums: Seq[Double],
    cnt: Long, mns: Seq[Double], mxs: Seq[Double], anchorBnd: Seq[Double])
/** A measures-form anchor whose rank-1 island closed, advancing through
  * the unquantified tail steps (r13): carries the batch prefix row, the
  * span accumulators (which KEEP folding every event until the final
  * tail match — the batch span join covers first..last matched rows
  * inclusive regardless of class), the island's FIRST/LAST boundary
  * slots frozen at close, and the per-measure class-ref slots (anchor
  * refs filled at anchor time, tail-step refs at their match). Not
  * packed struct-of-arrays like [[OverlapChainState]]'s pendings:
  * completion pendings die at their final tail match instead of
  * waiting out a watermark deadline, so their census is a fraction of
  * the absent form's. */
case class OvMPending(id1: Long, ts1: Timestamp, len: Long, ts2: Timestamp,
    tailIds: Seq[Long], tailTs: Seq[Timestamp],
    sums: Seq[Double], cnt: Long, mns: Seq[Double], mxs: Seq[Double],
    islFirst: Seq[Double], islLast: Seq[Double], refSlots: Seq[Double])
/** A completed measures-form match HELD for MATCH_NUMBER assignment
  * (r13 session 2): numbering orders by (ts_1, id_1) per key, but an
  * EARLY anchor can match a LATE island after a later anchor already
  * matched — so completions wait until no live anchor or pending with a
  * smaller sort key remains, then release in sort order with a monotone
  * per-key counter. */
case class OvMHeld(id1: Long, ts1: Timestamp,
    stepVals: Seq[Long], stepTs: Seq[Timestamp],
    startTs: Timestamp, endTs: Timestamp, vals: Seq[Double])
/** Measures-form state. `tailStages`/`tailIslands` (r13) carry the open
  * island per QUANTIFIED tail step — [[OvMIsland]] is reused so each
  * tail island captures its own per-measure FIRST/LAST boundary slots
  * exactly like the head island does. `held`/`nextNum` (r13 session 2)
  * are the MATCH_NUMBER hold buffer and its counter. */
case class OverlapMState(open: Option[OvMIsland], anchors: List[OvMAnchor],
    pending: List[OvMPending],
    tailStages: Seq[Int], tailIslands: List[OvMIsland],
    held: List[OvMHeld], nextNum: Long)

/** Streaming detector for quantified chains whose run class OVERLAPS the
  * anchor's — the carve-out every round before r11 routed to batch:
  * `A THEN B{m,}` (greedy 2-step, r11), `A THEN B{m,} THEN C` and
  * `A THEN B{m,} THEN NOT C` (r11), and since r12 ANY unquantified tail
  * `A THEN B{m,} THEN C THEN D …[THEN NOT Z]` — the pendings CHAIN
  * through the tail steps — plus MEASURES over the 2-step head form.
  * r12 also DROPS the r11 "C disjoint from B" restriction: a tail event
  * in B's class never closes an island, but tail resolution is
  * island-INDEPENDENT in batch too (the step join only wants the first
  * class event with `ts > ts_prev` inside the anchor window, islands or
  * not), so the same event correctly extends the island AND serves
  * pendings — OverlapRunSpec fuzzes the overlapping-C forms against the
  * batch rewrite.
  *
  * WHY the general chain detector can't do this (the r10 verdict's
  * "run maximality differs"): the batch contract computes B-runs as
  * GLOBAL gaps-and-islands — maximal stretches of consecutive B-class
  * events over the whole key, independent of chain position — and a
  * step then takes the first island with `run_start > ts_1` and
  * `run_end <= ts_1 + within`. [[RunChainDetector]] tracks runs PER
  * PARTIAL, observing only events after its anchor. With disjoint
  * classes that is equivalent: the anchor event itself breaks any
  * B-run, so no island spans an anchor and left-maximality is locally
  * visible. With OVERLAP the anchor can sit INSIDE an island
  * (`click THEN click{2,}` on click,click,click: the only island
  * starts AT the anchor, so batch matches nothing — a per-partial
  * tracker would see clicks 2–3 as a fresh run and emit a false
  * match). The fix is not per-partial state but ONE island tracker
  * per key SHARED by all anchors: islands close sequentially (any
  * non-B event breaks them), and on each close every live anchor
  * tests the batch predicate verbatim.
  *
  * Emission is island-close-driven (an open island stays extendable,
  * and an extension can push `run_end` past a window, so no early
  * emission is sound — [[RunDetector]]'s documented discipline); the
  * first closing island that qualifies for an anchor IS the batch
  * rank-1 by (run_start, run_end), because islands are disjoint and
  * close in start order. Tail steps (r11 single, r12 chained): a
  * qualifying close moves the anchor to a PENDING slot carrying
  * (id_1, ts_1, len_2, ts_2) — exactly the batch prefix row — and each
  * subsequent tail step resolves to the FIRST event of its class with
  * `ts` strictly after the previous step's inside the anchor window
  * (the batch per-step rank-1 under the suite's ts-ordered replay
  * contract; an event advances a pending at most ONE step, since the
  * next step needs `ts` strictly greater). A pending whose window
  * passes unserved drops silently (inner-join miss). The absent form
  * (`… THEN NOT Z`) matches every positive tail step the same way;
  * any Z-class event after the last positive match KILLS the pending,
  * and the no-Z verdict emits only once the watermark passes the
  * anchor deadline (timer-driven — a watermark is therefore REQUIRED,
  * and batch input is rejected outright). Unmatched anchors emit
  * nothing and are dropped as soon as no current-or-future island can
  * serve them; state is O(live anchors + pendings + 1 island) per key,
  * all window-bound.
  *
  * MEASURES (r12 2-step head; r13 the whole completion family): span
  * aggregates accumulate PER ANCHOR (seeded at the anchor event — the
  * batch span join covers every event between the match's first and
  * last rows inclusive regardless of class, and non-B events can sit
  * between the anchor and the island start) and then per PENDING to
  * the final tail match; FIRST/LAST boundary refs read the island's
  * first/last rows, captured in the island tracker (tail islands
  * capture their own). MATCH_NUMBER streams since r13 session 2 via
  * held-release: numbering orders by (ts_1, id_1) and an EARLY anchor
  * can match a LATE island after a later anchor already matched, so
  * completions HOLD until no live anchor/pending with a smaller sort
  * key remains, then release in sort order on a persistent per-key
  * counter (the counter is the one deliberate per-matched-key state
  * residue — batch numbers every match of a key 1..n).
  *
  * QUANTIFIED tail steps (r13) get one shared island tracker each —
  * pendings advance at island close under the batch
  * rank-1-by-run_start law — in completion AND absent forms; the
  * RELUCTANT head `A THEN B{m,}?` (r13 s2) emits at the island's m-th
  * event, where the truncated match is fully determined — and since
  * r14 composes with ANY tail (verdict r13 #3): with tails present the
  * m-th event parks the anchor as a PENDING instead of emitting — the
  * exact role the island close plays for a greedy head — after which
  * completion, absence, and quantified tail steps ride the shared
  * machinery unchanged (m = 1 included: the island's first event is a
  * well-defined emission point here).
  *
  * MEASURES × absent (r14): done-stage pendings FREEZE their
  * accumulators (the batch span covers anchor .. the last positive
  * match only) and verdict at the watermark timer; MEASURES ×
  * reluctant (r14) serves at the m-th event with the island's boundary
  * slots frozen there. Both fuzz-pinned ≡ the batch rewrite's
  * anti-join-wrapped measures form.
  *
  * Still batch-only (loudly rejected upstream, SubmitSqlSpec-pinned):
  * overlap at a NON-HEAD boundary (step i ≥ 2 overlapping step i+1 —
  * the island tracker is anchored to the head; a mid-chain overlap
  * would need one shared tracker PER PREFIX POSITION — OverlapRunSpec
  * pins the counterexample); optional steps × quantifiers reject at
  * parse in both engines.
  */
object OverlapRunDetector {
  private def us(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  /** Exact inverse of [[us]] for post-epoch event times (Spark event
    * time is microsecond-precision, so `us(tsOf(u)) == u`). */
  private def tsOf(u: Long): Timestamp = {
    val t = new Timestamp(u / 1000000L * 1000L)
    t.setNanos(((u % 1000000L) * 1000L).toInt)
    t
  }

  /** Open island for one QUANTIFIED tail step (r13), micros-valued —
    * the in-memory form of the state's tIsl* parallel arrays. */
  private case class TailIsl(count: Long, startUs: Long, endUs: Long)

  /** Unpack the struct-of-arrays pending columns to the in-memory form. */
  private def unpackPending(s: OverlapChainState): List[OvPending] =
    s.pendId1.indices.map { i =>
      val from = if (i == 0) 0 else s.pendTailEnd(i - 1)
      val until = s.pendTailEnd(i)
      OvPending(s.pendId1(i), tsOf(s.pendTs1(i)), s.pendLen(i),
        tsOf(s.pendTs2(i)),
        s.pendTailIds.slice(from, until),
        s.pendTailTs.slice(from, until).map(tsOf))
    }.toList

  /** Pack pendings as parallel primitive arrays (see
    * [[OverlapChainState]]'s scaladoc for the why). */
  private def packState(open: Option[OvIsland], anchors: List[OvAnchor],
      pending: List[OvPending],
      tIsl: Map[Int, TailIsl]): OverlapChainState = {
    val ends = pending.scanLeft(0)(_ + _.tailIds.length).tail
    val ti = tIsl.toSeq.sortBy(_._1)
    OverlapChainState(open, anchors,
      pending.map(_.id1), pending.map(p => us(p.ts1)),
      pending.map(_.len), pending.map(p => us(p.ts2)), ends,
      pending.flatMap(_.tailIds), pending.flatMap(_.tailTs.map(us)),
      ti.map(_._1), ti.map(_._2.count),
      ti.map(_._2.startUs), ti.map(_._2.endUs))
  }

  /** Loud per-key state circuit breaker (r14, verdict #6): the overlap
    * family's anchors/pendings are window-bound but still LINEAR in
    * matches-in-flight, so a hostile key (every event anchors, nothing
    * ever resolves) can grow a single key's state to the window's
    * content. `maxPendings` caps live anchors + pendings per key: on
    * breach the detector THROWS (failing the query with a named error —
    * never a silent drop, which would corrupt the match set), giving
    * operators a circuit breaker to size against their window.
    * Configure via `spark.graft.cep.maxPendings` for submitPattern
    * text queries, or pass directly on the detector APIs. */
  private def checkCap(maxPendings: Option[Int], user: Long,
      nAnchors: Int, nPendings: Int): Unit =
    maxPendings.foreach { cap =>
      if (nAnchors + nPendings > cap)
        throw new IllegalStateException(
          s"graft CEP state cap exceeded for key $user: $nAnchors live " +
            s"anchors + $nPendings pendings > maxPendings=$cap — the " +
            "key's in-window match candidates outgrew the configured " +
            "bound (spark.graft.cep.maxPendings); widen the cap, " +
            "shrink WITHIN, or quarantine the key upstream. Failing " +
            "loudly: silently dropping candidates would corrupt the " +
            "match set.")
    }

  /** Greedy 2-step `A THEN B{m,}` (r11 original form). */
  def detectWhere(events: Dataset[CepEvent],
      anchorPred: CepEvent => Boolean, runPred: CepEvent => Boolean,
      minLen: Int, maxLen: Option[Int], withinMs: Long,
      watermarkDelay: Option[String] = None,
      maxPendings: Option[Int] = None)
      : Dataset[OverlapChainMatch] = {
    implicit val matchEnc = Encoders.product[OverlapChainMatch]
    engine(events, anchorPred, runPred, minLen, maxLen, Nil,
      absent = false, withinMs, watermarkDelay,
      maxPendings = maxPendings)
      .map(m => OverlapChainMatch(m.user_id, m.id_1, m.len_2,
        m.ts_1, m.ts_2))
  }

  /** RELUCTANT 2-step `A THEN B{m,}?` over an overlapping class (r13
    * session 2 — the last streaming-expressible overlap carve-out):
    * the batch reluctant form truncates each qualifying island to its
    * FIRST m events (run_len = m, run_end = the m-th event's ts), so
    * emission is NOT close-driven — the moment the shared island's
    * count reaches m, every live anchor with `island start strictly
    * after ts_1` and `m-th ts` inside its window matches and emits
    * IMMEDIATELY (extensions cannot change the truncated form, and
    * the island's start was fixed at its first event, so nothing
    * about the match can still move). Islands are time-disjoint and
    * reach m in start order, so the first serving island IS the batch
    * rank-1. An anchor whose window passes before any island reaches
    * m is dead outright (later islands' m-th events are even later) —
    * no frozen-island survival branch exists in this form. Bounded
    * reluctant `{m,n}?` rejects at parse engine-wide. */
  def detectReluctantWhere(events: Dataset[CepEvent],
      anchorPred: CepEvent => Boolean, runPred: CepEvent => Boolean,
      minLen: Int, withinMs: Long,
      watermarkDelay: Option[String] = None,
      maxPendings: Option[Int] = None)
      : Dataset[OverlapChainMatch] = {
    implicit val matchEnc = Encoders.product[OverlapChainMatch]
    engine(events, anchorPred, runPred, minLen, None, Nil,
      absent = false, withinMs, watermarkDelay, reluctant = true,
      maxPendings = maxPendings)
      .map(m => OverlapChainMatch(m.user_id, m.id_1, m.len_2,
        m.ts_1, m.ts_2))
  }

  /** 3-step completion `A THEN B{m,} THEN C` (C may overlap B since
    * r12). */
  def detectFollowWhere(events: Dataset[CepEvent],
      anchorPred: CepEvent => Boolean, runPred: CepEvent => Boolean,
      minLen: Int, maxLen: Option[Int],
      followPred: CepEvent => Boolean, withinMs: Long,
      watermarkDelay: Option[String] = None,
      maxPendings: Option[Int] = None)
      : Dataset[OverlapChain3Match] = {
    implicit val matchEnc = Encoders.product[OverlapChain3Match]
    engine(events, anchorPred, runPred, minLen, maxLen,
      Seq(followPred), absent = false, withinMs, watermarkDelay,
      maxPendings = maxPendings)
      .map(m => OverlapChain3Match(m.user_id, m.id_1, m.len_2,
        m.tail_ids.head, m.ts_1, m.ts_2, m.tail_ts.head))
  }

  /** 3-step absence `A THEN B{m,} THEN NOT C` (C may overlap B since
    * r12). Watermark REQUIRED — no-C verdicts are timer-driven. Output
    * shape matches the batch absent rewrite (prefix columns only). */
  def detectAbsentWhere(events: Dataset[CepEvent],
      anchorPred: CepEvent => Boolean, runPred: CepEvent => Boolean,
      minLen: Int, maxLen: Option[Int],
      followPred: CepEvent => Boolean, withinMs: Long,
      watermarkDelay: String,
      maxPendings: Option[Int] = None): Dataset[OverlapChainMatch] = {
    implicit val matchEnc = Encoders.product[OverlapChainMatch]
    engine(events, anchorPred, runPred, minLen, maxLen,
      Seq(followPred), absent = true, withinMs, Some(watermarkDelay),
      maxPendings = maxPendings)
      .map(m => OverlapChainMatch(m.user_id, m.id_1, m.len_2,
        m.ts_1, m.ts_2))
  }

  /** N-step chained tail (r12): `A THEN B{m,} THEN C THEN D …` with an
    * optional trailing NOT (`absent = true` negates the LAST `tail`
    * pred). Tail classes may overlap B's freely. Since r13 tail steps
    * may themselves be QUANTIFIED (`tailQuant(i) = Some((k, maxOpt))`
    * makes step i+3 a greedy run `C{k,}`/`C{k,K}`): each quantified
    * tail step gets its own shared island tracker — the batch GLOBAL
    * gaps-and-islands per class — and a pending at that stage advances
    * when an island CLOSES with `run_start` strictly after the previous
    * step's ts, `run_end` inside the anchor window and length in range
    * (whole-run semantics, exactly the head's discipline); the emitted
    * tail slot carries the run LENGTH (the batch len_i column) and the
    * run end ts. Quantified × absent stays batch-only (the trailing
    * NOT's kill scan would need island-aware strictly-after logic the
    * batch anti-join does not have either — rejected loudly). For
    * `absent`, a watermark is required (the no-Z verdict is
    * timer-driven) and the emitted arrays carry the positive tail. */
  def detectChainWhere(events: Dataset[CepEvent],
      anchorPred: CepEvent => Boolean, runPred: CepEvent => Boolean,
      minLen: Int, maxLen: Option[Int],
      tail: Seq[CepEvent => Boolean], absent: Boolean, withinMs: Long,
      watermarkDelay: Option[String] = None,
      tailQuant: Seq[Option[(Int, Option[Int])]] = Nil,
      reluctant: Boolean = false,
      maxPendings: Option[Int] = None)
      : Dataset[OverlapChainNMatch] = {
    require(tail.nonEmpty,
      "detectChainWhere wants at least one tail step — use detectWhere " +
        "for the plain 2-step form")
    engine(events, anchorPred, runPred, minLen, maxLen, tail, absent,
      withinMs, watermarkDelay, tailQuant, reluctant, maxPendings)
  }

  private def engine(events: Dataset[CepEvent],
      anchorPred: CepEvent => Boolean, runPred: CepEvent => Boolean,
      minLen: Int, maxLen: Option[Int],
      tail: Seq[CepEvent => Boolean], absent: Boolean,
      withinMs: Long, watermarkDelay: Option[String],
      tailQuant: Seq[Option[(Int, Option[Int])]] = Nil,
      reluctant: Boolean = false,
      maxPendings: Option[Int] = None)
      : Dataset[OverlapChainNMatch] = {
    // r14 (verdict #3): reluctant × tails composes — the reluctant head
    // fixes the anchor's match at the island's m-th event (run_len = m,
    // run_end = that event's ts), after which tails advance exactly as
    // the greedy form's pendings do (the m-th event plays the island
    // close's role as the pending's birth point). Only the bounded lazy
    // form stays out (rejects at parse engine-wide).
    require(!reluctant || maxLen.isEmpty,
      "bounded reluctant {m,n}? rejects at parse engine-wide")
    implicit val matchEnc = Encoders.product[OverlapChainNMatch]
    implicit val stateEnc = Encoders.product[OverlapChainState]
    implicit val keyEnc = Encoders.scalaLong
    require(!absent || tail.nonEmpty, "the absent form needs a tail step")
    val withinUs = withinMs * 1000L
    val wmEnabled = watermarkDelay.isDefined && events.isStreaming
    // The absent form's no-Z verdicts are TIMER-driven: without a watermark
    // timer there is no resolution path, so a batch Dataset would silently
    // emit zero rows. Reject batch outright — batch callers use the
    // equivalent rewrite in queries/Cep.scala (q_pattern_qabs shape).
    require(!absent || wmEnabled,
      "the absent overlap form needs a STREAMING input with a watermark " +
        "(no-C verdicts are timer-driven; for batch input use the batch " +
        "overlap-absence rewrite in queries/Cep.scala)")
    // the stage index at which a pending has matched every POSITIVE tail
    // step: completion emits there; absence waits there for the verdict
    val doneStage = if (absent) tail.length - 1 else tail.length
    // quantified tail steps (r13): per-step (min, max) or None. The
    // absent form admits quantified POSITIVE tail steps (r13 session 2
    // — the kill scan and the wm verdict read lastTs, which an
    // island-served stage sets to run_end, exactly the batch anti
    // join's ts_{N-1}); the trailing NOT itself is a class, never a
    // run.
    val quant: Seq[Option[(Int, Option[Int])]] =
      if (tailQuant.isEmpty) Seq.fill(tail.length)(None) else tailQuant
    require(quant.length == tail.length,
      "tailQuant must align with tail (one entry per tail step)")
    require(!absent || quant.last.isEmpty,
      "the trailing NOT step is a class, not a run — it cannot be " +
        "quantified")
    val src = if (wmEnabled) events.withWatermark("ts", watermarkDelay.get)
              else events
    val timeoutConf = if (wmEnabled) GroupStateTimeout.EventTimeTimeout()
                      else GroupStateTimeout.NoTimeout()

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[OverlapChainState, OverlapChainNMatch](
        OutputMode.Append(), timeoutConf) {
        (user: Long, it: Iterator[CepEvent],
            state: GroupState[OverlapChainState]) =>
          var open = state.getOption.flatMap(_.open)
          var anchors = state.getOption.map(_.anchors).getOrElse(Nil)
          var pending = state.getOption.map(unpackPending).getOrElse(Nil)
          var tIsl: Map[Int, TailIsl] = state.getOption.map(s =>
            s.tIslStage.indices.map(i => s.tIslStage(i) ->
              TailIsl(s.tIslCount(i), s.tIslStart(i), s.tIslEnd(i)))
              .toMap).getOrElse(Map.empty)
          val out = List.newBuilder[OverlapChainNMatch]
          def deadline(ts1: Timestamp): Long = us(ts1) + withinUs
          def lastTs(p: OvPending): Long =
            if (p.tailTs.isEmpty) us(p.ts2) else us(p.tailTs.last)
          // a pending stays live past its deadline only while (absent
          // form) it awaits its watermark verdict at done-stage, or
          // (quantified stage, r13) the stage's OPEN island already
          // qualifies frozen — the anchors' live() discipline: a close
          // can come at any later event and the frozen content already
          // meets every bound
          def pendLive(p: OvPending, clock: Long): Boolean = {
            val dl = deadline(p.ts1)
            if (clock <= dl) true
            else {
              val stage = p.tailIds.length
              (absent && stage == doneStage) ||
                (stage < tail.length && quant(stage).exists {
                  case (k, kx) => tIsl.get(stage).exists(o =>
                    o.startUs > lastTs(p) && o.endUs <= dl &&
                      o.count >= k && kx.forall(o.count <= _))
                })
            }
          }

          // an anchor stays live while SOME island could still meet the
          // batch predicate: any island starting after `clock` is gone
          // once clock > deadline, and the open island only survives
          // that point if it already qualifies frozen (any extension
          // pushes its end past the deadline and disqualifies it).
          // RELUCTANT (r13 s2): no frozen survival — the m-th event
          // either already served (anchor gone) or lies in the future
          // past the deadline
          def live(a: OvAnchor, clock: Long): Boolean = {
            val dl = deadline(a.ts1)
            if (clock <= dl) true
            else !reluctant && open.exists(o => us(o.start) > us(a.ts1) &&
              us(o.end) <= dl && o.count >= minLen &&
              maxLen.forall(o.count <= _))
          }

          // watermark-horizon resolution: no tail event with ts <= the
          // deadline can still arrive once wm passes it — absence
          // pendings that reached doneStage verdict no-follow, every
          // other ripe pending is an inner-join miss
          def resolveByWm(wmUs: Long): Unit = {
            anchors = anchors.filter(live(_, wmUs))
            if (tail.nonEmpty) {
              val (ripe, rest) =
                pending.partition(p => wmUs > deadline(p.ts1))
              if (absent) ripe.foreach { p =>
                if (p.tailIds.length == doneStage)
                  out += OverlapChainNMatch(user, p.id1, p.len,
                    p.ts1, p.ts2, p.tailIds, p.tailTs)
              }
              // a ripe pending at a quantified stage survives while its
              // frozen open island still qualifies (r13 — pendLive);
              // ripe absent DONE-stage pendings were just emitted above
              pending = rest ++ ripe.filter(p =>
                !(absent && p.tailIds.length == doneStage) &&
                  pendLive(p, wmUs))
            }
          }

          if (state.hasTimedOut) {
            resolveByWm(state.getCurrentWatermarkMs() * 1000L)
          } else {
            // a key that keeps receiving data may never fire its timer —
            // resolve against the batch-start watermark first (sound:
            // in-bound events of THIS batch all carry ts above it)
            if (wmEnabled)
              resolveByWm(state.getCurrentWatermarkMs() * 1000L)
            val batch = it.toArray.sortBy(e => (us(e.ts), e.event_id))
            batch.foreach { e =>
              val t = us(e.ts)
              // 1. a non-B event CLOSES the island (it is now maximal):
              //    every live anchor tests the batch join predicate —
              //    strictly-after start, window-bounded end, length in
              //    [m, n] with whole-run semantics. A qualifying anchor
              //    emits (2-step) or moves to pending (tail forms).
              //    RELUCTANT emission is NOT close-driven (it happened
              //    at the m-th event below) — the close only clears.
              if (!runPred(e)) {
                open.foreach { o =>
                  if (!reluctant &&
                      o.count >= minLen && maxLen.forall(o.count <= _))
                    anchors = anchors.flatMap { a =>
                      if (us(o.start) > us(a.ts1) &&
                          us(o.end) <= deadline(a.ts1)) {
                        if (tail.isEmpty)
                          out += OverlapChainNMatch(user, a.id1, o.count,
                            a.ts1, o.end, Nil, Nil)
                        else
                          pending ::= OvPending(a.id1, a.ts1, o.count,
                            o.end, Nil, Nil)
                        Nil
                      } else List(a)
                    }
                }
                open = None
              }
              // 1b. QUANTIFIED tail island closes (r13): a non-class
              //     event makes stage s's island maximal; pendings AT
              //     stage s advance when the island starts strictly
              //     after their previous step's ts, ends inside their
              //     window and has length in range (whole-run, the
              //     batch runsSub + rank-1-by-run_start join verbatim
              //     — islands are disjoint and close in start order).
              //     The LEN rides the tail slot (batch len_i column),
              //     run_end the ts slot. A failing island still clears.
              quant.indices.foreach { s =>
                if (quant(s).isDefined && !tail(s)(e)) {
                  tIsl.get(s).foreach { o =>
                    val (k, kx) = quant(s).get
                    if (o.count >= k && kx.forall(o.count <= _))
                      pending = pending.flatMap { p =>
                        if (p.tailIds.length == s &&
                            o.startUs > lastTs(p) &&
                            o.endUs <= deadline(p.ts1)) {
                          val adv = p.copy(
                            tailIds = p.tailIds :+ o.count,
                            tailTs = p.tailTs :+ tsOf(o.endUs))
                          // an absent pending reaching done-stage WAITS
                          // for the watermark verdict (r13 session 2)
                          if (!absent && adv.tailIds.length == doneStage) {
                            out += OverlapChainNMatch(user, adv.id1,
                              adv.len, adv.ts1, adv.ts2,
                              adv.tailIds, adv.tailTs)
                            Nil
                          } else List(adv)
                        } else List(p)
                      }
                  }
                  tIsl -= s
                }
              }
              // 2. tail resolution — tested on EVERY event including
              //    the breaker that just closed the island (a disjoint
              //    tail event is necessarily a breaker; an overlapping
              //    one extends the island below AND serves pendings
              //    here). Each pending advances at most ONE step per
              //    event: the next step wants ts strictly greater.
              //    Quantified stages (r13) advance only at their
              //    island closes above, never on single events.
              if (tail.nonEmpty)
                pending = pending.flatMap { p =>
                  val stage = p.tailIds.length
                  if (stage == doneStage) {
                    // absence arm: a final-class event kills the pending
                    if (absent && tail.last(e) && t > lastTs(p) &&
                        t <= deadline(p.ts1)) Nil
                    else List(p)
                  } else if (quant(stage).isEmpty && tail(stage)(e) &&
                      t > lastTs(p) &&
                      t <= deadline(p.ts1)) {
                    val adv = p.copy(tailIds = p.tailIds :+ e.event_id,
                      tailTs = p.tailTs :+ e.ts)
                    if (!absent && adv.tailIds.length == doneStage) {
                      out += OverlapChainNMatch(user, adv.id1, adv.len,
                        adv.ts1, adv.ts2, adv.tailIds, adv.tailTs)
                      Nil
                    } else List(adv)
                  } else List(p)
                }
              // 3. event-clock cleanup (no emission — unmatched anchors
              //    and unserved completion pendings are inner-join
              //    misses; an absence pending that reached doneStage
              //    waits for the watermark; a pending at a quantified
              //    stage survives while its frozen open island still
              //    qualifies — pendLive; one mid-tail past its deadline
              //    with no such island can never complete, drops here)
              anchors = anchors.filter(live(_, t))
              if (tail.nonEmpty)
                pending = pending.filter(pendLive(_, t))
              // 4. a B event extends or opens the shared island.
              //    RELUCTANT (r13 s2): the moment the island reaches m
              //    it serves every live anchor immediately — run_len is
              //    the constant m, run_end the m-th event's ts, and
              //    nothing about the truncated form can still move
              //    (start froze at the first event, extensions are
              //    ignored by truncation)
              if (runPred(e)) {
                open = open match {
                  case Some(o) => Some(OvIsland(o.count + 1, o.start, e.ts))
                  case None    => Some(OvIsland(1, e.ts, e.ts))
                }
                if (reluctant && open.exists(_.count == minLen)) {
                  val o = open.get
                  anchors = anchors.flatMap { a =>
                    if (us(o.start) > us(a.ts1) && t <= deadline(a.ts1)) {
                      // with tails (r14) the truncated head parks the
                      // anchor as a pending — the m-th event is this
                      // pending's birth point, exactly the role the
                      // island CLOSE plays for a greedy head; tails
                      // then advance via the shared machinery above
                      // (strictly-after keeps this very event from
                      // serving its own tail)
                      if (tail.isEmpty)
                        out += OverlapChainNMatch(user, a.id1,
                          minLen.toLong, a.ts1, e.ts, Nil, Nil)
                      else
                        pending ::= OvPending(a.id1, a.ts1,
                          minLen.toLong, e.ts, Nil, Nil)
                      Nil
                    } else List(a)
                  }
                }
              }
              // 4b. a quantified-tail-class event extends or opens that
              //     stage's shared island (r13)
              quant.indices.foreach { s =>
                if (quant(s).isDefined && tail(s)(e))
                  tIsl += s -> (tIsl.get(s) match {
                    case Some(o) => TailIsl(o.count + 1, o.startUs, t)
                    case None    => TailIsl(1, t, t)
                  })
              }
              // 5. an A event anchors (AFTER island upkeep: when e is in
              //    both classes the island now CONTAINS e, and its start
              //    <= ts_1 correctly fails the strictly-after test)
              if (anchorPred(e)) anchors = anchors :+ OvAnchor(e.event_id, e.ts)
              // loud per-key circuit breaker (r14, verdict #6) —
              // checked per event so a single hostile micro-batch
              // cannot balloon past the cap before a batch-end check
              checkCap(maxPendings, user, anchors.length, pending.length)
            }
          }

          // dropping open tail islands with the rest is SOUND here: a
          // future pending's qualifying island must start strictly
          // after its ts_2, which is in the future of this drop — an
          // island already open can never satisfy it
          if (open.isEmpty && anchors.isEmpty && pending.isEmpty)
            state.remove()
          else {
            state.update(packState(open, anchors, pending, tIsl))
            if (wmEnabled && (anchors.nonEmpty || pending.nonEmpty)) {
              val nextMs = (anchors.map(a => deadline(a.ts1)) ++
                pending.map(p => deadline(p.ts1)))
                .map(_ / 1000L + 1).min
              state.setTimeoutTimestamp(
                math.max(nextMs, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.result().iterator
      }
  }

  /** MEASURES over the greedy overlap-head family (r12 2-step; r13 ANY
    * unquantified completion tail `A THEN B{m,} THEN C THEN D …`):
    * span aggregates (SUM/AVG/MIN/MAX/COUNT over numeric converter
    * columns or COUNT(*)) — the batch span join covers every event of
    * the key between the match's FIRST row (the anchor) and LAST row
    * (the run end for the 2-step form; the FINAL TAIL MATCH for the
    * chained form) in (ts, id) lexicographic order inclusive,
    * regardless of class, so a pending's accumulators keep folding
    * every event until its final tail step matches — FIRST/LAST
    * boundary refs on the quantified step (step 2 — refs to it desugar
    * there; ts rides the Double slot as exact micros; the island's
    * boundary slots freeze into the pending at close), and class refs
    * on the anchor (step 1) or any unquantified tail step (step ≥ 3,
    * captured at that step's match). MATCH_NUMBER and the absent form
    * are rejected (see the object scaladoc). Output is
    * [[RunChainMeasured]] — the same shape the quantified-chain
    * measures arm emits, so the dispatch's alias/cast mapping applies
    * unchanged: step_vals = [id_1, len_2, id_3 …], step_ts =
    * [ts_1, ts_2, ts_3 …], start_ts/end_ts = the span bounds. */
  def detectMeasures(events: Dataset[CepEvent],
      anchorPred: CepEvent => Boolean, runPred: CepEvent => Boolean,
      minLen: Int, maxLen: Option[Int], withinMs: Long,
      measures: Seq[CepSql.Measure],
      watermarkDelay: Option[String] = None,
      tail: Seq[CepEvent => Boolean] = Nil,
      tailQuant: Seq[Option[(Int, Option[Int])]] = Nil,
      maxPendings: Option[Int] = None,
      absent: Boolean = false,
      reluctant: Boolean = false)
      : Dataset[RunChainMeasured] = {
    require(measures.nonEmpty, "at least one measure")
    // MEASURES × reluctant head (r14): the truncated match fixes at
    // the island's m-th event — the anchor's accumulators have just
    // folded that event (span = anchor .. m-th row inclusive) and the
    // island's boundary slots read its first/m-th rows, so serving
    // happens right there: emission for the tail-less form, pendings
    // (which keep folding to their final tail match) otherwise.
    // Bounded reluctant {m,n}? rejects at parse engine-wide.
    require(!reluctant || maxLen.isEmpty,
      "bounded reluctant {m,n}? rejects at parse engine-wide")
    val quant: Seq[Option[(Int, Option[Int])]] =
      if (tailQuant.isEmpty) Seq.fill(tail.length)(None) else tailQuant
    require(quant.length == tail.length,
      "tailQuant must align with tail (one entry per tail step)")
    // MEASURES × absent (r14, matching the batch rewrite's new form):
    // the LAST tail pred is the NOT class; the span covers the POSITIVE
    // prefix (anchor .. the last positive match), so a pending that
    // reaches done-stage FREEZES its accumulators and waits for the
    // watermark verdict — a NOT-class event after its last positive
    // match kills it; the verdict is timer-driven, so a watermark (and
    // a streaming input) is REQUIRED, exactly like the non-measures
    // absent engine.
    require(!absent || tail.nonEmpty, "the absent form needs a tail step")
    require(!absent || quant.last.isEmpty,
      "the trailing NOT step is a class, not a run")
    val doneStage = if (absent) tail.length - 1 else tail.length
    def quantStep(st: Int): Boolean =
      st >= 3 && st <= 2 + tail.length && quant(st - 3).isDefined
    measures.foreach {
      case CepSql.SpanAgg(fn, c, _) =>
        require(Set("SUM", "AVG", "MIN", "MAX", "COUNT")(fn),
          s"unsupported measure fn '$fn'")
        if (c != "*") ChainEngine.numColumn(c) // loud on non-numeric
      case CepSql.BoundRef(fn, _, c, st, _) =>
        require(Set("FIRST", "LAST")(fn), s"unsupported boundary fn '$fn'")
        require(st == 2 || quantStep(st),
          "overlap-form FIRST/LAST boundary refs read a quantified " +
            "step (the head run, step 2, or a quantified tail step — " +
            "r13)")
        if (!c.equalsIgnoreCase("ts")) ChainEngine.numColumn(c)
      case CepSql.ClassRef(_, c, st, _) =>
        require(st == 1 ||
            (st >= 3 &&
              st <= 2 + tail.length - (if (absent) 1 else 0) &&
              !quantStep(st)),
          "overlap-form class refs read the anchor (step 1) or an " +
            "unquantified POSITIVE tail step (step >= 3, r13); refs " +
            "to a quantified tail step desugar to FIRST/LAST, and the " +
            "NOT step never matches a row")
        if (!c.equalsIgnoreCase("ts")) ChainEngine.numColumn(c)
      case _: CepSql.MatchNum => () // held-release numbering (r13 s2)
      case m => throw new IllegalArgumentException(
        "overlap-form measures support span aggregates, FIRST/LAST, " +
          s"anchor/tail class refs and MATCH_NUMBER; got '$m' — use " +
          "the batch rewrite via CepSql.sql")
    }
    // MATCH_NUMBER (r13 session 2): numbering is by (ts_1, id_1) per
    // key, but an early anchor can match a LATE island after a later
    // anchor already matched — so with a MATCH_NUMBER measure present,
    // completions are HELD and released once no live anchor/pending
    // with a smaller sort key remains (then in sort order, monotone
    // counter). Without one, completions emit immediately as before.
    val hasMatchNum = measures.exists(_.isInstanceOf[CepSql.MatchNum])
    val aggCols = measures.collect {
      case CepSql.SpanAgg(fn, c, _) if fn != "COUNT" && c != "*" =>
        c.toLowerCase(java.util.Locale.ROOT)
    }.distinct
    val aggSels = aggCols.map(ChainEngine.numColumn)
    val slotGet: Seq[Option[CepEvent => Double]] = measures.map {
      case b: CepSql.BoundRef =>
        Some(if (b.col.equalsIgnoreCase("ts"))
          (e: CepEvent) => us(e.ts).toDouble
        else ChainEngine.numColumn(b.col))
      case cr: CepSql.ClassRef =>
        Some(if (cr.col.equalsIgnoreCase("ts"))
          (e: CepEvent) => us(e.ts).toDouble
        else ChainEngine.numColumn(cr.col))
      case _ => None
    }
    val withinUs = withinMs * 1000L
    val wmEnabled = watermarkDelay.isDefined && events.isStreaming
    require(!absent || wmEnabled,
      "the absent measures form needs a STREAMING input with a " +
        "watermark (no-Z verdicts are timer-driven; for batch input " +
        "use the batch rewrite via CepSql.sql)")
    val src = if (wmEnabled) events.withWatermark("ts", watermarkDelay.get)
              else events
    implicit val matchEnc = Encoders.product[RunChainMeasured]
    implicit val stateEnc = Encoders.product[OverlapMState]
    implicit val keyEnc = Encoders.scalaLong

    val timeoutConf = if (wmEnabled) GroupStateTimeout.EventTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[OverlapMState, RunChainMeasured](
        OutputMode.Append(), timeoutConf) {
        (user: Long, it: Iterator[CepEvent],
            state: GroupState[OverlapMState]) =>
          var open = state.getOption.flatMap(_.open)
          var anchors = state.getOption.map(_.anchors).getOrElse(Nil)
          var pending = state.getOption.map(_.pending).getOrElse(Nil)
          var tmIsl: Map[Int, OvMIsland] = state.getOption.map(s =>
            s.tailStages.zip(s.tailIslands).toMap).getOrElse(Map.empty)
          var held = state.getOption.map(_.held).getOrElse(Nil)
          var nextNum = state.getOption.map(_.nextNum).getOrElse(1L)
          val out = List.newBuilder[RunChainMeasured]
          // completion funnel: immediate without MATCH_NUMBER, held
          // for ordered release with one (r13 session 2)
          def emitM(id1: Long, ts1: Timestamp, stepVals: Seq[Long],
              stepTs: Seq[Timestamp], st: Timestamp, en: Timestamp,
              vs: Seq[Double]): Unit =
            if (hasMatchNum)
              held ::= OvMHeld(id1, ts1, stepVals, stepTs, st, en, vs)
            else out += RunChainMeasured(user, stepVals, stepTs, st, en, vs)
          def deadline(ts1: Timestamp): Long = us(ts1) + withinUs
          def lastTs(p: OvMPending): Long =
            if (p.tailTs.isEmpty) us(p.ts2) else us(p.tailTs.last)
          def pvals(p: OvMPending): Seq[Double] =
            measures.zipWithIndex.map {
              case (CepSql.SpanAgg(fn, c, _), _) =>
                lazy val i =
                  aggCols.indexOf(c.toLowerCase(java.util.Locale.ROOT))
                fn match {
                  case "SUM" => p.sums(i)
                  case "AVG" => p.sums(i) / p.cnt
                  case "MIN" => p.mns(i)
                  case "MAX" => p.mxs(i)
                  case _     => p.cnt.toDouble
                }
              // step-2 boundary refs read the HEAD island's slots
              // frozen at close; tail-step boundary refs (r13) read the
              // refSlots the serving tail island wrote at its close
              case (CepSql.BoundRef("FIRST", _, _, 2, _), j) =>
                p.islFirst(j)
              case (CepSql.BoundRef(_, _, _, 2, _), j) => p.islLast(j)
              case (_: CepSql.BoundRef, j) => p.refSlots(j)
              case (_: CepSql.ClassRef, j) => p.refSlots(j)
              case (_, _) => 0.0
            }
          // a pending at a quantified stage survives past its deadline
          // while that stage's OPEN island already qualifies frozen
          // (the non-measures engine's pendLive discipline); an absent
          // pending at done-stage waits for its watermark verdict
          def pendLiveM(p: OvMPending, clock: Long): Boolean = {
            val dl = deadline(p.ts1)
            if (clock <= dl) true
            else {
              val stage = p.tailIds.length
              (absent && stage == doneStage) ||
                (stage < tail.length && quant(stage).exists {
                  case (k, kx) => tmIsl.get(stage).exists(o =>
                    us(o.start) > lastTs(p) && us(o.end) <= dl &&
                      o.count >= k && kx.forall(o.count <= _))
                })
            }
          }
          def lastTsOf(p: OvMPending): Timestamp =
            if (p.tailTs.isEmpty) p.ts2 else p.tailTs.last
          // watermark-horizon resolution (absent form): once wm passes
          // a pending's deadline no NOT-class event inside the window
          // can still arrive — a done-stage pending verdicts NO-FOLLOW
          // and emits with its FROZEN prefix-span accumulators; every
          // other ripe pending is an inner-join miss (pendLiveM)
          def resolveByWmM(wmUs: Long): Unit = {
            anchors = anchors.filter(live(_, wmUs))
            if (absent) {
              val (ripe, rest) =
                pending.partition(p => wmUs > deadline(p.ts1))
              ripe.foreach { p =>
                if (p.tailIds.length == doneStage)
                  emitM(p.id1, p.ts1, Seq(p.id1, p.len) ++ p.tailIds,
                    Seq(p.ts1, p.ts2) ++ p.tailTs, p.ts1, lastTsOf(p),
                    pvals(p))
              }
              pending = rest ++ ripe.filter(p =>
                p.tailIds.length != doneStage && pendLiveM(p, wmUs))
            } else pending = pending.filter(pendLiveM(_, wmUs))
          }
          def live(a: OvMAnchor, clock: Long): Boolean = {
            val dl = deadline(a.ts1)
            if (clock <= dl) true
            // reluctant: no frozen survival — the m-th event either
            // already served (anchor gone) or lies past the deadline
            else !reluctant && open.exists(o => us(o.start) > us(a.ts1) &&
              us(o.end) <= dl && o.count >= minLen &&
              maxLen.forall(o.count <= _))
          }
          def vals(a: OvMAnchor, isl: OvMIsland): Seq[Double] =
            measures.zipWithIndex.map {
              case (CepSql.SpanAgg(fn, c, _), _) =>
                lazy val i =
                  aggCols.indexOf(c.toLowerCase(java.util.Locale.ROOT))
                fn match {
                  case "SUM" => a.sums(i)
                  case "AVG" => a.sums(i) / a.cnt
                  case "MIN" => a.mns(i)
                  case "MAX" => a.mxs(i)
                  case _     => a.cnt.toDouble
                }
              case (CepSql.BoundRef("FIRST", _, _, _, _), j) =>
                isl.firstBnd(j)
              case (_: CepSql.BoundRef, j) => isl.lastBnd(j)
              case (_: CepSql.ClassRef, j) => a.anchorBnd(j)
              case (_, _) => 0.0
            }

          // wm-driven pruning (state stays window-bound on idle keys
          // too): a timed-out key drops anchors no island can serve and
          // completion pendings past their deadline (inner-join
          // misses); absent done-stage pendings EMIT their no-follow
          // verdict here (resolveByWmM). A key that keeps receiving
          // data may never fire its timer — resolve against the
          // batch-start watermark first (sound: in-bound events of
          // this batch all carry ts above it), the non-measures
          // engine's discipline.
          val batch =
            if (state.hasTimedOut) Array.empty[CepEvent]
            else it.toArray.sortBy(e => (us(e.ts), e.event_id))
          if (state.hasTimedOut)
            resolveByWmM(state.getCurrentWatermarkMs() * 1000L)
          else if (wmEnabled && absent)
            resolveByWmM(state.getCurrentWatermarkMs() * 1000L)
          batch.foreach { e =>
            val t = us(e.ts)
            // 1. island close: qualifying anchors emit with THEIR span
            //    accumulators (events anchor..run-end — the breaker is
            //    not yet folded in) and the island's boundary slots;
            //    with a tail (r13) they park as PENDINGS instead,
            //    carrying accumulators + frozen island boundary slots
            if (!runPred(e)) {
              // RELUCTANT serving is m-th-event-driven (step 3 below);
              // the close only clears the tracker
              open.foreach { o =>
                if (!reluctant &&
                    o.count >= minLen && maxLen.forall(o.count <= _))
                  anchors = anchors.flatMap { a =>
                    if (us(o.start) > us(a.ts1) &&
                        us(o.end) <= deadline(a.ts1)) {
                      if (tail.isEmpty)
                        emitM(a.id1, a.ts1, Seq(a.id1, o.count),
                          Seq(a.ts1, o.end), a.ts1, o.end, vals(a, o))
                      else
                        pending ::= OvMPending(a.id1, a.ts1, o.count,
                          o.end, Nil, Nil, a.sums, a.cnt, a.mns, a.mxs,
                          o.firstBnd, o.lastBnd, a.anchorBnd)
                      Nil
                    } else List(a)
                  }
              }
              open = None
            }
            // 1b. QUANTIFIED tail island closes (r13, measures form):
            //     BEFORE the fold — the breaker is outside a span that
            //     ends at this island's run_end. Serving writes the
            //     island's FIRST/LAST boundary slots into the pending's
            //     refSlots for measures targeting this step; the
            //     emitted slot is the run LENGTH, the ts slot run_end.
            quant.indices.foreach { s =>
              if (quant(s).isDefined && !tail(s)(e)) {
                tmIsl.get(s).foreach { o =>
                  val (k, kx) = quant(s).get
                  if (o.count >= k && kx.forall(o.count <= _))
                    pending = pending.flatMap { p =>
                      if (p.tailIds.length == s &&
                          us(o.start) > lastTs(p) &&
                          us(o.end) <= deadline(p.ts1)) {
                        val slots = p.refSlots.lazyZip(measures)
                          .lazyZip(measures.indices).map {
                            case (_, CepSql.BoundRef("FIRST", _, _, st, _),
                                j) if st == s + 3 => o.firstBnd(j)
                            case (_, CepSql.BoundRef(_, _, _, st, _), j)
                                if st == s + 3 => o.lastBnd(j)
                            case (cur, _, _) => cur
                          }
                        val adv = p.copy(
                          tailIds = p.tailIds :+ o.count,
                          tailTs = p.tailTs :+ o.end,
                          refSlots = slots)
                        // an absent pending reaching done-stage WAITS
                        // for the watermark verdict (accumulators
                        // freeze via the fold guard above)
                        if (!absent && adv.tailIds.length == doneStage) {
                          emitM(adv.id1, adv.ts1,
                            Seq(adv.id1, adv.len) ++ adv.tailIds,
                            Seq(adv.ts1, adv.ts2) ++ adv.tailTs,
                            adv.ts1, adv.tailTs.last, pvals(adv))
                          Nil
                        } else List(adv)
                      } else List(p)
                    }
                }
                tmIsl -= s
              }
            }
            // 2. cleanup, then fold THIS event into surviving anchors'
            //    AND pendings' span accumulators (the span covers
            //    first..last matched rows inclusive regardless of
            //    class; a pending's span extends past the run end to
            //    its final tail match, so the breaker and every later
            //    event up to that match fold in — events after a
            //    pending's emission never reach it, it is removed at
            //    completion below; a quantified-stage pending past its
            //    deadline survives while its frozen island qualifies)
            anchors = anchors.filter(live(_, t))
            pending = pending.filter(pendLiveM(_, t))
            val evAgg = aggSels.map(g => g(e))
            anchors = anchors.map { a =>
              a.copy(sums = a.sums.lazyZip(evAgg).map(_ + _),
                cnt = a.cnt + 1,
                mns = a.mns.lazyZip(evAgg).map(math.min),
                mxs = a.mxs.lazyZip(evAgg).map(math.max))
            }
            pending = pending.map { p =>
              // absent form: a done-stage pending's span ended at its
              // last POSITIVE match — accumulators are FROZEN (the
              // batch span join covers anchor .. ts_{N-1} only)
              if (absent && p.tailIds.length == doneStage) p
              else p.copy(sums = p.sums.lazyZip(evAgg).map(_ + _),
                cnt = p.cnt + 1,
                mns = p.mns.lazyZip(evAgg).map(math.min),
                mxs = p.mxs.lazyZip(evAgg).map(math.max))
            }
            // 2b. UNQUANTIFIED tail resolution (r13) — AFTER the fold,
            //     so a completing event's own values are already in
            //     the span (it is the span's last row). Per-step
            //     rank-1: first event of the step's class strictly
            //     after the previous step's ts inside the anchor
            //     window; class-ref slots for step stage+3 capture
            //     here; completion emits and removes the pending.
            //     Quantified stages advance only at their island
            //     closes (1b), never on single events.
            if (tail.nonEmpty)
              pending = pending.flatMap { p =>
                val stage = p.tailIds.length
                if (stage == doneStage) {
                  // absence arm: a NOT-class event after the last
                  // positive match kills the pending (the batch anti
                  // join's predicate verbatim)
                  if (absent && tail.last(e) && t > lastTs(p) &&
                      t <= deadline(p.ts1)) Nil
                  else List(p)
                } else if (quant(stage).isEmpty && tail(stage)(e) &&
                    t > lastTs(p) && t <= deadline(p.ts1)) {
                  val adv = p.copy(
                    tailIds = p.tailIds :+ e.event_id,
                    tailTs = p.tailTs :+ e.ts,
                    refSlots = p.refSlots.lazyZip(measures)
                      .lazyZip(slotGet).map {
                        case (_, cr: CepSql.ClassRef, Some(g))
                            if cr.step == stage + 3 => g(e)
                        case (cur, _, _) => cur
                      })
                  if (adv.tailIds.length == doneStage) {
                    // reaching done-stage: completion emits; absence
                    // waits for the watermark verdict
                    if (absent) List(adv)
                    else {
                      emitM(adv.id1, adv.ts1,
                        Seq(adv.id1, adv.len) ++ adv.tailIds,
                        Seq(adv.ts1, adv.ts2) ++ adv.tailTs,
                        adv.ts1, adv.tailTs.last, pvals(adv))
                      Nil
                    }
                  } else List(adv)
                } else List(p)
              }
            // 3. island upkeep with boundary-slot capture. RELUCTANT
            //    (r14): the moment the island reaches m it serves every
            //    live anchor — the anchor's accumulators folded THIS
            //    event in step 2 (span = anchor..m-th row inclusive)
            //    and the island's lastBnd just froze at the m-th row,
            //    so emission (tail-less) or parking (tails) happens
            //    here with len = m, ts2 = the m-th ts
            if (runPred(e)) {
              val slots = slotGet.map(_.map(g => g(e)).getOrElse(0.0))
              open = open match {
                case Some(o) =>
                  Some(o.copy(count = o.count + 1, end = e.ts,
                    lastBnd = slots))
                case None =>
                  Some(OvMIsland(1, e.ts, e.ts, slots, slots))
              }
              if (reluctant && open.exists(_.count == minLen)) {
                val o = open.get
                anchors = anchors.flatMap { a =>
                  if (us(o.start) > us(a.ts1) && t <= deadline(a.ts1)) {
                    if (tail.isEmpty)
                      emitM(a.id1, a.ts1, Seq(a.id1, minLen.toLong),
                        Seq(a.ts1, e.ts), a.ts1, e.ts, vals(a, o))
                    else
                      pending ::= OvMPending(a.id1, a.ts1,
                        minLen.toLong, e.ts, Nil, Nil, a.sums, a.cnt,
                        a.mns, a.mxs, o.firstBnd, o.lastBnd, a.anchorBnd)
                    Nil
                  } else List(a)
                }
              }
            }
            // 3b. quantified-tail island upkeep (r13) — same boundary-
            //     slot capture discipline as the head island
            quant.indices.foreach { s =>
              if (quant(s).isDefined && tail(s)(e)) {
                val slots = slotGet.map(_.map(g => g(e)).getOrElse(0.0))
                tmIsl += s -> (tmIsl.get(s) match {
                  case Some(o) => o.copy(count = o.count + 1, end = e.ts,
                    lastBnd = slots)
                  case None => OvMIsland(1, e.ts, e.ts, slots, slots)
                })
              }
            }
            // 4. anchor creation — accumulators SEEDED with the anchor
            //    event itself (the span's first row), class-ref slots
            //    captured here
            if (anchorPred(e)) {
              val evA = aggSels.map(g => g(e))
              val slots = slotGet.lazyZip(measures).map {
                case (Some(g), _: CepSql.ClassRef) => g(e)
                case _ => 0.0
              }
              anchors = anchors :+ OvMAnchor(e.event_id, e.ts,
                evA, 1L, evA, evA, slots)
            }
            // loud per-key circuit breaker (r14, verdict #6)
            checkCap(maxPendings, user, anchors.length, pending.length)
          }
          // ordered MATCH_NUMBER release (r13 session 2), ONCE per
          // invocation after the whole batch: a held match releases
          // when no live anchor/pending with a smaller (ts_1, id_1)
          // remains — any future completion necessarily carries a
          // larger sort key, so the counter assignment equals the
          // batch row_number ordering. r14 (advice): live blockers
          // alone are not enough under out-of-order arrival — a later
          // micro-batch may deliver a watermark-ADMISSIBLE event with
          // an earlier event time that anchors a smaller sort key. An
          // admissible future event has ts >= watermark, so a held
          // match additionally waits until its anchor ts is STRICTLY
          // below the watermark (then every future anchor's key is
          // larger). Without a watermark there is no lateness contract
          // to hold against; release rests on the blocker check alone
          // (numbering is then correct for event-time-ordered arrival,
          // the only order a watermark-free stream can promise).
          if (hasMatchNum && held.nonEmpty) {
            val blockers = anchors.map(a => (us(a.ts1), a.id1)) ++
              pending.map(p => (us(p.ts1), p.id1))
            val minB = blockers.sorted.headOption
            val wmGate: OvMHeld => Boolean =
              if (wmEnabled) {
                val wmUs = state.getCurrentWatermarkMs() * 1000L
                h => us(h.ts1) < wmUs
              } else _ => true
            val (rel, keep) = held.sortBy(h => (us(h.ts1), h.id1))
              .span(h => wmGate(h) && minB.forall(b =>
                Ordering[(Long, Long)].lt((us(h.ts1), h.id1), b)))
            rel.foreach { h =>
              val vs = h.vals.lazyZip(measures).map {
                case (_, _: CepSql.MatchNum) => nextNum.toDouble
                case (v, _) => v
              }
              out += RunChainMeasured(user, h.stepVals, h.stepTs,
                h.startTs, h.endTs, vs)
              nextNum += 1
            }
            held = keep
          }
          // with MATCH_NUMBER the per-key counter must survive quiet
          // periods (the batch numbers EVERY match of the key 1..n), so
          // a key that ever matched keeps its one-counter state row —
          // the standard MATCH_NUMBER residue, 8 bytes + envelope per
          // matched key
          if (open.isEmpty && anchors.isEmpty && pending.isEmpty &&
              held.isEmpty && (!hasMatchNum || nextNum == 1L))
            state.remove()
          else {
            val ti = tmIsl.toSeq.sortBy(_._1)
            state.update(OverlapMState(open, anchors, pending,
              ti.map(_._1), ti.map(_._2).toList, held, nextNum))
            // r14: held matches also arm the timeout — a watermark-
            // gated release must fire when the watermark passes the
            // held anchor's ts even if the key never sees another
            // event (a held item wakes at its ts1 ms: the timeout
            // fires once wm > that, which makes us(ts1) < wmUs true)
            if (wmEnabled && (anchors.nonEmpty || pending.nonEmpty ||
                held.nonEmpty))
              state.setTimeoutTimestamp(math.max(
                ((anchors.map(a => deadline(a.ts1)) ++
                  pending.map(p => deadline(p.ts1)))
                  .map(_ / 1000L + 1) ++
                  held.map(h => us(h.ts1) / 1000L)).min,
                state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
      }
  }
}
