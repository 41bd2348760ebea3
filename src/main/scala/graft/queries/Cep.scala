package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** T3 — streaming/CEP semantics, declared as batch-equivalent queries
  * (SURVEY §2.9). Event-time windows are pure functions of the data, so the
  * batch results here are byte-equal to what the Structured Streaming twins
  * in [[graft.streaming]] produce; the streaming equivalence is asserted in
  * ScalaTest with MemoryStream.
  *
  * Reference: spark-cep's `OVER (WINDOW 'w', SLIDE 's')` processing-time
  * windows and its incremental sliding aggregation [SURVEY §2.9 R] map to
  * `window()` / `session_window()` event-time aggregation; its Redis pane
  * state maps to the Structured Streaming state store.
  */
object Cep {
  private def T(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J7 — interval self-join: purchase within 30 min after a signup by the
    // same user. Both sides shuffle once on user_id; the time predicate is
    // a JOIN RESIDUAL, evaluated per user-key match.
    // HOT-KEY WARNING (r11, verdict #7): this is the user-equi +
    // time-residual shape q_attribution retired in r10 — one hot user
    // (a bot, a shared account) makes the per-key match quadratic
    // BEFORE the residual filters (HotKeyProbe measured the class at
    // 2×10¹⁰ pairs for 200k×200k on one key). Use the BANDED form
    // (q_join_interval_banded / TemporalJoins.intervalJoinBanded —
    // time bucket inside the equi key) whenever a key can be hot; this
    // un-banded form is the readable baseline the oracle checks, kept
    // because both keys share one DuckDB oracle proving the banded
    // plan's equivalence.
    "q_join_interval" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val a = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), col("user_id"),
          col("ts").as("s_ts"))
      val b = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("uid_b"),
          col("ts").as("p_ts"))
      a.join(b,
          col("user_id") === col("uid_b") &&
          col("p_ts") > col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"))
        .select("sid", "pid", "user_id")
        .orderBy("sid", "pid")
    }),

    // J7b — same interval-join semantics through the hot-key-safe BANDED
    // plan (time bucket as part of the equi key — see
    // TemporalJoins.intervalJoinBanded); same DuckDB oracle as
    // q_join_interval. A 10-minute band on a 30-minute window = 4-way
    // left-side expansion, right side unexpanded.
    "q_join_interval_banded" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val a = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), col("user_id"),
          col("ts").as("s_ts"))
      val b = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"),
          col("ts").as("p_ts"))
      graft.operators.TemporalJoins.intervalJoinBanded(a, b, Seq("user_id"),
          "s_ts", "p_ts", "30 MINUTES", "10 MINUTES")
        .select(a("sid"), b("pid"), a("user_id"))
        .orderBy("sid", "pid")
    }),

    // C2 — sliding window (30 min / 10 min): each event lands in exactly 3
    // epoch-aligned panes. At 100 TB, prefer tumbling-pane pre-agg + merge
    // (SURVEY §7.6); at this SF the expand is the faster plan.
    "q_window_sliding" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes", "10 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"),
          col("sum_value"))
        .orderBy("ws", "event_type")
    }),

    // C2b — sliding-window DISTINCT count (r6): exact here (oracle-able);
    // the scale path is operators/Panes.slidingDistinctViaPanes — HLL
    // pane sketches unioned per window, one fact shuffle total — pinned
    // within 5% of this exact key in PanesSpec. Distinct is the aggregate
    // the plain pane algebra can't merge, i.e. the hard half of the
    // reference's incremental sliding-agg story.
    "q_sliding_distinct" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(window(col("ts"), "30 minutes", "10 minutes"))
        .agg(countDistinct("user_id").as("nd_users"))
        .select(col("window.start").as("ws"), col("nd_users"))
        .orderBy("ws")
    }),

    // C3 — session window, 5-minute gap, keyed by user.
    "q_window_session" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("cnt"))
        .orderBy("user_id", "s_start")
    }),

    // C3b — DYNAMIC-gap session window (r6): the gap is a per-event
    // expression (clicks close fast at 5 min; other activity keeps the
    // session alive 15 min) — Spark's session_window(gapDuration: Column)
    // surface, which the fixed-gap form can't express. Same single
    // shuffle on the group key as C3; sessions merge by overlapping
    // [ts, ts+gap) windows, so the oracle recomputes them as a running
    // max of window ends (gaps-and-islands, variable width).
    "q_session_dynamic" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(session_window(col("ts"),
          when(col("event_type") === "click", "5 minutes")
            .otherwise("15 minutes")), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("cnt"))
        .orderBy("user_id", "s_start")
    }),

    // J7c — RANGE-OVERLAP join (r6): ranges × ranges, the temporal shape
    // the point-in-window interval join can't express — which users were
    // active AT THE SAME TIME? Sessions (5-min gap) joined on the
    // half-open overlap predicate (a.start < b.end AND b.start < a.end).
    // Plan: BANDED — each session explodes into the time buckets it
    // touches (span/band + 1 rows) and the join is EQUI on the bucket,
    // so no cartesian ever forms.
    //
    // BAND WIDTH IS DERIVED, NOT HAND-TUNED (r7): candidate pairs per
    // bucket grow with per-bucket session density² while the explode
    // factor grows as span/band + 1, so the optimum tracks the session-
    // span distribution — band = p95(span) keeps the explode factor
    // ≤ 2 for ~95% of sessions while the bucket narrows exactly when
    // sessions (and thus per-bucket concurrency) shorten. The /2 and ×2
    // variants were A/B-measured at sf0.1 (p95 = 300 s there): band
    // 150 s → 0.66 s, 300 s → 0.47 s, 600 s → 0.73 s — p95 itself is
    // the sweet spot and reproduces the best hand-tuned r6 number. One
    // approx_percentile scalar on the already-cached session frame
    // reaches the driver (same scalar-only pattern as Components'
    // convergence check), clamped to [1 min, 1 h]. The derivation pass
    // costs ~0.2 s of job overhead at sf0.1 (BENCH q_join_overlap
    // 0.47 → ~0.65 s end-to-end) — the honest price of adaptivity,
    // amortized to noise at the scale where the band choice actually
    // matters. At a 100 TB peak hour with 10⁵ concurrent short
    // sessions the band narrows automatically instead of needing this
    // comment edited.
    // A session pair meeting in several buckets is deduped by counting
    // distinct session identities.
    // The oracle recomputes sessions + the plain overlap join in DuckDB
    // (band width never changes the result, only the plan).
    "q_join_overlap" -> ((s, dir) => {
      // both join sides derive from the SAME session frame — cache it so
      // the sessionization (shuffle + sort) runs once, not per side
      val sess = graft.Caching.cache(T(s, dir, "events")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end")))
      // r14: one scalar, deterministic from the cached session frame —
      // epoch-memoized so re-builds skip the derivation job
      val p95Sec = graft.Caching.memoEpoch(("overlapP95", s, dir)) {
        Option(sess
          .agg(expr("approx_percentile(unix_micros(s_end) - " +
            "unix_micros(s_start), 0.95)")).head().get(0))
          .map(_.asInstanceOf[Long] / 1000000.0).getOrElse(1800.0)
      }
      val band = math.min(3600L,
        math.max(60L, (math.ceil(p95Sec / 60) * 60).toLong))
      def banded(u: String) = sess
        .select(col("user_id").as(u), col("s_start").as(s"${u}_s"),
          col("s_end").as(s"${u}_e"))
        .withColumn("h", explode(sequence(
          timestamp_seconds(floor(unix_timestamp(col(s"${u}_s")) / band)
            .cast("long") * band),
          timestamp_seconds(floor(unix_timestamp(col(s"${u}_e")) / band)
            .cast("long") * band), expr(s"INTERVAL $band SECONDS"))))
      banded("ua").join(banded("ub"), Seq("h"))
        .filter(col("ua") < col("ub") &&
          col("ua_s") < col("ub_e") && col("ub_s") < col("ua_e"))
        .groupBy("ua", "ub")
        .agg(countDistinct(struct(col("ua_s"), col("ub_s"))).as("novl"))
        .orderBy("ua", "ub")
    }),

    // C5 — dedup (batch equivalent of dropDuplicates on the key columns).
    "q_dedup_events" -> ((s, dir) => {
      T(s, dir, "events")
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type")
        .orderBy("user_id", "event_type")
    }),

    // C6 — CEP sequence: for each signup, the FIRST purchase by the same
    // user within 30 min (AFTER MATCH SKIP TO NEXT ROW semantics). The
    // streaming twin is graft.streaming.ChainEngine (state machine per key).
    "q_cep_seq" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val a = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), col("user_id"),
          col("ts").as("s_ts"))
      val b = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("uid_b"),
          col("ts").as("p_ts"))
      val w = Window.partitionBy("sid").orderBy(asc("p_ts"), asc("pid"))
      a.join(b,
          col("user_id") === col("uid_b") &&
          col("p_ts") > col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "sid", "pid", "s_ts", "p_ts")
        .orderBy("sid")
    }),

    // C6b — CEP absence pattern: signups NOT followed by a purchase within
    // 30 min (negation is the other half of sequence CEP; streaming twin
    // is ChainEngine's absence form — event-time timers fire on the
    // deadline).
    "q_cep_absence" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val a = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("sid"), col("user_id"),
          col("ts").as("s_ts"))
      val b = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id").as("uid_b"),
          col("ts").as("p_ts"))
      a.join(b,
          col("user_id") === col("uid_b") &&
          col("p_ts") > col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 30 MINUTES"),
          "left_anti")
        .select("sid", "user_id", "s_ts")
        .orderBy("sid")
    }),

    // J8 — as-of join: for every error event, the latest click by the same
    // user at/before it. Composition: theta join + row_number, which at
    // scale becomes a per-user sort-merge — the idiomatic Spark as-of.
    "q_join_asof" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("uid_c"),
          col("ts").as("click_ts"))
      val w = Window.partitionBy("err_id")
        .orderBy(desc("click_ts"), desc("click_id"))
      val matched = err.join(clk,
          col("user_id") === col("uid_c") && col("click_ts") <= col("err_ts"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("err_id").as("m_err_id"), col("click_id"),
          col("click_ts"))
      err.join(matched, col("err_id") === col("m_err_id"), "left")
        .select("err_id", "user_id", "err_ts", "click_id", "click_ts")
        .orderBy("err_id")
    }),

    // J8b — same as-of semantics through the hot-key-safe CARRY plan
    // (union + one shuffle on user_id + sorted carry-forward, zero join
    // pairs — see TemporalJoins.asofJoinBackwardCarry). Checked against
    // the same DuckDB native ASOF oracle as q_join_asof.
    "q_join_asof_carry" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      graft.operators.TemporalJoins.asofJoinBackwardCarry(err, clk,
          Seq("user_id"), "err_ts", "click_ts", "click_id")
        .select("err_id", "user_id", "err_ts", "click_id", "click_ts")
        .orderBy("err_id")
    }),

    // J8c — FORWARD as-of: for every error event, the EARLIEST click at
    // or after it by the same user (the "next event" direction; backward
    // is q_join_asof). Ties on click_ts break by min click_id.
    "q_join_asof_fwd" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      graft.operators.TemporalJoins.asofJoinForward(err, clk,
          Seq("user_id"), "err_id", "err_ts", "click_ts", "click_id")
        .select("err_id", "user_id", "err_ts", "click_id", "click_ts")
        .orderBy("err_id")
    }),

    // J8d — NEAREST as-of: for every error event, the click by the same
    // user closest in time within ±30 min, either direction; ties on the
    // absolute gap go to the earlier click, then min click_id. The
    // tolerance band is what keeps the candidate pairs bounded per key
    // (see TemporalJoins.asofJoinNearest) — the shape that survives a
    // hot user at 100 TB where an unbanded nearest would pair each error
    // with the user's whole click history.
    "q_join_asof_near" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      graft.operators.TemporalJoins.asofJoinNearest(err, clk,
          Seq("user_id"), "err_id", "err_ts", "click_ts", "click_id",
          toleranceUs = 30L * 60 * 1000000)
        .withColumn("gap_us",
          expr("abs(unix_micros(click_ts) - unix_micros(err_ts))"))
        .select("err_id", "user_id", "err_ts", "click_id", "click_ts",
          "gap_us")
        .orderBy("err_id")
    }),

    // C6c — quantified CEP pattern `click{3,} purchase?` per user: maximal
    // runs of ≥3 consecutive clicks (gaps-and-islands — two row_numbers,
    // one window sort per user), then the first purchase within 10 min of
    // the run's end, if any. This is MATCH_RECOGNIZE's A{3,} B? shape as a
    // single-pass window plan — no self-join over the run itself.
    "q_cep_times" -> ((s, dir) => {
      val e = T(s, dir, "events")
        .select("event_id", "user_id", "event_type", "ts")
      val wU = Window.partitionBy("user_id")
        .orderBy(asc("ts"), asc("event_id"))
      val wUT = Window.partitionBy("user_id", "event_type")
        .orderBy(asc("ts"), asc("event_id"))
      val runs = e
        .withColumn("grp", row_number().over(wU) - row_number().over(wUT))
        .filter(col("event_type") === "click")
        .groupBy("user_id", "grp")
        .agg(count(lit(1)).as("run_len"), min("ts").as("run_start"),
          max("ts").as("run_end"))
        .filter(col("run_len") >= 3)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("p_ts"))
      runs.join(p,
          col("user_id") === col("pu") && col("p_ts") > col("run_end") &&
          col("p_ts") <= col("run_end") + expr("INTERVAL 10 MINUTES"),
          "left")
        .groupBy("user_id", "run_len", "run_start", "run_end")
        .agg(min("p_ts").as("next_purchase"))
        .orderBy("user_id", "run_start")
    }),

    // Time spine + gap fill: the backfill/resample primitive every
    // event-time pipeline needs (missing hours must exist as zeros before
    // rate math). The spine generates from the data's own bounds — one
    // 1-row aggregate, sequence(), explode — then a broadcast-able left
    // join against the hourly counts.
    "q_time_spine" -> ((s, dir) => {
      val e = T(s, dir, "events")
      val bounds = e.agg(date_trunc("hour", min("ts")).as("lo"),
        date_trunc("hour", max("ts")).as("hi"))
      val spine = bounds
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
      val cnts = e.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      spine.join(cnts, Seq("h"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .orderBy("h")
    }),

    // EP1 — the reference DIALECT ITSELF under the oracle gate: the query
    // is submitted as reference-dialect TEXT (`OVER (WINDOW …)`) and runs
    // through CepSql's rewrite; DuckDB recomputes the same epoch-aligned
    // hour buckets directly. min(event_id) gives the total order (each
    // event lives in exactly one tumbling bucket, so group minima are
    // distinct).
    "q_dialect_window" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT event_type, COUNT(*) AS cnt, MIN(event_id) AS min_id
           FROM events OVER (WINDOW '3600' SECONDS)
           GROUP BY event_type ORDER BY min_id""")
    }),

    // EP1e — QUALIFY dialect under the oracle gate (r11): the post-window
    // filter surface (DuckDB/BigQuery/Snowflake spell it identically, so
    // the DuckDB oracle runs ITS OWN native QUALIFY on near-verbatim
    // text — the strongest cross-engine check a dialect clause can get).
    // Spark has no QUALIFY; [[graft.streaming.CepSql]] rewrites it to the
    // wrapped-subquery + WHERE form. Top-3 orders per customer by price;
    // (o_custkey, rn) is unique, so ORDER BY + LIMIT is deterministic.
    // Plan shape: one hash exchange on o_custkey for the window sort,
    // rank filter BEFORE the global TopK — identical to the hand-written
    // q_topk_group plan, proving the rewrite costs nothing.
    "q_dialect_qualify" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders
           QUALIFY rn <= 3
           ORDER BY o_custkey, rn LIMIT 500""")
    }),

    // EP1f — ASOF JOIN dialect under the oracle gate (r11): DuckDB runs
    // its NATIVE ASOF LEFT JOIN on the same shape, so the clause itself
    // is what the hash compares. CepSql.sql dispatches the text to the
    // TemporalJoins backward-carry operator (ZERO join nodes — one
    // union + one per-key window pass; the same plan q_join_asof_carry
    // pins), because no sound text-to-text rewrite exists without a
    // left-row identity. Views pre-rename so the sides' non-key columns
    // stay disjoint (the dialect's documented restriction).
    "q_dialect_asof" -> ((s, dir) => {
      val e = T(s, dir, "events")
      e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"))
        .createOrReplaceTempView("asof_err")
      e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          col("ts").as("click_ts"))
        .createOrReplaceTempView("asof_clk")
      graft.streaming.CepSql.sql(s,
        """SELECT e.err_id, e.user_id, e.err_ts,
                  c.event_id AS click_id, c.click_ts
           FROM asof_err e ASOF LEFT JOIN asof_clk c
           ON e.user_id = c.user_id AND e.err_ts >= c.click_ts
           ORDER BY err_id""")
    }),

    // EP1g — DISTINCT ON dialect under the oracle gate (r12): DuckDB
    // runs its NATIVE DISTINCT ON on the same text, so the clause
    // itself is what the hash compares. CepSql.translate rewrites it to
    // the rank-1 window (partition by the keys, order by the ORDER BY
    // tail) — the dialect REQUIRES the ORDER BY to lead with the keys
    // and carry a tiebreak, so the picked row is deterministic in both
    // engines.
    "q_dialect_distinct_on" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
                  o_totalprice
           FROM orders
           ORDER BY o_custkey, o_totalprice DESC, o_orderkey
           LIMIT 500""")
    }),

    // EP1m — RENAME star modifier (r13): `SELECT * RENAME (old AS
    // new)` keeps every column and renames in place — the last member
    // of the DuckDB/BigQuery star-modifier family after EXCLUDE/
    // REPLACE. The Spark side expands via CepSql's schema-aware
    // rewrite; the oracle is the hand-expanded equivalent SELECT list
    // (the driver's DuckDB 1.0 predates native RENAME — the VALUES
    // are what the hash pins, column names included).
    "q_dialect_rename" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * RENAME (o_orderdate AS order_date,
                            o_custkey AS cust_id)
           FROM orders
           WHERE o_orderstatus = 'O'
           ORDER BY o_orderkey LIMIT 500""")
    }),

    // EP1n — ORDER BY ALL parity (r13): both engines sort by every
    // SELECT column left-to-right; group keys are unique so the order
    // is total and the hash pins the shared semantics (Spark 4 parses
    // the form natively — no rewrite, same text both sides, the
    // q_dialect_group_by_all discipline).
    "q_dialect_order_all" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
           FROM orders GROUP BY ALL ORDER BY ALL""")
    }),

    // EP1h — star-modifier dialect (r12): `SELECT * EXCLUDE (…)
    // REPLACE (…)`. DuckDB runs the SAME text natively; the Spark side
    // goes through CepSql's schema-aware star expansion (Spark's parser
    // has no star modifiers). The REPLACE expressions use the shared
    // floor-half-up text so both engines round the replaced price
    // identically.
    "q_dialect_exclude" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * EXCLUDE (o_orderdate, o_custkey)
               REPLACE (floor(o_totalprice / 10 * 100 + 0.5) / 100
                          AS o_totalprice,
                        upper(o_orderpriority) AS o_orderpriority)
           FROM orders
           WHERE o_orderstatus = 'F'
           ORDER BY o_orderkey LIMIT 500""")
    }),

    // EP1j — auto-PIVOT dialect (r12): DuckDB's statement-leading
    // `PIVOT t ON col USING agg(expr) GROUP BY rows` runs NATIVELY as
    // the oracle; Spark has only the explicit-IN-list PIVOT, so
    // CepSql's dispatch derives the value list from the data (one
    // distinct scan, sorted, capped at 100) — a DATA-aware rewrite,
    // not just schema-aware. The pivoted measure is exact integer
    // cents carried as DOUBLE (sums exact < 2^53 — DuckDB's
    // sum(BIGINT) would come back HUGEINT and fail the dtype family
    // gate).
    "q_dialect_pivot" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """PIVOT orders ON o_orderstatus
           USING sum(CAST(floor(o_totalprice * 100 + 0.5) AS DOUBLE))
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority""")
    }),

    // EP1k — long-form UNPIVOT dialect (r12): DuckDB's statement-
    // leading melt runs NATIVELY as the oracle; the Spark side
    // rewrites to `FROM t UNPIVOT (v FOR n IN (…))` (both engines drop
    // NULL values by default). The two melted columns share BIGINT, so
    // the value column types agree; the ORDER BY totalizes on
    // (o_totalprice, o_orderdate, metric, val).
    "q_dialect_unpivot" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """UNPIVOT orders ON o_orderkey, o_custkey
           INTO NAME metric VALUE val
           ORDER BY o_totalprice, o_orderdate, metric, val
           LIMIT 500""")
    }),

    // EP1i — `GROUP BY ALL` parity pin (r12): both engines support the
    // clause natively (Spark 3.4+, DuckDB), so the SAME text runs on
    // both sides and the hash pins that their "all non-aggregate select
    // items" semantics agree. The summed money is exact integer cents
    // (floor-half-up per row, BIGINT sum) — no float accumulation
    // crosses the engine boundary.
    "q_dialect_group_by_all" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS total_cents
           FROM orders
           GROUP BY ALL
           ORDER BY o_orderstatus, o_orderpriority""")
    }),

    // EP1b — sequence CEP from SQL TEXT (`MATCH PATTERN`, r6 dialect):
    // the statement rewrites to the q_cep_seq join/window formulation;
    // the oracle is the same DuckDB recomputation q_cep_seq uses.
    "q_pattern_sql" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
           PARTITION BY user_id""")
    }),

    // EP1b2 — absence CEP from SQL TEXT (the fourth and last pattern
    // form under the oracle gate): THEN NOT rewrites to the left-anti
    // q_cep_absence formulation; the oracle is that key's recomputation.
    "q_pattern_absence" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN NOT purchase WITHIN '30' MINUTES)
           PARTITION BY user_id""")
    }),

    // EP1c — N-step chain CEP from SQL TEXT (r6 dialect extension):
    // signup → first click after it → first purchase after that, whole
    // chain within 24 h of the signup, one greedy match per signup
    // (skip-to-next-row). Rewrites to chained rank-1 joins; the oracle
    // recomputes the identical chain in DuckDB.
    "q_pattern_chain" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN click THEN purchase WITHIN '24' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1d — quantified-run CEP from SQL TEXT (r6 dialect extension):
    // click{3,} = a maximal run of >= 3 consecutive clicks (q_cep_times'
    // gaps-and-islands formulation), completed by the first purchase
    // within 12 hours of the RUN'S END. Inner-completion semantics
    // (runs without a purchase are the THEN NOT variant).
    "q_pattern_times" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (click{3,} THEN purchase WITHIN '12' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1d' — RELUCTANT QUANTIFIER from SQL TEXT (r8, `{m,}?` — regex
    // lazy syntax): click{3,}? truncates each qualifying run to its
    // FIRST 3 clicks, so the purchase is sought from the 3rd click
    // rather than the run's maximal end — matches the greedy variant
    // finds later (or not at all, when the only purchase lands inside
    // the long run) surface here, and run_len is always exactly 3.
    // Streams via RunChainDetector's lazy mode (replay ≡ batch pinned
    // in RunChainSpec; {1,}? and the 2-step reluctant absence stay
    // loudly batch-routed).
    "q_pattern_lazy" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (click{3,}? THEN purchase WITHIN '12' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1e — ALTERNATION from SQL TEXT (r7 dialect extension): a step may
    // name several event types (`click|purchase` matches either); the
    // rewrite widens the type predicate to IN. Same greedy rank-1
    // semantics and output shape as q_pattern_sql.
    "q_pattern_alt" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN click|purchase WITHIN '30' MINUTES)
           PARTITION BY user_id""")
    }),

    // EP1f — MID-CHAIN {m,} QUANTIFIER from SQL TEXT (r7): a quantified
    // step anywhere in the chain matches the FIRST maximal run of >= m
    // consecutive events of its class that starts after the previous
    // step and ends inside the anchor window (whole-run semantics). A
    // quantified step contributes (len_i, ts_i = run end) to the output.
    "q_pattern_mid_times" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN click{2,} THEN purchase WITHIN '24' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1g — AFTER MATCH SKIP PAST LAST ROW from SQL TEXT (r7): greedy
    // NON-overlapping matches (the next match anchors strictly after the
    // previous match's last row; a failed anchor consumes nothing).
    // CepSql.sql dispatches to the SkipMatch linear-scan operator (one
    // shuffle, no recursion); CepSql.translate emits an equivalent
    // recursive CTE for the pure-text path — SkipMatchSpec pins the two
    // equal, and the oracle below recomputes the greedy recursion in
    // DuckDB independently.
    "q_pattern_skip" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
           PARTITION BY user_id
           AFTER MATCH SKIP PAST LAST ROW""")
    }),

    // EP1h — STEP CONDITIONS from SQL TEXT (r7, DEFINE-lite): a step may
    // carry one numeric comparison (`purchase(value > 50)`); the rewrite
    // widens the step predicate. Grammar-validated fragments only —
    // identifier, fixed operator set, numeric literal — so the embedding
    // is injection-safe by construction.
    "q_pattern_pred" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN purchase(value > 50) WITHIN '30' MINUTES)
           PARTITION BY user_id""")
    }),

    // EP1i — BOUNDED QUANTIFIER from SQL TEXT (r7, {m,n} / {m}):
    // click{2,4} matches a maximal run of consecutive clicks whose
    // length lands in [2, 4] — whole-run semantics, so a 5-click run is
    // NOT a match (it is a different, bigger run; the rewrite caps the
    // gaps-and-islands HAVING, it never truncates). {m} is shorthand for
    // {m,m}. Completion semantics as q_pattern_times.
    "q_pattern_bounded" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (click{2,4} THEN purchase WITHIN '12' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1j — OPTIONAL STEP from SQL TEXT (r7, `ev?`): signup, optionally
    // a click, then a purchase — all within 12 hours of the signup.
    // Regex-scan greedy semantics: the FIRST click-or-purchase after the
    // signup decides the skip (click → the optional step takes it and
    // the purchase is sought after it; purchase → the optional step is
    // skipped, NULL id_2/ts_2, and that purchase completes the match).
    "q_pattern_opt" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN click? THEN purchase WITHIN '12' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1j' — optional step INSIDE an absence pattern (r8): the
    // composite-pivot prefix (take/skip per q_pattern_opt) feeds the
    // absence anti-join — signups that reached a view (with or without
    // an intervening click) and then saw NO purchase inside the window.
    // Streams via ChainEngine (replay ≡ batch pinned in ChainAbsenceSpec
    // + RecoverySpec).
    "q_pattern_optabs" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN click? THEN view THEN NOT purchase
           WITHIN '12' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1m — MEASURES over a QUANTIFIED chain (r8, previously
    // parse-rejected): click{2,}'s maximal runs, then the first
    // purchase within 2 hours of the run END; COUNT(*) spans from the
    // run's FIRST event to the purchase inclusive (the boundary row is
    // recovered from the runs subquery — runs carry only their end ts
    // through the chain stages), and MATCH_NUMBER orders anchors by the
    // run end (runs are disjoint per key, so ts_1 alone is the order).
    // COUNT + MATCH_NUMBER keep the oracle integer-exact, the same
    // discipline as q_pattern_measure.
    "q_pattern_qmeasure" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (click{2,} THEN purchase WITHIN '2' HOURS)
           PARTITION BY user_id
           MEASURES COUNT(*) AS span_n, MATCH_NUMBER() AS mno""")
    }),

    // EP1m' — FIRST/LAST boundary references on a QUANTIFIED step (r8):
    // MATCH_RECOGNIZE's FIRST/LAST navigation in its run flavor — the
    // run's first event's value (an events join on run_start_id), its
    // last event's id (run_end_id directly), plus a COUNT span. All
    // joins are at match-set cardinality: the runs subquery re-join
    // identifies each disjoint island by (__k, run_start_id) — a
    // globally unique row id, exact even under same-microsecond
    // run_end ties (r9) — never scanning event×event. Boundary refs
    // STREAM via RunChainDetector's per-measure boundary slots (replay
    // ≡ batch pinned in RunChainSpec), including ts boundaries since
    // r9 (micros ride the Double slot exactly).
    "q_pattern_boundref" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (click{2,} THEN purchase WITHIN '2' HOURS)
           PARTITION BY user_id
           MEASURES FIRST(click.value) AS first_val,
             LAST(click.event_id) AS last_id, COUNT(*) AS span_n""")
    }),

    // EP1m'' — bare class ref into a QUANTIFIED run (r9):
    // MATCH_RECOGNIZE running semantics — `click.value` over click{2,}
    // reads the variable's LAST matched row (desugared at parse time to
    // LAST(click.value); FIRST is spelled explicitly, exactly as in the
    // standard). The pair below proves both ends of the run resolve:
    // the bare ref = the run's final event's value, FIRST = its first.
    // Same match-set-cardinality runs re-join as q_pattern_boundref;
    // streams via the same boundary slots.
    "q_pattern_qref" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (click{2,} THEN purchase WITHIN '2' HOURS)
           PARTITION BY user_id
           MEASURES click.value AS last_val,
             FIRST(click.value) AS first_val, COUNT(*) AS span_n""")
    }),

    // EP1k — PERMUTE from SQL TEXT (r7): the order-free pair. Every
    // signup or purchase anchors; the match is the first event of the
    // OPPOSITE class within 30 minutes after it. Union of the two
    // directional q_cep_seq formulations; first_ev names the anchor.
    "q_pattern_permute" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (PERMUTE(signup, purchase) WITHIN '30' MINUTES)
           PARTITION BY user_id""")
    }),

    // EP1k' — 3-way PERMUTE (r9): MATCH_RECOGNIZE alternation-of-
    // orderings semantics — every signup/click/purchase event anchors;
    // the anchor's two candidate orders (remaining events in
    // listed-lex order) are tried greedy-rank-1, FIRST completion wins
    // (the second order fires only for anchors the first left
    // unmatched — an anti join on the globally unique anchor id). Six
    // CTE'd rank-1 chains + three anti joins, all equi at event/match
    // cardinality. STREAMS since r10 via Permute3Detector (one tracker
    // per anchor advances both orders; arm 2 held to window close —
    // replay ≡ this rewrite pinned in SubmitSqlSpec, recovery in
    // RecoverySpec).
    "q_pattern_permute3" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (PERMUTE(signup, click, purchase)
           WITHIN '12' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1l — MEASURES from SQL TEXT (r7, MEASURES-lite): one aggregate
    // over the matched SPAN — every event of the key between the
    // match's first and last rows ((ts, id) lexicographic, inclusive),
    // any type. COUNT(*) here keeps the oracle integer-exact; the
    // SUM/AVG/MIN/MAX forms are spec-pinned against a DataFrame
    // recomputation (CepSqlSpec).
    "q_pattern_measure" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
           PARTITION BY user_id
           MEASURES COUNT(*)""")
    }),

    // EP1m — multi-measure MEASURES (r8): a span aggregate, per-class
    // references (each step of a plain chain maps exactly one row, so
    // `purchase.value` is that row's value — MATCH_RECOGNIZE's
    // per-variable reference), and MATCH_NUMBER() (the match's 1-based
    // ordinal within its partition in (ts_1, id_1) order), all in one
    // statement. COUNT keeps the oracle integer-exact; the SUM/AVG span
    // forms are spec-pinned against a DataFrame recomputation
    // (CepSqlSpec) like r7's single-aggregate form. Scale shape: the
    // class references join the (small) match set back to a type-pruned
    // column-pruned events scan on the matched row id; MATCH_NUMBER is
    // a per-key window over match rows (thousands per key at most), not
    // over raw events.
    "q_measure_multi" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
           PARTITION BY user_id
           MEASURES COUNT(*) AS span_events, signup.value AS s_value,
                    purchase.value AS p_value, MATCH_NUMBER() AS mno""")
    }),

    // EP1n — ABSENCE AFTER A QUANTIFIED CHAIN (r8): a signup followed
    // by a qualifying click run (>= 2 consecutive clicks, whole-run
    // semantics) with NO purchase in the remainder of the window — the
    // "engaged but never converted" funnel. The rewrite builds the
    // quantified prefix exactly like q_pattern_mid_times (gaps-and-
    // islands runs + rank-1 join) and replaces the completion's rank-1
    // join with a LEFT ANTI JOIN — both pieces already existed; this
    // key pins their combination. The statement also STREAMS via
    // submitPattern → RunChainDetector.detectAbsent (run tracking +
    // watermark-timer verdicts; RunChainSpec pins replay ≡ this
    // batch rewrite). Scale shape: the runs subquery is one window
    // pass + one agg; the anti join shuffles on the key like every
    // absence form.
    "q_pattern_qabs" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN click{2,} THEN NOT purchase
           WITHIN '24' HOURS)
           PARTITION BY user_id""")
    }),

    // EP1o — MEASURES × ABSENCE (r14): the q_pattern_qabs funnel WITH
    // measures — span COUNT over the positive prefix (anchor .. the
    // run's end row, inclusive, regardless of class) and MATCH_NUMBER
    // over the surviving (never-converted) matches. This closes the
    // r13 "parity non-gap": the batch rewrite now wraps the prefix
    // with the anti join and runs the shared measures machinery on
    // the survivors — references to the NOT step reject at parse (it
    // never matches a row). COUNT + MATCH_NUMBER keep the oracle
    // integer-exact; the SUM form is pinned by a genuinely independent
    // second engine — MeasureChainSpec's fuzz compares this rewrite's
    // span JOIN against the streaming detector's event-by-event
    // accumulators on randomized fixtures. Scale shape: anti join +
    // span join both touch match cardinality, never raw events
    // squared.
    "q_measure_absent" -> ((s, dir) => {
      graft.Tables.load(s, dir)
      graft.streaming.CepSql.sql(s,
        """SELECT * FROM events
           MATCH PATTERN (signup THEN click{2,} THEN NOT purchase
           WITHIN '24' HOURS)
           PARTITION BY user_id
           MEASURES COUNT(*) AS span_n, MATCH_NUMBER() AS mno""")
    })
  )

  /** DuckDB mirror of the 3-way PERMUTE rewrite: the same six rank-1
    * chains (CTE'd) + listed-lex per-anchor preference via NOT IN on
    * the unique anchor id. Built programmatically so the six chain
    * bodies stay literally identical. */
  private def permute3Oracle(evs: Seq[String], ivl: String): String = {
    def chain(x: String, y: String, z: String): String =
      s"""(SELECT __k, first_id, id_2, id_3, first_ts, ts_2, ts_3 FROM (
         |  SELECT p.__k, p.first_id, p.id_2, p.first_ts, p.ts_2,
         |    c.event_id AS id_3, c.ts AS ts_3,
         |    row_number() OVER (PARTITION BY p.first_id
         |                       ORDER BY c.ts, c.event_id) AS rn2
         |  FROM (
         |    SELECT a.user_id AS __k, a.event_id AS first_id,
         |      a.ts AS first_ts, b.event_id AS id_2, b.ts AS ts_2,
         |      row_number() OVER (PARTITION BY a.event_id
         |                         ORDER BY b.ts, b.event_id) AS rn
         |    FROM events a JOIN events b ON a.user_id = b.user_id
         |      AND a.event_type = '$x' AND b.event_type = '$y'
         |      AND b.ts > a.ts AND b.ts <= a.ts + $ivl) p
         |  JOIN events c ON c.user_id = p.__k AND c.event_type = '$z'
         |    AND c.ts > p.ts_2 AND c.ts <= p.first_ts + $ivl
         |  WHERE p.rn = 1) t WHERE rn2 = 1)""".stripMargin
    val Seq(a, b, c) = evs
    val arms = Seq((a, b, c), (b, a, c), (c, a, b))
    def cn(x: String, y: String, z: String) = s"c_${x}_${y}_$z"
    val defs = arms.flatMap { case (x, y, z) =>
      Seq(s"${cn(x, y, z)} AS ${chain(x, y, z)}",
        s"${cn(x, z, y)} AS ${chain(x, z, y)}")
    }
    def arm(x: String, y: String, z: String): String =
      s"""SELECT __k, '$x' AS first_ev, first_id AS id_1, id_2, id_3,
         |  first_ts AS ts_1, ts_2, ts_3 FROM (
         |  SELECT * FROM ${cn(x, y, z)}
         |  UNION ALL
         |  SELECT * FROM ${cn(x, z, y)}
         |  WHERE first_id NOT IN (SELECT first_id FROM ${cn(x, y, z)})
         |) u""".stripMargin
    s"""WITH ${defs.mkString(",\n")}
       |SELECT __k AS user_id, first_ev, id_1, id_2, id_3,
       |  ts_1, ts_2, ts_3 FROM (
       |${arm(a, b, c)}
       |UNION ALL
       |${arm(b, a, c)}
       |UNION ALL
       |${arm(c, a, b)}
       |) f ORDER BY id_1""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_pattern_permute3" -> permute3Oracle(
      Seq("signup", "click", "purchase"), "INTERVAL 12 HOUR"),
    "q_join_asof_fwd" ->
      """WITH err AS (
           SELECT event_id AS err_id, user_id, ts AS err_ts FROM events
           WHERE event_type = 'error'),
         clk AS (
           SELECT event_id AS click_id, user_id, ts AS click_ts FROM events
           WHERE event_type = 'click'),
         j AS (
           SELECT e.err_id, e.user_id, e.err_ts, c.click_id, c.click_ts,
             row_number() OVER (PARTITION BY e.err_id
                                ORDER BY c.click_ts, c.click_id) AS rn
           FROM err e LEFT JOIN clk c
             ON e.user_id = c.user_id AND c.click_ts >= e.err_ts)
         SELECT err_id, user_id, err_ts, click_id, click_ts
         FROM j WHERE rn = 1 ORDER BY err_id""",
    "q_dialect_window" ->
      """SELECT event_type, count(*) AS cnt, min(event_id) AS min_id
         FROM events GROUP BY date_trunc('hour', ts), event_type
         ORDER BY min_id""",
    // DuckDB's NATIVE ASOF LEFT JOIN — the clause itself is under test.
    // DuckDB's choice among EQUAL-timestamp right rows is unspecified
    // (the Spark dispatch pins max-event_id), so the hash gate is
    // deterministic only while the fixture right side has unique
    // (user_id, ts) clicks — pinned by CepSqlSpec's fixture-uniqueness
    // test at both the spec sf and the driver's sf0.01.
    "q_dialect_asof" ->
      """SELECT e.err_id, e.user_id, e.err_ts,
           c.event_id AS click_id, c.click_ts
         FROM (SELECT event_id AS err_id, user_id, ts AS err_ts
               FROM events WHERE event_type = 'error') e
         ASOF LEFT JOIN (SELECT event_id, user_id, ts AS click_ts
               FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id AND e.err_ts >= c.click_ts
         ORDER BY err_id""",
    // DuckDB's NATIVE DISTINCT ON on the same text the Spark side
    // submits — the clause itself is the thing under test
    "q_dialect_distinct_on" ->
      """SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
                o_totalprice
         FROM orders
         ORDER BY o_custkey, o_totalprice DESC, o_orderkey
         LIMIT 500""",
    // hand-expanded SELECT-list equivalent of the RENAME modifier (the
    // driver's DuckDB 1.0 predates native RENAME; the values + renamed
    // column names are what the hash pins)
    "q_dialect_rename" ->
      """SELECT o_orderkey, o_custkey AS cust_id, o_orderstatus,
                o_totalprice, o_orderdate AS order_date, o_orderpriority
         FROM orders
         WHERE o_orderstatus = 'O'
         ORDER BY o_orderkey LIMIT 500""",
    // DuckDB's NATIVE ORDER BY ALL on the same text Spark parses
    // natively too
    "q_dialect_order_all" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
         FROM orders GROUP BY ALL ORDER BY ALL""",
    // DuckDB's NATIVE star modifiers on the same text the Spark side
    // expands via schema — the modifier semantics are what the hash pins
    "q_dialect_exclude" ->
      """SELECT * EXCLUDE (o_orderdate, o_custkey)
             REPLACE (floor(o_totalprice / 10 * 100 + 0.5) / 100
                        AS o_totalprice,
                      upper(o_orderpriority) AS o_orderpriority)
         FROM orders
         WHERE o_orderstatus = 'F'
         ORDER BY o_orderkey LIMIT 500""",
    // DuckDB's NATIVE auto-pivot on the same text the Spark side
    // rewrites with a data-derived IN list
    "q_dialect_pivot" ->
      """PIVOT orders ON o_orderstatus
         USING sum(CAST(floor(o_totalprice * 100 + 0.5) AS DOUBLE))
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q_dialect_unpivot" ->
      """UNPIVOT orders ON o_orderkey, o_custkey
         INTO NAME metric VALUE val
         ORDER BY o_totalprice, o_orderdate, metric, val
         LIMIT 500""",
    "q_dialect_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                  AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         GROUP BY ALL
         ORDER BY o_orderstatus, o_orderpriority""",
    // DuckDB's NATIVE QUALIFY on the same text the Spark side submits —
    // the clause itself is the thing under test
    "q_dialect_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders
         QUALIFY rn <= 3
         ORDER BY o_custkey, rn LIMIT 500""",
    "q_pattern_sql" ->
      """SELECT user_id, sid, pid, s_ts, p_ts FROM (
           SELECT a.user_id, a.event_id AS sid, b.event_id AS pid,
             a.ts AS s_ts, b.ts AS p_ts,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id
            AND a.event_type = 'signup' AND b.event_type = 'purchase'
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
         WHERE rn = 1 ORDER BY sid""",
    "q_join_interval" ->
      """SELECT a.event_id AS sid, b.event_id AS pid, a.user_id
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_type = 'signup' AND b.event_type = 'purchase'
          AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
         ORDER BY sid, pid""",
    "q_join_interval_banded" ->
      """SELECT a.event_id AS sid, b.event_id AS pid, a.user_id
         FROM events a JOIN events b
           ON a.user_id = b.user_id
          AND a.event_type = 'signup' AND b.event_type = 'purchase'
          AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
         ORDER BY sid, pid""",
    "q_window_sliding" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts)
                - i.i * INTERVAL '10 minutes' AS ws,
         event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
         FROM events, (SELECT unnest(range(3)) AS i) i
         GROUP BY 1, 2 ORDER BY ws, event_type""",
    "q_join_overlap" ->
      """WITH g AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts) > INTERVAL 5 MINUTE
               OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM g),
         sess AS (
           SELECT user_id, min(ts) AS s_start,
             max(ts) + INTERVAL 5 MINUTE AS s_end
           FROM s GROUP BY user_id, sess)
         SELECT a.user_id AS ua, b.user_id AS ub,
           CAST(count(*) AS BIGINT) AS novl
         FROM sess a JOIN sess b
           ON a.user_id < b.user_id
          AND a.s_start < b.s_end AND b.s_start < a.s_end
         GROUP BY 1, 2 ORDER BY ua, ub""",
    "q_sliding_distinct" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts)
                - i.i * INTERVAL '10 minutes' AS ws,
         CAST(count(DISTINCT user_id) AS BIGINT) AS nd_users
         FROM events, (SELECT unnest(range(3)) AS i) i
         GROUP BY 1 ORDER BY ws""",
    "q_window_session" ->
      """WITH g AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts) > INTERVAL 5 MINUTE
               OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM g)
         SELECT user_id, min(ts) AS s_start,
           max(ts) + INTERVAL 5 MINUTE AS s_end, count(*) AS cnt
         FROM s GROUP BY user_id, sess ORDER BY user_id, s_start""",
    "q_session_dynamic" ->
      """WITH w AS (
           SELECT user_id, ts, event_id,
             ts + CASE WHEN event_type = 'click' THEN INTERVAL 5 MINUTE
                       ELSE INTERVAL 15 MINUTE END AS e
           FROM events),
         b AS (
           SELECT user_id, ts, e, event_id,
             CASE WHEN max(e) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= ts
               THEN 0 ELSE 1 END AS new_s
           FROM w),
         s AS (
           SELECT user_id, ts, e,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM b)
         SELECT user_id, min(ts) AS s_start, max(e) AS s_end,
           count(*) AS cnt
         FROM s GROUP BY user_id, sess ORDER BY user_id, s_start""",
    "q_dedup_events" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "q_cep_seq" ->
      """SELECT user_id, sid, pid, s_ts, p_ts FROM (
           SELECT a.user_id, a.event_id AS sid, b.event_id AS pid,
             a.ts AS s_ts, b.ts AS p_ts,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id
            AND a.event_type = 'signup' AND b.event_type = 'purchase'
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
         WHERE rn = 1 ORDER BY sid""",
    "q_cep_absence" ->
      """SELECT a.event_id AS sid, a.user_id, a.ts AS s_ts
         FROM events a
         WHERE a.event_type = 'signup' AND NOT EXISTS (
           SELECT 1 FROM events b
           WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
         ORDER BY sid""",
    "q_pattern_absence" ->
      """SELECT a.event_id AS sid, a.user_id, a.ts AS s_ts
         FROM events a
         WHERE a.event_type = 'signup' AND NOT EXISTS (
           SELECT 1 FROM events b
           WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
             AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
         ORDER BY sid""",
    "q_join_asof" ->
      """SELECT e.event_id AS err_id, e.user_id, e.ts AS err_ts,
         c.event_id AS click_id, c.ts AS click_ts
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id AND e.ts >= c.ts
         ORDER BY err_id""",
    "q_join_asof_carry" ->
      """SELECT e.event_id AS err_id, e.user_id, e.ts AS err_ts,
         c.event_id AS click_id, c.ts AS click_ts
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id AND e.ts >= c.ts
         ORDER BY err_id""",
    "q_join_asof_near" ->
      """WITH e AS (
           SELECT event_id AS err_id, user_id, ts AS err_ts
           FROM events WHERE event_type = 'error'),
         c AS (
           SELECT event_id AS click_id, user_id, ts AS click_ts
           FROM events WHERE event_type = 'click'),
         j AS (
           SELECT e.err_id, c.click_id, c.click_ts,
             abs(epoch_us(c.click_ts) - epoch_us(e.err_ts)) AS gap_us,
             row_number() OVER (PARTITION BY e.err_id
               ORDER BY abs(epoch_us(c.click_ts) - epoch_us(e.err_ts)),
                        c.click_ts, c.click_id) AS rn
           FROM e JOIN c ON e.user_id = c.user_id
            AND c.click_ts >= e.err_ts - INTERVAL 30 MINUTE
            AND c.click_ts <= e.err_ts + INTERVAL 30 MINUTE)
         SELECT e.err_id, e.user_id, e.err_ts, j.click_id, j.click_ts,
           j.gap_us
         FROM e LEFT JOIN (SELECT * FROM j WHERE rn = 1) j USING (err_id)
         ORDER BY err_id""",
    "q_cep_times" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end
           FROM o WHERE event_type = 'click'
           GROUP BY user_id, grp HAVING count(*) >= 3)
         SELECT r.user_id, r.run_len, r.run_start, r.run_end,
           min(p.ts) AS next_purchase
         FROM runs r LEFT JOIN events p
           ON p.user_id = r.user_id AND p.event_type = 'purchase'
          AND p.ts > r.run_end AND p.ts <= r.run_end + INTERVAL 10 MINUTE
         GROUP BY 1, 2, 3, 4 ORDER BY r.user_id, run_start""",
    "q_pattern_times" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end
           FROM o WHERE event_type = 'click'
           GROUP BY user_id, grp HAVING count(*) >= 3)
         SELECT r.user_id, r.run_len, r.run_start, r.run_end,
           min(b.ts) AS b_ts
         FROM runs r JOIN events b
           ON b.user_id = r.user_id AND b.event_type = 'purchase'
          AND b.ts > r.run_end AND b.ts <= r.run_end + INTERVAL 12 HOUR
         GROUP BY 1, 2, 3, 4 ORDER BY r.user_id, run_start""",
    "q_pattern_lazy" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
           FROM events),
         c AS (
           SELECT user_id, grp, ts, event_id,
             row_number() OVER (PARTITION BY user_id, grp
                                ORDER BY ts, event_id) AS rn
           FROM o WHERE event_type = 'click'),
         runs AS (
           SELECT user_id, grp, CAST(3 AS BIGINT) AS run_len,
             min(ts) AS run_start,
             max(ts) FILTER (WHERE rn <= 3) AS run_end
           FROM c
           GROUP BY user_id, grp HAVING count(*) >= 3)
         SELECT r.user_id, r.run_len, r.run_start, r.run_end,
           min(b.ts) AS b_ts
         FROM runs r JOIN events b
           ON b.user_id = r.user_id AND b.event_type = 'purchase'
          AND b.ts > r.run_end AND b.ts <= r.run_end + INTERVAL 12 HOUR
         GROUP BY 1, 2, 3, 4 ORDER BY r.user_id, run_start""",
    "q_pattern_qmeasure" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end,
             min(CASE WHEN rn_a = 1 THEN event_id END) AS run_start_id,
             min(CASE WHEN rn_d = 1 THEN event_id END) AS run_end_id
           FROM (
             SELECT *,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
             FROM o WHERE event_type = 'click') q
           GROUP BY 1, 2 HAVING count(*) >= 2),
         m AS (
           SELECT r.*, b.event_id AS id_2, b.ts AS ts_2,
             row_number() OVER (PARTITION BY r.user_id, r.run_end
                                ORDER BY b.ts, b.event_id) AS rn
           FROM runs r JOIN events b
             ON b.user_id = r.user_id AND b.event_type = 'purchase'
            AND b.ts > r.run_end
            AND b.ts <= r.run_end + INTERVAL 2 HOUR),
         mm AS (SELECT * FROM m WHERE rn = 1),
         sp AS (
           SELECT mm.user_id, mm.run_len AS len_1, mm.id_2,
             mm.run_end AS ts_1, mm.ts_2, count(*) AS span_n
           FROM mm JOIN events e
             ON e.user_id = mm.user_id
            AND (e.ts > mm.run_start
                 OR (e.ts = mm.run_start
                     AND e.event_id >= mm.run_start_id))
            AND (e.ts < mm.ts_2
                 OR (e.ts = mm.ts_2 AND e.event_id <= mm.id_2))
           GROUP BY 1, 2, 3, 4, 5)
         SELECT user_id, len_1, id_2, ts_1, ts_2, span_n,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_1)
             AS BIGINT) AS mno
         FROM sp ORDER BY user_id, ts_1""",
    "q_pattern_boundref" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end,
             min(CASE WHEN rn_a = 1 THEN event_id END) AS run_start_id,
             min(CASE WHEN rn_d = 1 THEN event_id END) AS run_end_id,
             min(CASE WHEN rn_a = 1 THEN value END) AS first_val
           FROM (
             SELECT *,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
             FROM o WHERE event_type = 'click') q
           GROUP BY 1, 2 HAVING count(*) >= 2),
         m AS (
           SELECT r.*, b.event_id AS id_2, b.ts AS ts_2,
             row_number() OVER (PARTITION BY r.user_id, r.run_end
                                ORDER BY b.ts, b.event_id) AS rn
           FROM runs r JOIN events b
             ON b.user_id = r.user_id AND b.event_type = 'purchase'
            AND b.ts > r.run_end
            AND b.ts <= r.run_end + INTERVAL 2 HOUR),
         mm AS (SELECT * FROM m WHERE rn = 1)
         SELECT mm.user_id, mm.run_len AS len_1, mm.id_2,
           mm.run_end AS ts_1, mm.ts_2, mm.first_val,
           mm.run_end_id AS last_id, count(*) AS span_n
         FROM mm JOIN events e
           ON e.user_id = mm.user_id
          AND (e.ts > mm.run_start
               OR (e.ts = mm.run_start
                   AND e.event_id >= mm.run_start_id))
          AND (e.ts < mm.ts_2
               OR (e.ts = mm.ts_2 AND e.event_id <= mm.id_2))
         GROUP BY 1, 2, 3, 4, 5, 6, 7
         ORDER BY mm.user_id, ts_1""",
    "q_pattern_qref" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end,
             min(CASE WHEN rn_a = 1 THEN event_id END) AS run_start_id,
             min(CASE WHEN rn_a = 1 THEN value END) AS first_val,
             min(CASE WHEN rn_d = 1 THEN value END) AS last_val
           FROM (
             SELECT *,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, grp
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
             FROM o WHERE event_type = 'click') q
           GROUP BY 1, 2 HAVING count(*) >= 2),
         m AS (
           SELECT r.*, b.event_id AS id_2, b.ts AS ts_2,
             row_number() OVER (PARTITION BY r.user_id, r.run_end
                                ORDER BY b.ts, b.event_id) AS rn
           FROM runs r JOIN events b
             ON b.user_id = r.user_id AND b.event_type = 'purchase'
            AND b.ts > r.run_end
            AND b.ts <= r.run_end + INTERVAL 2 HOUR),
         mm AS (SELECT * FROM m WHERE rn = 1)
         SELECT mm.user_id, mm.run_len AS len_1, mm.id_2,
           mm.run_end AS ts_1, mm.ts_2, mm.last_val, mm.first_val,
           count(*) AS span_n
         FROM mm JOIN events e
           ON e.user_id = mm.user_id
          AND (e.ts > mm.run_start
               OR (e.ts = mm.run_start
                   AND e.event_id >= mm.run_start_id))
          AND (e.ts < mm.ts_2
               OR (e.ts = mm.ts_2 AND e.event_id <= mm.id_2))
         GROUP BY 1, 2, 3, 4, 5, 6, 7
         ORDER BY mm.user_id, ts_1""",
    "q_pattern_alt" ->
      """SELECT user_id, sid, pid, s_ts, p_ts FROM (
           SELECT a.user_id, a.event_id AS sid, b.event_id AS pid,
             a.ts AS s_ts, b.ts AS p_ts,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id
            AND a.event_type = 'signup'
            AND b.event_type IN ('click', 'purchase')
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
         WHERE rn = 1 ORDER BY sid""",
    "q_pattern_mid_times" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end
           FROM o WHERE event_type = 'click'
           GROUP BY user_id, grp HAVING count(*) >= 2),
         s1 AS (
           SELECT user_id AS k, event_id AS id_1, ts AS ts_1 FROM events
           WHERE event_type = 'signup'),
         s2 AS (
           SELECT k, id_1, run_len AS len_2, ts_1, run_end AS ts_2 FROM (
             SELECT p.k, p.id_1, r.run_len, p.ts_1, r.run_end,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY r.run_start, r.run_end) AS rn
             FROM s1 p JOIN runs r
               ON p.k = r.user_id AND r.run_start > p.ts_1
              AND r.run_end <= p.ts_1 + INTERVAL 24 HOUR) WHERE rn = 1),
         s3 AS (
           SELECT k, id_1, len_2, id_3, ts_1, ts_2, ts_3 FROM (
             SELECT p.k, p.id_1, p.len_2, b.event_id AS id_3,
               p.ts_1, p.ts_2, b.ts AS ts_3,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM s2 p JOIN events b
               ON p.k = b.user_id AND b.event_type = 'purchase'
              AND b.ts > p.ts_2 AND b.ts <= p.ts_1 + INTERVAL 24 HOUR)
           WHERE rn = 1)
         SELECT k AS user_id, id_1, len_2, id_3, ts_1, ts_2, ts_3
         FROM s3 ORDER BY id_1""",
    "q_pattern_qabs" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end
           FROM o WHERE event_type = 'click'
           GROUP BY user_id, grp HAVING count(*) >= 2),
         s1 AS (
           SELECT user_id AS k, event_id AS id_1, ts AS ts_1 FROM events
           WHERE event_type = 'signup'),
         s2 AS (
           SELECT k, id_1, run_len AS len_2, ts_1, run_end AS ts_2 FROM (
             SELECT p.k, p.id_1, r.run_len, p.ts_1, r.run_end,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY r.run_start, r.run_end) AS rn
             FROM s1 p JOIN runs r
               ON p.k = r.user_id AND r.run_start > p.ts_1
              AND r.run_end <= p.ts_1 + INTERVAL 24 HOUR) WHERE rn = 1)
         SELECT k AS user_id, id_1, len_2, ts_1, ts_2
         FROM s2 p
         WHERE NOT EXISTS (
           SELECT 1 FROM events b
           WHERE b.user_id = p.k AND b.event_type = 'purchase'
             AND b.ts > p.ts_2 AND b.ts <= p.ts_1 + INTERVAL 24 HOUR)
         ORDER BY id_1""",
    "q_measure_absent" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end
           FROM o WHERE event_type = 'click'
           GROUP BY user_id, grp HAVING count(*) >= 2),
         runs2 AS (
           SELECT r.user_id, r.grp, r.run_len, r.run_start, r.run_end,
             max(o.event_id) AS run_end_id
           FROM runs r JOIN o
             ON o.user_id = r.user_id AND o.grp = r.grp
            AND o.event_type = 'click' AND o.ts = r.run_end
           GROUP BY r.user_id, r.grp, r.run_len, r.run_start, r.run_end),
         s1 AS (
           SELECT user_id AS k, event_id AS id_1, ts AS ts_1 FROM events
           WHERE event_type = 'signup'),
         s2 AS (
           SELECT k, id_1, run_len AS len_2, ts_1, run_end AS ts_2,
             run_end_id FROM (
             SELECT p.k, p.id_1, r.run_len, p.ts_1, r.run_end,
               r.run_end_id,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY r.run_start, r.run_end) AS rn
             FROM s1 p JOIN runs2 r
               ON p.k = r.user_id AND r.run_start > p.ts_1
              AND r.run_end <= p.ts_1 + INTERVAL 24 HOUR) WHERE rn = 1),
         surv AS (
           SELECT * FROM s2 p
           WHERE NOT EXISTS (
             SELECT 1 FROM events b
             WHERE b.user_id = p.k AND b.event_type = 'purchase'
               AND b.ts > p.ts_2 AND b.ts <= p.ts_1 + INTERVAL 24 HOUR))
         SELECT p.k AS user_id, p.id_1, p.len_2, p.ts_1, p.ts_2,
           count(*) AS span_n,
           CAST(row_number() OVER (PARTITION BY p.k
                                   ORDER BY p.ts_1, p.id_1) AS BIGINT)
             AS mno
         FROM surv p JOIN events e
           ON e.user_id = p.k
          AND (e.ts > p.ts_1 OR (e.ts = p.ts_1 AND e.event_id >= p.id_1))
          AND (e.ts < p.ts_2
               OR (e.ts = p.ts_2 AND e.event_id <= p.run_end_id))
         GROUP BY p.k, p.id_1, p.len_2, p.ts_1, p.ts_2
         ORDER BY id_1""",
    "q_pattern_skip" ->
      """WITH RECURSIVE
         s AS (SELECT user_id AS k, event_id AS sid, ts AS s_ts
               FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id AS k, event_id AS pid, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         m AS (
           SELECT k, sid, s_ts, pid, p_ts FROM (
             SELECT s.k, s.sid, s.s_ts, p.pid, p.p_ts,
               row_number() OVER (PARTITION BY s.k
                 ORDER BY s.s_ts, s.sid, p.p_ts, p.pid) AS rn
             FROM s JOIN p ON s.k = p.k AND p.p_ts > s.s_ts
              AND p.p_ts <= s.s_ts + INTERVAL 30 MINUTE
             QUALIFY row_number() OVER (PARTITION BY s.k, s.sid
                       ORDER BY p.p_ts, p.pid) = 1
           ) t WHERE rn = 1
           UNION ALL
           SELECT nxt.k, nxt.sid, nxt.s_ts, nxt.pid, nxt.p_ts FROM m,
           LATERAL (
             SELECT s.k, s.sid, s.s_ts, p.pid, p.p_ts
             FROM s JOIN p ON s.k = p.k AND p.p_ts > s.s_ts
              AND p.p_ts <= s.s_ts + INTERVAL 30 MINUTE
             WHERE s.k = m.k AND (s.s_ts > m.p_ts
               OR (s.s_ts = m.p_ts AND s.sid > m.pid))
             ORDER BY s.s_ts, s.sid, p.p_ts, p.pid
             LIMIT 1
           ) nxt
         )
         SELECT k AS user_id, sid AS id_1, pid AS id_2,
           s_ts AS ts_1, p_ts AS ts_2
         FROM m ORDER BY id_1""",
    "q_pattern_bounded" ->
      """WITH o AS (
           SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
           FROM events),
         runs AS (
           SELECT user_id, grp, count(*) AS run_len,
             min(ts) AS run_start, max(ts) AS run_end
           FROM o WHERE event_type = 'click'
           GROUP BY user_id, grp
           HAVING count(*) >= 2 AND count(*) <= 4)
         SELECT r.user_id, r.run_len, r.run_start, r.run_end,
           min(b.ts) AS b_ts
         FROM runs r JOIN events b
           ON b.user_id = r.user_id AND b.event_type = 'purchase'
          AND b.ts > r.run_end AND b.ts <= r.run_end + INTERVAL 12 HOUR
         GROUP BY 1, 2, 3, 4 ORDER BY r.user_id, run_start""",
    "q_pattern_measure" ->
      """WITH m AS (
           SELECT user_id, id_1, id_2, ts_1, ts_2 FROM (
             SELECT a.user_id, a.event_id AS id_1, b.event_id AS id_2,
               a.ts AS ts_1, b.ts AS ts_2,
               row_number() OVER (PARTITION BY a.event_id
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM events a JOIN events b
               ON a.user_id = b.user_id
              AND a.event_type = 'signup' AND b.event_type = 'purchase'
              AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
           WHERE rn = 1)
         SELECT m.user_id, m.id_1, m.id_2, m.ts_1, m.ts_2,
           count(*) AS measure
         FROM m JOIN events e
           ON m.user_id = e.user_id
          AND (e.ts > m.ts_1 OR (e.ts = m.ts_1 AND e.event_id >= m.id_1))
          AND (e.ts < m.ts_2 OR (e.ts = m.ts_2 AND e.event_id <= m.id_2))
         GROUP BY m.user_id, m.id_1, m.id_2, m.ts_1, m.ts_2
         ORDER BY id_1""",
    "q_measure_multi" ->
      """WITH m AS (
           SELECT user_id, id_1, id_2, ts_1, ts_2, s_value, p_value FROM (
             SELECT a.user_id, a.event_id AS id_1, b.event_id AS id_2,
               a.ts AS ts_1, b.ts AS ts_2,
               a.value AS s_value, b.value AS p_value,
               row_number() OVER (PARTITION BY a.event_id
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM events a JOIN events b
               ON a.user_id = b.user_id
              AND a.event_type = 'signup' AND b.event_type = 'purchase'
              AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
           WHERE rn = 1)
         SELECT m.user_id, m.id_1, m.id_2, m.ts_1, m.ts_2,
           count(*) AS span_events, m.s_value, m.p_value,
           row_number() OVER (PARTITION BY m.user_id
                              ORDER BY m.ts_1, m.id_1) AS mno
         FROM m JOIN events e
           ON m.user_id = e.user_id
          AND (e.ts > m.ts_1 OR (e.ts = m.ts_1 AND e.event_id >= m.id_1))
          AND (e.ts < m.ts_2 OR (e.ts = m.ts_2 AND e.event_id <= m.id_2))
         GROUP BY m.user_id, m.id_1, m.id_2, m.ts_1, m.ts_2,
                  m.s_value, m.p_value
         ORDER BY id_1""",
    "q_pattern_permute" ->
      """WITH d1 AS (
           SELECT user_id, first_ev, first_id, second_id,
             first_ts, second_ts FROM (
             SELECT a.user_id, 'signup' AS first_ev,
               a.event_id AS first_id, b.event_id AS second_id,
               a.ts AS first_ts, b.ts AS second_ts,
               row_number() OVER (PARTITION BY a.event_id
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM events a JOIN events b
               ON a.user_id = b.user_id
              AND a.event_type = 'signup' AND b.event_type = 'purchase'
              AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
           WHERE rn = 1),
         d2 AS (
           SELECT user_id, first_ev, first_id, second_id,
             first_ts, second_ts FROM (
             SELECT a.user_id, 'purchase' AS first_ev,
               a.event_id AS first_id, b.event_id AS second_id,
               a.ts AS first_ts, b.ts AS second_ts,
               row_number() OVER (PARTITION BY a.event_id
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM events a JOIN events b
               ON a.user_id = b.user_id
              AND a.event_type = 'purchase' AND b.event_type = 'signup'
              AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
           WHERE rn = 1)
         SELECT * FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
         ORDER BY first_id""",
    "q_pattern_opt" ->
      """WITH s1 AS (
           SELECT user_id AS k, event_id AS id_1, ts AS ts_1 FROM events
           WHERE event_type = 'signup'),
         pv AS (
           SELECT * FROM (
             SELECT p.k, p.id_1, p.ts_1, b.event_id AS pv_id,
               b.ts AS pv_ts,
               CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END AS pv_b,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM s1 p JOIN events b
               ON p.k = b.user_id
              AND b.event_type IN ('click', 'purchase')
              AND b.ts > p.ts_1
              AND b.ts <= p.ts_1 + INTERVAL 12 HOUR) t
           WHERE rn = 1),
         took AS (
           SELECT k, id_1, id_2, id_3, ts_1, ts_2, ts_3 FROM (
             SELECT w.k, w.id_1, w.pv_id AS id_2, b.event_id AS id_3,
               w.ts_1, w.pv_ts AS ts_2, b.ts AS ts_3,
               row_number() OVER (PARTITION BY w.id_1
                                  ORDER BY b.ts, b.event_id) AS rn2
             FROM pv w JOIN events b
               ON w.k = b.user_id AND b.event_type = 'purchase'
              AND b.ts > w.pv_ts
              AND b.ts <= w.ts_1 + INTERVAL 12 HOUR
             WHERE w.pv_b = 1) t
           WHERE rn2 = 1),
         skipped AS (
           SELECT k, id_1, CAST(NULL AS BIGINT) AS id_2,
             pv_id AS id_3, ts_1, CAST(NULL AS TIMESTAMP) AS ts_2,
             pv_ts AS ts_3
           FROM pv WHERE pv_b = 0)
         SELECT k AS user_id, id_1, id_2, id_3, ts_1, ts_2, ts_3
         FROM (SELECT * FROM took UNION ALL SELECT * FROM skipped)
         ORDER BY id_1""",
    "q_pattern_optabs" ->
      """WITH s1 AS (
           SELECT user_id AS k, event_id AS id_1, ts AS ts_1 FROM events
           WHERE event_type = 'signup'),
         pv AS (
           SELECT * FROM (
             SELECT p.k, p.id_1, p.ts_1, b.event_id AS pv_id,
               b.ts AS pv_ts,
               CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END AS pv_b,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM s1 p JOIN events b
               ON p.k = b.user_id
              AND b.event_type IN ('click', 'view')
              AND b.ts > p.ts_1
              AND b.ts <= p.ts_1 + INTERVAL 12 HOUR) t
           WHERE rn = 1),
         took AS (
           SELECT k, id_1, id_2, id_3, ts_1, ts_2, ts_3 FROM (
             SELECT w.k, w.id_1, w.pv_id AS id_2, b.event_id AS id_3,
               w.ts_1, w.pv_ts AS ts_2, b.ts AS ts_3,
               row_number() OVER (PARTITION BY w.id_1
                                  ORDER BY b.ts, b.event_id) AS rn2
             FROM pv w JOIN events b
               ON w.k = b.user_id AND b.event_type = 'view'
              AND b.ts > w.pv_ts
              AND b.ts <= w.ts_1 + INTERVAL 12 HOUR
             WHERE w.pv_b = 1) t
           WHERE rn2 = 1),
         skipped AS (
           SELECT k, id_1, CAST(NULL AS BIGINT) AS id_2,
             pv_id AS id_3, ts_1, CAST(NULL AS TIMESTAMP) AS ts_2,
             pv_ts AS ts_3
           FROM pv WHERE pv_b = 0),
         pre AS (SELECT * FROM took UNION ALL SELECT * FROM skipped)
         SELECT k AS user_id, id_1, id_2, id_3, ts_1, ts_2, ts_3
         FROM pre p
         WHERE NOT EXISTS (
           SELECT 1 FROM events b
           WHERE b.user_id = p.k AND b.event_type = 'purchase'
             AND b.ts > p.ts_3 AND b.ts <= p.ts_1 + INTERVAL 12 HOUR)
         ORDER BY id_1""",
    "q_pattern_pred" ->
      """SELECT user_id, sid, pid, s_ts, p_ts FROM (
           SELECT a.user_id, a.event_id AS sid, b.event_id AS pid,
             a.ts AS s_ts, b.ts AS p_ts,
             row_number() OVER (PARTITION BY a.event_id
                                ORDER BY b.ts, b.event_id) AS rn
           FROM events a JOIN events b
             ON a.user_id = b.user_id
            AND a.event_type = 'signup'
            AND b.event_type = 'purchase' AND b.value > 50
            AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE) t
         WHERE rn = 1 ORDER BY sid""",
    "q_pattern_chain" ->
      """WITH s1 AS (
           SELECT user_id AS k, event_id AS id_1, ts AS ts_1 FROM events
           WHERE event_type = 'signup'),
         s2 AS (
           SELECT k, id_1, id_2, ts_1, ts_2 FROM (
             SELECT p.k, p.id_1, b.event_id AS id_2, p.ts_1, b.ts AS ts_2,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM s1 p JOIN events b
               ON p.k = b.user_id AND b.event_type = 'click'
              AND b.ts > p.ts_1 AND b.ts <= p.ts_1 + INTERVAL 24 HOUR)
           WHERE rn = 1),
         s3 AS (
           SELECT k, id_1, id_2, id_3, ts_1, ts_2, ts_3 FROM (
             SELECT p.k, p.id_1, p.id_2, b.event_id AS id_3,
               p.ts_1, p.ts_2, b.ts AS ts_3,
               row_number() OVER (PARTITION BY p.id_1
                                  ORDER BY b.ts, b.event_id) AS rn
             FROM s2 p JOIN events b
               ON p.k = b.user_id AND b.event_type = 'purchase'
              AND b.ts > p.ts_2 AND b.ts <= p.ts_1 + INTERVAL 24 HOUR)
           WHERE rn = 1)
         SELECT k AS user_id, id_1, id_2, id_3, ts_1, ts_2, ts_3
         FROM s3 ORDER BY id_1""",
    "q_time_spine" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                           date_trunc('hour', max(ts)) AS hi FROM events),
         spine AS (
           SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           FROM b),
         c AS (SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
               FROM events GROUP BY 1)
         SELECT s.h, coalesce(c.cnt, 0) AS cnt
         FROM spine s LEFT JOIN c ON s.h = c.h ORDER BY s.h"""
  )
}
