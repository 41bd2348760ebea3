package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

/** EP3 — the reference's daemon loop: SQL strings submitted against a
  * running engine, enumerable and cancellable at runtime, many queries
  * sharing one scheduler. */
class SubmitSqlSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, typ: String) =
    CepEvent(id, Timestamp.valueOf(t), id % 3, typ, 1.0)

  test("submitSql: two SQL strings run concurrently; one cancels") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("live_events")

    // reference-dialect text — the translator injects window(ts, ...)
    val q1 = ContinuousQueries.submitSql(spark,
      """SELECT event_type, COUNT(*) AS cnt FROM live_events
         OVER (WINDOW '3600' SECONDS)
         GROUP BY event_type""", "svc_win")
    // plain Spark SQL passes through the same entry point untouched
    val q2 = ContinuousQueries.submitSql(spark,
      "SELECT user_id, COUNT(*) AS n FROM live_events GROUP BY user_id",
      "svc_agg")
    try {
      assert(ContinuousQueries.list(spark).map(_.name)
        .count(Set("svc_win", "svc_agg")) === 2)

      stream.addData(ev(1, "2026-01-01 00:10:00", "click"),
        ev(2, "2026-01-01 00:20:00", "click"),
        ev(3, "2026-01-01 01:10:00", "view"))
      q1.processAllAvailable(); q2.processAllAvailable()

      val win = spark.table("svc_win").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(win === Set(("click", 2L), ("view", 1L)))
      assert(spark.table("svc_agg").count() === 3) // users 0,1,2

      // runtime cancel of ONE query; the other keeps consuming
      assert(ContinuousQueries.cancel(spark, "svc_win"))
      assert(!ContinuousQueries.cancel(spark, "svc_win")) // already gone
      stream.addData(ev(4, "2026-01-01 02:10:00", "click"))
      q2.processAllAvailable()
      assert(ContinuousQueries.list(spark).map(_.name).contains("svc_agg"))
      assert(spark.table("svc_agg")
        .filter($"user_id" === 1L).head().getLong(1) === 2L) // ids 1,4
    } finally {
      Seq(q1, q2).foreach(q => if (q.isActive) q.stop())
      spark.catalog.dropTempView("live_events")
    }
  }

  test("submitSql rejects batch-resolving statements loudly") {
    graft.Tables.load(spark, sf) // batch views
    val e = intercept[IllegalArgumentException] {
      ContinuousQueries.submitSql(spark,
        "SELECT count(*) AS c FROM events", "svc_batch")
    }
    assert(e.getMessage.contains("batch plan"))
  }

  test("r12 dialects × streaming: star modifiers and UNPIVOT run " +
      "continuously; auto-PIVOT rejects loudly") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("dlc_events")
    // SELECT * EXCLUDE is a stateless projection — stream-legal; the
    // rewrite resolves the STREAMING view's schema
    val q1 = ContinuousQueries.submitSql(spark,
      "SELECT * EXCLUDE (value) FROM dlc_events", "svc_excl",
      outputMode = "append")
    // long-form UNPIVOT is a stateless melt — stream-legal too
    val q2 = ContinuousQueries.submitSql(spark,
      """UNPIVOT dlc_events ON event_id, user_id
         INTO NAME metric VALUE val""", "svc_melt",
      outputMode = "append")
    try {
      stream.addData(ev(1, "2026-01-01 00:10:00", "click"),
        ev(2, "2026-01-01 00:20:00", "view"))
      q1.processAllAvailable(); q2.processAllAvailable()
      val ex = spark.table("svc_excl")
      assert(!ex.columns.contains("value") &&
        ex.columns.contains("event_type"))
      assert(ex.count() === 2)
      val melt = spark.table("svc_melt")
      assert(melt.count() === 4) // 2 rows × 2 melted columns
      assert(melt.select("metric").distinct().collect()
        .map(_.getString(0)).sorted.toSeq ===
        Seq("event_id", "user_id"))
    } finally { q1.stop(); q2.stop() }
    // auto-PIVOT needs a distinct VALUE scan — impossible unbounded
    val e = intercept[IllegalArgumentException] {
      ContinuousQueries.submitSql(spark,
        """PIVOT dlc_events ON event_type USING count(event_id)
           GROUP BY user_id""", "svc_piv")
    }
    assert(e.getMessage.contains("unbounded stream"))
  }

  test("submitPattern: pattern TEXT runs CONTINUOUSLY via the detectors") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_events")
    // sequence form → ChainEngine; results land in the memory sink
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_events
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_pat")
    try {
      stream.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:50:00"), 7, "purchase", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 01:00:00"), 8, "signup", 0))
      q.processAllAvailable()
      // one completed match: signup 1 -> FIRST purchase 2 (3 is outside
      // nothing: it is within 50 min — outside the 30-min window)
      val got = spark.table("svc_pat")
        .select("user_id", "sid", "pid").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((7L, 1L, 2L)))
      // and a later purchase by user 8 completes the open signup 4
      stream.addData(
        CepEvent(5, Timestamp.valueOf("2026-01-01 01:20:00"), 8, "purchase", 0))
      q.processAllAvailable()
      assert(spark.table("svc_pat").count() === 2)
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("pat_events")
    }
  }

  test("submitPattern honors lateness: out-of-order completion matches") {
    // batch 1 advances event time to 00:40; batch 2 delivers the
    // purchase LATE (ts 00:20). With lateness 30m the watermark after
    // batch 1 is 00:10, so the purchase is on time and the open signup —
    // pruned only against the WATERMARK, not the batch max — completes.
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_late")
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_late
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_late", lateness = "30 minutes")
    try {
      stream.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:40:00"), 9, "view", 0))
      q.processAllAvailable()
      assert(spark.table("svc_late").count() === 0)
      stream.addData( // late but inside the lateness bound
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:20:00"), 7, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("svc_late").select("sid", "pid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 3L)),
        "a completion inside the lateness bound must still match")
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("pat_late")
    }
  }

  test("submitPattern: `a THEN NOT b` streams on the default state store " +
    "provider") {
    // the absence form runs on flatMapGroupsWithState, so it needs no
    // RocksDB session of its own
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")), "the shared session keeps the default")
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_abs_default")
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_abs_default
         MATCH PATTERN (signup THEN NOT purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_abs_default")
    try {
      stream.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "signup", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:10:00"), 8, "purchase", 0))
      q.processAllAvailable()
      // advance the watermark past both windows, then fire the timers
      stream.addData(
        CepEvent(9, Timestamp.valueOf("2026-01-02 00:00:00"), 99, "view", 0))
      q.processAllAvailable()
      stream.addData(
        CepEvent(10, Timestamp.valueOf("2026-01-02 00:00:01"), 99, "view", 0))
      q.processAllAvailable()
      val out = spark.table("svc_abs_default")
      assert(out.columns.toSeq === Seq("user_id", "sid", "s_ts"))
      val got = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(got === Set((7L, 1L, Timestamp.valueOf("2026-01-01 00:00:00"))),
        "only the signup without a purchase is an absence")
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("pat_abs_default")
    }
  }

  test("submitPattern: MEASURES x THEN NOT kills a prefix that completes " +
    "late with a NOT event processed before it (== CepSql.sql)") {
    // user 7: batch 1 brings a@00:01 and z@00:05, batch 2 the late
    // b@00:03 (inside the 10-minute lateness). The prefix (a, b) only
    // exists from batch 2 on, after its killer z was processed, so the
    // engine must remember z. User 8 has the same prefix and no z: the
    // absence that must still emit.
    implicit val sq = spark.sqlContext
    def ev(id: Long, u: Long, t: String, typ: String) =
      CepEvent(id, Timestamp.valueOf(s"2026-01-01 $t"), u, typ, 1.0)
    val batches = Seq(
      Seq(ev(1, 7, "00:01:00", "a"), ev(2, 7, "00:05:00", "z"),
        ev(11, 8, "00:01:00", "a")),
      Seq(ev(3, 7, "00:03:00", "b"), ev(12, 8, "00:03:00", "b")),
      // advance the watermark past every window, then fire the timers
      Seq(ev(90, 9, "02:00:00", "x")),
      Seq(ev(91, 9, "02:00:01", "x")))
    val pat = (tbl: String) =>
      s"""SELECT * FROM $tbl
         MATCH PATTERN (a THEN b THEN NOT z WITHIN '30' MINUTES)
         PARTITION BY user_id
         MEASURES COUNT(*) AS n"""
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_mabs_late")
    batches.flatten.toDF().createOrReplaceTempView("pat_mabs_late_all")
    val q = ContinuousQueries.submitPattern(spark, pat("pat_mabs_late"),
      "svc_mabs_late", lateness = "10 minutes")
    try {
      batches.foreach { b => stream.addData(b); q.processAllAvailable() }
      val got = spark.table("svc_mabs_late").collect().map { r =>
        val ids = r.getSeq[Long](1)
        (r.getLong(0), ids.head, ids(1), r.getAs[Long]("n"))
      }.toSet
      val want = CepSql.sql(spark, pat("pat_mabs_late_all"))
        .select("user_id", "id_1", "id_2", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(want === Set((8L, 11L, 12L, 2L)))
      assert(got === want)
    } finally {
      if (q.isActive) q.stop()
      Seq("pat_mabs_late", "pat_mabs_late_all")
        .foreach(spark.catalog.dropTempView)
    }
  }

  test("submitPattern: chain and quantified forms dispatch; misuse is loud") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_events2")
    // 3-step chain → ChainEngine
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_events2
         MATCH PATTERN (signup THEN click THEN purchase WITHIN '2' HOURS)
         PARTITION BY user_id""", "svc_chain")
    try {
      stream.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "click", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:20:00"), 7, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("svc_chain").select("step_ids").collect()
        .map(_.getSeq[Long](0)).toSet
      assert(got === Set(Seq(1L, 2L, 3L)))
    } finally {
      if (q.isActive) q.stop()
    }
    // quantified run → RunDetector, completed runs only
    val stream3 = MemoryStream[CepEvent]
    stream3.toDF().createOrReplaceTempView("pat_events3")
    val q3 = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_events3
         MATCH PATTERN (click{3,} THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_runs")
    try {
      stream3.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "click", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "click", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "click", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 0),
        // a 2-click run by user 8 must NOT match
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "click", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:01:00"), 8, "click", 0),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:05:00"), 8, "purchase", 0))
      q3.processAllAvailable()
      val runs = spark.table("svc_runs")
        .select("user_id", "run_len").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(runs.toSeq === Seq((7L, 3L)))
    } finally {
      if (q3.isActive) q3.stop()
      spark.catalog.dropTempView("pat_events3")
    }
    // MEASURES → ChainEngine (r7): the click between the
    // matched rows is part of the span (COUNT 3, SUM 8.0)
    val streamM = MemoryStream[CepEvent]
    streamM.toDF().createOrReplaceTempView("pat_meas")
    val qM = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_meas
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id
         MEASURES SUM(value)""", "svc_meas")
    try {
      streamM.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 1.0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "click", 5.0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 2.0))
      qM.processAllAvailable()
      val got = spark.table("svc_meas")
        .select("user_id", "step_ids", "measure").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getDouble(2)))
      assert(got.toSeq === Seq((7L, Seq(1L, 3L), 8.0)),
        "the span must include the unmatched click")
    } finally {
      if (qM.isActive) qM.stop()
      spark.catalog.dropTempView("pat_meas")
    }
    // multi-measure dispatch (r8): aliases become columns, COUNT and
    // MATCH_NUMBER() come back as longs, class refs as doubles
    val streamN = MemoryStream[CepEvent]
    streamN.toDF().createOrReplaceTempView("pat_measn")
    val qN = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_measn
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, purchase.value AS p_v,
                  MATCH_NUMBER() AS mno""", "svc_measn")
    try {
      streamN.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 1.0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "click", 5.0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 2.0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 01:00:00"), 7, "signup", 3.0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 01:10:00"), 7, "purchase", 4.0))
      qN.processAllAvailable()
      // advance the watermark past both windows so the numbered matches
      // release (MATCH_NUMBER holds until the window closes)
      streamN.addData(
        CepEvent(9, Timestamp.valueOf("2026-01-02 00:00:00"), 99, "click", 0.0))
      qN.processAllAvailable()
      val got = spark.table("svc_measn")
        .select("user_id", "step_ids", "c", "p_v", "mno").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).sortBy(_._5)
      assert(got.toSeq === Seq(
        (7L, Seq(1L, 3L), 3L, 2.0, 1L),
        (7L, Seq(4L, 5L), 2L, 4.0, 2L)))
    } finally {
      if (qN.isActive) qN.stop()
      spark.catalog.dropTempView("pat_measn")
    }
    // ...span-aggregate MEASURES on a quantified chain dispatch to
    // RunChainDetector.detectMeasures (r8): user 7's 2-click run +
    // purchase spans 4 events (run start .. purchase, closing event
    // 'x' folded as a bystander), sum = 10+20+5+100
    val streamQM = MemoryStream[CepEvent]
    streamQM.toDF().createOrReplaceTempView("pat_qmeas")
    val qQM = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_qmeas
         MATCH PATTERN (click{2,} THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id
         MEASURES SUM(value) AS sv, COUNT(*) AS cn""", "svc_qmeas")
    try {
      streamQM.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "click", 10),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "click", 20),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "x", 5),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "purchase",
          100))
      qQM.processAllAvailable()
      val gotQM = spark.table("svc_qmeas")
        .select("user_id", "sv", "cn").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(gotQM === Set((7L, 135.0, 4L)),
        "the span must cover run start through purchase inclusive")
    } finally {
      if (qQM.isActive) qQM.stop()
      spark.catalog.dropTempView("pat_qmeas")
    }
    // ...MATCH_NUMBER on a quantified chain STREAMS since r9 (the
    // held-release numbering; RunChainSpec pins the full-fixture law —
    // this pins dispatch + typed BIGINT output + per-key 1..k order);
    // class refs on an UNQUANTIFIED step of a quantified chain stay
    // batch-only → loud
    val streamQN = MemoryStream[CepEvent]
    streamQN.toDF().createOrReplaceTempView("pat_qmn")
    val qQN = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_qmn
         MATCH PATTERN (click{2,} THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, MATCH_NUMBER() AS mn""", "svc_qmn")
    try {
      streamQN.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "click", 1),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "click", 2),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "x", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "purchase",
          3),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "click", 4),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:01:10"), 7, "click", 5),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:01:20"), 7, "y", 0),
        CepEvent(8, Timestamp.valueOf("2026-01-01 00:01:30"), 7, "purchase",
          6))
      qQN.processAllAvailable()
      // flush: advance the watermark far past both windows
      streamQN.addData(CepEvent(9,
        Timestamp.valueOf("2026-01-02 00:00:00"), 99, "zz", 0))
      qQN.processAllAvailable()
      val gotQN = spark.table("svc_qmn")
        .select("user_id", "mn").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(gotQN.toSeq === Seq((7L, 1L), (7L, 2L)),
        s"numbering must be 1..k per key in (ts_1, rsid) order: " +
          s"${gotQN.toSeq}")
    } finally {
      if (qQN.isActive) qQN.stop()
      spark.catalog.dropTempView("pat_qmn")
    }
    // class refs on unquantified steps stream since r9 too — but only
    // for converter-schema columns; anything else stays loud
    val eQM = intercept[IllegalArgumentException] {
      ContinuousQueries.submitPattern(spark,
        """SELECT * FROM pat_events2
           MATCH PATTERN (a{2,} THEN b WITHIN '5' MINUTES)
           PARTITION BY user_id
           MEASURES COUNT(*) AS c, b.nosuch AS bv""", "svc_qmeasn")
    }
    assert(eQM.getMessage.contains("converter schema"))
    // ...FIRST/LAST boundary refs STREAM for numeric converter columns
    // (r8) AND ts (r9): micros ride the Double slot exactly and cast
    // back to TIMESTAMP at emission — FIRST(click.ts) is the run's
    // start, LAST(click.ts) its maximal end, both as typed timestamps
    val streamBR = MemoryStream[CepEvent]
    streamBR.toDF().createOrReplaceTempView("pat_tsbnd")
    val qBR = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_tsbnd
         MATCH PATTERN (click{2,} THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id
         MEASURES FIRST(click.ts) AS t0, LAST(click.ts) AS t1""",
      "svc_tsbnd")
    try {
      streamBR.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "click", 1),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "click", 2),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "click", 3),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "x", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:40"), 7, "purchase",
          9))
      qBR.processAllAvailable()
      val gotBR = spark.table("svc_tsbnd").select("t0", "t1").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1))).toSet
      assert(gotBR === Set((Timestamp.valueOf("2026-01-01 00:00:00"),
        Timestamp.valueOf("2026-01-01 00:00:20"))),
        s"ts boundaries must emit as typed timestamps: $gotBR")
      assert(spark.table("svc_tsbnd").schema("t0").dataType ===
        org.apache.spark.sql.types.TimestampType)
    } finally {
      if (qBR.isActive) qBR.stop()
      spark.catalog.dropTempView("pat_tsbnd")
    }
    // ...reluctant quantifiers stream via the lazy run detector (r8):
    // a{2,}? completes at the 2nd consecutive a — the 3rd a of the same
    // island must NOT anchor a second lazy match (island consumption)
    val streamL = MemoryStream[CepEvent]
    streamL.toDF().createOrReplaceTempView("pat_lazy")
    val qL = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_lazy
         MATCH PATTERN (a{2,}? THEN b WITHIN '5' MINUTES)
         PARTITION BY user_id""", "svc_lazy")
    try {
      streamL.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "a", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "a", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "a", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "b", 0))
      qL.processAllAvailable()
      val got = spark.table("svc_lazy")
        .select("user_id", "step_vals", "step_ts").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1),
          r.getSeq[Timestamp](2))).toSet
      assert(got === Set((7L, Seq(2L, 4L),
        Seq(Timestamp.valueOf("2026-01-01 00:00:10"),
          Timestamp.valueOf("2026-01-01 00:01:00")))),
        "lazy run ends at the 2nd a; one match per island")
    } finally {
      if (qL.isActive) qL.stop()
      spark.catalog.dropTempView("pat_lazy")
    }
    // ...the m = 1 lazy head STREAMS since r10 (LazyRunDetector): the
    // anchor is each island's FIRST event; b mid-island completes it
    val streamL1 = MemoryStream[CepEvent]
    streamL1.toDF().createOrReplaceTempView("pat_lazy1")
    val qL1 = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_lazy1
         MATCH PATTERN (a{1,}? THEN b WITHIN '5' MINUTES)
         PARTITION BY user_id""", "svc_lazy1")
    try {
      streamL1.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "a", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "a", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "b", 0),
        // b breaks the island; a fresh island anchors at event 4 and
        // completes with event 5 inside the window
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "a", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:03:00"), 7, "b", 0))
      qL1.processAllAvailable()
      val gotL1 = spark.table("svc_lazy1")
        .select("run_len", "run_start", "next_follow").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2))).toSet
      assert(gotL1 === Set(
        (1L, Timestamp.valueOf("2026-01-01 00:00:00"),
          Timestamp.valueOf("2026-01-01 00:01:00")),
        (1L, Timestamp.valueOf("2026-01-01 00:02:00"),
          Timestamp.valueOf("2026-01-01 00:03:00"))),
        s"one truncated match per island: $gotL1")
    } finally {
      if (qL1.isActive) qL1.stop()
      spark.catalog.dropTempView("pat_lazy1")
    }
    // ...and the reluctant ABSENCE streams too: island 1's window has a
    // b (no match); island 2 times out b-less once the watermark passes
    val streamLA = MemoryStream[CepEvent]
    streamLA.toDF().createOrReplaceTempView("pat_lazyabs")
    val qLA = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_lazyabs
         MATCH PATTERN (a{2,}? THEN NOT b WITHIN '5' MINUTES)
         PARTITION BY user_id""", "svc_lazyabs")
    try {
      streamLA.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "a", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "a", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "b", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:10:00"), 8, "a", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:10:30"), 8, "a", 0))
      qLA.processAllAvailable()
      // advance the watermark far past user 8's window
      streamLA.addData(
        CepEvent(9, Timestamp.valueOf("2026-01-02 00:00:00"), 9, "x", 0))
      qLA.processAllAvailable()
      val gotLA = spark.table("svc_lazyabs")
        .select("user_id", "run_len", "run_end").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(gotLA === Set(
        (8L, 2L, Timestamp.valueOf("2026-01-01 00:10:30"))),
        s"only user 8's island is b-less in-window: $gotLA")
    } finally {
      if (qLA.isActive) qLA.stop()
      spark.catalog.dropTempView("pat_lazyabs")
    }
    // ...{1,}? anywhere but the 2-step head stays batch-only → loud
    val eLazyMid = intercept[IllegalArgumentException] {
      ContinuousQueries.submitPattern(spark,
        """SELECT * FROM pat_events2
           MATCH PATTERN (a THEN b{1,}? THEN c WITHIN '5' MINUTES)
           PARTITION BY user_id""", "svc_lazymid")
    }
    assert(eLazyMid.getMessage.contains("{1,}?"))
    // ...a measure column outside the converter schema is batch-only
    val eMeas = intercept[IllegalArgumentException] {
      ContinuousQueries.submitPattern(spark,
        """SELECT * FROM pat_events2
           MATCH PATTERN (a THEN b WITHIN '5' MINUTES) PARTITION BY user_id
           MEASURES SUM(other_col)""", "svc_badmeas")
    }
    assert(eMeas.getMessage.contains("numeric columns"))
    // PERMUTE(a, b) → two directional ChainEngine legs unioned (r7):
    // user 7 matches signup→purchase, user 8 purchase→signup
    val streamP = MemoryStream[CepEvent]
    streamP.toDF().createOrReplaceTempView("pat_perm")
    val qP = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_perm
         MATCH PATTERN (PERMUTE(signup, purchase) WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_perm")
    try {
      streamP.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "purchase", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:05:00"), 8, "signup", 0))
      qP.processAllAvailable()
      val got = spark.table("svc_perm")
        .select("user_id", "first_ev", "first_id", "second_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got === Set(
        (7L, "signup", 1L, 2L),
        (8L, "purchase", 3L, 4L)))
    } finally {
      if (qP.isActive) qP.stop()
      spark.catalog.dropTempView("pat_perm")
    }
    // optional step → ChainEngine (r7): user 7 skips the
    // click (purchase arrives first), user 8 takes it
    val streamO = MemoryStream[CepEvent]
    streamO.toDF().createOrReplaceTempView("pat_opt")
    val qO = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_opt
         MATCH PATTERN (signup THEN click? THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_opt")
    try {
      streamO.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "signup", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:05:00"), 8, "click", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:10:00"), 8, "purchase", 0))
      qO.processAllAvailable()
      val got = spark.table("svc_opt").select("user_id", "step_ids")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Any](1).map(Option(_)))).toSet
      assert(got === Set(
        (7L, Seq(Some(1L), None, Some(2L))),
        (8L, Seq(Some(3L), Some(4L), Some(5L)))))
    } finally {
      if (qO.isActive) qO.stop()
      spark.catalog.dropTempView("pat_opt")
    }
    // ...optional + absence dispatches to ChainEngine's
    // optional absence form (r8, previously rejected): user 7 skips b and has
    // no d → absence with a null slot; user 8 completes and is
    // cancelled by its d
    val streamOA = MemoryStream[CepEvent]
    streamOA.toDF().createOrReplaceTempView("pat_optabs")
    val qOA = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_optabs
         MATCH PATTERN (a THEN b? THEN c THEN NOT d WITHIN '1' MINUTES)
         PARTITION BY user_id""", "svc_optabs")
    try {
      streamOA.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "a", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "c", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "a", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:10"), 8, "b", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:20"), 8, "c", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:00:30"), 8, "d", 0))
      qOA.processAllAvailable()
      // far-future prefix-class sentinel closes the windows
      streamOA.addData(CepEvent(9,
        Timestamp.valueOf("2026-01-02 00:00:00"), 99, "a", 0))
      qOA.processAllAvailable()
      val gotOA = spark.table("svc_optabs")
        .filter(org.apache.spark.sql.functions.col("user_id") =!= 99L)
        .select("user_id", "step_ids").collect()
        .map(r => (r.getLong(0), r.getSeq[Any](1).map(Option(_)))).toSet
      assert(gotOA === Set((7L, Seq(Some(1L), None, Some(2L)))),
        "skip-arm absence must emit; the cancelled key must not")
    } finally {
      if (qOA.isActive) qOA.stop()
      spark.catalog.dropTempView("pat_optabs")
    }
    // bounded run {m,n} → RunDetector with a length cap (r7): a 4-click
    // maximal run must NOT match {2,3} — whole-run semantics, the run is
    // skipped, never truncated
    val streamB = MemoryStream[CepEvent]
    streamB.toDF().createOrReplaceTempView("pat_bnd")
    val qB = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_bnd
         MATCH PATTERN (click{2,3} THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_bnd")
    try {
      streamB.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "click", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "click", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "click", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:01:00"), 8, "click", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:02:00"), 8, "click", 0),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:03:00"), 8, "click", 0),
        CepEvent(8, Timestamp.valueOf("2026-01-01 00:10:00"), 8, "purchase", 0))
      qB.processAllAvailable()
      val got = spark.table("svc_bnd")
        .select("user_id", "run_len").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.toSeq === Seq((7L, 2L)),
        "the 4-run must vanish under {2,3}, not truncate")
    } finally {
      if (qB.isActive) qB.stop()
      spark.catalog.dropTempView("pat_bnd")
    }
    // mid-chain quantifier → RunChainDetector (r7): signup, a 2-run of
    // clicks closed by the purchase, which completes the chain itself
    val streamMid = MemoryStream[CepEvent]
    streamMid.toDF().createOrReplaceTempView("pat_mid")
    val qMid = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_mid
         MATCH PATTERN (signup THEN click{2,} THEN purchase WITHIN '2' HOURS)
         PARTITION BY user_id""", "svc_mid")
    try {
      streamMid.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "click", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "click", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:20:00"), 7, "purchase", 0))
      qMid.processAllAvailable()
      val got = spark.table("svc_mid").select("step_vals").collect()
        .map(_.getSeq[Long](0)).toSet
      assert(got === Set(Seq(1L, 2L, 4L)),
        "(signup id, run len, purchase id) expected")
    } finally {
      if (qMid.isActive) qMid.stop()
      spark.catalog.dropTempView("pat_mid")
    }
    // ...a quantified step overlapping its predecessor's class streams
    // in the greedy 2-STEP form since r11 (OverlapRunDetector: shared
    // per-key island — the r10 counterexample `b THEN b{2,}` on
    // b,b,b matches NOTHING because the only island starts at the
    // anchor; after a break the island serves the pre-break anchor)
    val streamOvl = MemoryStream[CepEvent]
    streamOvl.toDF().createOrReplaceTempView("pat_ovl")
    val qOvl = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_ovl
         MATCH PATTERN (b THEN b{2,} WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_ovl")
    try {
      streamOvl.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "b", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "b", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "b", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "x", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:40"), 7, "b", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:00:50"), 7, "b", 0),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:01:30"), 7, "y", 0))
      qOvl.processAllAvailable()
      val gotOvl = spark.table("svc_ovl")
        .select("user_id", "id_1", "len_2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // anchors 1-3 sit inside the first island (start NOT strictly
      // after them); the post-break island [5,6] serves all three
      assert(gotOvl === Set((7L, 1L, 2L), (7L, 2L, 2L), (7L, 3L, 2L)),
        s"shared-island matches expected, got $gotOvl")
    } finally {
      if (qOvl.isActive) qOvl.stop()
      spark.catalog.dropTempView("pat_ovl")
    }
    // ...the 3-step completion form streams too (r11 session 2): the
    // island close parks qualifying anchors as pendings; the first
    // disjoint c inside each anchor window completes them all
    val streamOv3 = MemoryStream[CepEvent]
    streamOv3.toDF().createOrReplaceTempView("pat_ovl3")
    val qOv3 = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_ovl3
         MATCH PATTERN (b THEN b{2,} THEN c WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_ovl3")
    try {
      streamOv3.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "b", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "b", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "b", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "x", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:40"), 7, "b", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:00:50"), 7, "b", 0),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:01:30"), 7, "y", 0),
        CepEvent(8, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "c", 0))
      qOv3.processAllAvailable()
      val gotOv3 = spark.table("svc_ovl3")
        .select("user_id", "id_1", "len_2", "id_3").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // anchors 1-3 pend on island [5,6]'s close at y; c completes all
      assert(gotOv3 === Set((7L, 1L, 2L, 8L), (7L, 2L, 2L, 8L),
        (7L, 3L, 2L, 8L)), s"3-step overlap matches expected, got $gotOv3")
    } finally {
      if (qOv3.isActive) qOv3.stop()
      spark.catalog.dropTempView("pat_ovl3")
    }
    // ...a completion class INSIDE the run's class streams since r12
    // (a b-class completer never closes an island, but tail resolution
    // is island-independent — it serves pendings AND extends the island)
    val streamOvB = MemoryStream[CepEvent]
    streamOvB.toDF().createOrReplaceTempView("pat_ovlb")
    val qOvB = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_ovlb
         MATCH PATTERN (b THEN b{2,} THEN b WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_ovlb")
    try {
      streamOvB.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "b", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "b", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "b", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "x", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:40"), 7, "b", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:00:50"), 7, "b", 0),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:01:30"), 7, "y", 0),
        CepEvent(8, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "b", 0),
        CepEvent(9, Timestamp.valueOf("2026-01-01 00:03:00"), 7, "z", 0))
      qOvB.processAllAvailable()
      val gotOvB = spark.table("svc_ovlb")
        .select("user_id", "id_1", "len_2", "id_3").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      // anchors 1-3 pend on island [5,6]'s close; the next b (8) is the
      // first step-3 row (ts > run_end) even though it opens an island
      assert(gotOvB === Set((7L, 1L, 2L, 8L), (7L, 2L, 2L, 8L),
        (7L, 3L, 2L, 8L)), s"overlapping-c matches expected, got $gotOvB")
    } finally {
      if (qOvB.isActive) qOvB.stop()
      spark.catalog.dropTempView("pat_ovlb")
    }
    // ...4+-step overlap-head chains stream since r12: pendings CHAIN
    // through the unquantified tail, one rank-1 step per event
    val streamOv4 = MemoryStream[CepEvent]
    streamOv4.toDF().createOrReplaceTempView("pat_ovl4")
    val qOv4 = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_ovl4
         MATCH PATTERN (b THEN b{2,} THEN c THEN d WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_ovl4")
    try {
      streamOv4.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "b", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "b", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "b", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "x", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:40"), 7, "b", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:00:50"), 7, "b", 0),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:01:30"), 7, "y", 0),
        CepEvent(8, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "c", 0),
        CepEvent(9, Timestamp.valueOf("2026-01-01 00:02:30"), 7, "d", 0))
      qOv4.processAllAvailable()
      val gotOv4 = spark.table("svc_ovl4")
        .select("user_id", "id_1", "len_2", "id_3", "id_4").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(gotOv4 === Set((7L, 1L, 2L, 8L, 9L), (7L, 2L, 2L, 8L, 9L),
        (7L, 3L, 2L, 8L, 9L)), s"4-step overlap matches expected, " +
        s"got $gotOv4")
    } finally {
      if (qOv4.isActive) qOv4.stop()
      spark.catalog.dropTempView("pat_ovl4")
    }
    // ...while overlap at a NON-HEAD boundary stays batch-only → loud
    // (the island tracker is anchored to the head; see OverlapRunSpec's
    // pinned counterexample for the divergence a per-prefix tracker
    // would produce)
    val eOvlMid = intercept[IllegalArgumentException] {
      ContinuousQueries.submitPattern(spark,
        """SELECT * FROM pat_events2
           MATCH PATTERN (a THEN b THEN b{2,} WITHIN '1' MINUTES)
           PARTITION BY user_id""", "svc_badovlmid")
    }
    assert(eOvlMid.getMessage.contains("overlaps"))
    // ...while a QUANTIFIED tail step after the overlap head STREAMS
    // since r13 (per-step island trackers — OverlapRunSpec fuzzes the
    // twin law; this pins only that the dispatch accepts the form)
    val qOvlQTail = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_events2
         MATCH PATTERN (b THEN b{2,} THEN c{2,} WITHIN '1' MINUTES)
         PARTITION BY user_id""", "svc_ovlqt")
    try assert(qOvlQTail.isActive)
    finally { if (qOvlQTail.isActive) qOvlQTail.stop() }
    // absence after a quantified chain (r8, previously rejected) →
    // RunChainDetector.detectAbsent: user 7's completed signup→2-click
    // prefix has no purchase → absence once the watermark proves it;
    // user 8's identical prefix is cancelled by its purchase
    val streamQA = MemoryStream[CepEvent]
    streamQA.toDF().createOrReplaceTempView("pat_qabs")
    val qQA = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_qabs
         MATCH PATTERN (signup THEN click{2,} THEN NOT purchase
         WITHIN '2' HOURS)
         PARTITION BY user_id""", "svc_qabs")
    try {
      streamQA.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "click", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "click", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:20:00"), 7, "view", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "signup", 0),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:05:00"), 8, "click", 0),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:10:00"), 8, "click", 0),
        CepEvent(8, Timestamp.valueOf("2026-01-01 00:20:00"), 8, "view", 0),
        CepEvent(9, Timestamp.valueOf("2026-01-01 00:30:00"), 8, "purchase", 0))
      qQA.processAllAvailable()
      // two far-future rounds: advance the watermark, then fire timers
      streamQA.addData(
        CepEvent(20, Timestamp.valueOf("2026-01-02 00:00:00"), 99, "view", 0))
      qQA.processAllAvailable()
      streamQA.addData(
        CepEvent(21, Timestamp.valueOf("2026-01-02 00:00:01"), 99, "view", 0))
      qQA.processAllAvailable()
      val gotQA = spark.table("svc_qabs")
        .select("user_id", "step_vals").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      assert(gotQA === Set((7L, Seq(1L, 2L))),
        "(signup id, run len) for the unconverted prefix only")
    } finally {
      if (qQA.isActive) qQA.stop()
      spark.catalog.dropTempView("pat_qabs")
    }
    // NOT after a multi-step chain → ChainEngine (r7): the
    // matched signup→click prefix with no purchase emits once the
    // watermark proves the window empty
    val streamAbs = MemoryStream[CepEvent]
    streamAbs.toDF().createOrReplaceTempView("pat_chain_abs")
    val qAbs = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_chain_abs
         MATCH PATTERN (signup THEN click THEN NOT purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_chain_abs", lateness = "0 seconds")
    try {
      streamAbs.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "click", 0),
        // user 8's prefix IS completed by a purchase → no absence
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "signup", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:05:00"), 8, "click", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:10:00"), 8, "purchase", 0))
      qAbs.processAllAvailable()
      streamAbs.addData( // advance the watermark past every window
        CepEvent(9, Timestamp.valueOf("2026-01-02 00:00:00"), 9, "signup", 0))
      qAbs.processAllAvailable()
      val gotAbs = spark.table("svc_chain_abs")
        .select("user_id", "step_ids").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      assert(gotAbs === Set((7L, Seq(1L, 2L))))
    } finally {
      if (qAbs.isActive) qAbs.stop()
      spark.catalog.dropTempView("pat_chain_abs")
    }
    // wrong partition key → loud
    val e1 = intercept[IllegalArgumentException] {
      ContinuousQueries.submitPattern(spark,
        """SELECT * FROM pat_events2
           MATCH PATTERN (a THEN b WITHIN '1' MINUTES)
           PARTITION BY other_key""", "svc_bad")
    }
    assert(e1.getMessage.contains("user_id"))
    // batch view → loud
    graft.Tables.load(spark, sf)
    val e2 = intercept[IllegalArgumentException] {
      ContinuousQueries.submitPattern(spark,
        """SELECT * FROM events
           MATCH PATTERN (a THEN b WITHIN '1' MINUTES)
           PARTITION BY user_id""", "svc_bad2")
    }
    assert(e2.getMessage.contains("batch view"))
    spark.catalog.dropTempView("pat_events2")
  }

  test("submitPattern: alternation steps dispatch through the detectors (r7)") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_alt")
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_alt
         MATCH PATTERN (signup THEN click|purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_alt")
    try {
      stream.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        // the FIRST of either class completes — here a click
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "click", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 0),
        CepEvent(4, Timestamp.valueOf("2026-01-01 01:00:00"), 8, "signup", 0),
        CepEvent(5, Timestamp.valueOf("2026-01-01 01:20:00"), 8, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("svc_alt").select("sid", "pid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 2L), (4L, 5L)))
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("pat_alt")
    }
  }

  test("submitPattern: step conditions dispatch via predicates (r7)") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_cond")
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_cond
         MATCH PATTERN (signup THEN purchase(value > 100) WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_cond")
    try {
      stream.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        // a cheap purchase does NOT complete; the expensive one does
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 20),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 150))
      q.processAllAvailable()
      val got = spark.table("svc_cond").select("step_ids").collect()
        .map(_.getSeq[Long](0)).toSet
      assert(got === Set(Seq(1L, 3L)),
        "the condition must skip the below-threshold completion")
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("pat_cond")
    }
    // conditioned QUANTIFIED run (r8, previously rejected): the cheap
    // click mid-run BREAKS it (batch gaps-and-islands indicator is type
    // AND condition), so user 7 never accumulates a 3-run; user 8 does
    val streamQ = MemoryStream[CepEvent]
    streamQ.toDF().createOrReplaceTempView("pat_condq")
    val qQ = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_condq
         MATCH PATTERN (click(value > 10){3,} THEN purchase
         WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_condq")
    try {
      streamQ.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "click", 50),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "click", 5),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:02:00"), 7, "click", 50),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:03:00"), 7, "click", 50),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 50),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "click", 50),
        CepEvent(7, Timestamp.valueOf("2026-01-01 00:01:00"), 8, "click", 50),
        CepEvent(8, Timestamp.valueOf("2026-01-01 00:02:00"), 8, "click", 50),
        CepEvent(9, Timestamp.valueOf("2026-01-01 00:10:00"), 8, "purchase", 50))
      qQ.processAllAvailable()
      val gotQ = spark.table("svc_condq")
        .select("user_id", "run_len").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(gotQ.toSeq === Seq((8L, 3L)),
        "the below-threshold click must BREAK user 7's run")
    } finally {
      if (qQ.isActive) qQ.stop()
      spark.catalog.dropTempView("pat_condq")
    }
    // conditioned MID-CHAIN quantifier (r8, previously rejected) →
    // RunChainDetector predicate dispatch
    val streamQC = MemoryStream[CepEvent]
    streamQC.toDF().createOrReplaceTempView("pat_condqc")
    val qQC = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_condqc
         MATCH PATTERN (signup THEN click(value > 10){2,} THEN purchase
         WITHIN '2' HOURS)
         PARTITION BY user_id""", "svc_condqc")
    try {
      streamQC.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "click", 50),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:06:00"), 7, "click", 5),
        CepEvent(4, Timestamp.valueOf("2026-01-01 00:07:00"), 7, "click", 50),
        CepEvent(5, Timestamp.valueOf("2026-01-01 00:08:00"), 7, "click", 50),
        CepEvent(6, Timestamp.valueOf("2026-01-01 00:20:00"), 7, "purchase", 0))
      qQC.processAllAvailable()
      val gotQC = spark.table("svc_condqc").select("step_vals").collect()
        .map(_.getSeq[Long](0)).toSet
      // the cheap click 3 breaks the first run; the qualifying run is
      // clicks 4-5 (len 2), closed and completed by the purchase
      assert(gotQC === Set(Seq(1L, 2L, 6L)),
        "(signup id, run len 2, purchase id) expected")
    } finally {
      if (qQC.isActive) qQC.stop()
      spark.catalog.dropTempView("pat_condqc")
    }
    // conditioned ABSENCE (r8, previously rejected): only a purchase
    // satisfying the condition cancels — user 7's cheap purchase is
    // invisible, so the absence still emits; user 8's expensive one
    // cancels. Runs on its own RocksDB session (like AbsenceSpec), so
    // the engine stays covered on that provider too.
    locally {
      val sA = spark.newSession()
      StreamingConf.applyTo(sA)
      val streamA = MemoryStream[CepEvent](
        org.apache.spark.sql.Encoders.product[CepEvent], sA.sqlContext)
      streamA.toDF().createOrReplaceTempView("pat_conda")
      val qA = ContinuousQueries.submitPattern(sA,
        """SELECT * FROM pat_conda
           MATCH PATTERN (signup THEN NOT purchase(value > 100)
           WITHIN '30' MINUTES)
           PARTITION BY user_id""", "svc_conda")
      try {
        streamA.addData(
          CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
          CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 20),
          CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:00"), 8, "signup", 0),
          CepEvent(4, Timestamp.valueOf("2026-01-01 00:05:00"), 8, "purchase", 150))
        qA.processAllAvailable()
        // two far-future rounds: advance the watermark, then fire timers
        streamA.addData(
          CepEvent(9, Timestamp.valueOf("2026-01-02 00:00:00"), 99, "view", 0))
        qA.processAllAvailable()
        streamA.addData(
          CepEvent(10, Timestamp.valueOf("2026-01-02 00:00:01"), 99, "view", 0))
        qA.processAllAvailable()
        val gotA = sA.table("svc_conda").select("user_id", "sid").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(gotA === Set((7L, 1L)),
          "a below-threshold purchase must NOT cancel the absence")
      } finally {
        if (qA.isActive) qA.stop()
        sA.catalog.dropTempView("pat_conda")
      }
    }
    // conditioned SKIP PAST LAST ROW (r8, previously rejected): the
    // cheap purchase is invisible to step 2, so the greedy match takes
    // the expensive one and consumes it
    val streamS = MemoryStream[CepEvent]
    streamS.toDF().createOrReplaceTempView("pat_conds")
    val qS = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_conds
         MATCH PATTERN (signup THEN purchase(value > 100)
         WITHIN '30' MINUTES)
         PARTITION BY user_id
         AFTER MATCH SKIP PAST LAST ROW""", "svc_conds")
    try {
      streamS.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 20),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 150),
        // pattern-TYPE sentinel: the predicate pre-filter drops foreign
        // types before the watermark, so the sentinel must pass step 1
        CepEvent(9, Timestamp.valueOf("2026-01-02 00:00:00"), 99, "signup", 0))
      qS.processAllAvailable()
      streamS.addData(
        CepEvent(10, Timestamp.valueOf("2026-01-02 00:00:01"), 99, "signup", 0))
      qS.processAllAvailable()
      val gotS = spark.table("svc_conds").select("id_1", "id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotS === Set((1L, 3L)),
        "the conditioned pick must skip the cheap purchase")
    } finally {
      if (qS.isActive) qS.stop()
      spark.catalog.dropTempView("pat_conds")
    }
    // conditions on a non-value NUMERIC converter column (r8 lift):
    // purchase(event_id >= 30) must skip the low-id purchase
    val streamI = MemoryStream[CepEvent]
    streamI.toDF().createOrReplaceTempView("pat_condi")
    val qI = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_condi
         MATCH PATTERN (signup THEN purchase(event_id >= 30)
         WITHIN '30' MINUTES)
         PARTITION BY user_id""", "svc_condi")
    try {
      streamI.addData(
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "purchase", 20),
        CepEvent(30, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 5))
      qI.processAllAvailable()
      val gotI = spark.table("svc_condi").select("step_ids").collect()
        .map(_.getSeq[Long](0)).toSet
      assert(gotI === Set(Seq(1L, 30L)),
        "the id-conditioned pick must skip the low-id purchase")
    } finally {
      if (qI.isActive) qI.stop()
      spark.catalog.dropTempView("pat_condi")
    }
    // condition columns outside the converter schema are batch-only
    val stream2 = MemoryStream[CepEvent]
    stream2.toDF().createOrReplaceTempView("pat_cond2")
    try {
      val eCol = intercept[IllegalArgumentException] {
        ContinuousQueries.submitPattern(spark,
          """SELECT * FROM pat_cond2
             MATCH PATTERN (a THEN b(other_col > 1) WITHIN '1' MINUTES)
             PARTITION BY user_id""", "svc_badcol")
      }
      assert(eCol.getMessage.contains("numeric columns"))
    } finally spark.catalog.dropTempView("pat_cond2")
  }

  test("submitPattern: SKIP PAST LAST ROW dispatches to SkipDetector (r7)") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_skip")
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_skip
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id
         AFTER MATCH SKIP PAST LAST ROW""", "svc_skip")
    try {
      stream.addData(
        // two signups share the first purchase's window; skip-past
        // consumes it for the first match only → exactly ONE match here
        // (skip-to-next-row would emit two)
        CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "signup", 0),
        CepEvent(2, Timestamp.valueOf("2026-01-01 00:05:00"), 7, "signup", 0),
        CepEvent(3, Timestamp.valueOf("2026-01-01 00:10:00"), 7, "purchase", 0))
      q.processAllAvailable()
      // advance the watermark far past every window so matches finalize
      stream.addData(
        CepEvent(9, Timestamp.valueOf("2026-01-02 00:00:00"), 9, "signup", 0))
      q.processAllAvailable()
      val got = spark.table("svc_skip").select("id_1", "id_2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 3L)),
        "skip-past must consume the purchase: signup 2 stays unmatched")
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("pat_skip")
    }
  }

  test("submitPattern: 2-step reluctant head forms replay == batch on " +
      "the full fixture (r10)") {
    // LazyRunDetector law: {1,}? THEN and {2,}? THEN NOT over the whole
    // events table reproduce the batch reluctant-runsSub rewrite
    implicit val sq = spark.sqlContext
    val data = graft.Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[CepEvent].orderBy("ts", "event_id").collect()
    def replay(stmt: String, name: String): Array[org.apache.spark.sql.Row]
        = {
      val stream = MemoryStream[CepEvent]
      stream.toDF().createOrReplaceTempView(s"src_$name")
      val q = ContinuousQueries.submitPattern(spark,
        stmt.replace("events", s"src_$name"), name,
        lateness = "5 seconds")
      try {
        data.grouped(math.max(1, data.length / 4)).foreach { c =>
          stream.addData(c.toSeq); q.processAllAvailable()
        }
        stream.addData(CepEvent(-9L,
          Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz_flush", 0.0))
        q.processAllAvailable()
        stream.addData(CepEvent(-10L,
          Timestamp.valueOf("2031-01-02 00:00:00"), -1L, "zz_flush", 0.0))
        q.processAllAvailable()
        spark.table(name).collect()
      } finally {
        if (q.isActive) q.stop()
        spark.catalog.dropTempView(s"src_$name")
      }
    }
    graft.Tables.load(spark, sf)
    // THEN form at m = 1
    val stmt1 = """SELECT * FROM events
       MATCH PATTERN (click{1,}? THEN purchase WITHIN '2' HOURS)
       PARTITION BY user_id"""
    val batch1 = graft.streaming.CepSql.sql(spark, stmt1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    val got1 = replay(stmt1, "svc_lz1full")
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    assert(got1 === batch1 && batch1.nonEmpty,
      s"{1,}? THEN replay diverged: ${got1.diff(batch1).take(3)} extra, " +
        s"${batch1.diff(got1).take(3)} missing")
    // absence form at m = 2
    val stmt2 = """SELECT * FROM events
       MATCH PATTERN (click{2,}? THEN NOT purchase WITHIN '24' HOURS)
       PARTITION BY user_id"""
    val batch2 = graft.streaming.CepSql.sql(spark, stmt2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3))).toSet
    val got2 = replay(stmt2, "svc_lz2full")
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3))).toSet
    assert(got2 === batch2 && batch2.nonEmpty,
      s"{2,}? THEN NOT replay diverged: ${got2.diff(batch2).take(3)} " +
        s"extra, ${batch2.diff(got2).take(3)} missing")
  }

  test("submitPattern: 3-way PERMUTE replay == batch rewrite on the " +
      "full fixture (r10)") {
    // the r9 carve-out closed: replay the whole events table through
    // Permute3Detector in ts-ordered chunks and compare the full match
    // set (anchor class + all three ids) to the oracle-gated batch key.
    // The far-future flush drives the watermark past every window so
    // held arm-2 triples release.
    val batch = graft.SparkEntry.queries("q_pattern_permute3")(spark, sf)
      .select("first_ev", "id_1", "id_2", "id_3").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("pat_p3full")
    // nonzero lateness: an event whose ts EQUALS the watermark (an
    // equal-ts tie straddling a chunk boundary) is dropped by Spark's
    // late filter at '0 seconds' — the permute fuzz test documents it
    val q = ContinuousQueries.submitPattern(spark,
      """SELECT * FROM pat_p3full
         MATCH PATTERN (PERMUTE(signup, click, purchase)
         WITHIN '12' HOURS)
         PARTITION BY user_id""", "svc_p3full", lateness = "5 seconds")
    try {
      val data = graft.Tables.table(spark, sf, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[CepEvent].orderBy("ts", "event_id").collect()
      data.grouped(math.max(1, data.length / 4)).foreach { c =>
        stream.addData(c.toSeq); q.processAllAvailable()
      }
      stream.addData(CepEvent(-9L,
        Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz_flush", 0.0))
      q.processAllAvailable()
      val got = spark.table("svc_p3full")
        .select("first_ev", "id_1", "id_2", "id_3").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got === batch && batch.nonEmpty,
        s"replay diverged: ${got.diff(batch).take(3)} extra, " +
          s"${batch.diff(got).take(3)} missing " +
          s"(${got.size} streamed vs ${batch.size} batch)")
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("pat_p3full")
    }
  }
}
