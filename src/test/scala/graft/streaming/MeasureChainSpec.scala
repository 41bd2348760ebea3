package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkSpec, Tables}

/** Streaming measured chains must reproduce the batch span-join rewrite
  * exactly on replay — ids AND the measure value, for every supported
  * aggregate, on the full fixture (the micro-fixture dispatch case lives
  * in SubmitSqlSpec; this is the real-data law). */
class MeasureChainSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDs: Dataset[CepEvent] =
    Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[CepEvent]

  private def replay(fn: String): Map[Seq[Long], Double] = {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"measure_${fn}_${System.nanoTime}"
    val q = ChainEngine.detect(stream.toDS(), Steps.of("signup", "purchase"),
      12L * 3600 * 1000, measures = Seq(CepSql.SpanAgg(fn,
        if (fn == "COUNT") "*" else "value", "measure")))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val rows = spark.table(name).collect()
      .map(r => r.getSeq[Long](1) -> r.getSeq[Double](5).head)
    val m = rows.toMap
    assert(rows.length === m.size,
      "duplicate emissions must not hide behind the map collapse")
    m
  }

  test("measured replay == batch span join for every aggregate (r7)") {
    Tables.load(spark, sf)
    def batch(fnTxt: String): Map[Seq[Long], Double] =
      CepSql.sql(spark,
        s"""SELECT * FROM events
           |MATCH PATTERN (signup THEN purchase WITHIN '12' HOURS)
           |PARTITION BY user_id
           |MEASURES $fnTxt""".stripMargin)
        .collect()
        .map(r => Seq(r.getLong(1), r.getLong(2)) ->
          r.get(5).toString.toDouble).toMap
    val cases = Seq("COUNT" -> "COUNT(*)", "SUM" -> "SUM(value)",
      "AVG" -> "AVG(value)", "MIN" -> "MIN(value)", "MAX" -> "MAX(value)")
    cases.foreach { case (fn, fnTxt) =>
      val want = batch(fnTxt)
      assert(want.nonEmpty, s"$fn: fixture must produce matches")
      val got = replay(fn)
      assert(got.keySet === want.keySet, s"$fn: match sets differ")
      want.foreach { case (ids, w) =>
        assert(math.abs(got(ids) - w) < 1e-9, s"$fn@$ids: ${got(ids)} vs $w")
      }
    }
  }

  test("multi-measure replay == batch: class refs + match_number (r8)") {
    // MATCH_NUMBER forces the held-release discipline: a completed match
    // may only take its number once the watermark closes its window and
    // no earlier-anchored partial is still open — the full-fixture law
    // that the streaming numbering equals the batch (ts_1, id_1)
    // row_number, not emission order.
    import org.apache.spark.sql.functions.col
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN purchase WITHIN '12' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, signup.value AS s_v,
                  purchase.value AS p_v, MATCH_NUMBER() AS mno""")
      .collect().map(r => Seq(r.getLong(1), r.getLong(2)) ->
        ((r.getLong(5), r.getDouble(6), r.getDouble(7), r.getLong(8))))
      .toMap
    assert(want.nonEmpty)
    assert(want.values.exists(_._4 > 1L),
      "some key must have several matches or the numbering law is vacuous")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"measure_multi_${System.nanoTime}"
    val measures = Seq(
      CepSql.SpanAgg("COUNT", "*", "c"),
      CepSql.ClassRef("signup", "value", 1, "s_v"),
      CepSql.ClassRef("purchase", "value", 2, "p_v"),
      CepSql.MatchNum("mno"))
    val q = ChainEngine.detect(
        stream.toDS().withWatermark("ts", "0 seconds"),
        Steps.of("signup", "purchase"), 12L * 3600 * 1000,
        measures = measures)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    // far-future sentinel: advances the watermark past every window so
    // the event-time timers release the held tail
    stream.addData(CepEvent(-1L,
      java.sql.Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "click", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map { r =>
        val v = r.getSeq[Double](5)
        r.getSeq[Long](1) -> ((v(0).toLong, v(1), v(2), v(3).toLong))
      }.toMap
    assert(got === want)
  }

  test("measures on non-value numeric columns: replay == batch (r8)") {
    // the r8 lift of the value-only restriction: span aggregates and
    // class refs over event_id stream with their own accumulator slots
    // (SUM(event_id) and MIN(value) must not share state) and agree with
    // the batch span-join rewrite on the full fixture
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN purchase WITHIN '12' HOURS)
         PARTITION BY user_id
         MEASURES SUM(event_id) AS se, MAX(event_id) AS mxe,
                  MIN(value) AS mnv, signup.event_id AS s_id""")
      .collect().map(r => Seq(r.getLong(1), r.getLong(2)) ->
        ((r.getLong(5), r.getLong(6), r.getDouble(7), r.getLong(8))))
      .toMap
    assert(want.nonEmpty, "fixture must produce matches")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"measure_cols_${System.nanoTime}"
    val measures = Seq(
      CepSql.SpanAgg("SUM", "event_id", "se"),
      CepSql.SpanAgg("MAX", "event_id", "mxe"),
      CepSql.SpanAgg("MIN", "value", "mnv"),
      CepSql.ClassRef("signup", "event_id", 1, "s_id"))
    val q = ChainEngine.detect(stream.toDS(), Steps.of("signup", "purchase"),
        12L * 3600 * 1000, measures = measures)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect().map { r =>
      val v = r.getSeq[Double](5)
      r.getSeq[Long](1) -> ((v(0).toLong, v(1).toLong, v(2), v(3).toLong))
    }.toMap
    assert(got === want)
  }

  test("overlap-head measures replay == batch span join (r12): span " +
      "aggregates per anchor, FIRST/LAST on the shared island") {
    import org.apache.spark.sql.functions.col
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (click THEN click|view{2,} WITHIN '48' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, SUM(value) AS sv, MIN(value) AS mnv,
                  FIRST(view.value) AS fv, view.value AS lv""")
      .collect().map { r =>
        // batch columns: user_id, id_1, len_2, ts_1, ts_2, c, sv, mnv,
        // fv, lv — (user_id, id_1) identifies a match (one rank-1
        // island per anchor); compare every measure
        (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(5), r.getDouble(6), r.getDouble(7),
            r.getDouble(8), r.getDouble(9)))
      }.toMap
    assert(want.nonEmpty, "fixture must produce overlap matches")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"measure_ovl_${System.nanoTime}"
    stream.toDF().createOrReplaceTempView(s"src_$name")
    val q = ContinuousQueries.submitPattern(spark,
      s"""SELECT * FROM src_$name
         MATCH PATTERN (click THEN click|view{2,} WITHIN '48' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, SUM(value) AS sv, MIN(value) AS mnv,
                  FIRST(view.value) AS fv, view.value AS lv""",
      name, lateness = "5 seconds")
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { ch =>
      stream.addData(ch.toSeq)
      q.processAllAvailable()
    }
    // end-of-data flush: batch closes the final island at end of input
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).filter(col("user_id") =!= -1L)
      .collect().map { r =>
        val sv = r.getSeq[Long](1)  // step_vals = [id_1, len_2]
        (r.getLong(0), sv(0)) ->
          ((sv(1), r.getLong(5), r.getDouble(6), r.getDouble(7),
            r.getDouble(8), r.getDouble(9)))
      }.toMap
    assert(got.keySet === want.keySet,
      s"match sets differ: ${got.keySet.diff(want.keySet).take(3)} " +
        s"extra, ${want.keySet.diff(got.keySet).take(3)} missing")
    want.foreach { case (k, w) =>
      val g = got(k)
      assert(g._1 == w._1 && g._2 == w._2, s"len/count @$k: $g vs $w")
      Seq(g._3 -> w._3, g._4 -> w._4, g._5 -> w._5, g._6 -> w._6)
        .foreach { case (gv, wv) =>
          assert(math.abs(gv - wv) < 1e-6, s"measure @$k: $g vs $w") }
    }
  }

  test("overlap chained-tail measures replay == batch span join (r13): " +
      "span extends to the final tail match, tail class refs capture") {
    import org.apache.spark.sql.functions.col
    Tables.load(spark, sf)
    val patternOf = (tbl: String) =>
      s"""SELECT * FROM $tbl
         MATCH PATTERN (click THEN click|view{2,} THEN purchase
                        WITHIN '48' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, SUM(value) AS sv,
                  FIRST(view.value) AS fv, purchase.value AS pv"""
    val want = CepSql.sql(spark, patternOf("events"))
      .collect().map { r =>
        // batch columns: user_id, id_1, len_2, id_3, ts_1, ts_2, ts_3,
        // c, sv, fv, pv — (user_id, id_1) identifies a match
        (r.getAs[Long]("user_id"), r.getAs[Long]("id_1")) ->
          ((r.getAs[Long]("len_2"), r.getAs[Long]("id_3"),
            r.getAs[Long]("c"), r.getAs[Double]("sv"),
            r.getAs[Double]("fv"), r.getAs[Double]("pv")))
      }.toMap
    assert(want.nonEmpty, "fixture must produce chained overlap matches")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"measure_ovl3_${System.nanoTime}"
    stream.toDF().createOrReplaceTempView(s"src_$name")
    val q = ContinuousQueries.submitPattern(spark, patternOf(s"src_$name"),
      name, lateness = "5 seconds")
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { ch =>
      stream.addData(ch.toSeq)
      q.processAllAvailable()
    }
    // end-of-data flush: batch closes the final island at end of input
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).filter(col("user_id") =!= -1L)
      .collect().map { r =>
        val sv = r.getSeq[Long](1)  // step_vals = [id_1, len_2, id_3]
        (r.getLong(0), sv(0)) ->
          ((sv(1), sv(2), r.getAs[Long]("c"), r.getAs[Double]("sv"),
            r.getAs[Double]("fv"), r.getAs[Double]("pv")))
      }.toMap
    assert(got.keySet === want.keySet,
      s"match sets differ: ${got.keySet.diff(want.keySet).take(3)} " +
        s"extra, ${want.keySet.diff(got.keySet).take(3)} missing")
    want.foreach { case (k, w) =>
      val g = got(k)
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3,
        s"len/id_3/count @$k: $g vs $w")
      Seq(g._4 -> w._4, g._5 -> w._5, g._6 -> w._6).foreach {
        case (gv, wv) =>
          assert(math.abs(gv - wv) < 1e-6, s"measure @$k: $g vs $w") }
    }
  }

  test("overlap quantified-tail measures replay == batch span join " +
      "(r13): the span ends at the tail island's run_end, FIRST/LAST " +
      "read the serving island's boundary rows") {
    import org.apache.spark.sql.functions.col
    Tables.load(spark, sf)
    val patternOf = (tbl: String) =>
      s"""SELECT * FROM $tbl
         MATCH PATTERN (click THEN click|view{2,} THEN purchase{1,}
                        WITHIN '48' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, SUM(value) AS sv,
                  FIRST(view.value) AS fv,
                  FIRST(purchase.value) AS fpv, purchase.value AS lpv"""
    val want = CepSql.sql(spark, patternOf("events"))
      .collect().map { r =>
        (r.getAs[Long]("user_id"), r.getAs[Long]("id_1")) ->
          ((r.getAs[Long]("len_2"), r.getAs[Long]("len_3"),
            r.getAs[Long]("c"), r.getAs[Double]("sv"),
            r.getAs[Double]("fv"), r.getAs[Double]("fpv"),
            r.getAs[Double]("lpv")))
      }.toMap
    assert(want.nonEmpty, "fixture must produce quantified-tail matches")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"measure_ovlq_${System.nanoTime}"
    stream.toDF().createOrReplaceTempView(s"src_$name")
    val q = ContinuousQueries.submitPattern(spark, patternOf(s"src_$name"),
      name, lateness = "5 seconds")
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { ch =>
      stream.addData(ch.toSeq)
      q.processAllAvailable()
    }
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).filter(col("user_id") =!= -1L)
      .collect().map { r =>
        val sv = r.getSeq[Long](1)  // step_vals = [id_1, len_2, len_3]
        (r.getLong(0), sv(0)) ->
          ((sv(1), sv(2), r.getAs[Long]("c"), r.getAs[Double]("sv"),
            r.getAs[Double]("fv"), r.getAs[Double]("fpv"),
            r.getAs[Double]("lpv")))
      }.toMap
    assert(got.keySet === want.keySet,
      s"match sets differ: ${got.keySet.diff(want.keySet).take(3)} " +
        s"extra, ${want.keySet.diff(got.keySet).take(3)} missing")
    want.foreach { case (k, w) =>
      val g = got(k)
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3,
        s"len_2/len_3/count @$k: $g vs $w")
      Seq(g._4 -> w._4, g._5 -> w._5, g._6 -> w._6, g._7 -> w._7)
        .foreach { case (gv, wv) =>
          assert(math.abs(gv - wv) < 1e-6, s"measure @$k: $g vs $w") }
    }
  }

  test("overlap MATCH_NUMBER replay == batch row_number (r13 s2): " +
      "held-release ordering survives an early anchor matching a " +
      "late island") {
    import org.apache.spark.sql.functions.col
    Tables.load(spark, sf)
    val patternOf = (tbl: String) =>
      s"""SELECT * FROM $tbl
         MATCH PATTERN (click THEN click|view{2,} WITHIN '48' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS c, MATCH_NUMBER() AS mn"""
    val want = CepSql.sql(spark, patternOf("events"))
      .collect().map { r =>
        (r.getAs[Long]("user_id"), r.getAs[Long]("id_1")) ->
          ((r.getAs[Long]("len_2"), r.getAs[Long]("c"),
            r.getAs[Long]("mn")))
      }.toMap
    assert(want.nonEmpty && want.values.exists(_._3 > 1L),
      "fixture must produce multi-match keys so numbering is exercised")
    implicit val sq = spark.sqlContext
    val stream1 = MemoryStream[CepEvent]
    val nameMn = s"measure_ovmn_${System.nanoTime}"
    stream1.toDF().createOrReplaceTempView(s"src_$nameMn")
    val qMn = ContinuousQueries.submitPattern(spark,
      patternOf(s"src_$nameMn"), nameMn, lateness = "5 seconds")
    val dataMn = eventsDs.orderBy("ts", "event_id").collect()
    dataMn.grouped(250).foreach { ch =>
      stream1.addData(ch.toSeq); qMn.processAllAvailable()
    }
    stream1.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz", 0.0))
    qMn.processAllAvailable()
    // one more batch: the flush's island closes release against an
    // empty blocker set on the NEXT invocation's release pass
    stream1.addData(CepEvent(-2L,
      Timestamp.valueOf("2031-01-02 00:00:00"), -2L, "zz", 0.0))
    qMn.processAllAvailable()
    qMn.stop()
    val gotMn = spark.table(nameMn).filter(col("user_id") >= 0L)
      .collect().map { r =>
        val sv = r.getSeq[Long](1)
        (r.getLong(0), sv(0)) ->
          ((sv(1), r.getAs[Long]("c"), r.getAs[Long]("mn")))
      }.toMap
    assert(gotMn === want,
      s"${gotMn.toSet.diff(want.toSet).take(3)} vs " +
        s"${want.toSet.diff(gotMn.toSet).take(3)}")
  }

  test("overlap MATCH_NUMBER holds to the watermark horizon (r14): an " +
      "admissible later-batch event with an EARLIER event time still " +
      "takes the smaller number") {
    // The r13 held-release freed a match as soon as no LIVE blocker had
    // a smaller (ts_1, id_1). That is wrong under out-of-order arrival:
    // batch 1 completes anchor A2 (ts 00:00:10) with no blockers left,
    // but the watermark is only 00:00:08 — batch 2 may still deliver an
    // admissible anchor A1 at 00:00:09 whose match must take number 1.
    // Pre-fix, A2 released as #1 in batch 1; post-fix both hold until
    // the watermark passes their anchor ts, then release in sort order.
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"measure_ovwm_${System.nanoTime}"
    val q = OverlapRunDetector.detectMeasures(stream.toDS(),
        _.event_type == "a", _.event_type == "b", 2, None,
        30 * 60 * 1000L,
        Seq(CepSql.SpanAgg("COUNT", "*", "c"), CepSql.MatchNum("mn")),
        watermarkDelay = Some("5 seconds"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    // batch 1: A2 anchors at :10, island :11-:12 closes at :13 -> match
    // complete; watermark after this batch = :13 - 5s = :08
    stream.addData(
      CepEvent(20, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "a", 0.0),
      CepEvent(21, Timestamp.valueOf("2026-01-01 00:00:11"), 7, "b", 0.0),
      CepEvent(22, Timestamp.valueOf("2026-01-01 00:00:12"), 7, "b", 0.0),
      CepEvent(23, Timestamp.valueOf("2026-01-01 00:00:13"), 7, "x", 0.0))
    q.processAllAvailable()
    assert(spark.table(name).count() == 0L,
      "A2's match must HOLD: the watermark (:08) has not passed its " +
        "anchor ts (:10), so an earlier admissible anchor can still " +
        "arrive")
    // batch 2: all events admissible (>= :08) but EARLIER than A2 —
    // A1 anchors at :09, island :09.2-:09.4 closes at :09.6
    stream.addData(
      CepEvent(10, Timestamp.valueOf("2026-01-01 00:00:09"), 7, "a", 0.0),
      CepEvent(11, Timestamp.valueOf("2026-01-01 00:00:09.2"), 7, "b", 0.0),
      CepEvent(12, Timestamp.valueOf("2026-01-01 00:00:09.4"), 7, "b", 0.0),
      CepEvent(13, Timestamp.valueOf("2026-01-01 00:00:09.6"), 7, "x", 0.0))
    q.processAllAvailable()
    // flush 1 advances the watermark past both anchors (visible to the
    // NEXT batch); flush 2 triggers key 7's event-time timeout so the
    // watermark-gated release fires without another key-7 event
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz", 0.0))
    q.processAllAvailable()
    stream.addData(CepEvent(-2L,
      Timestamp.valueOf("2031-01-02 00:00:00"), -2L, "zz", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .filter(org.apache.spark.sql.functions.col("user_id") >= 0L)
      .collect().map { r =>
        val sv = r.getSeq[Long](1)
        sv(0) -> (r.getSeq[Double](5)(0), r.getSeq[Double](5)(1))
      }.toMap
    // batch row_number law: A1 (ts :09) is match 1, A2 (ts :10) match 2;
    // spans cover anchor..run-end inclusive -> COUNT 3 each
    assert(got === Map(10L -> ((3.0, 1.0)), 20L -> ((3.0, 2.0))),
      s"got $got")
  }

  test("MEASURES x absent/reluctant overlap: streaming == batch on " +
      "randomized dense fixtures (r14 — frozen prefix-span " +
      "accumulators, watermark verdicts, m-th-event serving, " +
      "MATCH_NUMBER holds)") {
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val types = Array("b", "b", "c", "d", "x")
    // (head quantifier, pattern tail text, batch select cols)
    val forms = Seq(
      ("{2,}", "THEN NOT d", Seq("user_id", "id_1", "len_2", "c", "sv",
        "mn")),
      ("{2,}", "THEN c THEN NOT d",
        Seq("user_id", "id_1", "len_2", "c", "sv", "mn")),
      // reluctant heads (r14): truncated span ends at the m-th event
      ("{2,}?", "", Seq("user_id", "id_1", "len_2", "c", "sv", "mn")),
      ("{2,}?", "THEN c", Seq("user_id", "id_1", "len_2", "c", "sv",
        "mn")),
      ("{2,}?", "THEN NOT d", Seq("user_id", "id_1", "len_2", "c", "sv",
        "mn")))
    for (seed <- 1 to 3; ((headQ, tailTxt, bcols), fi)
        <- forms.zipWithIndex) {
      val rnd = new scala.util.Random(seed * 3000 + fi)
      val rows = (1 to 80).map { id =>
        CepEvent(id.toLong, new Timestamp(t0 + rnd.nextInt(500) * 1000L),
          (1 + rnd.nextInt(3)).toLong, types(rnd.nextInt(5)), id * 0.5)
      }.sortBy(e => (e.ts.getTime, e.event_id))
      val tag = s"ma${seed}_$fi"
      import spark.implicits._
      rows.toDF().createOrReplaceTempView(s"ev_ovma_$tag")
      val pat = (tbl: String) =>
        s"""SELECT * FROM $tbl
           MATCH PATTERN (b THEN b$headQ $tailTxt WITHIN '2' MINUTES)
           PARTITION BY user_id
           MEASURES COUNT(*) AS c, SUM(value) AS sv,
                    MATCH_NUMBER() AS mn"""
      val batch = CepSql.sql(spark, pat(s"ev_ovma_$tag"))
        .select(bcols.map(col): _*).collect().map { r =>
          (r.getLong(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3),
              math.floor(r.getDouble(4) * 1e6) / 1e6, r.getLong(5)))
        }.toMap
      val stream = MemoryStream[CepEvent]
      val name = s"ovma_$tag"
      stream.toDF().createOrReplaceTempView(s"src_ovma_$tag")
      val q = ContinuousQueries.submitPattern(spark,
        pat(s"src_ovma_$tag"), name, lateness = "5 seconds")
      try {
        rows.grouped(20).foreach { ch =>
          stream.addData(ch.toSeq); q.processAllAvailable()
        }
        // two flushes: first advances the watermark past every
        // deadline; second fires the timers + the MATCH_NUMBER
        // release pass under the advanced watermark
        stream.addData(Seq(CepEvent(-1L,
          Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz", 0.0)))
        q.processAllAvailable()
        stream.addData(Seq(CepEvent(-2L,
          Timestamp.valueOf("2031-01-02 00:00:00"), -2L, "zz", 0.0)))
        q.processAllAvailable()
        val got = spark.table(name).filter(col("user_id") >= 0L)
          .collect().map { r =>
            val sv = r.getSeq[Long](1)
            (r.getLong(0), sv(0)) ->
              ((sv(1), r.getAs[Long]("c"),
                math.floor(r.getAs[Double]("sv") * 1e6) / 1e6,
                r.getAs[Long]("mn")))
          }.toMap
        assert(got === batch,
          s"seed $seed form '$tailTxt': " +
            s"${got.toSet.diff(batch.toSet).take(3)} extra, " +
            s"${batch.toSet.diff(got.toSet).take(3)} missing " +
            s"(${got.size} streamed vs ${batch.size} batch)")
      } finally {
        if (q.isActive) q.stop()
        spark.catalog.dropTempView(s"ev_ovma_$tag")
      }
    }
  }

  test("MEASURES x absent PLAIN chains: streaming == batch on " +
      "randomized fixtures (r14 — parked prefixes, watermark " +
      "verdicts, 1-step and 2-step positive prefixes)") {
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val types = Array("a", "b", "d", "x", "x")
    val forms = Seq(
      // 1-step positive prefix: the anchor row IS the span
      ("a THEN NOT d", Seq("user_id", "id_1", "c", "sv", "mn")),
      ("a THEN b THEN NOT d",
        Seq("user_id", "id_1", "id_2", "c", "sv", "mn")))
    for (seed <- 1 to 3; ((patTxt, bcols), fi) <- forms.zipWithIndex) {
      val rnd = new scala.util.Random(seed * 4000 + fi)
      val rows = (1 to 80).map { id =>
        CepEvent(id.toLong, new Timestamp(t0 + rnd.nextInt(500) * 1000L),
          (1 + rnd.nextInt(3)).toLong, types(rnd.nextInt(5)), id * 0.25)
      }.sortBy(e => (e.ts.getTime, e.event_id))
      val tag = s"pa${seed}_$fi"
      import spark.implicits._
      rows.toDF().createOrReplaceTempView(s"ev_pabs_$tag")
      val pat = (tbl: String) =>
        s"""SELECT * FROM $tbl
           MATCH PATTERN ($patTxt WITHIN '2' MINUTES)
           PARTITION BY user_id
           MEASURES COUNT(*) AS c, SUM(value) AS sv,
                    MATCH_NUMBER() AS mn"""
      val batch = CepSql.sql(spark, pat(s"ev_pabs_$tag"))
        .select(bcols.map(col): _*).collect().map { r =>
          (r.getLong(0), r.getLong(1)) ->
            ((r.toSeq.drop(1).dropRight(3),
              r.getAs[Long]("c"),
              math.floor(r.getAs[Double]("sv") * 1e6) / 1e6,
              r.getAs[Long]("mn")))
        }.toMap
      val stream = MemoryStream[CepEvent]
      val name = s"pabs_$tag"
      stream.toDF().createOrReplaceTempView(s"src_pabs_$tag")
      val q = ContinuousQueries.submitPattern(spark,
        pat(s"src_pabs_$tag"), name, lateness = "5 seconds")
      try {
        rows.grouped(20).foreach { ch =>
          stream.addData(ch.toSeq); q.processAllAvailable()
        }
        stream.addData(Seq(CepEvent(-1L,
          Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "zz", 0.0)))
        q.processAllAvailable()
        stream.addData(Seq(CepEvent(-2L,
          Timestamp.valueOf("2031-01-02 00:00:00"), -2L, "zz", 0.0)))
        q.processAllAvailable()
        val got = spark.table(name).filter(col("user_id") >= 0L)
          .collect().map { r =>
            val ids = r.getSeq[Long](1)
            (r.getLong(0), ids.head) ->
              ((ids.map(x => x: Any),
                r.getAs[Long]("c"),
                math.floor(r.getAs[Double]("sv") * 1e6) / 1e6,
                r.getAs[Long]("mn")))
          }.toMap
      assert(got.keySet === batch.keySet,
          s"seed $seed '$patTxt': ${got.keySet.diff(batch.keySet).take(3)}" +
            s" extra, ${batch.keySet.diff(got.keySet).take(3)} missing")
        batch.foreach { case (k, (bids, bc, bsv, bmn)) =>
          val (gids, gc, gsv, gmn) = got(k)
          assert(gids.map(_.toString) == bids.map(_.toString) &&
            gc == bc && gsv == bsv && gmn == bmn,
            s"seed $seed '$patTxt' @$k: got ${got(k)} vs ${batch(k)}")
        }
      } finally {
        if (q.isActive) q.stop()
        spark.catalog.dropTempView(s"ev_pabs_$tag")
      }
    }
  }

  test("MEASURES x absent QUANTIFIED chains: streaming == batch on " +
      "randomized fixtures (r14 — parked prefixes never fold, " +
      "watermark verdicts, disjoint-class heads)") {
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val types = Array("a", "b", "b", "d", "x")
    val forms = Seq(
      // quantified head, 1-step prefix
      ("b{2,} THEN NOT d", Seq("user_id", "len_1", "c", "sv", "mn")),
      // plain anchor + quantified step + NOT (disjoint classes — the
      // overlap family has its own arm)
      ("a THEN b{2,} THEN NOT d",
        Seq("user_id", "id_1", "len_2", "c", "sv", "mn")),
      // RELUCTANT quantified prefix + NOT: the lazy completion parks
      // at the m-th run event; the verdict machinery is shared
      ("a THEN b{2,}? THEN NOT d",
        Seq("user_id", "id_1", "len_2", "c", "sv", "mn")))
    for (seed <- 1 to 3; ((patTxt, bcols), fi) <- forms.zipWithIndex) {
      val rnd = new scala.util.Random(seed * 5000 + fi)
      val rows = (1 to 80).map { id =>
        CepEvent(id.toLong, new Timestamp(t0 + rnd.nextInt(500) * 1000L),
          (1 + rnd.nextInt(3)).toLong, types(rnd.nextInt(5)), id * 0.25)
      }.sortBy(e => (e.ts.getTime, e.event_id))
      val tag = s"qa${seed}_$fi"
      import spark.implicits._
      rows.toDF().createOrReplaceTempView(s"ev_qabs_$tag")
      val pat = (tbl: String) =>
        s"""SELECT * FROM $tbl
           MATCH PATTERN ($patTxt WITHIN '2' MINUTES)
           PARTITION BY user_id
           MEASURES COUNT(*) AS c, SUM(value) AS sv,
                    MATCH_NUMBER() AS mn"""
      val batch = CepSql.sql(spark, pat(s"ev_qabs_$tag"))
        .select(bcols.map(col): _*).collect().map { r =>
          (r.getLong(0), r.toSeq.drop(1).dropRight(3).map(_.toString)) ->
            ((r.getAs[Long]("c"),
              math.floor(r.getAs[Double]("sv") * 1e6) / 1e6,
              r.getAs[Long]("mn")))
        }.toMap
      val stream = MemoryStream[CepEvent]
      val name = s"qabs_$tag"
      stream.toDF().createOrReplaceTempView(s"src_qabs_$tag")
      val q = ContinuousQueries.submitPattern(spark,
        pat(s"src_qabs_$tag"), name, lateness = "5 seconds")
      try {
        rows.grouped(20).foreach { ch =>
          stream.addData(ch.toSeq); q.processAllAvailable()
        }
        // per-KEY flush: closes each user's trailing open run (the
        // batch gaps-and-islands closes runs at end of input) and
        // advances the watermark; the second batch fires the timers
        stream.addData((1 to 3).map(u => CepEvent(-u.toLong,
          Timestamp.valueOf("2031-01-01 00:00:00"), u.toLong, "zz",
          0.0)))
        q.processAllAvailable()
        stream.addData(Seq(CepEvent(-9L,
          Timestamp.valueOf("2031-01-02 00:00:00"), 9L, "zz", 0.0)))
        q.processAllAvailable()
        val got = spark.table(name)
          .filter(col("step_vals").getItem(0) >= 0L)
          .collect().map { r =>
            (r.getLong(0),
              r.getSeq[Long](1).map(_.toString)) ->
              ((r.getAs[Long]("c"),
                math.floor(r.getAs[Double]("sv") * 1e6) / 1e6,
                r.getAs[Long]("mn")))
          }.toMap
        assert(got === batch,
          s"seed $seed '$patTxt': " +
            s"${got.toSet.diff(batch.toSet).take(3)} extra, " +
            s"${batch.toSet.diff(got.toSet).take(3)} missing " +
            s"(${got.size} streamed vs ${batch.size} batch)")
      } finally {
        if (q.isActive) q.stop()
        spark.catalog.dropTempView(s"ev_qabs_$tag")
      }
    }
  }

  test("overlap measures: anchor class refs via the direct API (r12)") {
    implicit val sq = spark.sqlContext
    // anchor class ref (step 1) — not expressible in the dialect for an
    // overlap pattern (the anchor name is ambiguous by definition), so
    // the API-level capture is pinned here: b1's value rides the slot
    val stream = MemoryStream[CepEvent]
    val name = s"measure_ovla_${System.nanoTime}"
    val q = OverlapRunDetector.detectMeasures(stream.toDS(),
        _.event_type == "b", _.event_type == "b", 2, None,
        30 * 60 * 1000L,
        Seq(CepSql.ClassRef("b", "value", 1, "av"),
          CepSql.SpanAgg("COUNT", "*", "c")))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    stream.addData(
      CepEvent(1, Timestamp.valueOf("2026-01-01 00:00:00"), 7, "b", 5.0),
      CepEvent(2, Timestamp.valueOf("2026-01-01 00:00:10"), 7, "x", 1.0),
      CepEvent(3, Timestamp.valueOf("2026-01-01 00:00:20"), 7, "b", 2.0),
      CepEvent(4, Timestamp.valueOf("2026-01-01 00:00:30"), 7, "b", 3.0),
      CepEvent(5, Timestamp.valueOf("2026-01-01 00:01:00"), 7, "y", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table(name).collect()
    assert(rows.length == 1)
    val vals = rows.head.getSeq[Double](5)
    // anchor b1 (value 5.0); span b1..b4 inclusive regardless of class
    // (x2 counts) => COUNT 4
    assert(vals(0) == 5.0 && vals(1) == 4.0, s"got $vals")
  }

  test("streaming rejects a measure column outside the converter schema " +
    "(r8)") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val e = intercept[IllegalArgumentException] {
      ChainEngine.detect(stream.toDS(), Steps.of("a", "b"), 1000L,
        measures = Seq(CepSql.SpanAgg("SUM", "props", "p")))
    }
    assert(e.getMessage.contains("numeric columns"))
  }
}
