package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.sources.Sources

/** Fault-tolerance parity (SURVEY §2.9 C8): the reference persisted window
  * state in Redis so a restarted engine resumed where it left off; in
  * graft the checkpoint (offsets + state store) provides that. This test
  * stops a running windowed aggregation mid-stream and restarts a NEW
  * query object from the same checkpoint: output must contain every input
  * exactly once — no loss, no reprocessing duplicates.
  */
class RecoverySpec extends SparkSpec {
  test("windowed agg resumes from checkpoint: exactly-once across restart") {
    val in = Files.createTempDirectory("graft_recov_in").toFile
    val outDir = Files.createTempDirectory("graft_recov_out").toFile
    val ckpt = Files.createTempDirectory("graft_recov_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema

    def startQuery() =
      Sources.fileStream(spark, in.getAbsolutePath, schema)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .writeStream
        .format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append")
        .start()

    // split by TIME (not id) so phase-2 data is newer than the restored
    // watermark; the cut is mid-hour so the straddling window needs state
    // merged across the restart
    val cut = "2024-01-01 05:30:00"
    val (h1, h2) = (events.filter(col("ts") < lit(cut)),
      events.filter(col("ts") >= lit(cut)))

    // phase 1: first half, then stop (simulated failure/redeploy)
    h1.write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // phase 2: second half arrives while "down"; restart from checkpoint
    h2.write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    // compare against batch on everything the watermark finalized;
    // append + watermark 0s means all windows before the max ts of the
    // last batch are emitted. The final (partial) window may be missing —
    // exclude the batch rows at/after the last finalized window.
    val got = spark.read.parquet(outDir.getAbsolutePath)
    val batch = events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
    val gotSet = got.collect().map(_.toSeq).toSet
    val batchSet = batch.collect().map(_.toSeq).toSet
    // no duplicates (exactly-once file sink)
    assert(got.count() == got.distinct().count(), "sink must not duplicate")
    // everything emitted matches batch truth exactly
    assert(gotSet.subsetOf(batchSet),
      s"emitted rows must match batch; extras: ${gotSet -- batchSet}")
    // THE recovery assertion: the 05:00 window spans the restart — its
    // counts require the phase-1 state restored from the checkpoint to be
    // merged with phase-2 rows. It must equal the batch truth exactly.
    val straddleWs = java.sql.Timestamp.valueOf("2024-01-01 05:00:00")
    val gotStraddle = got.filter(col("ws") === lit(straddleWs))
      .collect().map(_.toSeq).toSet
    val batchStraddle = batch.filter(col("ws") === lit(straddleWs))
      .collect().map(_.toSeq).toSet
    assert(gotStraddle == batchStraddle && gotStraddle.nonEmpty,
      s"straddle window must merge state across restart: " +
        s"got $gotStraddle want $batchStraddle")
    // and phase-2 windows were processed after the restart
    assert(gotSet.exists(_.head.asInstanceOf[java.sql.Timestamp]
      .after(straddleWs)), "post-restart windows must be emitted")
  }

  test("chain detector resumes from checkpoint: open partials survive (r6)") {
    // the N-step CEP state machine (ChainEngine, flatMapGroupsWithState)
    // restarted mid-chain: partial matches opened in phase 1 must
    // complete from phase-2 events via the restored state store —
    // the cut is chosen so two real chains straddle it
    import spark.implicits._
    val in = Files.createTempDirectory("graft_chain_in").toFile
    val outDir = Files.createTempDirectory("graft_chain_out").toFile
    val ckpt = Files.createTempDirectory("graft_chain_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      ChainEngine.detect(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          Steps.of("signup", "click", "purchase"), 24L * 3600 * 1000)
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-12 18:00:00" // chains anchored 407/415 straddle it
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .select("user_id", "step_ids").as[(Long, Seq[Long])].collect()
    assert(got.length == got.toSet.size, "no duplicate matches")
    // truth: the oracle-gated chain key on the same data
    val want = graft.SparkEntry.queries("q_pattern_chain")(spark, sf)
      .select(col("user_id"), array(col("id_1"), col("id_2"), col("id_3")))
      .as[(Long, Seq[Long])].collect().toSet
    assert(got.toSet == want && want.nonEmpty)
    // THE recovery assertion: chains anchored before the cut that
    // completed after it exist in the output — they could only come from
    // state restored across the restart
    assert(got.map(_._2.head).toSet.intersect(Set(407L, 415L)) ===
      Set(407L, 415L),
      "straddling chains must complete from restored partial state")
  }

  test("measured detector resumes from checkpoint: accumulators survive (r7)") {
    // measured partials carry span ACCUMULATORS (sum/cnt/min/max),
    // not just matched ids — a restart mid-span must restore them or the
    // measure under-counts the phase-1 events. The cut splits user 12's
    // two matches (anchors 981/984 → completion 992, spans holding 6 and
    // 4 events) so their counts can only be right via restored state.
    import spark.implicits._
    val in = Files.createTempDirectory("graft_meas_in").toFile
    val outDir = Files.createTempDirectory("graft_meas_out").toFile
    val ckpt = Files.createTempDirectory("graft_meas_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      ChainEngine.detect(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          Steps.of("signup", "purchase"), 12L * 3600 * 1000,
          measures = Seq(CepSql.SpanAgg("COUNT", "*", "measure")))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-30 14:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .select(col("user_id"), col("step_ids"), col("vals")(0))
      .as[(Long, Seq[Long], Double)].collect()
    assert(got.length == got.toSet.size, "no duplicate matches")
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN purchase WITHIN '12' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*)""")
      .select(col("user_id"), array(col("id_1"), col("id_2")),
        col("measure").cast("double"))
      .as[(Long, Seq[Long], Double)].collect().toSet
    assert(got.toSet === want && want.nonEmpty)
    // THE recovery assertion: the straddling matches' span counts are
    // only correct if the phase-1 accumulators were restored
    val straddlers = got.filter(g => Set(981L, 984L)(g._2.head)).toSet
    assert(straddlers.map(g => (g._2.head, g._3)) ===
      Set((981L, 6.0), (984L, 4.0)),
      "straddling spans must keep their pre-restart event counts")
  }

  test("optional-absence detector resumes from checkpoint: pending " +
    "verdicts and cancels survive (r8)") {
    // ChainEngine's optional-absence state holds three things a
    // restart must restore: open prefix partials (with their None
    // skip slots), COMPLETED prefixes awaiting the watermark verdict,
    // and the late-first cancel memory. Cut mid-fixture, finish after a
    // restart, close every window with a far-future sentinel, and the
    // output must equal the batch composite-pivot rewrite exactly.
    import java.sql.Timestamp
    import spark.implicits._
    def us(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def optLong(v: Any): Option[Long] = Option(v).map(_.asInstanceOf[Long])
    val in = Files.createTempDirectory("graft_oabs_in").toFile
    val outDir = Files.createTempDirectory("graft_oabs_out").toFile
    val ckpt = Files.createTempDirectory("graft_oabs_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      ChainEngine.detect(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .withWatermark("ts", "0 seconds").as[CepEvent],
          Steps.of("signup", "click", "view"), 12L * 3600 * 1000,
          Seq(false, true, false), absent = Some(_.event_type == "purchase"))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-12 18:00:00"
    val cutUs = us(Timestamp.valueOf(cut))
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // far-future prefix-class sentinel closes every pending window
    Seq(CepEvent(-1L, Timestamp.valueOf("2031-01-01 00:00:00"), -1L,
        "signup", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .filter(col("user_id") =!= -1L).collect()
      .map { r =>
        val ids = r.getSeq[Any](1).map(optLong)
        (r.getLong(0), ids.head.get, ids(1), ids(2).get,
          us(r.getTimestamp(3)))
      }
    assert(got.length == got.toSet.size, "no duplicate absences")
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click? THEN view THEN NOT purchase
         WITHIN '12' HOURS)
         PARTITION BY user_id""")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), optLong(r.get(2)),
        r.getLong(3), us(r.getTimestamp(4)))).toSet
    assert(got.toSet === want && want.nonEmpty)
    // THE recovery assertions: an absence whose window straddles the cut
    // can only emit correctly if its pending verdict crossed the restart,
    // and both arms (skip = None slot, take) must appear
    assert(got.exists(g => g._5 < cutUs && g._5 + 12L * 3600 * 1000000L
        >= cutUs),
      "a pending window straddling the restart must still emit")
    assert(got.exists(_._3.isEmpty) && got.exists(_._3.nonEmpty),
      "both the skip and take arms must survive the restart")
  }

  test("measured quantified detector resumes from checkpoint: open runs " +
    "and span accumulators survive (r8)") {
    // RunChainDetector.detectMeasures state carries open runs AND span
    // accumulator vectors; a restart mid-run must restore both or the
    // resumed run under-counts phase-1 events. Output must equal the
    // batch quantified-measures rewrite after a flush closes final runs.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_qmeas_in").toFile
    val outDir = Files.createTempDirectory("graft_qmeas_out").toFile
    val ckpt = Files.createTempDirectory("graft_qmeas_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      RunChainDetector.detectMeasures(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          Seq(((e: CepEvent) => e.event_type == "click", Some(2)),
            ((e: CepEvent) => e.event_type == "purchase", None)),
          2L * 3600 * 1000, Seq(None, None),
          Seq(CepSql.SpanAgg("SUM", "value", "sv"),
            CepSql.SpanAgg("COUNT", "*", "cn"),
            // ts boundary slot (r9): micros must survive the restart too
            CepSql.BoundRef("LAST", "click", "ts", 1, "t1")))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-12 18:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // per-key flush closes each key's final open run
    val users = events.select("user_id").distinct()
      .collect().map(_.getLong(0))
    users.zipWithIndex.map { case (u, i) =>
      CepEvent(-1000L - i, Timestamp.valueOf("2031-01-01 00:00:00"), u,
        "zz_flush", 0.0)
    }.toSeq.toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map { r =>
        val v = r.getSeq[Double](5)
        (r.getLong(0), r.getSeq[Long](1).toList) ->
          ((v(0), v(1).toLong, v(2).toLong))
      }.toMap
    Tables.load(spark, sf)
    val batchRows = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (click{2,} THEN purchase WITHIN '2' HOURS)
         PARTITION BY user_id
         MEASURES SUM(value) AS sv, COUNT(*) AS cn,
           LAST(click.ts) AS t1""").collect()
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val want = batchRows.map { r =>
      (r.getLong(0), List(r.getLong(1), r.getLong(2))) ->
        ((r.getDouble(5), r.getLong(6), usOf(r.getTimestamp(7))))
    }.toMap
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet, "match sets differ across restart")
    want.foreach { case (k, (sv, cn, t1)) =>
      assert(got(k)._2 === cn, s"count@$k")
      assert(math.abs(got(k)._1 - sv) < 1e-6, s"sum@$k")
      assert(got(k)._3 === t1, s"ts boundary micros@$k")
    }
  }

  test("lazy run detector resumes from checkpoint: mid-run truncation " +
      "state survives (r8)") {
    // RunChainDetector's lazy mode completes a reluctant run at its
    // m-th event and holds a consumed-island suppressor afterwards; a
    // restart mid-island must restore both the open-run counter and the
    // suppressor, or the resumed stream either drops the completion or
    // double-matches inside one island. Output must equal the batch
    // lazy rewrite.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_lazy_in").toFile
    val outDir = Files.createTempDirectory("graft_lazy_out").toFile
    val ckpt = Files.createTempDirectory("graft_lazy_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      RunChainDetector.detectWhere(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          Seq(((e: CepEvent) => e.event_type == "signup", None),
            ((e: CepEvent) => e.event_type == "click", Some(2)),
            ((e: CepEvent) => e.event_type == "purchase", None)),
          48L * 3600 * 1000, Seq(None, None, None),
          Seq(false, true, false))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-12 18:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    def us(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map { r =>
        (r.getLong(0), r.getSeq[Long](1).toList,
          r.getSeq[Timestamp](2).map(us).toList)
      }.toSet
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click{2,}? THEN purchase WITHIN '48' HOURS)
         PARTITION BY user_id""").collect()
      .map(r => (r.getLong(0),
        List(r.getLong(1), r.getLong(2), r.getLong(3)),
        List(us(r.getTimestamp(4)), us(r.getTimestamp(5)),
          us(r.getTimestamp(6))))).toSet
    assert(want.nonEmpty)
    assert(got === want, "lazy replay across restart must equal batch")
  }

  test("TWAP forward-carry state resumes from checkpoint: open-day " +
      "accumulators survive (r9)") {
    // TimeSeriesOps.twapDaily keeps (last ts, last value, running
    // value·duration sums) per open (user, day); a restart mid-day must
    // restore all three or the resumed day's weighted average is wrong.
    // Output after a far-future flush must equal the oracle-gated
    // q_twap batch key exactly.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_twap_in").toFile
    val outDir = Files.createTempDirectory("graft_twap_out").toFile
    val ckpt = Files.createTempDirectory("graft_twap_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      TimeSeriesOps.twapDaily(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent])
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    // cut INSIDE a day so open-day accumulators straddle the restart
    val cut = "2024-01-12 11:30:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val users = events.select("user_id").distinct()
      .collect().map(_.getLong(0))
    users.zipWithIndex.map { case (u, i) =>
      CepEvent(-5000L - i, Timestamp.valueOf("2031-01-01 00:00:00"), u,
        "zz_flush", 0.0)
    }.toSeq.toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val want = graft.SparkEntry.queries("q_twap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet, "day sets differ across restart")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} TWAPs diverge across restart, e.g. ${diffs.take(3)}")
  }

  test("CUSUM twin resumes from checkpoint: drift prefix sums survive " +
      "(r12)") {
    // TimeSeriesOps.cusumMarks keeps (P, min P) per side per key; a
    // restart mid-stream must restore all four longs or every
    // post-restart score is shifted. Output across the restart must
    // equal the oracle-gated q_cusum batch key row for row.
    import spark.implicits._
    val in = Files.createTempDirectory("graft_cusum_in").toFile
    val outDir = Files.createTempDirectory("graft_cusum_out").toFile
    val ckpt = Files.createTempDirectory("graft_cusum_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    val mu = events.groupBy("user_id")
      .agg(avg("value").as("m")).collect()
      .map(r => r.getLong(0) ->
        math.floor(r.getDouble(1) * 1e4 + 0.5) / 1e4).toMap
    def startQuery() =
      TimeSeriesOps.cusumMarks(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent], mu)
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-15 00:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val want = graft.SparkEntry.queries("q_cusum")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got.keySet === want.keySet, "mark sets differ across restart")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} CUSUM marks diverge across restart, " +
        s"e.g. ${diffs.take(3)}")
    // non-vacuous: some keys must actually STRADDLE the restart (events
    // on both sides of the cut), or the checkpoint-restore path under
    // test never carries live state across (ADVICE r12: the old check
    // only proved SOME user had pre-cut events)
    val straddled = events.filter(col("ts") < lit(cut))
      .select("user_id").distinct()
      .join(events.filter(col("ts") >= lit(cut))
        .select("user_id").distinct(), "user_id")
      .count()
    assert(straddled > 0,
      "no user has events on both sides of the restart cut — " +
        "the recovery assertion would be vacuous")
  }

  test("PSI twin resumes from checkpoint: bucket cells survive (r14)") {
    // TimeSeriesOps.psiMarks keeps the 10x2 count cells per type; a
    // restart mid-stream must restore them or every post-restart panel
    // row is computed from second-half counts only. Update mode -> the
    // sink is foreachBatch-append (parquet rejects update); the NEWEST
    // row per type (max n_first + n_second, monotone) after the second
    // half must equal the oracle-gated q_psi batch key exactly.
    import spark.implicits._
    val in = Files.createTempDirectory("graft_psi_in").toFile
    val outDir = Files.createTempDirectory("graft_psi_out").toFile
    val ckpt = Files.createTempDirectory("graft_psi_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      TimeSeriesOps.psiMarks(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent])
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[
            TimeSeriesOps.PsiRow], _: Long) =>
          df.write.mode("append").parquet(outDir.getAbsolutePath)
        }
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("update").start()
    val cut = "2024-01-16 00:00:00" // the PSI side boundary itself:
    // post-restart arrivals land in c1 cells while c0 must come back
    // from the checkpoint — a lost c0 makes every p ratio collapse
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .groupBy(_._1).map { case (ty, rows) =>
        val last = rows.maxBy(r => r._2 + r._3)
        ty -> ((last._2, last._3, last._4))
      }
    val want = graft.SparkEntry.queries("q_psi")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet === want.keySet, "type sets differ across restart")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} PSI rows diverge across restart, " +
        s"e.g. ${diffs.take(3)}")
    // non-vacuous: some types must straddle the restart cut
    val straddled = events.filter(col("ts") < lit(cut))
      .select("event_type").distinct()
      .join(events.filter(col("ts") >= lit(cut))
        .select("event_type").distinct(), "event_type")
      .count()
    assert(straddled > 0,
      "no type has events on both sides of the restart cut — " +
        "the recovery assertion would be vacuous")
  }

  test("numbered quantified detector resumes from checkpoint: held " +
      "matches and the match counter survive (r9)") {
    // MATCH_NUMBER state = held completed matches + the per-key
    // counter; a restart mid-hold must restore both or the resumed
    // stream renumbers from 1 (duplicate numbers) or drops held
    // matches. Output after the flush must equal the batch numbering.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_qmn_in").toFile
    val outDir = Files.createTempDirectory("graft_qmn_out").toFile
    val ckpt = Files.createTempDirectory("graft_qmn_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      RunChainDetector.detectMeasures(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .withWatermark("ts", "0 seconds").as[CepEvent],
          Seq(((e: CepEvent) => e.event_type == "click", Some(2)),
            ((e: CepEvent) => e.event_type == "purchase", None)),
          12L * 3600 * 1000, Seq(None, None),
          Seq(CepSql.SpanAgg("COUNT", "*", "span_n"),
            CepSql.MatchNum("mno")))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-08 00:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val users = events.select("user_id").distinct()
      .collect().map(_.getLong(0))
    users.zipWithIndex.map { case (u, i) =>
      CepEvent(-8000L - i, Timestamp.valueOf("2031-01-01 00:00:00"), u,
        "zz_flush", 0.0)
    }.toSeq.toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    // one more micro-batch so the advanced watermark fires timers
    Seq(CepEvent(-9999L, Timestamp.valueOf("2031-01-02 00:00:00"), -1L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q4 = startQuery(); q4.processAllAvailable(); q4.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map { r =>
        val v = r.getSeq[Double](5)
        (r.getLong(0), r.getSeq[Long](1).toList) ->
          ((v(0).toLong, v(1).toLong))
      }.toMap
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (click{2,} THEN purchase WITHIN '12' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS span_n, MATCH_NUMBER() AS mno""").collect()
      .map(r => (r.getLong(0), List(r.getLong(1), r.getLong(2))) ->
        ((r.getLong(5), r.getLong(6)))).toMap
    assert(want.nonEmpty)
    assert(want.values.exists(_._2 > 1L), "numbering must be non-vacuous")
    assert(got.keySet === want.keySet, "match sets differ across restart")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} (span, number) diverge, e.g. ${diffs.take(3)}")
  }

  test("absent-measures overlap pendings resume from checkpoint: " +
      "frozen prefix-span accumulators survive to the verdict (r14)") {
    // MEASURES x absent overlap: a done-stage pending carries FROZEN
    // accumulators (anchor .. run_end) until the watermark verdicts
    // no-follow. A restart mid-wait must restore them or the verdict
    // emits second-half-only (or zero) spans. The fixture replays the
    // events table against `click THEN click{2,} THEN NOT purchase`
    // (overlap head: every anchor is also run class) and compares the
    // post-restart verdicts to the batch rewrite row for row.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ovab_in").toFile
    val outDir = Files.createTempDirectory("graft_ovab_out").toFile
    val ckpt = Files.createTempDirectory("graft_ovab_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      OverlapRunDetector.detectMeasures(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          (e: CepEvent) => e.event_type == "click",
          (e: CepEvent) => e.event_type == "click",
          2, None, 12L * 3600 * 1000,
          Seq(CepSql.SpanAgg("COUNT", "*", "span_n"),
            CepSql.SpanAgg("SUM", "value", "sv")),
          Some("0 seconds"),
          tail = Seq((e: CepEvent) => e.event_type == "purchase"),
          absent = true)
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-08 00:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // flush: advance the watermark far past every deadline, then one
    // more batch so the timers fire under it
    Seq(CepEvent(-1L, Timestamp.valueOf("2031-01-01 00:00:00"), -1L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    Seq(CepEvent(-2L, Timestamp.valueOf("2031-01-02 00:00:00"), -2L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q4 = startQuery(); q4.processAllAvailable(); q4.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .filter(col("user_id") >= 0L).collect()
      .map { r =>
        val v = r.getSeq[Double](5)
        (r.getLong(0), r.getSeq[Long](1).head) ->
          ((r.getSeq[Long](1)(1), v(0).toLong,
            math.floor(v(1) * 1e6) / 1e6))
      }.toMap
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (click THEN click{2,} THEN NOT purchase
         WITHIN '12' HOURS)
         PARTITION BY user_id
         MEASURES COUNT(*) AS span_n, SUM(value) AS sv""").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("id_1")) ->
        ((r.getAs[Long]("len_2"), r.getAs[Long]("span_n"),
          math.floor(r.getAs[Double]("sv") * 1e6) / 1e6))).toMap
    assert(want.nonEmpty, "fixture must produce absent-form matches")
    assert(got.keySet === want.keySet, "match sets differ across restart")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} (len, span, sum) diverge, e.g. ${diffs.take(3)}")
  }

  test("quantified-chain absent-measures waiting list resumes from " +
      "checkpoint (r14): parked prefixes and their frozen spans " +
      "survive to the verdict") {
    // The r14 `waiting` field on RunChainMState: prefixes completed
    // before the restart must still verdict (with their frozen span
    // accumulators) after it. Exactly q_measure_absent's pattern, so
    // the oracle-gated batch key is the want-side.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_qam_in").toFile
    val outDir = Files.createTempDirectory("graft_qam_out").toFile
    val ckpt = Files.createTempDirectory("graft_qam_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      RunChainDetector.detectMeasures(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .withWatermark("ts", "0 seconds").as[CepEvent],
          Seq(((e: CepEvent) => e.event_type == "signup", None),
            ((e: CepEvent) => e.event_type == "click", Some(2))),
          24L * 3600 * 1000, Seq(None, None),
          Seq(CepSql.SpanAgg("COUNT", "*", "span_n"),
            CepSql.MatchNum("mno")),
          absentPred =
            Some((e: CepEvent) => e.event_type == "purchase"))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-08 00:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // per-key flush closes trailing click runs; second batch fires
    // the verdict timers under the advanced watermark
    val users = events.select("user_id").distinct()
      .collect().map(_.getLong(0))
    users.zipWithIndex.map { case (u, i) =>
      CepEvent(-7000L - i, Timestamp.valueOf("2031-01-01 00:00:00"), u,
        "zz_flush", 0.0)
    }.toSeq.toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    Seq(CepEvent(-9999L, Timestamp.valueOf("2031-01-02 00:00:00"), -1L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q4 = startQuery(); q4.processAllAvailable(); q4.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map { r =>
        val v = r.getSeq[Double](5)
        (r.getLong(0), r.getSeq[Long](1).toList) ->
          ((v(0).toLong, v(1).toLong))
      }.toMap
    Tables.load(spark, sf)
    val want = graft.SparkEntry.queries("q_measure_absent")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        List(r.getAs[Long]("id_1"), r.getAs[Long]("len_2"))) ->
        ((r.getAs[Long]("span_n"), r.getAs[Long]("mno")))).toMap
    assert(want.nonEmpty, "fixture must produce absent-form matches")
    assert(got.keySet === want.keySet, "match sets differ across restart")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} (span, number) diverge, e.g. ${diffs.take(3)}")
  }

  test("LOCF gap-fill carry resumes from checkpoint: open-hour " +
      "accumulator and carry value survive (r9)") {
    // TimeSeriesOps.locfHourly keeps (open hour, sum, cnt) per type; a
    // restart mid-hour must restore the accumulator or the resumed
    // hour's average (and every gap row carried from it) is wrong.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_locf_in").toFile
    val outDir = Files.createTempDirectory("graft_locf_out").toFile
    val ckpt = Files.createTempDirectory("graft_locf_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      TimeSeriesOps.locfHourly(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent])
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-12 11:30:00" // inside an hour
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // flush at the batch spine's hi + 1h (closes every type at the
    // same horizon the batch key fills to)
    val batchRows = graft.SparkEntry.queries("q_gap_fill")(spark, sf)
      .collect()
    val hiMs = batchRows.map(_.getTimestamp(1).getTime).max
    events.select("event_type").distinct().collect()
      .map(_.getString(0)).zipWithIndex.map { case (ty, i) =>
        CepEvent(-6000L - i, new Timestamp(hiMs + 3600L * 1000), 0L,
          ty, 0.0)
      }.toSeq.toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    val firstObs = batchRows.filter(_.getBoolean(3))
      .groupBy(_.getString(0))
      .map { case (ty, rs) => ty -> rs.map(_.getTimestamp(1).getTime).min }
    val want = batchRows
      .filter(r => firstObs.get(r.getString(0))
        .exists(r.getTimestamp(1).getTime >= _))
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(want.nonEmpty)
    assert(got.keySet === want.keySet, "hour domains differ")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} cells diverge across restart, e.g. ${diffs.take(3)}")
  }

  test("lazy-run detector resumes from checkpoint: pending truncated " +
      "anchors survive (r10)") {
    // LazyRunDetector state = the open-run counter + pending anchors
    // (truncated at the m-th event) awaiting follow/no-follow; restart
    // mid-window must restore both or resumed streams drop matches /
    // emit false absences. Output after the flush == the batch
    // reluctant rewrite.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_lz_in").toFile
    val outDir = Files.createTempDirectory("graft_lz_out").toFile
    val ckpt = Files.createTempDirectory("graft_lz_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      LazyRunDetector.detectWhere(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          (e: CepEvent) => e.event_type == "click", 1,
          (e: CepEvent) => e.event_type == "purchase",
          2L * 3600 * 1000, Some("0 seconds"))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    // derive the cut from an ACTUAL straddler: the batch match whose
    // anchor-to-completion gap is widest, cut at its midpoint — the
    // pending anchor is then provably open across the restart
    Tables.load(spark, sf)
    val wantRows = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (click{1,}? THEN purchase WITHIN '2' HOURS)
         PARTITION BY user_id""").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(4)))
    val widest = wantRows.maxBy(w => w._3.getTime - w._2.getTime)
    assert(widest._3.getTime - widest._2.getTime > 2000,
      s"fixture needs a completion gap to cut through: $widest")
    val cutTs = new Timestamp((widest._2.getTime + widest._3.getTime) / 2)
    events.filter(col("ts") < lit(cutTs))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cutTs))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    Seq(CepEvent(-9L, Timestamp.valueOf("2031-01-01 00:00:00"), -1L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    Seq(CepEvent(-10L, Timestamp.valueOf("2031-01-02 00:00:00"), -1L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q4 = startQuery(); q4.processAllAvailable(); q4.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .filter(col("next_follow").isNotNull)
      .select("user_id", "run_start", "next_follow").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2)))
      .toSet
    val want = wantRows.toSet
    assert(got === want && want.nonEmpty,
      s"${got.diff(want).size} extra, ${want.diff(got).size} missing " +
        "across restart")
    // non-vacuous by construction: the widest match anchors before the
    // cut and completes after it — restorable only from checkpoint
    assert(want.exists(w => w._2.before(cutTs) && !w._3.before(cutTs)),
      "cut must straddle at least one pending anchor")
  }

  test("overlap-run detector resumes from checkpoint: the shared " +
      "island and live anchors survive (r11)") {
    // OverlapRunDetector state = the per-key OPEN island (shared by
    // every anchor) + the live anchors. A restart mid-island must
    // restore both: a dropped island re-opens at the wrong start and a
    // false strictly-after match appears; dropped anchors lose the
    // matches whose island closes after the cut. Output after per-key
    // flushes must equal the batch chain rewrite exactly.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ovr_in").toFile
    val outDir = Files.createTempDirectory("graft_ovr_out").toFile
    val ckpt = Files.createTempDirectory("graft_ovr_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      OverlapRunDetector.detectWhere(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          _.event_type == "click",
          e => e.event_type == "click" || e.event_type == "view",
          2, None, 48L * 3600 * 1000, Some("0 seconds"))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-08 00:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // close every key's final island (batch closes them at end-of-data)
    val users = events.select("user_id").distinct()
      .collect().map(_.getLong(0))
    users.zipWithIndex.map { case (u, i) => CepEvent(-9100L - i,
        Timestamp.valueOf("2031-01-01 00:00:00"), u, "zz_flush", 0.0) }
      .toSeq.toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .select("user_id", "id_1", "len_2", "ts_1", "ts_2").collect()
      .map(_.toSeq).toSet
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (click THEN click|view{2,} WITHIN '48' HOURS)
         PARTITION BY user_id""")
      .select("user_id", "id_1", "len_2", "ts_1", "ts_2").collect()
      .map(_.toSeq).toSet
    assert(got === want && want.nonEmpty,
      s"${got.diff(want).size} extra, ${want.diff(got).size} missing " +
        "across restart")
    // non-vacuous: at least one match anchors before the cut and its
    // island closes at/after it — only restored state can emit it
    val cutTs = Timestamp.valueOf(cut)
    assert(want.exists(w =>
        w(3).asInstanceOf[Timestamp].before(cutTs) &&
        !w(4).asInstanceOf[Timestamp].before(cutTs)),
      "cut must straddle at least one anchored match")
  }

  test("overlap absence pendings survive a restart: no-c verdicts " +
      "emitted by the resumed query equal batch (r11)") {
    // The r11 step-3 state: an anchor whose rank-1 island has CLOSED
    // waits as a PENDING for the watermark to pass its deadline. Cut
    // the stream between the island close and the deadline — a dropped
    // pending silently loses its absence verdict; only restored state
    // can emit it.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_ova_in").toFile
    val outDir = Files.createTempDirectory("graft_ova_out").toFile
    val ckpt = Files.createTempDirectory("graft_ova_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      OverlapRunDetector.detectAbsentWhere(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          _.event_type == "click",
          e => e.event_type == "click" || e.event_type == "view",
          2, None, _.event_type == "purchase",
          48L * 3600 * 1000, "0 seconds")
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-08 00:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val users = events.select("user_id").distinct()
      .collect().map(_.getLong(0))
    users.zipWithIndex.map { case (u, i) => CepEvent(-9200L - i,
        Timestamp.valueOf("2031-01-01 00:00:00"), u, "zz_flush", 0.0) }
      .toSeq.toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .select("user_id", "id_1", "len_2", "ts_1", "ts_2").collect()
      .map(_.toSeq).toSet
    Tables.load(spark, sf)
    val want = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (click THEN click|view{2,} THEN NOT purchase
         WITHIN '48' HOURS)
         PARTITION BY user_id""")
      .select("user_id", "id_1", "len_2", "ts_1", "ts_2").collect()
      .map(_.toSeq).toSet
    assert(got === want && want.nonEmpty,
      s"${got.diff(want).size} extra, ${want.diff(got).size} missing " +
        "across restart")
  }

  test("overlap chained-tail pendings survive a restart: mid-tail state " +
      "(matched C, awaiting D) resumes; absence variant too (r12)") {
    // The r12 pending state CHAINS through the tail: cut the stream
    // after a pending has matched its step-3 C but before step-4 D —
    // a dropped pending silently loses the whole match; only restored
    // state can finish it. Synthetic fixture so the cut provably
    // straddles the mid-tail state (the sf0.001 table has no such
    // straddle for 4-step patterns). Both arms checked: completion
    // (D arrives post-cut) and absence (no D; verdict at the flush).
    import java.sql.Timestamp
    import spark.implicits._
    def ev(id: Long, t: String, u: Long, ty: String) =
      CepEvent(id, Timestamp.valueOf(t), u, ty, 0.0)
    // u=1 completes (d post-cut); u=2 never sees a d
    val pre = Seq(
      ev(1, "2024-01-01 00:00:00", 1, "b"),
      ev(2, "2024-01-01 00:30:00", 1, "x"),
      ev(3, "2024-01-01 01:00:00", 1, "v"),
      ev(4, "2024-01-01 01:30:00", 1, "v"),
      ev(5, "2024-01-01 02:00:00", 1, "c"),
      ev(11, "2024-01-01 00:00:00", 2, "b"),
      ev(12, "2024-01-01 00:30:00", 2, "x"),
      ev(13, "2024-01-01 01:00:00", 2, "v"),
      ev(14, "2024-01-01 01:30:00", 2, "v"),
      ev(15, "2024-01-01 02:00:00", 2, "c"))
    val post = Seq(ev(6, "2024-01-02 00:00:00", 1, "d"))
    val flush = Seq(ev(-1, "2031-01-01 00:00:00", 1, "zz"),
      ev(-2, "2031-01-01 00:00:00", 2, "zz"))
    val all = pre ++ post ++ flush
    val bP = (e: CepEvent) => e.event_type == "b"
    val rP = (e: CepEvent) => e.event_type == "b" || e.event_type == "v"
    val cP = (e: CepEvent) => e.event_type == "c"
    val dP = (e: CepEvent) => e.event_type == "d"
    for (absent <- Seq(false, true)) {
      val in = Files.createTempDirectory(s"graft_ov4_in_$absent").toFile
      val outDir = Files.createTempDirectory(s"graft_ov4_out_$absent").toFile
      val ckpt = Files.createTempDirectory(s"graft_ov4_ck_$absent").toFile
      val schema = pre.toDS().toDF().schema
      def startQuery() =
        OverlapRunDetector.detectChainWhere(
            Sources.fileStream(spark, in.getAbsolutePath, schema)
              .as[CepEvent],
            bP, rP, 2, None, Seq(cP, dP), absent,
            48L * 3600 * 1000, Some("0 seconds"))
          .writeStream.format("parquet")
          .option("path", outDir.getAbsolutePath)
          .option("checkpointLocation", ckpt.getAbsolutePath)
          .outputMode("append").start()
      pre.toDS().toDF().write.mode("append").parquet(in.getAbsolutePath)
      val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
      post.toDS().toDF().write.mode("append").parquet(in.getAbsolutePath)
      val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
      flush.toDS().toDF().write.mode("append").parquet(in.getAbsolutePath)
      val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
      val got = spark.read.parquet(outDir.getAbsolutePath)
        .select("user_id", "id_1", "len_2", "tail_ids").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3))).toSet
      // batch twin on the same fixture
      all.toDS().toDF().createOrReplaceTempView(s"ev_ov4_$absent")
      val tail = if (absent) "THEN c THEN NOT d" else "THEN c THEN d"
      val want0 = CepSql.sql(spark,
        s"""SELECT * FROM ev_ov4_$absent
           MATCH PATTERN (b THEN b|v{2,} $tail WITHIN '48' HOURS)
           PARTITION BY user_id""")
      val want =
        if (absent) want0.select("user_id", "id_1", "len_2", "id_3")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            Seq(r.getLong(3)))).toSet
        else want0.select("user_id", "id_1", "len_2", "id_3", "id_4")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            Seq(r.getLong(3), r.getLong(4)))).toSet
      assert(got === want && want.nonEmpty,
        s"absent=$absent: got $got vs batch $want")
      // the interesting half really straddles: u=1's completion (or
      // u=2's verdict) depends on state created pre-cut
      if (!absent) assert(got == Set((1L, 1L, 2L, Seq(5L, 6L))))
      else assert(got == Set((2L, 11L, 2L, Seq(15L))))
    }
  }

  test("quantified-tail overlap detector resumes from checkpoint: the " +
      "open TAIL island tracker survives the restart (r13)") {
    // the r13 form's novel state is the per-quantified-tail-step shared
    // island tracker: the cut lands MID-ISLAND (two c's pre-cut, the
    // third post-cut), so a lost tracker would restart the island at
    // count 1 post-cut and the close would fail the {2,} bound — no
    // match — while batch (and correctly restored streaming) reads the
    // full 3-long island.
    import java.sql.Timestamp
    import spark.implicits._
    def ev(id: Long, t: String, u: Long, ty: String) =
      CepEvent(id, Timestamp.valueOf(t), u, ty, 0.0)
    val pre = Seq(
      ev(1, "2024-01-01 00:00:00", 1, "b"),
      ev(2, "2024-01-01 00:30:00", 1, "x"),
      ev(3, "2024-01-01 01:00:00", 1, "b"),
      ev(4, "2024-01-01 01:30:00", 1, "b"),
      ev(5, "2024-01-01 02:00:00", 1, "x"), // closes run [3,4] -> pending
      ev(6, "2024-01-01 02:30:00", 1, "c"),
      ev(7, "2024-01-01 03:00:00", 1, "c")) // tail island OPEN at the cut
    val post = Seq(
      ev(8, "2024-01-01 03:30:00", 1, "c"), // extends the RESTORED island
      ev(9, "2024-01-01 04:00:00", 1, "x")) // closes it -> len_3 = 3
    val flush = Seq(ev(-1, "2031-01-01 00:00:00", 1, "zz"))
    val all = pre ++ post ++ flush
    val bP = (e: CepEvent) => e.event_type == "b"
    val cP = (e: CepEvent) => e.event_type == "c"
    val in = Files.createTempDirectory("graft_ovqt_in").toFile
    val outDir = Files.createTempDirectory("graft_ovqt_out").toFile
    val ckpt = Files.createTempDirectory("graft_ovqt_ck").toFile
    val schema = pre.toDS().toDF().schema
    def startQuery() =
      OverlapRunDetector.detectChainWhere(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .as[CepEvent],
          bP, bP, 2, None, Seq(cP), absent = false,
          48L * 3600 * 1000, Some("0 seconds"),
          tailQuant = Seq(Some((2, None))))
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    pre.toDS().toDF().write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    post.toDS().toDF().write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    flush.toDS().toDF().write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .select("user_id", "id_1", "len_2", "tail_ids").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3))).toSet
    all.toDS().toDF().createOrReplaceTempView("ev_ovqt")
    val want = CepSql.sql(spark,
      """SELECT * FROM ev_ovqt
         MATCH PATTERN (b THEN b{2,} THEN c{2,} WITHIN '48' HOURS)
         PARTITION BY user_id""")
      .select("user_id", "id_1", "len_2", "len_3").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Seq(r.getLong(3)))).toSet
    assert(got === want && want.nonEmpty, s"got $got vs batch $want")
    // the island really straddled: the full 3-c run, not a 2-c rerun
    assert(got == Set((1L, 1L, 2L, Seq(3L))))
  }

  test("3-way PERMUTE detector resumes from checkpoint: open trackers " +
      "and held arm-2 triples survive (r10)") {
    // Permute3Detector state = per-anchor trackers with BOTH candidate
    // orders' progress plus held completed arm-2 triples awaiting
    // window close. A restart mid-hold must restore them or the
    // resumed stream drops arm-2 matches (or re-emits arm-1 ones).
    // Output after the flush must equal the oracle-gated batch key.
    import java.sql.Timestamp
    import spark.implicits._
    val in = Files.createTempDirectory("graft_p3_in").toFile
    val outDir = Files.createTempDirectory("graft_p3_out").toFile
    val ckpt = Files.createTempDirectory("graft_p3_ckpt").toFile
    val events = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    def startQuery() =
      Permute3Detector.detect(
          Sources.fileStream(spark, in.getAbsolutePath, schema)
            .withWatermark("ts", "0 seconds").as[CepEvent],
          Seq("signup", "click", "purchase"), 12L * 3600 * 1000)
        .writeStream.format("parquet")
        .option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .outputMode("append").start()
    val cut = "2024-01-08 00:00:00"
    events.filter(col("ts") < lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    events.filter(col("ts") >= lit(cut))
      .write.mode("append").parquet(in.getAbsolutePath)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    // advance the watermark past every window, then once more so the
    // restored timers fire for silent keys
    Seq(CepEvent(-9L, Timestamp.valueOf("2031-01-01 00:00:00"), -1L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    Seq(CepEvent(-10L, Timestamp.valueOf("2031-01-02 00:00:00"), -1L,
      "zz_flush", 0.0)).toDS().toDF()
      .write.mode("append").parquet(in.getAbsolutePath)
    val q4 = startQuery(); q4.processAllAvailable(); q4.stop()
    val got = spark.read.parquet(outDir.getAbsolutePath)
      .select("first_ev", "id_1", "id_2", "id_3").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val want = graft.SparkEntry.queries("q_pattern_permute3")(spark, sf)
      .select("first_ev", "id_1", "id_2", "id_3").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === want && want.nonEmpty,
      s"${got.diff(want).size} extra, ${want.diff(got).size} missing " +
        "across restart")
    // the recovery assertion is non-vacuous only if some match's
    // 12-hour window STRADDLES the cut (anchored before, resolved
    // after — it can only come from restored tracker state)
    val cutUs = Timestamp.valueOf(cut).getTime * 1000L
    val straddlers = graft.SparkEntry.queries("q_pattern_permute3")(
        spark, sf)
      .filter(unix_micros(col("ts_1")) < cutUs &&
        unix_micros(col("ts_1")) + 12L * 3600 * 1000000 > cutUs)
      .count()
    assert(straddlers > 0,
      "cut must straddle at least one match window to prove recovery")
  }
}
