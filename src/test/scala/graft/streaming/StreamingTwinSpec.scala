package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Batch/streaming equivalence — the modern form of the reference's
  * per-batch assertion suites (SURVEY §5.2.3): event-time operators are
  * pure functions of the data, so replaying the events table through a
  * MemoryStream must reproduce the batch (oracle-checked) results exactly.
  */
class StreamingTwinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDf = Tables.table(spark, sf, "events")
  private lazy val eventsDs: Dataset[CepEvent] = eventsDf
    .select("event_id", "ts", "user_id", "event_type", "value")
    .as[CepEvent]

  /** Feed the events dataset through a MemoryStream in n ts-ordered
    * chunks, apply `op`, run to completion in complete/append mode. */
  private def streamed(op: DataFrame => DataFrame, mode: String,
      chunks: Int = 4, name: String = s"twin_${System.nanoTime}") : DataFrame = {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val q = op(stream.toDF()).writeStream.queryName(name)
      .format("memory").outputMode(mode).start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / chunks)).foreach { chunk =>
      stream.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    spark.table(name)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("tumbling window: streaming == batch") {
    val batch = StreamOps.tumblingCounts(eventsDf, "1 hour")
    val stream = streamed(StreamOps.tumblingCounts(_, "1 hour"), "complete")
    assert(rows(stream) == rows(batch))
  }

  test("sliding window: streaming == batch (incremental agg parity)") {
    val batch = StreamOps.slidingCounts(eventsDf, "30 minutes", "10 minutes")
    val stream = streamed(
      StreamOps.slidingCounts(_, "30 minutes", "10 minutes"), "complete")
    assert(rows(stream) == rows(batch))
  }

  test("OHLC bars: streaming min_by/max_by == batch window-fn key (r8)") {
    // the batch KEY computes open/close via first/last_value window
    // functions; the streaming operator uses min_by/max_by aggregates —
    // two formulations of the same total order, equal bar for bar
    val batch = graft.SparkEntry.queries("q_resample_ohlc")(spark, sf)
      .select("event_type", "bucket_ts", "open", "high", "low", "close",
        "cnt", "volume")
    val stream = streamed(StreamOps.ohlcBars(_, "15 minutes"), "complete")
      .select("event_type", "bucket_ts", "open", "high", "low", "close",
        "cnt", "volume")
    assert(rows(stream) == rows(batch))
    assert(batch.count() > 0)
  }

  test("rolling z-score monitor: streaming ring == batch window key (r8)") {
    // the batch key computes stddev via Spark's aggregate; the stream
    // recomputes two-pass over its ring — replay must agree on every
    // ROUNDED score and flag (the round-before-threshold discipline is
    // exactly what makes the two formulations land identically)
    val batch = graft.SparkEntry.queries("q_zscore")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_zscore_${System.nanoTime}"
    val q = RollingStats.zScores(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(2)) ->
        ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got.keySet === batch.keySet, "scored row sets differ")
    val mismatches = batch.collect {
      case (k, (zb, fb)) if got(k) != ((zb, fb)) => (k, zb, got(k)._1)
    }
    assert(mismatches.isEmpty,
      s"${mismatches.size} rounded scores diverge, e.g. ${mismatches.take(3)}")
  }

  test("daily TWAP: streaming forward-carry state == batch lead key " +
      "(r9)") {
    // the batch key computes holding times via lead(); the stream
    // carries only the last observation per (user, open day) and closes
    // a day when a later-day event proves it ended — replay must agree
    // on every rounded TWAP and event count
    val batch = graft.SparkEntry.queries("q_twap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_twap_${System.nanoTime}"
    val q = TimeSeriesOps.twapDaily(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    val flush = data.map(_.user_id).distinct.zipWithIndex.map {
      case (u, i) => CepEvent(-3000L - i,
        Timestamp.valueOf("2031-01-01 00:00:00"), u, "zz_flush", 0.0)
    }
    stream.addData(flush.toSeq); q.processAllAvailable(); q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet === batch.keySet, "day sets differ")
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
  }

  test("LOCF gap-fill: streaming carry == batch spine on the observed " +
      "domain (r9)") {
    // the batch key fills a GLOBAL hour spine per type; the stream
    // fills from each type's first observation, carrying the last
    // observed hourly average across interior gaps — equal row for row
    // on that domain, with a flush at (global hi + 1h) extending every
    // carry to the spine's end
    val batchRows = graft.SparkEntry.queries("q_gap_fill")(spark, sf)
      .collect()
    val firstObs = batchRows.filter(_.getBoolean(3))
      .groupBy(_.getString(0))
      .map { case (ty, rs) => ty -> rs.map(_.getTimestamp(1).getTime).min }
    val want = batchRows
      .filter(r => firstObs.get(r.getString(0))
        .exists(r.getTimestamp(1).getTime >= _))
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    val hiMs = batchRows.map(_.getTimestamp(1).getTime).max
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_locf_${System.nanoTime}"
    val q = TimeSeriesOps.locfHourly(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    val flush = data.map(_.event_type).distinct.zipWithIndex.map {
      case (ty, i) => CepEvent(-4000L - i,
        new Timestamp(hiMs + 3600L * 1000), -1L, ty, 0.0)
    }
    stream.addData(flush.toSeq); q.processAllAvailable(); q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.keySet === want.keySet, "hour domains differ")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
    assert(want.nonEmpty && want.exists(!_._2._2),
      "fixture must contain interior gap hours")
  }

  test("CUSUM: streaming integer prefix-sum state == batch window " +
      "identity (r12)") {
    val batch = graft.SparkEntry.queries("q_cusum")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // the twin's calibrated in-control mean = the batch key's own μ
    // (4-dp-rounded per-user average), shipped as the broadcast map the
    // production deployment would train offline
    val mu = eventsDf.groupBy("user_id")
      .agg(avg("value").as("m")).collect()
      .map(r => r.getLong(0) ->
        math.floor(r.getDouble(1) * 1e4 + 0.5) / 1e4).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_cusum_${System.nanoTime}"
    val q = TimeSeriesOps.cusumMarks(stream.toDS(), mu)
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got.keySet === batch.keySet)
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
    assert(batch.exists(_._2._3), "fixture should trip ≥1 alarm")
  }

  test("PSI: streaming bucket-cell state == batch drift panel (r14, " +
      "verdict #5 — the drift-panel stance executed)") {
    // the maintained state per type is the batch key's INPUT (10x2
    // count cells); each trigger re-derives the smoothed PSI fold from
    // it at constant cost, emitting the type's current panel row.
    // Update-mode upsert contract: n_first + n_second is monotone, so
    // the max-count row per type is the newest — it must equal the
    // oracle-gated batch key exactly.
    val batch = graft.SparkEntry.queries("q_psi")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_psi_${System.nanoTime}"
    val q = TimeSeriesOps.psiMarks(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("update").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .groupBy(_._1).map { case (ty, rows) =>
        val last = rows.maxBy(r => r._2 + r._3)
        ty -> ((last._2, last._3, last._4))
      }
    assert(got.keySet === batch.keySet)
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
    assert(batch.nonEmpty && batch.values.exists(_._3 != 0.0),
      "fixture should show nonzero drift somewhere")
  }

  test("EWMA: streaming 16-value ring == batch 16-lag window fold (r9)") {
    val batch = graft.SparkEntry.queries("q_ewma")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_ewma_${System.nanoTime}"
    val q = TimeSeriesOps.ewma(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(got.keySet === batch.keySet)
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty,
      s"${diffs.size} rounded EWMAs diverge, e.g. ${diffs.take(3)}")
  }

  test("weekly churn: streaming two-week state machine == batch " +
      "self-join panel (r10)") {
    // the batch key self-joins the distinct (user, week) frame; the
    // stream emits one active mark per (user, week) plus a retained
    // mark for week w when the user turns active in w+1 — the panel is
    // the same aggregation of either mark multiset, churned/rate
    // identical exact-integer math
    val batch = graft.SparkEntry.queries("q_churn")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_churn_${System.nanoTime}"
    val q = TimeSeriesOps.churnMarks(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val marks = spark.table(name).collect()
      .map(r => (r.getLong(1), r.getBoolean(2)))
    val got = marks.groupBy(_._1).map { case (w, ms) =>
      val active = ms.count(!_._2).toLong
      val retained = ms.count(_._2).toLong
      val churned = active - retained
      w -> ((active, retained, churned,
        math.floor(churned.toDouble / active * 1e4 + 0.5) / 1e4))
    }
    assert(got.keySet === batch.keySet, "week sets differ")
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
  }

  test("seasonal-naive forecast: streaming last-week carry == batch " +
      "lag window (r10)") {
    // the batch key lags the weekly count per type; the stream carries
    // one scalar (the previous observed week's count) and closes a
    // week when a later-week event arrives — the MAPE panel aggregates
    // identically (same Spark avg over the same rows)
    val batch = graft.SparkEntry.queries("q_forecast_naive")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_fc_${System.nanoTime}"
    val q = TimeSeriesOps.weeklyForecast(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    // type-keyed horizon sentinel (user_id == -1, year 2031 — far past
    // any fixture week) closes each type's open week
    val flush = data.map(_.event_type).distinct.zipWithIndex.map {
      case (ty, i) => CepEvent(-5000L - i,
        Timestamp.valueOf("2031-01-01 00:00:00"), -1L, ty, 0.0)
    }
    stream.addData(flush.toSeq); q.processAllAvailable(); q.stop()
    val rows = spark.table(name)
    import org.apache.spark.sql.functions._
    val got = rows.filter(col("fc").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_weeks"),
        floor(avg(abs(col("cnt") - col("fc")) /
          col("cnt").cast("double")) * 1e4 + 0.5).divide(1e4).as("mape"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet === batch.keySet, "type sets differ")
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
  }

  test("cohort retention: streaming first-seen marks == batch " +
      "self-join panel (r10)") {
    // the batch key joins every event to the user's first-seen date;
    // the stream carries (firstDay, lastOffset) per user and emits one
    // mark per new (user, offset) cell — the panel's distinct-user
    // cell counts are then plain mark counts
    val batch = graft.SparkEntry.queries("q_cohort")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_cohort_${System.nanoTime}"
    val q = TimeSeriesOps.cohortMarks(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val marks = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(marks.length == marks.distinct.length, "one mark per cell")
    val got = marks.groupBy(m => (m._2, m._3)).view
      .mapValues(_.length.toLong).toMap
    assert(got.keySet === batch.keySet, "cell sets differ")
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
  }

  test("path trigrams: streaming 2-event state == batch two-lead " +
      "window (r11)") {
    // q_path_trigrams counts 3-step paths with both gaps <= 30 min via
    // two leads in one window pass; the stream keeps (last two events)
    // per user and emits a mark per qualifying third event — the
    // panel's top-20 is a plain count of the mark multiset
    val batch = graft.SparkEntry.queries("q_path_trigrams")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_tri_${System.nanoTime}"
    val q = TimeSeriesOps.trigramMarks(stream.toDS(), 30L * 60 * 1000)
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((a, b, c), n) => (a, b, c, n) }
      .sortBy(t => (-t._4, t._1, t._2, t._3))
      .take(20)
    assert(got === batch.toSeq)
    assert(batch.nonEmpty)
  }

  test("cumulative adoption: streaming first-seen marks == batch " +
      "triangular-join panel (r11)") {
    // q_cum_adoption joins the per-day new-user counts to a broadcast
    // day spine; the stream emits ONE mark per user (their first UTC
    // day) and the panel — new_users per day, running cum_users — is
    // plain arithmetic over the mark multiset
    val batch = graft.SparkEntry.queries("q_cum_adoption")(spark, sf)
      .collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay ->
        ((r.getLong(1), r.getLong(2)))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_adopt_${System.nanoTime}"
    val q = TimeSeriesOps.adoptionMarks(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val marks = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(marks.map(_._1).distinct.length == marks.length,
      "exactly one mark per user")
    val newUsers = marks.groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    var cum = 0L
    val got = newUsers.keys.toSeq.sorted.map { d =>
      cum += newUsers(d); d -> ((newUsers(d), cum))
    }.toMap
    assert(got === batch)
  }

  test("CDC compaction: streaming newest-wins state == batch max_by " +
      "key, any arrival order (r11)") {
    // q_cdc_apply's resolution (newest (ts, event_id) wins) is
    // commutative, so the twin law here is STRONGER than the carry
    // twins': replay in a deliberately scrambled order must still
    // converge to the batch output. Final state per user = the Update-
    // mode row with the highest n_versions; deleted keys must be
    // exactly the users the batch key dropped.
    def usOf(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val batch = graft.SparkEntry.queries("q_cdc_apply")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
        usOf(r.getTimestamp(3)), r.getLong(4),
        usOf(r.getTimestamp(5))))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_cdc_${System.nanoTime}"
    val q = TimeSeriesOps.cdcCompact(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("update").start()
    // scrambled replay: bucket by event_id mod 7 — adjacent events land
    // in different micro-batches, late entries precede early ones
    val data = eventsDs.collect().sortBy(e => (e.event_id % 7, e.event_id))
    data.grouped(300).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val fin = spark.table(name).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._4)).toMap
    val live = fin.filter(!_._2._6)
      .map { case (u, (t, v, ts, n, f, _)) => u -> ((t, v, ts, n, f)) }
    assert(live === batch)
    val deleted = fin.filter(_._2._6).keySet
    assert(deleted.nonEmpty, "fixture must exercise the delete path")
    assert(deleted.intersect(batch.keySet).isEmpty,
      "deleted keys must be exactly the batch-dropped users")
    assert(fin.keySet === batch.keySet ++ deleted)
  }

  test("week-over-week growth: streaming last-week carry == batch lag " +
      "window (r10)") {
    // q_growth_wow is the same weekly carry as the forecast twin read
    // through a different panel: cnt, prev week's cnt, and their exact
    // IEEE ratio — derive the panel from weeklyForecast's rows
    val batch = graft.SparkEntry.queries("q_growth_wow")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_wow_${System.nanoTime}"
    val q = TimeSeriesOps.weeklyForecast(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    val flush = data.map(_.event_type).distinct.zipWithIndex.map {
      case (ty, i) => CepEvent(-6000L - i,
        Timestamp.valueOf("2031-01-01 00:00:00"), -1L, ty, 0.0)
    }
    stream.addData(flush.toSeq); q.processAllAvailable(); q.stop()
    val got = spark.table(name).collect()
      .map { r =>
        val prev = if (r.isNullAt(3)) None else Some(r.getLong(3))
        (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), prev,
            prev.map(p => r.getLong(2).toDouble / p)))
      }.toMap
    assert(got.keySet === batch.keySet, "week cells differ")
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
  }

  test("Markov transitions: streaming last-type carry == batch lead " +
      "pairs (r9)") {
    // the stateful half (per-user lead) streams; the matrix is a plain
    // agg of the pairs — aggregate both sides identically and compare
    // counts AND row-normalized probabilities against the oracle key
    val batch = graft.SparkEntry.queries("q_markov_trans")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_mkv_${System.nanoTime}"
    val q = TimeSeriesOps.transitions(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val pairs = spark.table(name).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val cnts = pairs.groupBy(identity).view.mapValues(_.length.toLong)
    val rowTot = pairs.groupBy(_._1).view.mapValues(_.length.toLong)
    val got = cnts.map { case (k, c) =>
      k -> ((c, c.toDouble / rowTot(k._1))) }.toMap
    assert(got.keySet === batch.keySet)
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} cells diverge: ${diffs.take(3)}")
  }

  test("funnel stages: streaming tracker == batch per-user CTE chain " +
      "(r9)") {
    // batch law: stage k's ts = min stage-k ts strictly after stage
    // k-1's (the q_funnel CTE chain, recomputed per user here); the
    // stream's LAST emitted row per user is their final position, and
    // the stage counts must equal the oracle-gated q_funnel key
    import org.apache.spark.sql.functions.{col, min => fmin}
    val e = eventsDf
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(fmin("ts").as("t1"))
    val cl = e.filter(col("event_type") === "click").join(su, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(fmin("ts").as("t2"))
    val pu = e.filter(col("event_type") === "purchase").join(cl, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(fmin("ts").as("t3"))
    val want = su.join(cl, Seq("user_id"), "left")
      .join(pu, Seq("user_id"), "left")
      .collect().map(r => r.getLong(0) ->
        ((r.getTimestamp(1), Option(r.getTimestamp(2)),
          Option(r.getTimestamp(3))))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_funnel_${System.nanoTime}"
    val q = TimeSeriesOps.funnelStages(stream.toDS(), "signup", "click",
        "purchase")
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), Option(r.getTimestamp(4))))
      .groupBy(_._1).map { case (u, rows) =>
        val last = rows.maxBy(_._2)
        u -> ((last._3, last._4, last._5))
      }
    assert(got.keySet === want.keySet, "funnel user sets differ")
    val diffs = want.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
    // and the aggregate stage counts equal the oracle-gated key
    val counts = graft.SparkEntry.queries("q_funnel")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("1_signup") === got.size.toLong)
    assert(counts("2_click") === got.values.count(_._2.isDefined).toLong)
    assert(counts("3_purchase") ===
      got.values.count(_._3.isDefined).toLong)
  }

  test("SCD2 intervals: streaming close-on-next == batch lead key (r9)") {
    val batch = graft.SparkEntry.queries("q_scd2")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getTimestamp(2), Option(r.getTimestamp(3)),
          r.getString(4), r.getDouble(5), r.getBoolean(6)))).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_scd2_${System.nanoTime}"
    val q = TimeSeriesOps.scd2(stream.toDS())
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    val flush = data.map(_.user_id).distinct.zipWithIndex.map {
      case (u, i) => CepEvent(-3500L - i,
        Timestamp.valueOf("2031-01-01 00:00:00"), u, "zz_flush", 0.0)
    }
    stream.addData(flush.toSeq); q.processAllAvailable(); q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getTimestamp(2), Option(r.getTimestamp(3)),
          r.getString(4), r.getDouble(5), r.getBoolean(6)))).toMap
    assert(got.keySet === batch.keySet)
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
  }

  test("sessionize: streaming gap counter == batch gaps-and-islands " +
      "(r9)") {
    val batch = graft.SparkEntry.queries("q_sessionize")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_sess_${System.nanoTime}"
    val q = TimeSeriesOps.sessionize(stream.toDS(), 30L * 60 * 1000)
      .writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.keySet === batch.keySet)
    val diffs = batch.collect {
      case (k, v) if got(k) != v => (k, v, got(k)) }
    assert(diffs.isEmpty, s"${diffs.size} diverge, e.g. ${diffs.take(3)}")
  }

  test("streaming dedup == batch distinct") {
    val batch = StreamOps.dedup(eventsDf, Seq("user_id", "event_type"))
    val stream = streamed(StreamOps.dedup(_, Seq("user_id", "event_type")),
      "append")
    assert(rows(stream) == rows(batch))
  }

  test("session windows: streaming (watermark+append) == batch") {
    // Sentinel event far in the future closes every real session so
    // append mode emits them; the sentinel's own session is filtered out.
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_session"
    val q = StreamOps.sessionCounts(
        stream.toDF().withWatermark("ts", "0 seconds"), "5 minutes")
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    stream.addData(data.toSeq)
    q.processAllAvailable()
    stream.addData(CepEvent(-1L, Timestamp.valueOf("2030-01-01 00:00:00"),
      -1L, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).filter(col("user_id") =!= -1L)
    val batch = StreamOps.sessionCounts(eventsDf, "5 minutes")
    assert(rows(streamed) == rows(batch))
  }

  test("sliding distinct: streaming HLL pane sketches == batch panes (r7)") {
    // the hard half of the pane story, streamed: per-pane HLL sketch
    // state maintained incrementally (the reference's Redis pane state
    // as streaming agg state), sliding windows served by merging the
    // pane table on read. hll_union_agg is register-wise max —
    // order-insensitive — so the replay-built sketches must merge to
    // the SAME estimates the batch pane operator produces.
    import graft.operators.Panes
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"twin_panes_${System.nanoTime}"
    val q = Panes.distinctPaneSketches(stream.toDF(), "ts", "10 minutes",
        "user_id")
      .writeStream.queryName(name).format("memory")
      .outputMode("complete").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = Panes.mergeDistinctPanes(spark.table(name),
        "30 minutes", "10 minutes", "user_id")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batch = Panes.slidingDistinctViaPanes(eventsDf, "ts",
        "30 minutes", "10 minutes", "user_id")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(streamed.keySet == batch.keySet)
    // same registers → same estimates (not merely "close")
    streamed.foreach { case (ws, est) =>
      assert(est === batch(ws), s"window $ws: streamed $est vs batch")
    }
    // and both sit within the pinned 5% of exact
    val exact = eventsDf
      .groupBy(window(col("ts"), "30 minutes", "10 minutes")
        .getField("start").as("ws"))
      .agg(countDistinct("user_id").as("nd"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    streamed.foreach { case (ws, est) =>
      val ex = exact(ws).toDouble
      assert(math.abs(est - ex) / ex <= 0.05,
        s"window $ws: estimate $est vs exact $ex beyond 5%")
    }
  }

  test("observe metrics ride the stream without changing results (r6)") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_observed"
    val q = StreamOps.tumblingCounts(
        StreamOps.withMetrics(stream.toDF(), "ingest"), "1 hour")
      .writeStream.queryName(name).format("memory")
      .outputMode("complete").start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    var seenRows = 0L
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
      val om = q.lastProgress.observedMetrics
      if (om.containsKey("ingest"))
        seenRows += om.get("ingest").getAs[Long]("rows")
    }
    q.stop()
    assert(seenRows == data.length,
      s"per-batch observed rows must sum to the input ($seenRows)")
    // and the metrics are a pure tap: results equal the unobserved twin
    val want = rows(StreamOps.tumblingCounts(eventsDf, "1 hour"))
    assert(rows(spark.table(name)) == want)
  }

  test("windowed approx-distinct: streaming sketch merge == batch (r6)") {
    // HLL partials merge in the state store exactly as in a batch
    // shuffle (register-wise max, order-independent) — the streamed
    // sliding approx-distinct must equal the batch plan bit-for-bit
    def op(df: DataFrame): DataFrame = df
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"))
      .agg(approx_count_distinct("user_id").as("nd"))
      .select(col("window.start").as("ws"), col("nd"))
    val batch = op(eventsDf)
    val stream = streamed(op, "complete")
    assert(rows(stream) == rows(batch) && rows(batch).nonEmpty)
  }

  test("dynamic-gap session windows: streaming == oracle-gated batch (r6)") {
    // same sentinel-flush shape as the fixed-gap twin; the gap is a
    // per-event expression (click 5 min, else 15 min) — q_session_dynamic
    implicit val sq = spark.sqlContext
    val gap = when(col("event_type") === "click", "5 minutes")
      .otherwise("15 minutes")
    val stream = MemoryStream[CepEvent]
    val name = "twin_session_dyn"
    val q = StreamOps.sessionCountsDynamic(
        stream.toDF().withWatermark("ts", "0 seconds"), gap)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    stream.addData(data.toSeq)
    q.processAllAvailable()
    stream.addData(CepEvent(-1L, Timestamp.valueOf("2030-01-01 00:00:00"),
      -1L, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamedRows = spark.table(name).filter(col("user_id") =!= -1L)
    val batch = graft.SparkEntry.queries("q_session_dynamic")(spark, sf)
    assert(rows(streamedRows) == rows(batch) && rows(batch).nonEmpty)
  }

  test("CEP sequence state machine == batch q_cep_seq") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_cep"
    val q = ChainEngine.detect(stream.toDS(), Steps.of("signup", "purchase"),
        30L * 60 * 1000)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / 5)).foreach { chunk =>
      stream.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name)
      .select(col("user_id"), col("step_ids")(0).as("sid"),
        col("step_ids")(1).as("pid"), col("start_ts").as("s_ts"),
        col("end_ts").as("p_ts"))
    val want = graft.SparkEntry.queries("q_cep_seq")(spark, sf)
    assert(rows(got) == rows(want))
    assert(got.count() > 0, "expected at least one signup->purchase match")
  }

  test("quantified run detector == batch q_cep_times") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_runs"
    val q = RunDetector.detect(stream.toDS(), "click", 3, "purchase",
        10L * 60 * 1000)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / 5)).foreach { chunk =>
      stream.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    // per-user sentinel far in the future: closes tail runs and expires
    // pending windows, so append mode emits the matches batch sees
    val users = data.map(_.user_id).distinct.toSeq
    stream.addData(users.map(u => CepEvent(Long.MaxValue,
      Timestamp.valueOf("2030-01-01 00:00:00"), u, "flush", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select(col("user_id"), col("run_len"),
      col("run_start"), col("run_end"),
      col("next_follow").as("next_purchase"))
    val want = graft.SparkEntry.queries("q_cep_times")(spark, sf)
    assert(rows(got) == rows(want))
    assert(got.count() > 0, "expected at least one click{3,} run")
  }

  test("conditioned quantified run == batch rewrite (r8)") {
    // DEFINE-lite on a {m,} head: a click with value <= 20 BREAKS the
    // run (the batch indicator is type AND condition), and a purchase
    // must satisfy ITS condition to resolve a pending run. The parquet
    // fixture is too sparse at test scale to split a run, so the SAME
    // crafted rows feed both engines: user 1's cheap purchase closes
    // but does not resolve (the expensive one does); user 2's cheap
    // click splits the run into two non-qualifying 1-runs; user 3's
    // follow lands outside the window (no row in the non-absent form).
    implicit val sq = spark.sqlContext
    def ev(id: Long, t: String, u: Long, typ: String, v: Double) =
      CepEvent(id, Timestamp.valueOf(t), u, typ, v)
    val data = Seq(
      ev(1, "2026-01-01 00:00:00", 1, "click", 50),
      ev(2, "2026-01-01 00:01:00", 1, "click", 50),
      ev(3, "2026-01-01 00:02:00", 1, "purchase", 5),
      ev(4, "2026-01-01 00:05:00", 1, "purchase", 50),
      ev(11, "2026-01-01 00:00:00", 2, "click", 50),
      ev(12, "2026-01-01 00:01:00", 2, "click", 5),
      ev(13, "2026-01-01 00:02:00", 2, "click", 50),
      ev(14, "2026-01-01 00:05:00", 2, "purchase", 50),
      ev(21, "2026-01-01 00:00:00", 3, "click", 30),
      ev(22, "2026-01-01 00:01:00", 3, "click", 30),
      ev(23, "2026-01-01 00:30:00", 3, "purchase", 50))
    data.toDS().createOrReplaceTempView("cond_run_events")
    val stream = MemoryStream[CepEvent]
    val name = "twin_cond_runs"
    val q = RunDetector.detectWhere(stream.toDS(),
        e => e.event_type == "click" && e.value > 20, 2,
        e => e.event_type == "purchase" && e.value > 20,
        10L * 60 * 1000, None, None)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    data.grouped(4).foreach { chunk =>
      stream.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    stream.addData(Seq(1L, 2L, 3L).map(u => CepEvent(-u,
      Timestamp.valueOf("2030-01-01 00:00:00"), u, "flush", 0.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .filter(col("next_follow").isNotNull)
      .select(col("user_id"), col("run_len"), col("run_start"),
        col("run_end"), col("next_follow").as("b_ts"))
    val want = CepSql.sql(spark,
      """SELECT * FROM cond_run_events
         MATCH PATTERN (click(value > 20){2,} THEN purchase(value > 20)
         WITHIN '10' MINUTES)
         PARTITION BY user_id""")
    assert(rows(got) == rows(want))
    // exactly user 1's run resolves — proves the crafted semantics bit
    assert(rows(want).map(_.head) == Set(1L))
    spark.catalog.dropTempView("cond_run_events")
  }

  test("as-of enrichment: streaming state == oracle-checked batch join") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_asof"
    val q = AsofEnrich.enrich(stream.toDS(), "error", "click")
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / 5)).foreach { chunk =>
      stream.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name)
      .select("err_id", "user_id", "err_ts", "click_id", "click_ts")
    // the DuckDB-native-ASOF-checked batch key is the reference point —
    // three formulations agree: theta, carry, streaming state
    val want = graft.SparkEntry.queries("q_join_asof_carry")(spark, sf)
    assert(rows(got) == rows(want))
    assert(got.count() > 0)
  }

  test("gap detection: streaming silence state == batch lead() key") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_gaps"
    val q = GapDetector.detect(stream.toDS(), 60)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / 5)).foreach { chunk =>
      stream.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(name)
      .select("user_id", "gap_start", "gap_end", "gap_min")
    val want = graft.SparkEntry.queries("q_sequence_gap")(spark, sf)
    assert(rows(got) == rows(want))
    assert(got.count() > 0, "expected at least one >= 1h gap")
  }

  test("run detector: watermark timeout flushes pending runs, no sentinel") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_runs_wm"
    val q = RunDetector.detect(stream.toDS(), "click", 3, "purchase",
        10L * 60 * 1000, watermarkDelay = Some("0 seconds"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    def ev(id: Long, u: Long, t: String, typ: String) =
      CepEvent(id, Timestamp.valueOf(t), u, typ, 1.0)
    // user 7: a qualifying 3-click run, closed by a view, then SILENCE
    stream.addData(
      ev(1, 7L, "2024-01-01 10:00:00", "click"),
      ev(2, 7L, "2024-01-01 10:01:00", "click"),
      ev(3, 7L, "2024-01-01 10:02:00", "click"),
      ev(4, 7L, "2024-01-01 10:03:00", "view"))
    q.processAllAvailable()
    assert(spark.table(name).count() === 0) // window still live
    // ONLY user 8 advances the watermark past 10:12 (run_end + 10 min);
    // user 7's key receives no further event, yet must flush via timeout
    stream.addData(ev(100, 8L, "2024-01-01 11:00:00", "view"))
    q.processAllAvailable()
    // one more batch so the new watermark's timeouts fire
    stream.addData(ev(101, 8L, "2024-01-01 11:00:01", "view"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name)
      .select("user_id", "run_len", "next_follow").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(got === Set((7L, 3L, None)),
      s"pending run should flush as next_follow=None via timeout: ${got.mkString}")
  }

  test("watermark drops late events (beyond-lateness data is excluded)") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = "twin_late"
    val q = StreamOps.tumblingCounts(
        stream.toDF().withWatermark("ts", "10 minutes"), "1 hour")
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    def ev(id: Long, t: String) =
      CepEvent(id, Timestamp.valueOf(t), 1L, "click", 1.0)
    stream.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:55:00"))
    q.processAllAvailable()
    // advance watermark far past the 10:00 window
    stream.addData(ev(3, "2024-01-01 13:00:00"))
    q.processAllAvailable()
    val afterClose = spark.table(name).count()
    assert(afterClose >= 1, "10:00 window should have been finalized")
    val closedCnt = spark.table(name)
      .filter(col("ws") === Timestamp.valueOf("2024-01-01 10:00:00"))
      .select("cnt").as[Long].head()
    assert(closedCnt == 2)
    // late event for the closed 10:00 window: must be dropped
    stream.addData(ev(4, "2024-01-01 10:30:00"))
    q.processAllAvailable()
    val cntAfterLate = spark.table(name)
      .filter(col("ws") === Timestamp.valueOf("2024-01-01 10:00:00"))
      .count()
    q.stop()
    assert(cntAfterLate == 1, "late event must not re-emit the closed window")
  }

  test("continuous query management: submit, list, cancel") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val q = ContinuousQueries.submitMemory(
      StreamOps.tumblingCounts(stream.toDF(), "1 hour"), "mgmt_test")
    assert(ContinuousQueries.list(spark).exists(_.name == "mgmt_test"))
    stream.addData(CepEvent(1, Timestamp.valueOf("2024-01-01 00:00:01"),
      1, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("mgmt_test").count() == 1)
    assert(ContinuousQueries.cancel(spark, "mgmt_test"))
    assert(!ContinuousQueries.list(spark).exists(_.name == "mgmt_test"))
    assert(!ContinuousQueries.cancel(spark, "mgmt_test"))
  }
}
