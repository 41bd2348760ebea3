package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.GraftEventsBroker
import graft.streaming.{CepSql, ContinuousQueries, StreamingConf}

/** The `cep` workload: four continuous queries in one session over one
  * `graft-events` topic, fed first by an open loop (live traffic at a fixed
  * rate; latency) and then by a closed loop (a backlog in fixed chunks;
  * throughput). */
object Cep {
  /** One continuous query: its text over a view named `%s`, whether it is
    * a MATCH PATTERN (submitted through `submitPattern`) and the
    * match-identity projection of its streaming and batch outputs. */
  final case class Query(name: String, text: String, pattern: Boolean,
      streamId: Seq[String], batchId: Seq[String])

  val queries: Seq[Query] = Seq(
    Query("seq",
      """SELECT * FROM %s
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", pattern = true,
      Seq("user_id", "sid", "pid"), Seq("user_id", "sid", "pid")),
    Query("chain_absent",
      """SELECT * FROM %s
         MATCH PATTERN (signup THEN click{2,} THEN NOT purchase
                        WITHIN '24' HOURS)
         PARTITION BY user_id""", pattern = true,
      Seq("user_id", "step_vals[0]", "step_vals[1]"),
      Seq("user_id", "id_1", "len_2")),
    Query("overlap_measures",
      """SELECT * FROM %s
         MATCH PATTERN (click THEN click|view{2,} WITHIN '30' MINUTES)
         PARTITION BY user_id
         MEASURES COUNT(*) AS span_n, SUM(value) AS sv,
                  MATCH_NUMBER() AS mno""", pattern = true,
      Seq("user_id", "step_vals[0]", "step_vals[1]", "span_n", "sv", "mno"),
      Seq("user_id", "id_1", "len_2", "span_n", "sv", "mno")),
    Query("window_sliding",
      """SELECT window.start AS ws, event_type, COUNT(*) AS cnt,
                SUM(value) AS sv
         FROM %s OVER (WINDOW '3600' SECONDS, SLIDE '600' SECONDS)
         GROUP BY event_type""", pattern = false,
      Seq("ws", "event_type", "cnt", "sv"),
      Seq("ws", "event_type", "cnt", "sv")))

  val warmEvents = 200
  val liveWarmSeconds = 2.0
  /** Share of `--seconds` measured in the open loop; the closed loop gets
    * the rest. */
  val liveShare = 0.5
  val chunk = 10000
  val setupRepeats = 3
  private val tickMs = 10L

  /** A submitted query set over one topic. */
  private final class Running(val topic: String,
      val handles: Seq[(Query, StreamingQuery)]) {
    def drain(): Unit = handles.foreach(_._2.processAllAvailable())
    def stop(spark: SparkSession): Unit = handles.foreach { case (_, q) =>
      if (q.isActive) q.stop()
      spark.catalog.dropTempView(q.name)
    }
  }

  private def register(spark: SparkSession, topic: String): Unit = {
    def read() = spark.readStream.format("graft-events")
      .option("topic", topic).option("fields", Gen.streamFields).load()
    read().createOrReplaceTempView("ev_stream")
    read().withWatermark("ts", "0 seconds").createOrReplaceTempView("ev_wm")
  }

  /** Register the views, submit the four queries and wait for each one's
    * first committed batch over the warm-up events. */
  private def submitAll(spark: SparkSession, tr: Trace, gen: Gen, rep: Int,
      submitMs: ArrayBuffer[Double]): Running = {
    val topic = s"graft-events-$rep"
    GraftEventsBroker.clear(topic)
    register(spark, topic)
    val started = queries.map { q =>
      val t0 = System.currentTimeMillis()
      val h = tr.span(spark, "service.submit", s"query=${q.name}") {
        if (q.pattern)
          ContinuousQueries.submitPattern(spark, q.text.format("ev_stream"),
            s"${q.name}_$rep")
        else
          ContinuousQueries.submitSql(spark, q.text.format("ev_wm"),
            s"${q.name}_$rep", outputMode = "append")
      }
      (q, h, t0)
    }
    GraftEventsBroker.append(topic, (0 until warmEvents).map(gen.payload(_)): _*)
    val running = new Running(topic, started.map(s => (s._1, s._2)))
    running.drain()
    started.foreach { case (_, h, t0) =>
      Progress.batches(h).headOption.foreach(b => submitMs += b.commitMs - t0)
    }
    running
  }

  /** Time the dialect layer on the four statements: parse each pattern
    * and translate every statement. */
  private def timeCepSql(spark: SparkSession, tr: Trace,
      parse: ArrayBuffer[Double], translate: ArrayBuffer[Double]): Unit = {
    parse += queries.filter(_.pattern).map(q => Stats.timed(
      tr.span(spark, "cepsql.parse", s"query=${q.name}")(
        CepSql.parsePattern(q.text.format("ev_stream"))))._2).sum
    translate += queries.map(q => Stats.timed(
      tr.span(spark, "cepsql.translate", s"query=${q.name}")(
        CepSql.translate(q.text.format("ev_stream"))))._2).sum
  }

  def run(spark: SparkSession, tr: Trace, seed: Long, seconds: Int,
      jvmStartMs: Long): Outcome = {
    StreamingConf.applyTo(spark)
    val setupStart = System.currentTimeMillis()
    val liveSeconds = math.max(1, math.ceil(seconds * liveShare).toInt)
    val catchupSeconds = math.max(1, seconds - liveSeconds)
    val liveFrom = warmEvents + (liveWarmSeconds * Gen.rate).toInt
    val liveUntil = liveFrom + liveSeconds * Gen.rate
    val capacity = liveUntil + chunk * (catchupSeconds * 4 + 1)
    val gens = (1 to setupRepeats).map(_ =>
      Stats.timed(tr.span(spark, "gen.log")(new Gen(seed, capacity))))
    val gen = gens.last._1
    val genMs = gens.map(_._2)
    val parseMs, translateMs, submitMs = ArrayBuffer.empty[Double]
    val repMs = ArrayBuffer.empty[Double]
    var running: Running = null
    (0 until setupRepeats).foreach { rep =>
      if (running != null) running.stop(spark)
      repMs += Stats.timed {
        timeCepSql(spark, tr, parseMs, translateMs)
        running = submitAll(spark, tr, gen, rep, submitMs)
      }._2
      Log.phase(f"query set $rep submitted in ${repMs.last}%.0f ms")
    }
    tr.detectorQueries = running.handles.filter(_._1.pattern).map(_._2.name)
      .toSet
    val topic = running.topic
    def batches = running.handles.map { case (query, q) =>
      query.name -> Progress.batches(q) }

    var next = warmEvents // next log index to append
    def appendUpTo(end: Int): Unit = {
      GraftEventsBroker.append(topic, (next until end).map(gen.payload(_)): _*)
      next = end
    }

    // ---- open loop: event i (i >= warmEvents) is due at
    // genStart + (i - warmEvents) / rate, whatever the engine does; the
    // events due in the first liveWarmSeconds warm up, the rest are timed
    val genStart = System.currentTimeMillis().toDouble + 50
    def due(i: Long) = genStart + (i - warmEvents) * 1000.0 / Gen.rate
    var lateMax = 0.0
    val generator = new Thread(() => {
      while (next < liveUntil) {
        val now = System.currentTimeMillis().toDouble
        var end = next
        while (end < liveUntil && due(end) <= now) end += 1
        if (end > next) {
          if (next >= liveFrom) lateMax = math.max(lateMax, now - due(next))
          appendUpTo(end)
        }
        val wait = due(next) - System.currentTimeMillis()
        Thread.sleep(math.max(1L, math.min(tickMs, wait.toLong)))
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    val untilOpen = due(liveFrom) - System.currentTimeMillis()
    if (untilOpen > 0) Thread.sleep(untilOpen.toLong)
    tr.openWindow()
    val setupMs = System.currentTimeMillis() - setupStart
    Log.phase("open loop timed")
    generator.join()
    running.drain()
    // one sample per (event, query): commit of the batch that consumed the
    // event minus the time the event was due
    val samples = new Samples
    val liveBatches = batches.map { case (n, bs) =>
      n -> bs.filter(b => b.until > liveFrom && b.from < liveUntil) }
    liveBatches.foreach { case (_, bs) => bs.foreach { b =>
      var o = math.max(b.from, liveFrom.toLong)
      while (o < math.min(b.until, liveUntil.toLong)) {
        samples.add(b.commitMs - due(o))
        o += 1
      }
    } }

    // ---- closed loop: each chunk is appended only after all four queries
    // drained the previous one
    Log.phase("closed loop timed")
    var catchupEvents = 0L
    var catchupMs = 0.0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < catchupSeconds &&
        next + chunk <= capacity) {
      val payloads = (next until next + chunk).map(gen.payload(_))
      catchupMs += Stats.timed(tr.span(spark, "gen.chunk", s"from=$next") {
        GraftEventsBroker.append(topic, payloads: _*)
        next += chunk
        running.drain()
      })._2
      catchupEvents += chunk
    }
    tr.closeWindow()
    val catchupBatches = batches.map { case (n, bs) =>
      n -> bs.filter(_.from >= liveUntil) }
    // state size after the last timed batch of each query
    val state = batches.map(_._2.lastOption.map(_.state).getOrElse((0L, 0L)))
    Log.phase("timed region done")

    // ---- output check (untimed)
    val checks = check(spark, running, gen, next)
    running.stop(spark)
    GraftEventsBroker.clear(topic)

    def phase(bs: Seq[(String, Seq[Batch])]) = Json.obj(bs.map { case (n, b) =>
      n -> Json.obj(Seq("batches" -> b.size.toString,
        "median_trigger_ms" -> Json.num(Stats.median(b.map(_.triggerMs))),
        "input_rows" -> b.map(_.rows).sum.toString)) })
    val setupS = (setupStart - jvmStartMs + setupMs - repMs.sum - genMs.sum +
      Stats.median(repMs) + Stats.median(genMs)) / 1000.0
    Outcome(
      attempted = queries.size, failed = checks.count(_.nonEmpty),
      messages = checks.flatten, setupS = setupS, samples = samples,
      eventsPerS = catchupEvents / (catchupMs / 1000.0),
      unitMediansMs = liveBatches.map { case (n, bs) =>
        n -> Stats.median(bs.map(_.triggerMs)) },
      layers = Seq(
        "cepsql.parse_ms" -> Stats.median(parseMs),
        "cepsql.translate_ms" -> Stats.median(translateMs),
        "service.submit_ms" -> Stats.median(submitMs),
        "state.rows" -> state.map(_._1).sum.toDouble,
        "state.bytes" -> state.map(_._2).sum.toDouble,
        "gen.late_ms_max" -> lateMax),
      traceExtra = Seq(
        "open_loop" -> phase(liveBatches),
        "closed_loop" -> phase(catchupBatches),
        "open_loop_events" -> (liveUntil - liveFrom).toString,
        "closed_loop_events" -> catchupEvents.toString,
        "closed_loop_ms" -> Json.num(catchupMs)))
  }

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.selectExpr(cols: _*).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Flush the watermark, then compare every query's output with the batch
    * rewrite over the same log. Returns one entry per query: None when the
    * outputs agree, else a message. */
  private def check(spark: SparkSession, running: Running, gen: Gen,
      logEnd: Int): Seq[Option[String]] = {
    val last = gen.tsMs(logEnd - 1)
    val day = 86400000L
    // one event of a type no query references, per user, far past every
    // WITHIN bound, and one more a day later: the watermark it sets closes
    // the flush events' own windows and fires the timers
    val flushFrom = last + 30 * day
    val flush = (1 to Gen.users).map(u =>
      s"${-u},${Gen.fmt(flushFrom)},$u,error,0.0") :+
      s"${-Gen.users - 1},${Gen.fmt(flushFrom + day)},0,error,0.0"
    GraftEventsBroker.append(running.topic, flush: _*)
    running.drain()
    Thread.sleep(500) // let the watermark-advancing no-data batch run
    running.drain()
    Log.phase("watermark flushed")
    spark.read.format("graft-events").option("topic", running.topic)
      .option("fields", Gen.streamFields).load()
      .createOrReplaceTempView("ev_batch")
    // the four comparisons run as concurrent Spark jobs
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val pending = running.handles.map { case (q, h) => Future {
      try {
        if (h.exception.isDefined) Some(s"${q.name}: ${h.exception.get}")
        else {
          var got = spark.table(h.name)
          var want = CepSql.sql(spark, q.text.format("ev_batch"))
          if (!q.pattern) { // windows of the flush events are not in the log
            val cut = new java.sql.Timestamp(last + day)
            got = got.filter(col("ws") < cut)
            want = want.filter(col("ws") < cut)
          }
          val g = rows(got, q.streamId)
          val w = rows(want, q.batchId)
          if (g == w) None
          else {
            val extra = g.diff(w)
            val missing = w.diff(g)
            Some(s"${q.name}: streaming ${g.size} rows vs batch ${w.size}; " +
              s"${extra.size} only streaming (e.g. ${extra.take(2)}), " +
              s"${missing.size} only batch (e.g. ${missing.take(2)})")
          }
        }
      } catch { case e: Exception => Some(s"${q.name}: ${e}") }
      finally Log.phase(s"checked ${q.name}")
    } }
    pending.map(Await.result(_, Duration.Inf))
  }
}

/** One committed micro-batch, read from a query's progress. */
final case class Batch(from: Long, until: Long, rows: Long, commitMs: Double,
    triggerMs: Double, state: (Long, Long))

object Progress {
  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val src = p.sources.head
      def off(s: String) = Option(s).filter(_ != "null").map(_.trim.toLong)
      val trig = p.durationMs.get("triggerExecution").toDouble
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Batch(off(src.startOffset).getOrElse(0L), off(src.endOffset).get,
        p.numInputRows, start + trig, trig,
        (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
    }
}
