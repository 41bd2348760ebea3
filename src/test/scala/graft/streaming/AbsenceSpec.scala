package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.{SparkSpec, Tables}

class AbsenceSpec extends SparkSpec {
  /** The 2-step absence columns `(user_id, sid, s_ts)` of an engine row. */
  private val absenceCols =
    Seq(col("user_id"), col("step_ids")(0).as("sid"),
      col("start_ts").as("s_ts"))

  test("streaming absence detection == batch q_cep_absence (flushed set)") {
    val s2 = spark.newSession()
    StreamingConf.applyTo(s2)
    implicit val sq = s2.sqlContext
    import s2.implicits._
    val stream = MemoryStream[CepEvent]
    val name = "absence"
    val q = ChainEngine.detect(stream.toDS().withWatermark("ts", "0 seconds"),
        Steps.of("signup"), 30L * 60 * 1000,
        absent = Some(_.event_type == "purchase"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as(org.apache.spark.sql.Encoders.product[CepEvent])
      .orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / 5)).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    // sentinels far in the future push the watermark past every deadline;
    // the second round forces the follow-up micro-batch in which the
    // watermark-crossing timers for the other keys actually fire
    stream.addData(CepEvent(-1L, Timestamp.valueOf("2030-01-01 00:00:00"),
      -1L, "flush", 0.0))
    q.processAllAvailable()
    stream.addData(CepEvent(-2L, Timestamp.valueOf("2030-01-02 00:00:00"),
      -1L, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = s2.table(name).select(absenceCols: _*)
      .collect().map(_.toSeq).toSet
    val want = graft.SparkEntry.queries("q_cep_absence")(spark, sf)
      .select("user_id", "sid", "s_ts")
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("conditioned absence == batch conditioned anti join (r8)") {
    // DEFINE-lite on the cancelling step: only a purchase above 50
    // cancels — a cheap purchase is invisible, exactly the batch anti
    // join's `type AND cond` predicate
    val s2 = spark.newSession()
    StreamingConf.applyTo(s2)
    implicit val sq = s2.sqlContext
    import s2.implicits._
    val stream = MemoryStream[CepEvent]
    val name = "absence_cond"
    val q = ChainEngine.detect(stream.toDS().withWatermark("ts", "0 seconds"),
        Steps.of("signup"), 30L * 60 * 1000,
        absent = Some(e => e.event_type == "purchase" && e.value > 50))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as(org.apache.spark.sql.Encoders.product[CepEvent])
      .orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / 5)).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    stream.addData(CepEvent(-1L, Timestamp.valueOf("2030-01-01 00:00:00"),
      -1L, "flush", 0.0))
    q.processAllAvailable()
    stream.addData(CepEvent(-2L, Timestamp.valueOf("2030-01-02 00:00:00"),
      -1L, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = s2.table(name).select(absenceCols: _*)
      .collect().map(_.toSeq).toSet
    Tables.load(spark, sf)
    val wantDf = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN NOT purchase(value > 50)
         WITHIN '30' MINUTES)
         PARTITION BY user_id""")
    val want = wantDf.select("user_id", "sid", "s_ts")
      .collect().map(_.toSeq).toSet
    // the condition must bite: more absences than the unconditioned form
    val uncond = graft.SparkEntry.queries("q_cep_absence")(spark, sf).count()
    assert(want.size > uncond, "conditioned absences must be a superset")
    assert(got == want && got.nonEmpty)
  }

  test("late first whose second was already processed emits NO absence") {
    val s2 = spark.newSession()
    StreamingConf.applyTo(s2)
    implicit val sq = s2.sqlContext
    import s2.implicits._
    val stream = MemoryStream[CepEvent]
    val name = "absence_late"
    def ev(id: Long, u: Long, t: String, typ: String) =
      CepEvent(id, Timestamp.valueOf(t), u, typ, 1.0)
    val q = ChainEngine.detect(stream.toDS().withWatermark("ts", "1 hour"),
        Steps.of("signup"), 30L * 60 * 1000,
        absent = Some(_.event_type == "purchase"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    // batch 1: the purchase is processed BEFORE its (late) signup exists
    stream.addData(ev(1, 7L, "2024-01-01 10:05:00", "purchase"))
    q.processAllAvailable()
    // batch 2: the signup arrives late (inside the 1-hour lateness) —
    // with no memory of batch-1 seconds this would open and later emit a
    // FALSE absence; user 8's signup is the genuine-absence control
    stream.addData(ev(2, 7L, "2024-01-01 10:00:00", "signup"),
      ev(3, 8L, "2024-01-01 10:00:00", "signup"))
    q.processAllAvailable()
    // advance the watermark well past both deadlines, then one more
    // batch so the timers actually fire
    stream.addData(ev(90, 9L, "2024-01-01 14:00:00", "view"))
    q.processAllAvailable()
    stream.addData(ev(91, 9L, "2024-01-01 14:00:01", "view"))
    q.processAllAvailable()
    q.stop()
    val got = s2.table(name).select(absenceCols.take(2): _*)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((8L, 3L)),
      s"only the un-cancelled signup may surface as an absence: $got")
  }
}
