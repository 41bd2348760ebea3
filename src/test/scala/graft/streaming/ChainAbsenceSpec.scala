package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkSpec, Tables}

/** Streaming chain absence (e1 THEN e2 THEN NOT e3) must reproduce the
  * batch MATCH PATTERN rewrite (anti join after the chained rank-1
  * prefix) exactly on replay. */
class ChainAbsenceSpec extends SparkSpec {
  import spark.implicits._

  private def us(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private lazy val eventsDs: Dataset[CepEvent] =
    Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[CepEvent]

  test("replay == batch MATCH PATTERN chain-absence rewrite") {
    Tables.load(spark, sf)
    val batch = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click THEN NOT purchase WITHIN '24' HOURS)
         PARTITION BY user_id""")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        us(r.getTimestamp(3)), us(r.getTimestamp(4)))).toSet
    assert(batch.nonEmpty, "fixture must exercise the absence path")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"chain_abs_${System.nanoTime}"
    val q = ChainEngine.detect(stream.toDS().withWatermark("ts", "0 seconds"),
        Steps.of("signup", "click"), 24L * 3600 * 1000,
        absent = Some(_.event_type == "purchase"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    // far-future prefix-type sentinel closes every window
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "signup", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter($"user_id" =!= -1L)
      .collect()
      .map { r =>
        val ids = r.getSeq[Long](1)
        (r.getLong(0), ids.head, ids(1),
          us(r.getAs[Timestamp]("start_ts")), us(r.getAs[Timestamp]("end_ts")))
      }.toSet
    assert(streamed === batch)
  }

  test("conditioned replay == batch chain-absence rewrite (r8)") {
    // DEFINE-lite on prefix AND absent steps: only a click above 20
    // advances the prefix, and only a purchase above 50 cancels — a
    // cheap purchase is invisible, exactly the batch anti join's
    // `type AND cond` predicate
    Tables.load(spark, sf)
    val batch = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click(value > 20)
         THEN NOT purchase(value > 50) WITHIN '24' HOURS)
         PARTITION BY user_id""")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        us(r.getTimestamp(3)), us(r.getTimestamp(4)))).toSet
    assert(batch.nonEmpty, "fixture must exercise the conditioned path")
    // the conditions must change the answer vs the unconditioned form
    val uncond = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click THEN NOT purchase
         WITHIN '24' HOURS)
         PARTITION BY user_id""").count()
    assert(uncond != batch.size,
      "conditions must bite on the fixture or this test proves nothing")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"chain_abs_cond_${System.nanoTime}"
    val q = ChainEngine.detect(stream.toDS().withWatermark("ts", "0 seconds"),
        Seq((e: CepEvent) => e.event_type == "signup",
          (e: CepEvent) => e.event_type == "click" && e.value > 20),
        24L * 3600 * 1000,
        absent = Some(e => e.event_type == "purchase" && e.value > 50))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "signup", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter($"user_id" =!= -1L)
      .collect()
      .map { r =>
        val ids = r.getSeq[Long](1)
        (r.getLong(0), ids.head, ids(1),
          us(r.getAs[Timestamp]("start_ts")), us(r.getAs[Timestamp]("end_ts")))
      }.toSet
    assert(streamed === batch)
  }

  test("optional mid-prefix replay == batch composite-pivot absence " +
    "(r8)") {
    // signup THEN click? THEN view THEN NOT purchase: the per-event
    // skip decision (the optional-chain rules) inside the absence prefix must
    // reproduce the batch composite-pivot + anti-join rewrite on the
    // full fixture — ids including the None slot, ts vector, both arms.
    Tables.load(spark, sf)
    def optLong(v: Any): Option[Long] =
      Option(v).map(_.asInstanceOf[Long])
    def optTs(v: Any): Option[Long] =
      Option(v).map(t => us(t.asInstanceOf[Timestamp]))
    val batch = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click? THEN view THEN NOT purchase
         WITHIN '12' HOURS)
         PARTITION BY user_id""")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), optLong(r.get(2)),
        r.getLong(3), us(r.getTimestamp(4)), optTs(r.get(5)),
        us(r.getTimestamp(6)))).toSet
    assert(batch.exists(_._3.isEmpty) && batch.exists(_._3.nonEmpty),
      "fixture must exercise BOTH the skip and take arms")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"chain_abs_opt_${System.nanoTime}"
    val q = ChainEngine.detect(stream.toDS().withWatermark("ts", "0 seconds"),
        Steps.of("signup", "click", "view"), 12L * 3600 * 1000,
        Seq(false, true, false), absent = Some(_.event_type == "purchase"))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "signup", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter($"user_id" =!= -1L)
      .collect()
      .map { r =>
        val ids = r.getSeq[Any](1).map(optLong)
        val tss = r.getSeq[Any](2).map(optTs)
        (r.getLong(0), ids.head.get, ids(1), ids(2).get,
          tss.head.get, tss(1), tss(2).get)
      }.toSet
    assert(streamed === batch)
  }

  test("conditioned optional step in the absence prefix: replay == " +
    "batch (r8)") {
    // DEFINE-lite × optional × absence, all at once: only a click above
    // 40 counts as the optional match (a cheap click is invisible — the
    // pivot sees the view and skips), and only a purchase above 50
    // cancels. Conditions ride the same predicate dispatch as plain
    // chains, so this is a law, not new machinery — pinned anyway, the
    // combination being exactly where dispatch bugs would hide.
    Tables.load(spark, sf)
    def optLong(v: Any): Option[Long] =
      Option(v).map(_.asInstanceOf[Long])
    val batch = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click(value > 40)? THEN view
         THEN NOT purchase(value > 50) WITHIN '12' HOURS)
         PARTITION BY user_id""")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), optLong(r.get(2)),
        r.getLong(3))).toSet
    assert(batch.exists(_._3.isEmpty) && batch.exists(_._3.nonEmpty),
      "fixture must exercise BOTH arms under the condition")

    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"chain_abs_copt_${System.nanoTime}"
    val q = ChainEngine.detect(stream.toDS().withWatermark("ts", "0 seconds"),
        Seq((e: CepEvent) => e.event_type == "signup",
          (e: CepEvent) => e.event_type == "click" && e.value > 40,
          (e: CepEvent) => e.event_type == "view"),
        12L * 3600 * 1000, Seq(false, true, false),
        absent = Some(e => e.event_type == "purchase" && e.value > 50))
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    stream.addData(CepEvent(-1L,
      Timestamp.valueOf("2031-01-01 00:00:00"), -1L, "signup", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter($"user_id" =!= -1L)
      .collect()
      .map { r =>
        val ids = r.getSeq[Any](1).map(optLong)
        (r.getLong(0), ids.head.get, ids(1), ids(2).get)
      }.toSet
    assert(streamed === batch)
  }
}
