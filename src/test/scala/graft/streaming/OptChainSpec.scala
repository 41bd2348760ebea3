package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{SparkSpec, Tables}

/** Streaming optional-step chains must reproduce the batch
  * composite-pivot rewrite exactly on replay. The skip decision is
  * per-event (the successor's class claims the event when the optional
  * class does not), so no end-of-data flush is needed — matches complete
  * on their closing event, like plain chains. */
class OptChainSpec extends SparkSpec {
  import spark.implicits._

  private def us(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  private lazy val eventsDs: Dataset[CepEvent] =
    Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[CepEvent]

  private def replay(steps: Seq[CepEvent => Boolean],
      optional: Seq[Boolean], withinMs: Long)
      : Set[(Long, Seq[Option[Long]], Seq[Option[Long]])] = {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"optchain_${System.nanoTime}"
    val q = ChainEngine.detect(stream.toDS(), steps, withinMs, optional)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(250).foreach { c =>
      stream.addData(c.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    spark.table(name).collect().map { r =>
      (r.getLong(0), r.getSeq[Any](1).map(Option(_).map(_ match {
        case l: Long => l
      })), r.getSeq[Any](2).map(Option(_).map(_ match {
        case t: Timestamp => us(t)
      })))
    }.toSet
  }

  test("optional mid-chain step: replay == batch rewrite (r7)") {
    Tables.load(spark, sf)
    val batch = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click? THEN purchase WITHIN '12' HOURS)
         PARTITION BY user_id""")
      .collect()
      .map { r =>
        def optLong(i: Int) =
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        def optTs(i: Int) =
          if (r.isNullAt(i)) None else Some(us(r.getTimestamp(i)))
        (r.getLong(0), Seq(optLong(1), optLong(2), optLong(3)),
          Seq(optTs(4), optTs(5), optTs(6)))
      }.toSet
    assert(batch.nonEmpty, "fixture must exercise the optional chain")
    assert(batch.exists(_._2(1).isEmpty), "skip branch must occur")
    assert(batch.exists(_._2(1).isDefined), "take branch must occur")
    val streamed = replay(
      Seq(_.event_type == "signup", _.event_type == "click",
        _.event_type == "purchase"),
      Seq(false, true, false),
      12L * 3600 * 1000)
    assert(streamed === batch)
  }

  test("4-step chain with an optional 3rd step: replay == batch (r7)") {
    Tables.load(spark, sf)
    val batch = CepSql.sql(spark,
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click THEN view? THEN purchase
                        WITHIN '24' HOURS)
         PARTITION BY user_id""")
      .collect()
      .map { r =>
        def optLong(i: Int) =
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getLong(0),
          Seq(optLong(1), optLong(2), optLong(3), optLong(4)))
      }.toSet
    assert(batch.nonEmpty)
    val streamed = replay(
      Seq(_.event_type == "signup", _.event_type == "click",
        _.event_type == "view", _.event_type == "purchase"),
      Seq(false, false, true, false),
      24L * 3600 * 1000).map { case (u, ids, _) => (u, ids) }
    assert(streamed === batch)
  }
}
