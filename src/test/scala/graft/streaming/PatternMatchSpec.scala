package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class PatternMatchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val eventsDs = Tables.table(spark, sf, "events")
    .select("event_id", "ts", "user_id", "event_type", "value")
    .as[CepEvent]

  private def runPattern(steps: Seq[String], withinMs: Long,
      chunks: Int): Set[(Long, Seq[Long])] = {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"pat_${System.nanoTime()}"
    val q = ChainEngine.detect(stream.toDS(), Steps.of(steps: _*), withinMs)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    data.grouped(math.max(1, data.length / chunks)).foreach { c =>
      stream.addData(c.toSeq); q.processAllAvailable()
    }
    q.stop()
    spark.table(name).select("user_id", "step_ids")
      .as[(Long, Seq[Long])].collect().toSet
  }

  test("2-step pattern reduces exactly to q_cep_seq") {
    val got = runPattern(Seq("signup", "purchase"), 30 * 60 * 1000L, 5)
    val want = graft.SparkEntry.queries("q_cep_seq")(spark, sf)
      .select(col("user_id"), array(col("sid"), col("pid")))
      .as[(Long, Seq[Long])].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("3-step streamed pattern == q_pattern_chain SQL text (r6)") {
    // three-way parity closes the loop: MATCH PATTERN text (oracle-gated
    // q_pattern_chain) == batch chained rank-1 joins == this stateful
    // streaming replay — same greedy-per-step, anchor-relative WITHIN
    val got = runPattern(Seq("signup", "click", "purchase"),
      24 * 3600 * 1000L, 5)
    val want = graft.SparkEntry.queries("q_pattern_chain")(spark, sf)
      .select(col("user_id"), array(col("id_1"), col("id_2"), col("id_3")))
      .as[(Long, Seq[Long])].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("predicate steps: signup followed by a HIGH-VALUE purchase") {
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[CepEvent]
    val name = s"pat_pred_${System.nanoTime()}"
    val q = ChainEngine.detect(stream.toDS(),
        Seq(e => e.event_type == "signup",
          e => e.event_type == "purchase" && e.value > 50.0),
        30 * 60 * 1000L)
      .writeStream.queryName(name).format("memory").outputMode("append")
      .start()
    val data = eventsDs.orderBy("ts", "event_id").collect()
    stream.addData(data.toSeq); q.processAllAvailable(); q.stop()
    val got = spark.table(name).select("user_id", "step_ids")
      .as[(Long, Seq[Long])].collect().toSet
    // subset of the unconditioned matches, and every matched purchase
    // really is high-value
    val all = runPattern(Seq("signup", "purchase"), 30 * 60 * 1000L, 1)
    assert(got.subsetOf(all))
    val values = eventsDs.collect().map(e => e.event_id -> e.value).toMap
    got.foreach { case (_, ids) => assert(values(ids(1)) > 50.0) }
    assert(got.nonEmpty && got.size < all.size,
      "the value filter must bind without emptying the result")
  }

  test("3-step pattern matches the batch greedy-first formulation") {
    val within = 4L * 3600 * 1000 // 4 hours
    val got = runPattern(Seq("signup", "click", "purchase"), within, 5)

    // batch oracle: first click after each signup (within window), then
    // first purchase after that click (same window from the signup)
    val e = Tables.table(spark, sf, "events")
    val s = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("sid"), col("user_id"),
        col("ts").as("s_ts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("u2"),
        col("ts").as("c_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("u3"),
        col("ts").as("p_ts"))
    val w1 = Window.partitionBy("sid").orderBy(asc("c_ts"), asc("cid"))
    val sc = s.join(c, col("user_id") === col("u2") &&
        col("c_ts") > col("s_ts") &&
        col("c_ts") <= col("s_ts") + expr("INTERVAL 4 HOURS"))
      .withColumn("rn", row_number().over(w1)).filter(col("rn") === 1)
      .select("sid", "user_id", "s_ts", "cid", "c_ts")
    val w2 = Window.partitionBy("sid").orderBy(asc("p_ts"), asc("pid"))
    val want = sc.join(p, col("user_id") === col("u3") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 4 HOURS"))
      .withColumn("rn", row_number().over(w2)).filter(col("rn") === 1)
      .select(col("user_id"), array(col("sid"), col("cid"), col("pid")))
      .as[(Long, Seq[Long])].collect().toSet
    assert(got == want)
    assert(got.nonEmpty, "expected at least one 3-step match at sf0.001")
  }
}
