package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.Tables
import graft.streaming._

/** Executable walk-through of the reference's core use-case on graft:
  * register a live stream, run several continuous queries over it
  * (windowed SQL, CEP sequence, CEP absence), manage them at runtime.
  *
  *   tools/run_class.sh graft.tools.CepExample [sfDir]
  */
object CepExample {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      // the production switch is spark.sql.extensions=graft.plans
      // .GraftExtensions on spark-submit; programmatic here
      .withExtensions(ext => new graft.plans.GraftExtensions()(ext))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    StreamingConf.applyTo(spark) // RocksDB state store
    import spark.implicits._
    implicit val sq = spark.sqlContext

    // 1. a "live" stream (replay of the events table), registered as a
    //    stream table — the reference's registerDStreamAsTable
    val stream = MemoryStream[CepEvent]
    stream.toDF().createOrReplaceTempView("live_events")

    // 2. continuous queries, submitted and named at runtime — the first
    //    as a reference-DIALECT SQL string (the injected parser rewrites
    //    OVER (WINDOW …) before Spark's parser sees it; submitSql is the
    //    reference's daemon verb: SQL text in, named cancellable query out)
    ContinuousQueries.submitSql(spark,
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2)
           AS sum_value
         FROM live_events OVER (WINDOW '3600' SECONDS)
         GROUP BY event_type""",
      "hourly_by_type")
    // CEP pattern TEXT on the live stream: a sequence and an absence
    ContinuousQueries.submitPattern(spark,
      """SELECT * FROM live_events
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "conversions")
    ContinuousQueries.submitPattern(spark,
      """SELECT * FROM live_events
         MATCH PATTERN (signup THEN NOT purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""", "abandonments")

    println("active: " + ContinuousQueries.list(spark).map(_.name)
      .sorted.mkString(", "))

    // 3. feed the stream in arrival order
    val replay = Tables.table(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[CepEvent].orderBy("ts", "event_id").collect()
    replay.grouped(250).foreach { chunk =>
      stream.addData(chunk.toSeq)
      ContinuousQueries.awaitAll(spark)
    }

    println(s"hourly windows: ${spark.table("hourly_by_type").count()}")
    println(s"signup→purchase conversions: ${spark.table("conversions").count()}")
    println(s"signups without a purchase (so far): " +
      s"${spark.table("abandonments").count()}")
    spark.table("conversions").orderBy("s_ts").show(5, truncate = false)

    // 4. runtime management: cancel one query, the others keep running
    ContinuousQueries.cancel(spark, "hourly_by_type")
    println("after cancel: " + ContinuousQueries.list(spark).map(_.name)
      .sorted.mkString(", "))
    ContinuousQueries.list(spark).foreach(_.stop())

    // 5. the same pattern as SQL TEXT (r6 dialect) over the full batch
    //    history — the injected parser rewrites MATCH PATTERN before
    //    Spark's parser sees it; results equal the streaming query's
    //    full-replay output
    Tables.load(spark, sf)
    val patSql = spark.sql(
      """SELECT * FROM events
         MATCH PATTERN (signup THEN purchase WITHIN '30' MINUTES)
         PARTITION BY user_id""")
    println(s"MATCH PATTERN (SQL text) conversions: ${patSql.count()}")

    // 6. the r6 dialect extensions, same TEXT surface: an N-step chain
    //    and a quantified run
    val chainSql = spark.sql(
      """SELECT * FROM events
         MATCH PATTERN (signup THEN click THEN purchase WITHIN '24' HOURS)
         PARTITION BY user_id""")
    println(s"MATCH PATTERN 3-step chains: ${chainSql.count()}")
    val runSql = spark.sql(
      """SELECT * FROM events
         MATCH PATTERN (click{3,} THEN purchase WITHIN '12' HOURS)
         PARTITION BY user_id""")
    println(s"MATCH PATTERN click{3,} completed runs: ${runSql.count()}")
    spark.stop()
  }
}
