package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.streaming._

/** Dev probe: replay throughput of the quantified and skip-past CEP
  * detectors — SkipDetector (greedy non-overlap) and RunChainDetector's
  * chain, measure, lazy and numbered modes — same method as
  * StreamThroughputProbe: one warm micro-batch, then the timed remainder
  * of the sf0.1 events replay. Numbers land in VERIFICATION.md. The
  * unquantified chains (ChainEngine) are measured by perfbench's
  * `detectors.*` layer instead. */
object DetectorThroughputProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chunks = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val data = Tables.table(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[CepEvent].orderBy("ts", "event_id").collect()

    def run(tag: String, op: org.apache.spark.sql.Dataset[CepEvent]
        => DataFrame): Unit = {
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[CepEvent]
      val q = op(stream.toDS()).writeStream
        .queryName(s"tp_$tag").format("memory").outputMode("append").start()
      val groups = data.grouped(math.max(1, data.length / chunks)).toSeq
      stream.addData(groups.head.toSeq); q.processAllAvailable()
      val n = groups.tail.map(_.length).sum
      val t0 = System.nanoTime()
      groups.tail.foreach { c => stream.addData(c.toSeq)
        q.processAllAvailable() }
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = spark.table(s"tp_$tag").count()
      q.stop()
      println(f"$tag%-12s events=$n batches=${groups.length - 1} " +
        f"wall=$secs%5.2fs rate=${n / secs}%6.0f ev/s matches=$rows")
    }

    run("skip", ds => SkipDetector.detect(ds,
      Seq(Set("signup"), Set("purchase")), 30L * 60 * 1000,
      Some("0 seconds")))
    run("runchain", ds => RunChainDetector.detect(ds,
      Seq((Set("signup"), None), (Set("click"), Some(2)),
        (Set("purchase"), None)), 24L * 3600 * 1000).toDF())
    // r8 detectors
    run("qmeasure", ds => RunChainDetector.detectMeasures(ds,
      Seq(((e: CepEvent) => e.event_type == "click", Some(2)),
        ((e: CepEvent) => e.event_type == "purchase", None)),
      2L * 3600 * 1000, Seq(None, None),
      Seq(graft.streaming.CepSql.SpanAgg("SUM", "value", "sv"),
        graft.streaming.CepSql.SpanAgg("COUNT", "*", "cn"))).toDF())
    run("lazychain", ds => RunChainDetector.detectWhere(ds,
      Seq(((e: CepEvent) => e.event_type == "signup", None),
        ((e: CepEvent) => e.event_type == "click", Some(2)),
        ((e: CepEvent) => e.event_type == "purchase", None)),
      24L * 3600 * 1000, Seq(None, None, None),
      Seq(false, true, false)).toDF())
    run("lazymeas", ds => RunChainDetector.detectMeasures(ds,
      Seq(((e: CepEvent) => e.event_type == "click", Some(2)),
        ((e: CepEvent) => e.event_type == "purchase", None)),
      2L * 3600 * 1000, Seq(None, None),
      Seq(graft.streaming.CepSql.SpanAgg("SUM", "value", "sv"),
        graft.streaming.CepSql.SpanAgg("COUNT", "*", "cn")),
      Seq(true, false)).toDF())
    // r9 modes: numbered release, ts boundary slots, class-ref capture
    run("qmeasnum", ds => RunChainDetector.detectMeasures(
      ds.withWatermark("ts", "0 seconds").as[CepEvent],
      Seq(((e: CepEvent) => e.event_type == "click", Some(2)),
        ((e: CepEvent) => e.event_type == "purchase", None)),
      2L * 3600 * 1000, Seq(None, None),
      Seq(graft.streaming.CepSql.SpanAgg("COUNT", "*", "cn"),
        graft.streaming.CepSql.MatchNum("mno"))).toDF())
    run("tsbound", ds => RunChainDetector.detectMeasures(ds,
      Seq(((e: CepEvent) => e.event_type == "click", Some(2)),
        ((e: CepEvent) => e.event_type == "purchase", None)),
      2L * 3600 * 1000, Seq(None, None),
      Seq(graft.streaming.CepSql.BoundRef("FIRST", "click", "ts", 1,
          "t0"),
        graft.streaming.CepSql.BoundRef("LAST", "click", "ts", 1, "t1"),
        graft.streaming.CepSql.SpanAgg("COUNT", "*", "cn"))).toDF())
    run("classref", ds => RunChainDetector.detectMeasures(ds,
      Seq(((e: CepEvent) => e.event_type == "signup", None),
        ((e: CepEvent) => e.event_type == "click", Some(2)),
        ((e: CepEvent) => e.event_type == "purchase", None)),
      24L * 3600 * 1000, Seq(None, None, None),
      Seq(graft.streaming.CepSql.ClassRef("signup", "value", 1, "sv"),
        graft.streaming.CepSql.ClassRef("purchase", "event_id", 3,
          "pid"),
        graft.streaming.CepSql.SpanAgg("COUNT", "*", "cn"))).toDF())
    // r11: shared-island overlap detector (every event is scanned —
    // no type pruning — and every click anchors, so this is the
    // detector's WORST per-event constant)
    run("overlap", ds => OverlapRunDetector.detectWhere(ds,
      (e: CepEvent) => e.event_type == "click",
      (e: CepEvent) => e.event_type == "click" ||
        e.event_type == "view",
      2, None, 48L * 3600 * 1000, Some("0 seconds")).toDF())
    spark.stop()
  }
}
