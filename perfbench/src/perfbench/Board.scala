package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{Caching, SparkEntry}
import graft.sources.GraftEventsBroker

/** The `board` workload: batch keys of `SparkEntry.queries` run one after
  * another with `graft.Bench`'s protocol (one warm-up run, then timed runs,
  * `Caching.releaseAll()` after every run) over a generated `events`
  * table. The warm-up run writes each key's output for the oracle check. */
object Board {
  /** Keys of the batch board that read only the `events` table, minus the
    * three costliest here (`q_join_overlap`, about 1 s per run and the
    * noisiest; `q_rfm` and `q_pattern_permute3`, over 2 s), so that the
    * warm-up and timed runs of every key fit one run. */
  val keys: Seq[String] = Seq(
    "q_window_tumbling", "q_window_sliding", "q_approx_global",
    "q_json_extract", "q_pattern_sql", "q_pattern_qabs", "q_pattern_qmeasure",
    "q_pattern_skip")
  /** Timed runs per key, at least. */
  val minRuns = 3

  val events = 30000
  val setupRepeats = 3

  /** Tables `graft.Tables.load` registers besides `events`. None of the
    * board keys reads them, so they are written as empty files. */
  private val unread = graft.Tables.names.filterNot(_ == "events")

  def run(spark: SparkSession, tr: Trace, seed: Long, seconds: Int,
      jvmStartMs: Long, work: java.nio.file.Path): Outcome = {
    val setupStart = System.currentTimeMillis()
    val dir = work.resolve("tables").toString
    val genMs = (1 to setupRepeats).map { rep => Stats.timed {
      tr.span(spark, "gen.table") {
        val g = new Gen(seed, events)
        val topic = s"board-$rep"
        GraftEventsBroker.clear(topic)
        GraftEventsBroker.append(topic,
          (0 until events).map(g.payload(_, withProps = true)): _*)
        spark.read.format("graft-events").option("topic", topic)
          .option("fields", Gen.tableFields).option("numPartitions", "1")
          .load()
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        GraftEventsBroker.clear(topic)
      }
    }._2 }
    unread.foreach(t => spark.range(0).write.mode("overwrite")
      .parquet(s"$dir/$t.parquet"))
    val tablesMs = System.currentTimeMillis() - setupStart

    val out = work.resolve("board_out")
    val oracles = SparkEntry.oracleSql.filter(kv => keys.contains(kv._1))
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.str(v) }))
    val messages = ArrayBuffer.empty[String]
    var attempted, failed = 0L
    val runs = keys.map(_ -> ArrayBuffer.empty[Double]).toMap
    val build = keys.map(_ -> ArrayBuffer.empty[Double]).toMap
    val exec = keys.map(_ -> ArrayBuffer.empty[Double]).toMap
    val share = seconds.toDouble / keys.size
    var warmMs = 0.0
    // key by key: one warm-up run that writes the output the oracle checks,
    // then timed runs for the key's share of --seconds, at least minRuns
    keys.foreach { k =>
      val fn = SparkEntry.queries(k)
      attempted += 1
      warmMs += Stats.timed {
        try tr.span(spark, "queries.warmup", s"key=$k")(fn(spark, dir)
          .coalesce(1).write.mode("overwrite").parquet(out.resolve(k).toString))
        catch { case e: Exception =>
          failed += 1
          messages += s"$k warm-up: $e"
        }
        Caching.releaseAll()
      }._2
      tr.openWindow()
      val k0 = System.nanoTime()
      var n = 0
      while (n < minRuns || (System.nanoTime() - k0) / 1e9 < share) {
        attempted += 1
        tr.span(spark, "queries.key", s"key=$k") {
          val a = System.nanoTime()
          try {
            val df = tr.span(spark, "queries.build", s"key=$k")(fn(spark, dir))
            val b = System.nanoTime()
            tr.span(spark, "queries.exec", s"key=$k")(df.count())
            val c = System.nanoTime()
            runs(k) += (c - a) / 1e6
            build(k) += (b - a) / 1e6
            exec(k) += (c - b) / 1e6
          } catch { case e: Exception =>
            failed += 1
            messages += s"$k timed run: $e"
          }
        }
        Caching.releaseAll()
        n += 1
      }
      tr.closeWindow()
      System.gc()
    }
    Log.phase("board keys done")

    val medians = keys.filter(k => runs(k).nonEmpty)
      .map(k => k -> Stats.median(runs(k)))
    val setupS = (setupStart - jvmStartMs + tablesMs - genMs.sum +
      Stats.median(genMs) + warmMs) / 1000.0
    Outcome(
      attempted = attempted, failed = failed,
      messages = messages.toSeq, setupS = setupS,
      // one latency sample per key: its median run
      samples = new Samples().addAll(medians.map(_._2)),
      // events-table rows one pass over the keys reads per second, at the
      // keys' median run times
      eventsPerS = events.toDouble * medians.size / (medians.map(_._2).sum / 1000.0),
      unitMediansMs = medians,
      layers = Seq(
        "queries.build_ms" -> keys.map(k => Stats.median(build(k))).sum,
        "queries.exec_ms" -> keys.map(k => Stats.median(exec(k))).sum),
      traceExtra = Seq(
        "keys" -> Json.obj(keys.map(k => k -> Json.obj(Seq(
          "median_ms" -> Json.num(Stats.median(runs(k))),
          "build_ms" -> Json.num(Stats.median(build(k))),
          "exec_ms" -> Json.num(Stats.median(exec(k))),
          "runs" -> runs(k).map(Json.num).mkString("[", ", ", "]")))))),
      boardOut = Some(out.toString))
  }
}
