package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `samples` are its latency samples (ms):
  * one per (event, query) on `cep`, one per key (its median run) on
  * `board`; `unitMediansMs` the median operation time per unit (board key
  * or continuous query); `layers` the per-layer values the workload
  * measures itself, besides the listener counters. */
final case class Outcome(attempted: Long, failed: Long, messages: Seq[String],
    setupS: Double, samples: Samples, eventsPerS: Double,
    unitMediansMs: Seq[(String, Double)], layers: Seq[(String, Double)],
    traceExtra: Seq[(String, String)], boardOut: Option[String] = None)

/** Latency samples (ms). */
final class Samples {
  private val values = ArrayBuffer.empty[Double]
  def add(v: Double): Unit = values += v
  def addAll(vs: Iterable[Double]): Samples = { values ++= vs; this }
  def count: Int = values.size
  /** Nearest-rank percentile, `p` in (0, 100]; NaN without samples. */
  def percentile(p: Double): Double =
    if (values.isEmpty) Double.NaN
    else values.sorted.apply(math.ceil(p / 100 * values.size).toInt.max(1) - 1)
}

/** Phase markers on stderr (the run's log), in seconds since JVM start. */
object Log {
  private val start = ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - start) / 1000.0}%8.2f s  $what")
}

object Stats {
  /** Run `body`; its result and wall time in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Benchmark entry point:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints one `PERFBENCH_RESULT {...}` line. */
object Main {
  /** A fixed CPU-only loop on every core at once, no Spark, in ms: a
    * host-noise canary that also shows other tenants taking cores. */
  def canaryMs(): Double = Stats.timed {
    val threads = (1 to Runtime.getRuntime.availableProcessors()).map { _ =>
      val t = new Thread(() => {
        var x = 1L
        var i = 0
        while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) println("")
      })
      t.start()
      t
    }
    threads.foreach(_.join())
  }._2

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    require(Set("cep", "board")(workload),
      s"unknown workload $workload")
    val canary0 = canaryMs()
    Log.phase(f"host canary $canary0%.1f ms")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log.phase("session ready")

    val tr = new Trace(traced, s"$workload-seed$seed")
    tr.install(spark)
    val o = workload match {
      case "cep" => Cep.run(spark, tr, seed, seconds, jvmStartMs)
      case "board" => Board.run(spark, tr, seed, seconds, jvmStartMs, work)
    }
    Log.phase("workload done")
    tr.settle()
    val canary1 = canaryMs()
    Log.phase(f"host canary $canary1%.1f ms")

    val medians = o.unitMediansMs.map(_._2).filter(_ > 0)
    val endToEnd = Seq(
      "setup_s" -> (o.setupS, "s"),
      "latency_p50_ms" -> (o.samples.percentile(50), "ms"),
      "latency_p99_ms" -> (o.samples.percentile(99), "ms"),
      "events_per_s" -> (o.eventsPerS, "1/s"),
      "total_s" -> (medians.sum / 1000.0, "s"),
      "geomean_ms" -> (math.exp(medians.map(math.log).sum / medians.size), "ms"))
    val c = tr.counter _
    val detSec = c("detectors.add_batch_ms") / 1000.0
    val own = o.layers.toMap
    def layer(name: String, unit: String): (String, (Double, String)) =
      name -> (own.getOrElse(name, c(name)), unit)
    val perLayer = Seq(
      layer("sources.offset_ms", "ms"), layer("sources.get_batch_ms", "ms"),
      layer("sources.input_rows", "count"),
      layer("cepsql.parse_ms", "ms"), layer("cepsql.translate_ms", "ms"),
      layer("service.submit_ms", "ms"),
      layer("stream.batches", "count"), layer("stream.trigger_ms", "ms"),
      layer("stream.planning_ms", "ms"), layer("stream.wal_ms", "ms"),
      layer("detectors.add_batch_ms", "ms"),
      "detectors.events_per_s" ->
        ((if (detSec > 0) c("detectors.input_rows") / detSec else 0.0), "1/s"),
      layer("detectors.output_rows", "count"),
      layer("state.rows", "count"), layer("state.bytes", "bytes"),
      layer("state.commit_ms", "ms"), layer("state.late_dropped_rows", "count"),
      layer("queries.build_ms", "ms"), layer("queries.exec_ms", "ms"),
      layer("catalyst.analysis_ms", "ms"), layer("catalyst.optimizer_ms", "ms"),
      layer("catalyst.planning_ms", "ms"),
      layer("exec.jobs", "count"), layer("exec.stages", "count"),
      layer("exec.tasks", "count"), layer("exec.task_run_ms", "ms"),
      layer("exec.gc_ms", "ms"), layer("exec.scan_bytes", "bytes"),
      layer("exec.shuffle_read_bytes", "bytes"),
      layer("exec.shuffle_write_bytes", "bytes"),
      layer("exec.spill_bytes", "bytes"),
      layer("gen.late_ms_max", "ms"),
      "host.canary_ms" -> ((canary0 + canary1) / 2, "ms"))

    def metricsJson(ms: Seq[(String, (Double, String))]) =
      Json.obj(ms.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val traceFile = work.getParent.resolve("traces")
      .resolve(s"$workload-seed$seed.json")
    tr.write(traceFile, Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "end_to_end" -> metricsJson(endToEnd),
      "per_layer" -> metricsJson(perLayer),
      "units" -> Json.obj(o.unitMediansMs.map { case (k, v) => k -> Json.num(v) }),
      "canary_ms" -> s"[${Json.num(canary0)}, ${Json.num(canary1)}]") ++
      o.traceExtra)

    val result = Seq(
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "messages" -> o.messages.map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> metricsJson(if (traced) perLayer else endToEnd),
      "samples" -> o.samples.count.toString,
      "canary_ms" -> s"[${Json.num(canary0)}, ${Json.num(canary1)}]",
      "board_out" -> o.boardOut.map(Json.str).getOrElse("null"),
      "trace_file" -> (if (traced) Json.str(traceFile.toString) else "null"))
    spark.stop()
    println("PERFBENCH_RESULT " + Json.obj(result))
  }
}
