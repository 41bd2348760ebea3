package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory layer trace. With `on = false` every call is a pass-through
  * and no listener is registered, so untraced runs pay nothing for it.
  *
  * Spans carry (name, start, end, parent, run id); times are epoch
  * milliseconds. The benchmark opens spans around its calls into each
  * layer; the listeners add spans for micro-batch phases and Spark tasks
  * and sum the counters. Counters only count inside the timed windows
  * ([[openWindow]] .. [[closeWindow]]). */
final class Trace(val on: Boolean, val runId: String) {
  import Trace.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  /** Timed intervals (start, end); the last one may still be open. */
  @volatile private var windows = Vector.empty[(Double, Double)]

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  def openWindow(): Unit = windows :+= ((nowMs, Double.MaxValue))
  def closeWindow(): Unit = windows = windows.init :+ ((windows.last._1, nowMs))
  private def inWindow(t: Double) = windows.exists { case (a, b) => t >= a && t <= b }

  def add(name: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(name, _ => new DoubleAdder()).add(v)
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  def record(name: String, start: Double, end: Double, parent: Long,
      attrs: String = ""): Long = {
    val id = ids.incrementAndGet()
    if (on) spans.add(Span(id, parent, name, start, end, attrs))
    id
  }

  /** Time `body` as a span named `name`, child of the enclosing span on
    * this thread. Spark jobs started inside it carry the span id. */
  def span[T](spark: SparkSession, name: String, attrs: String = "")(
      body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Trace.SpanKey)
      stack.set(id :: stack.get())
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, t0, nowMs, attrs))
        stack.set(stack.get().tail)
        sc.setLocalProperty(Trace.SpanKey, prevProp)
      }
    }

  // ---- listeners (registered only when tracing) ----

  private val jobParent = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** (query id, batch id) -> trigger span id, filled from progress. */
  private val triggerSpan = new ConcurrentHashMap[String, Long]()
  private val pendingTasks = new ConcurrentLinkedQueue[(String, Span)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(Trace.SpanKey)))
        .map("s:" + _).orElse(for {
          x <- p
          q <- Option(x.getProperty("sql.streaming.queryId"))
          b <- Option(x.getProperty("streaming.sql.batchId"))
        } yield s"q:$q:$b").getOrElse("s:0")
      jobParent.put(e.jobId, parent)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      if (inWindow(e.time.toDouble)) add("exec.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.completionTime.exists(t => inWindow(t.toDouble)))
        add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val parent = Option(stageJob.get(e.stageId))
        .flatMap(j => Option(jobParent.get(j))).getOrElse("s:0")
      pendingTasks.add(parent -> Span(0L, 0L, "exec.task",
        info.launchTime.toDouble, info.finishTime.toDouble,
        s"stage=${e.stageId}"))
      if (inWindow(info.finishTime.toDouble) && e.taskMetrics != null) {
        val m = e.taskMetrics
        add("exec.tasks", 1)
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        add("exec.shuffle_read_bytes",
          m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.shuffle_write_bytes",
          m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.spill_bytes",
          (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val t = nowMs
      if (inWindow(t)) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        add("catalyst.analysis_ms", ms("analysis"))
        add("catalyst.optimizer_ms", ms("optimization"))
        add("catalyst.planning_ms", ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Names of the queries whose progress feeds the `detectors` layer. */
  @volatile var detectorQueries: Set[String] = Set.empty

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      def ms(k: String) = d.getOrElse(k, 0L).toDouble
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + ms("triggerExecution")
      val name = Option(p.name).getOrElse("")
      val tid = record("stream.trigger", start, end, 0L,
        s"query=$name batch=${p.batchId} rows=${p.numInputRows}")
      triggerSpan.put(s"q:${p.id}:${p.batchId}", tid)
      // phases run in this order inside a trigger; lay them end to end
      var t = start
      for ((phase, span) <- Seq("latestOffset" -> "sources.offset",
          "walCommit" -> "stream.wal", "getBatch" -> "sources.get_batch",
          "queryPlanning" -> "stream.planning",
          "addBatch" -> (if (detectorQueries(name)) "detectors.add_batch"
                         else "stream.add_batch"),
          "commitOffsets" -> "stream.wal") if ms(phase) > 0) {
        record(span, t, t + ms(phase), tid)
        t += ms(phase)
      }
      if (inWindow(start) && p.numInputRows > 0) {
        add("stream.batches", 1)
        add("stream.trigger_ms", ms("triggerExecution"))
        add("stream.planning_ms", ms("queryPlanning"))
        add("stream.wal_ms", ms("walCommit") + ms("commitOffsets"))
        add("sources.offset_ms", ms("latestOffset"))
        add("sources.get_batch_ms", ms("getBatch"))
        add("sources.input_rows", p.numInputRows.toDouble)
        if (detectorQueries(name)) {
          add("detectors.add_batch_ms", ms("addBatch"))
          add("detectors.input_rows", p.numInputRows.toDouble)
          add("detectors.output_rows",
            math.max(0L, p.sink.numOutputRows).toDouble)
        }
        p.stateOperators.foreach { s =>
          add("state.commit_ms", s.commitTimeMs.toDouble)
          add("state.late_dropped_rows", s.numRowsDroppedByWatermark.toDouble)
        }
      }
    }
  }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Give the asynchronous listener buses time to deliver the events of
    * the timed window. */
  def settle(): Unit = if (on) Thread.sleep(1500)

  /** Write spans, counters and `extra` (name -> JSON value) to `path`. */
  def write(path: java.nio.file.Path, extra: Seq[(String, String)])
      : Unit = if (on) {
    val resolve = (key: String) =>
      if (key.startsWith("s:")) key.drop(2).toLong
      else Option(triggerSpan.get(key)).map(_.longValue()).getOrElse(0L)
    pendingTasks.asScala.foreach { case (parentKey, s) =>
      record(s.name, s.start, s.end, resolve(parentKey), s.attrs)
    }
    val sb = new StringBuilder
    sb.append(s"""{"run": ${Json.str(runId)}, "spans": [""")
    var first = true
    spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      if (!first) sb.append(",")
      first = false
      sb.append(s"""\n{"id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": ${Json.str(s.name)}, "start": ${Json.num(s.start)}, """ +
        s""""end": ${Json.num(s.end)}, "run": ${Json.str(runId)}, """ +
        s""""attrs": ${Json.str(s.attrs)}}""")
    }
    sb.append("],\n\"counters\": {")
    sb.append(counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${Json.num(v.sum())}""" }.mkString(", "))
    sb.append("},\n")
    sb.append(extra.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(",\n"))
    sb.append("}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, start: Double,
      end: Double, attrs: String)
}

/** Minimal JSON rendering for numbers and flat objects. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
