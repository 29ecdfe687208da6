package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters recorded against one span. */
final class Counters {
  var jobs, stages, tasks, failedTasks, stageRetries = 0L
  var runMs, cpuNs, gcMs, deserMs = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, fetchWaitMs = 0L
  var spillMemory, spillDisk = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; stageRetries += o.stageRetries
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; deserMs += o.deserMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillMemory += o.spillMemory; spillDisk += o.spillDisk
  }
}

/** Spans around the benchmark's calls into the engine, plus the three
  * listeners that record Spark's own counters against them.
  *
  * A span sets the local properties `perfbench.span` (its name) and
  * `perfbench.op` (the op it belongs to) on the calling thread; jobs started
  * inside it, including those of streaming queries it starts, carry both.
  * The listeners record only tagged events, and tags are set only while
  * tracing is on, so untraced work is never counted. Every read of the
  * counters first drains the listener bus.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object
  private var on = false
  private var opSeq = 0L

  /** Per span name: counters, wall seconds (inclusive) and call count. */
  val counters = mutable.Map.empty[String, Counters]
  val spanSecs = mutable.LinkedHashMap.empty[String, Double]
  val spanCalls = mutable.Map.empty[String, Long]

  // driver-side query planning (QueryExecutionListener)
  var executions = 0L
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  // streaming progress per layer and duration key, summed over batches
  val streamMs = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
  var stateRows, stateBytes = 0L

  // jobs per op: (start ms, end ms); an op's driver-only time is its wall
  // time minus the union of these intervals
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  private val opJobs = mutable.Map.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
  private val stageSpan = mutable.Map.empty[Int, String]

  var tracedOps = 0L
  var noJobSecs = 0.0
  // generated classes compiled (codegen cache misses), driver and tasks
  var codegenCompiles = 0L

  private def c(span: String): Counters = counters.getOrElseUpdate(span, new Counters)

  private object spark_ extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(SpanKey))).foreach { s =>
        c(s).jobs += 1
        val op = p.flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)
        jobStart(e.jobId) = (op, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (op, t0) =>
        opJobs.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ((t0, e.time))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      Option(e.properties).flatMap(x => Option(x.getProperty(SpanKey))).foreach { s =>
        stageSpan(e.stageInfo.stageId) = s
        c(s).stages += 1
        if (e.stageInfo.attemptNumber() > 0) c(s).stageRetries += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val k = c(s)
        k.tasks += 1
        if (e.reason != Success) k.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          k.runMs += m.executorRunTime; k.cpuNs += m.executorCpuTime
          k.gcMs += m.jvmGCTime; k.deserMs += m.executorDeserializeTime
          k.inputBytes += m.inputMetrics.bytesRead; k.inputRecords += m.inputMetrics.recordsRead
          k.outputBytes += m.outputMetrics.bytesWritten
          k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          k.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          k.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          k.spillMemory += m.memoryBytesSpilled; k.spillDisk += m.diskBytesSpilled
        }
      }
    }
  }

  private object qe extends QueryExecutionListener {
    override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        if (on) {
          executions += 1
          q.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
        }
      }
    override def onFailure(funcName: String, q: QueryExecution, e: Exception): Unit = ()
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        if (on) {
          val p = e.progress
          val layer = streamLayer(p.sink.description)
          p.durationMs.asScala.foreach { case (k, v) => streamMs((layer, k)) += v.longValue }
          if (layer == "silver") p.stateOperators.headOption.foreach { s =>
            stateRows = math.max(stateRows, s.numRowsTotal)
            stateBytes = math.max(stateBytes, s.memoryUsedBytes)
          }
        }
      }
  }

  /** Registers the three listeners; counting starts with [[start]]. */
  def install(): Unit = {
    sc.addSparkListener(spark_)
    spark.listenerManager.register(qe)
    spark.streams.addListener(streams)
  }

  def start(): Unit = { PerfbenchBus.drain(sc); lock.synchronized { on = true } }
  def stop(): Unit = { PerfbenchBus.drain(sc); lock.synchronized { on = false } }
  def tracing: Boolean = on

  /** Runs `f` as one op: a top-level span whose driver-only time is
    * recorded. Returns the op's wall seconds, which are measured the same
    * way whether tracing is on or off.
    */
  def op(name: String)(f: => Unit): Double = {
    opSeq += 1
    val id = opSeq
    val t0Ms = System.currentTimeMillis()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    if (on) sc.setLocalProperty(OpKey, id.toString)
    try span(name)(f)
    finally sc.setLocalProperty(OpKey, null)
    val secs = (System.nanoTime() - t0) / 1e9
    if (on) {
      PerfbenchBus.drain(sc)
      lock.synchronized {
        tracedOps += 1
        codegenCompiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val t1Ms = t0Ms + math.round(secs * 1000)
        val busy = union(opJobs.remove(id).getOrElse(Nil).toSeq, t0Ms, t1Ms)
        noJobSecs += math.max(0.0, secs - busy / 1000.0)
      }
    }
    secs
  }

  /** Runs `f` inside a named span; jobs it starts are tagged with `name`. */
  def span[T](name: String)(f: => T): T = {
    if (!on) f
    else {
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      val t0 = System.nanoTime()
      try f
      finally {
        val dt = (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(SpanKey, prev)
        spanSecs(name) = spanSecs.getOrElse(name, 0.0) + dt
        spanCalls(name) = spanCalls.getOrElse(name, 0L) + 1
      }
    }
  }

  /** Sum of counters over every span. */
  def total: Counters = lock.synchronized {
    val t = new Counters
    counters.values.foreach(t += _)
    t
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"

  /** Medallion layer a streaming query writes, from its sink description. */
  def streamLayer(sink: String): String =
    if (sink.contains("/bronze]") || sink.endsWith("/bronze")) "bronze"
    else if (sink.contains("/silver]") || sink.endsWith("/silver")) "silver"
    else if (sink.contains("ForeachBatch")) "gold"
    else "other"

  /** Length in ms of the union of `intervals`, clipped to [lo, hi]. */
  def union(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }
}
