package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder of a traced run.
  *
  * Everything is measured from outside the engine: a `SparkListener`
  * (jobs, stages, task metrics), a `QueryExecutionListener` (Catalyst
  * phase times per SQL execution), a `StreamingQueryListener` (micro-batch
  * progress, state-store metrics) and harness spans around calls into the
  * engine's public functions. Events count only while [[active]] is set, so
  * set-up and warm-up stay out of the per-layer numbers.
  *
  * Spans nest: a span's self time is its total time minus the time of the
  * spans opened inside it. Everything is kept in memory and written out by
  * the caller at exit.
  */
final class Trace(val cores: Int) {
  @volatile var active = false
  @volatile private var callbackNs = 0L

  // job intervals (ms) and per-stage task run times
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var stages = 0L
  var tasks = 0L
  val taskRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs += System.nanoTime() - t0
  }

  private def add(k: String, v: Double): Unit = sums(k) += v

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      if (active) jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      if (active) stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (active && m != null) {
        val info = e.taskInfo
        tasks += 1
        taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        add("task_ms", m.executorRunTime.toDouble)
        add("cpu_ns", m.executorCpuTime.toDouble)
        add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime).toDouble)
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("input_b", m.inputMetrics.bytesRead.toDouble)
        add("input_rows", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      if (active) {
        add("executions", 1)
        add("catalyst_ms", Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum.toDouble)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      if (active) progress += e.progress
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def callbackSeconds: Double = callbackNs / 1e9

  private var rule0 = (0.0, 0.0)
  var ruleDelta = (0.0, 0.0)
  private var gc0 = 0L
  var gcDeltaMs = 0L

  /** Open the measured window: events and spans count from here on. */
  def start(): Unit = {
    rule0 = Layers.graftRules()
    gc0 = Host.gcMillis()
    active = true
  }

  def stop(): Unit = {
    active = false
    val r = Layers.graftRules()
    ruleDelta = (r._1 - rule0._1, r._2 - rule0._2)
    gcDeltaMs = Host.gcMillis() - gc0
  }

  // ------------------------------------------------------------ spans
  final class Span(val name: String) { var total = 0L; var child = 0L; var n = 0L }
  val spans = mutable.LinkedHashMap.empty[String, Span]
  private val stack = mutable.Stack.empty[(Span, Long, Long)] // span, start, child time so far

  /** Time `body` as span `name`; a no-op wrapper when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = spans.getOrElseUpdate(name, new Span(name))
      stack.push((s, System.nanoTime(), 0L))
      try body
      finally {
        val (_, t0, childNs) = stack.pop()
        val dt = System.nanoTime() - t0
        s.total += dt; s.child += childNs; s.n += 1
        if (stack.nonEmpty) {
          val (p, pt0, pc) = stack.pop()
          stack.push((p, pt0, pc + dt))
        }
      }
    }

  def spanSeconds(name: String): Double = spans.get(name).map(_.total / 1e9).getOrElse(0.0)

  /** Wall time inside [t0, t1] (ms) with no job running. */
  def idleMs(t0: Long, t1: Long): Double = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0 - covered).toDouble
  }

  /** Worst stage's max ÷ median task run time (stages with >= 2 tasks). */
  def skewMax: Double = {
    val r = taskRunMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (r.isEmpty) 1.0 else r.max
  }

  def spansJson: Seq[Map[String, Any]] = spans.values.toSeq.map { s =>
    Map("name" -> s.name, "calls" -> s.n, "total_s" -> s.total / 1e9,
      "self_s" -> (s.total - s.child) / 1e9)
  }
}
