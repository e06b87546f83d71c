package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands back to [[Main]]. `ops` are the timed units
  * (a job, a query, a micro-batch); `segments` are per-segment wall totals
  * (one per pass or micro-batch) so a drifting run shows it in its own
  * output. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    metrics: Map[String, (Double, String)],
    setupRepeats: Seq[Double],
    warmupS: Double,
    window: (Long, Long),
    segments: Seq[Double],
    layer: Map[String, (Double, String)] = Map.empty,
    failures: Seq[String] = Seq.empty,
    extra: Map[String, Any] = Map.empty)

/** Run context: parsed arguments, the session and the optional trace. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    trace: Option[Trace],
    data: String,
    work: String,
    corrupt: Boolean,
    params: Map[String, String]) {
  def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))

  /** Run the measured part of a workload; returns its wall window (ms). */
  def measure(body: => Unit): (Long, Long) = {
    trace.foreach(_.start())
    val t0 = System.currentTimeMillis()
    try body finally trace.foreach(_.stop())
    (t0, System.currentTimeMillis())
  }
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble
}

/** Benchmark JVM entry point. Arguments are `key=value` pairs written by
  * `run.py`: workload, seed, seconds, trace (0/1), data (input dir), work
  * (scratch dir), out (result file), cores, and workload sizes. Prints
  * nothing on success; the result goes to `out` as one JSON object. */
object Main {
  def main(args: Array[String]): Unit = {
    val p = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = p.getOrElse("cores", "4").toInt
    val work = p("work")
    val spark = graft.Engine.configure(
        SparkSession.builder().master(s"local[$cores]")
          .config("spark.local.dir", s"$work/spark-local")
          .config("spark.sql.warehouse.dir", s"$work/warehouse")
          .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
          .config("spark.sql.streaming.numRecentProgressUpdates", "1000"),
        shufflePartitions = cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = if (p("trace") == "1") Some(new Trace(cores)) else None
    trace.foreach(_.register(spark))
    val ctx = Ctx(spark, p("seed").toLong, p("seconds").toDouble, trace,
      p("data"), work, p.get("corrupt").contains("1"), p)
    val steal0 = Host.cpuTicks()
    val out = try {
      p("workload") match {
        case "mining" => ClosedLoop.mining(ctx)
        case "short-queries" => ClosedLoop.shortQueries(ctx)
        case "stream-ingest" => StreamIngest.run(ctx)
        case "keyed-state" => KeyedState.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally trace.foreach(_.unregister(spark))
    val steal1 = Host.cpuTicks()
    val heapMb = Host.retainedOldGenMb()
    val layer = trace.fold(Map.empty[String, (Double, String)]) { t =>
      Layers.common(t, out, cores) ++
        Kernels.bench(ctx) ++ out.layer
    }
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val json = Json.write(Map(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metricsJson(out.metrics + ("heap_retained_mb" -> (heapMb, "MB"))),
      "layer" -> metricsJson(layer),
      "setup" -> Map(
        "jvm_to_session_s" -> (sessionReadyMs - jvmStartMs) / 1e3,
        "repeats_s" -> out.setupRepeats,
        "warmup_s" -> out.warmupS,
        "jvm_start_ms" -> jvmStartMs),
      "segments" -> out.segments,
      "failures" -> out.failures,
      "host" -> Map(
        "steal_s" -> (steal1.steal - steal0.steal) / Host.ticksPerSecond,
        "busy_share" -> steal1.busyShareSince(steal0),
        "steal_share" -> steal1.stealShareSince(steal0),
        "loadavg" -> Host.loadAvg()),
      "spans" -> trace.fold(Seq.empty[Map[String, Any]])(_.spansJson),
      "provenance" -> Map(
        "spark_version" -> spark.version,
        "jvm" -> System.getProperty("java.vm.version"),
        "master" -> spark.sparkContext.master,
        "spark_conf" -> conf.toMap),
      "extra" -> out.extra))
    java.nio.file.Files.write(java.nio.file.Paths.get(p("out")),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  private def metricsJson(m: Map[String, (Double, String)]): Map[String, Any] =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
}

/** Host-level noise signals and JVM memory readings. */
object Host {
  final case class Ticks(total: Double, idle: Double, steal: Double) {
    def busyShareSince(o: Ticks): Double = {
      val dt = total - o.total
      if (dt <= 0) 0.0 else 1.0 - (idle - o.idle) / dt
    }
    def stealShareSince(o: Ticks): Double = {
      val dt = total - o.total
      if (dt <= 0) 0.0 else (steal - o.steal) / dt
    }
  }
  val ticksPerSecond = 100.0

  /** Aggregate cpu line of /proc/stat (zeros where it is unreadable). */
  def cpuTicks(): Ticks =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().split("\\s+").drop(1).map(_.toDouble)
        Ticks(v.sum, v(3) + v.lift(4).getOrElse(0.0), v.lift(7).getOrElse(0.0))
      } finally f.close()
    } catch { case _: Exception => Ticks(0, 0, 0) }

  def loadAvg(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.getLines().next().split(" ")(0).toDouble finally f.close()
    } catch { case _: Exception => 0.0 }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Old-generation use right after a full collection. Collected three
    * times, with pauses, so objects whose release waits on a collection
    * (Spark's context cleaner works off weak references) are gone too. */
  def retainedOldGenMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    old.map(_.getUsage.getUsed).sum / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** `body`'s result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
