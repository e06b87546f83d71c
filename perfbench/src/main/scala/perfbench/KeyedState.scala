package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Sources
import graft.streaming.KeepLatest

/** One generated event: `seq` is the rate source's counter, `k` a key drawn
  * from a seeded skewed distribution, `v` a seeded payload. */
final case class Ev(ts: java.sql.Timestamp, seq: Long, k: Long, v: Long)

/** `keyed-state`: the flagship composition of the streaming suite,
  * `KeepLatest` → stream-static enrich → update sink, fed by the rate
  * source (`Sources.dataGenRate`), which stamps every event with its due
  * time.
  *
  * The measured part has two phases, 3/4 and 1/4 of `--seconds`:
  *  - latency: the rate source at a fixed offered rate below capacity, after
  *    three warm-up micro-batches; an
  *    event's latency runs from its due time to the commit of the
  *    micro-batch that processed it. The per-batch due-time range and count
  *    come from an observation on the input (`Dataset.observe`); the rate
  *    source spaces due times evenly, so every event's latency follows;
  *  - capacity: the same pipeline over the `rate-micro-batch` source, which
  *    offers a full batch on every trigger; capacity is rows per second of
  *    batch time over twelve batches, the first two (cold) batches left out.
  *
  * Check: the final per-key state (the latest emission per key) must equal
  * `Dedup.keepLatest` over the same events, enriched the same way — the law
  * the streaming suite pins for this composition.
  */
object KeyedState {
  /** Backlog batches measured per run, after two cold ones. */
  private val CapacityBatches = 12

  /** Event fields derived from the source counter; skew: key = K * u^3. */
  def fields(seed: Long, keys: Int): Seq[(String, Column => Column)] = Seq(
    "seq" -> ((c: Column) => c),
    "k" -> ((c: Column) => floor(pow(pmod(xxhash64(c, lit(seed)), lit(1L << 30)) / lit((1L << 30).toDouble), 3)
      * lit(keys)).cast("long")),
    "v" -> ((c: Column) => pmod(xxhash64(c, lit(seed + 1)), lit(1000L))))

  private def pipeline(src: DataFrame, dim: DataFrame): DataFrame = {
    import src.sparkSession.implicits._
    val ds = src.withWatermark("ts", "10 seconds")
      .observe("ev", min(col("ts")).as("t_min"), max(col("ts")).as("t_max"), count(lit(1)).as("n"))
      .as[Ev]
    val latest = KeepLatest[Long, Ev](ds, _.k, (a, b) => a.seq > b.seq).toDF()
    latest.join(broadcast(dim), latest("k") === dim("dim_k"), "left_outer")
      .select(col("k"), col("seq"), col("v"), col("ts"), col("label"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val keys = ctx.int("keys")
    val rps = ctx.int("rows_per_s")
    val rowsPerBatch = ctx.int("rows_per_batch")
    val fs = fields(ctx.seed, keys)
    var dim: DataFrame = null
    var sinkN = 0
    def sink(df: DataFrame): (StreamingQuery, String) = {
      sinkN += 1
      val name = s"keyed_state_$sinkN"
      (graft.sinks.Sinks.memorySink(df, name, update = true), name)
    }
    def backlogSource(): DataFrame = {
      val base = spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch).option("numPartitions", ctx.int("cores")).load()
      base.select(col("timestamp").as("ts") +: fs.map { case (n, f) => f(col("value")).as(n) }: _*)
    }
    /** Wait until `q` has run `n` micro-batches with input triggered at or
      * after `sinceMs`. */
    def runBatches(q: StreamingQuery, n: Int, sinceMs: Long = 0L): Unit = {
      val limit = System.nanoTime() + 60000000000L
      while (Progress.withInput(q).count(p =>
          java.time.Instant.parse(p.timestamp).toEpochMilli >= sinceMs) < n) {
        q.exception.foreach(e => throw e)
        require(System.nanoTime() < limit, s"no $n micro-batches within 60 s")
        Thread.sleep(20)
      }
    }

    // set-up step (repeated; the median is reported): build the static
    // dimension and push one micro-batch through the whole pipeline
    val repeats = (1 to 3).map { _ =>
      Stats.timed {
        dim = graft.Engine.truncate(spark.range(keys).select(col("id").as("dim_k"),
          concat(lit("label-"), col("id").cast("string")).as("label")))
        val (q, _) = sink(pipeline(backlogSource(), dim))
        try runBatches(q, 1) finally q.stop()
      }._2
    }

    // warm-up: the live query runs a few seconds before measuring starts;
    // only batches triggered inside the measured window count
    val latencyS = ctx.seconds * 0.75
    val (live, liveName) = sink(pipeline(Sources.dataGenRate(spark, rps, fs), dim))
    val (_, warmupS) = Stats.timed(runBatches(live, 3))
    var capacity: StreamingQuery = null
    val window = ctx.measure {
      val t0 = System.currentTimeMillis()
      Thread.sleep((latencyS * 1000).toLong)
      runBatches(live, 2, t0)
      live.stop()
      val (q, _) = sink(pipeline(backlogSource(), dim))
      capacity = q
      Thread.sleep(((ctx.seconds - latencyS) * 1000).toLong)
      runBatches(q, CapacityBatches + 2)
      q.stop()
    }
    Seq(live, capacity).flatMap(_.exception).foreach(e => throw e)
    val liveBatches = Progress.withInput(live)
      .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= window._1)
    val capBatches = Progress.withInput(capacity).slice(2, CapacityBatches + 2) // the first two start cold

    // latency: every event of a batch, due times evenly spaced in [t_min, t_max]
    val latencies = mutable.ArrayBuffer.empty[Double]
    liveBatches.foreach { p =>
      Option(p.observedMetrics.get("ev")).filter(_.getLong(2) > 0).foreach { r =>
        val (lo, hi, n) = (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getLong(2))
        val commit = Progress.commitMs(p)
        (0L until n).foreach { j =>
          val due = if (n == 1) lo.toDouble else lo + (hi - lo) * j.toDouble / (n - 1)
          latencies += (commit - due) / 1e3
        }
      }
    }

    // correctness: final state per key == batch keepLatest over the same events
    val emitted = spark.table(liveName).select("k", "seq", "v", "label").collect()
    val streamed0 = emitted.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.maxBy(_.getLong(1)) }
    val streamed = if (ctx.corrupt && streamed0.nonEmpty) streamed0 - streamed0.keys.max else streamed0
    val maxSeq = if (emitted.isEmpty) -1L else emitted.map(_.getLong(1)).max
    val events = spark.range(0, maxSeq + 1).select(fs.map { case (n, f) => f(col("id")).as(n) }: _*)
    val d = graft.operators.Dedup.keepLatest(events, Seq("k"), Seq(col("seq")))
    val twin = d.join(broadcast(dim), d("k") === dim("dim_k"), "left_outer")
      .select("k", "seq", "v", "label").collect().map(r => r.getLong(0) -> r).toMap
    val badKeys = (twin.keySet ++ streamed.keySet).filter(k =>
      streamed.get(k).map(_.toSeq) != twin.get(k).map(_.toSeq))
    val failures = badKeys.toSeq.sorted.take(5).map(k => s"key $k: streamed state ${streamed.get(k)} != batch ${twin.get(k)}")

    def qt(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p)
    val liveDur = liveBatches.map(Progress.ms(_, "triggerExecution") / 1e3)
    val capDur = capBatches.map(Progress.ms(_, "triggerExecution") / 1e3)
    val metrics = Map(
      "job_s_p50" -> (qt(capDur, 0.5), "s"),
      "query_s_p50" -> (qt(liveDur, 0.5), "s"),
      "query_s_p90" -> (qt(liveDur, 0.9), "s"),
      "latency_s_p50" -> (qt(latencies.toSeq, 0.5), "s"),
      "latency_s_p99" -> (qt(latencies.toSeq, 0.99), "s"),
      "rows_per_s" -> (capBatches.map(_.numInputRows).sum / math.max(1e-3, capDur.sum), "rows/s"))
    val layer = if (ctx.trace.isEmpty) Map.empty[String, (Double, String)] else {
      val ps = liveBatches ++ capBatches
      val state = ps.flatMap(_.stateOperators.headOption)
      val lagS = liveBatches.flatMap { p =>
        Option(p.eventTime.get("watermark")).map(w =>
          (java.time.Instant.parse(p.timestamp).toEpochMilli - java.time.Instant.parse(w).toEpochMilli) / 1e3)
      }
 Progress.layer(ps) ++ Map(
        "streaming.backlog_rows_max" -> (rowsPerBatch.toDouble, "rows"),
        "streaming.state_commit_s" -> (state.map(_.commitTimeMs).sum / 1e3, "s"),
        "streaming.state_evicted" -> (state.map(_.numRowsRemoved).sum.toDouble, "count"),
        "streaming.watermark_lag_s" -> (if (lagS.isEmpty) 0.0 else Stats.median(lagS), "s"))
    }
    Outcome(twin.size.toLong, badKeys.size.toLong, metrics, repeats, warmupS, window,
      (liveBatches ++ capBatches).map(Progress.ms(_, "triggerExecution") / 1e3), layer, failures,
      Map("keys" -> keys, "rows_per_s_offered" -> rps, "rows_per_batch" -> rowsPerBatch,
        "events" -> (maxSeq + 1), "live_batches" -> liveBatches.size,
        "capacity_batches" -> capBatches.size, "latency_samples" -> latencies.size))
  }
}
