package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sources.Sources
import graft.streaming.CurationGate

/** Helpers over `StreamingQueryProgress` records, which every query keeps
  * whether or not a listener is registered. */
object Progress {
  def ms(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).fold(0L)(_.longValue)

  /** Wall-clock end of the micro-batch (its commit), epoch ms. */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + ms(p, "triggerExecution")

  def withInput(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** Streaming-layer numbers of one run's micro-batches. */
  def layer(ps: Seq[StreamingQueryProgress]): Map[String, (Double, String)] = {
    val durs = ps.map(ms(_, "triggerExecution") / 1e3)
    Map(
      "streaming.batch_s_p50" -> (if (durs.isEmpty) 0.0 else Stats.median(durs), "s"),
      "streaming.add_batch_s" -> (ps.map(ms(_, "addBatch")).sum / 1e3, "s"),
      "streaming.plan_s" -> (ps.map(ms(_, "queryPlanning")).sum / 1e3, "s"),
      "streaming.commit_s" -> (ps.map(p => ms(p, "commitOffsets") + ms(p, "walCommit")).sum / 1e3, "s"))
  }
}

/** `stream-ingest`: an open loop through `CurationGate.run`.
  *
  * Set-up trains the static LM on a history slice and seeds the accepted
  * index with it (an `AvailableNow` run of the same query and checkpoint).
  * The measured part has two phases:
  *  - latency: pre-staged micro-batch files are moved into the source
  *    directory on a fixed schedule (below the gate's capacity); each
  *    file's latency runs from its due time to the commit of the
  *    micro-batch that ingested it;
  *  - capacity: the whole backlog is offered at once and drained.
  * Every batch reads index history (banding) and writes index, manifest
  * and, every `compactEvery` batches, compaction output.
  *
  * Check: near-duplicates are planted only inside a file, so no cluster
  * spans batches and the streamed survivors must equal
  * `CurationGate.batchWaterfall` over all documents, file by file.
  */
object StreamIngest {

  private def listFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  private def treeStats(dir: String): (Int, Long) = {
    val files = Option(new java.io.File(dir)).filter(_.exists()).toSeq.flatMap { d =>
      Files.walk(d.toPath).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].toFile).filter(_.isFile)
    }.filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (files.size, files.map(_.length).sum)
  }

  final case class GatePaths(src: String, index: String, manifest: String, ckpt: String, survivors: String)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val root = s"${ctx.data}/stream"
    val rowsPerFile = ctx.int("rows_per_file")
    val intervalMs = (ctx.dbl("interval_s") * 1000).toLong
    val history = spark.read.parquet(s"$root/history")
    val schema = history.schema
    val cfg = CurationGate.Config()
    var callbackNs = 0L

    def gate(p: GatePaths, lm: graft.operators.BigramLm.Lm): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
      val docs = Sources.fileStream(spark, "parquet", p.src, schema)
      CurationGate.run(docs, "doc_id", "text", "source", lm, p.index, p.manifest, cfg,
        compactEvery = Some(1)) { (survivors: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        ctx.span("sinks.callback") {
          survivors.select(col("doc_id")).write.mode("overwrite").parquet(s"${p.survivors}/batch=$batchId")
        }
        callbackNs += System.nanoTime() - t0
      }.option("checkpointLocation", p.ckpt)
    }

    // set-up step (repeated; the median is reported): train the static LM
    // and seed a fresh accepted index from the history slice
    var last: (GatePaths, graft.operators.BigramLm.Lm) = null
    val repeats = (1 to 3).map { i =>
      val p = GatePaths(s"${ctx.work}/ingest$i/src", s"${ctx.work}/ingest$i/index",
        s"${ctx.work}/ingest$i/manifest", s"${ctx.work}/ingest$i/ckpt", s"${ctx.work}/ingest$i/survivors")
      Stats.timed {
        new java.io.File(p.src).mkdirs()
        listFiles(s"$root/history").foreach(f => Files.copy(f.toPath, Paths.get(p.src, f.getName)))
        val lm = CurationGate.staticLm(history, "text")
        gate(p, lm).trigger(Trigger.AvailableNow()).start().awaitTermination()
        last = (p, lm)
      }._2
    }
    val (paths, lm) = last
    callbackNs = 0L

    val live = listFiles(s"$root/live")
    val backlog = listFiles(s"$root/backlog")
    def offer(f: java.io.File): Unit =
      Files.move(f.toPath, Paths.get(paths.src, f.getName), StandardCopyOption.ATOMIC_MOVE)

    val q = gate(paths, lm).start()
    val lateMs = mutable.ArrayBuffer.empty[Long]
    var dueMs = Seq.empty[Long]
    var offerMs = 0L
    var drainedMs = 0L
    val window = ctx.measure {
      // latency phase: one file per interval, open loop
      val t0 = System.currentTimeMillis() + 200
      dueMs = live.indices.map(i => t0 + i * intervalMs)
      live.zip(dueMs).foreach { case (f, due) =>
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        offer(f)
        lateMs += math.max(0L, System.currentTimeMillis() - due)
      }
      q.processAllAvailable()
      // capacity phase: the whole backlog at once
      offerMs = System.currentTimeMillis()
      backlog.foreach(offer)
      q.processAllAvailable()
      drainedMs = System.currentTimeMillis()
    }
    val batches = Progress.withInput(q)
    q.stop()

    // map micro-batches to files (each file holds rowsPerFile rows and
    // files are ingested in offer order)
    var fileIdx = 0
    val fileCommit = mutable.ArrayBuffer.empty[Long]
    val liveBatches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val backlogBatches = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    batches.foreach { p =>
      val n = (p.numInputRows / rowsPerFile).toInt
      if (fileIdx < live.size) liveBatches += p else backlogBatches += p
      (0 until n).foreach(_ => fileCommit += Progress.commitMs(p))
      fileIdx += n
    }
    val latencies = dueMs.indices.filter(_ < fileCommit.size).map(i => (fileCommit(i) - dueMs(i)) / 1e3)
    val liveDur = liveBatches.map(Progress.ms(_, "triggerExecution") / 1e3).toSeq
    val backDur = backlogBatches.map(Progress.ms(_, "triggerExecution") / 1e3).toSeq
    val backlogRows = backlog.size.toDouble * rowsPerFile

    // correctness: streamed survivors == batch twin, file by file
    val all = spark.read.parquet(paths.src)
    val twin = CurationGate.batchWaterfall(all, "doc_id", "text", lm, cfg)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val streamed0 = spark.read.parquet(paths.survivors).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val streamed = if (ctx.corrupt) streamed0 - streamed0.max else streamed0
    val idBase = ctx.int("id_base")
    val nFiles = live.size + backlog.size
    val badFiles = (0 until nFiles).filter { f =>
      val lo = idBase + f.toLong * rowsPerFile
      val hi = lo + rowsPerFile
      streamed.filter(id => id >= lo && id < hi) != twin.filter(id => id >= lo && id < hi)
    }
    val missingFiles = nFiles - fileIdx.min(nFiles)
    val failures = badFiles.map(f => s"file $f: streamed survivors differ from batchWaterfall") ++
      (if (missingFiles > 0) Seq(s"$missingFiles files not ingested") else Nil)
    val failed = (badFiles.toSet ++ (fileIdx until nFiles)).size.toLong

    def qt(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p)
    val metrics = Map(
      "job_s_p50" -> (qt(backDur, 0.5), "s"),
      "query_s_p50" -> (qt(liveDur, 0.5), "s"),
      "query_s_p90" -> (qt(liveDur, 0.9), "s"),
      "latency_s_p50" -> (qt(latencies, 0.5), "s"),
      "latency_s_p99" -> (qt(latencies, 0.99), "s"),
      "rows_per_s" -> (backlogRows / math.max(1L, drainedMs - offerMs) * 1e3, "rows/s"))
    val layer = if (ctx.trace.isEmpty) Map.empty[String, (Double, String)] else {
      val (idxFiles, idxBytes) = treeStats(paths.index)
      val (manFiles, manBytes) = treeStats(paths.manifest)
      val inRows = batches.map(_.numInputRows).sum.toDouble
      val accepted = streamed0.count(_ >= idBase).toDouble
      Progress.layer(batches) ++ Map(
        "streaming.backlog_rows_max" -> (backlogRows, "rows"),
        "streaming.accept_ratio" -> (if (inRows == 0) 0.0 else accepted / inRows, "ratio"),
        "sinks.index_files" -> ((idxFiles + manFiles).toDouble, "count"),
        "sinks.index_mb" -> ((idxBytes + manBytes) / 1048576.0, "MB"),
        "sinks.callback_s" -> (callbackNs / 1e9, "s"),
        "gen.late_s_max" -> (if (lateMs.isEmpty) 0.0 else lateMs.max / 1e3, "s"))
    }
    Outcome(nFiles.toLong, failed, metrics, repeats, 0.0, window,
      batches.map(Progress.ms(_, "triggerExecution") / 1e3), layer, failures, Map(
        "files_live" -> live.size, "files_backlog" -> backlog.size, "rows_per_file" -> rowsPerFile,
        "interval_s" -> ctx.dbl("interval_s"), "batches" -> batches.size,
        "survivors" -> streamed0.size, "twin_survivors" -> twin.size,
        "late_s_max" -> (if (lateMs.isEmpty) 0.0 else lateMs.max / 1e3)))
  }
}
