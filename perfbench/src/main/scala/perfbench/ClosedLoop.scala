package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.{Q, SparkEntry}
import graft.operators._

/** Closed-loop workloads: one registry query at a time, in a seed-permuted
  * order, for a fixed number of passes over the op list (one per 4 s of
  * `--seconds`) after two warm-up passes.
  *
  * Every execution's output is digested; the warm-up execution's output is
  * the reference that every measured execution must reproduce, and it is
  * written out for the DuckDB oracle check that `run.py` makes with the
  * registry's own oracle SQL (`tools/check.py`). Queries whose oracle is a
  * literal pinned to one fixed corpus (`FROM (VALUES ...`) are held to the
  * determinism check only, because the inputs here are generated per seed.
  */
object ClosedLoop {
  private val Docs = Seq("documents")

  /** Near-duplicate jobs: exact PPJoin pairs (bounded-intersect verify),
    * PPJoin + connected-components dedup, fuzzy pairs (bounded
    * Levenshtein), each with the tables it reads. */
  val MiningOps: Seq[(String, Seq[String])] = Seq(
    "q41_jaccard_join" -> Docs, "q51_cluster_dedup" -> Docs, "q63_fuzzy_pairs" -> Docs)

  /** Reference-parity queries: pricing summary scan, keep-latest dedup,
    * dedup-then-join, window aggregation, outer UNNEST, as-of enrich, set
    * difference, session windows. */
  val ShortOps: Seq[(String, Seq[String])] = {
    val ev = Seq("events")
    Seq(
      "q01_pricing_summary" -> Seq("lineitem"), "q02_dedup_latest" -> ev,
      "q03_dedup_join" -> Seq("customer", "events"), "q04_window_agg" -> ev,
      "q05_unnest_outer" -> Seq("customer", "orders"), "q08_asof_enrich" -> ev,
      "q14_except" -> Seq("customer", "orders"), "q37_session_window" -> ev)
  }

  def mining(ctx: Ctx): Outcome = {
    val base = run(ctx, MiningOps)
    if (ctx.trace.isEmpty) base
    else base.copy(layer = base.layer ++ stageSplit(ctx))
  }

  def shortQueries(ctx: Ctx): Outcome = run(ctx, ShortOps)

  /** Canonical text of a value: arrays and binaries by content, so equal
    * outputs digest equally across executions. */
  private def canon(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString + s":${rows.length}"
  }

  /** Drop a query's cached frames and checkpoint blocks (as `graft.Bench`
    * does), so each execution pays its own cost. */
  private def cleanup(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def run(ctx: Ctx, ops: Seq[(String, Seq[String])]): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/tables"
    val registry: Map[String, Q] = SparkEntry.registry.map(q => q.name -> q).toMap
    val order = new scala.util.Random(ctx.seed).shuffle(ops)
    val tables = ops.flatMap(_._2).distinct

    // set-up step (repeated; the median is reported): scan every input
    val rowsOf = mutable.Map.empty[String, Long]
    val repeats = (1 to 3).map { _ =>
      Stats.timed(tables.foreach(t => rowsOf(t) = spark.read.parquet(s"$dir/$t.parquet").count()))._2
    }
    val inputRows = order.map { case (n, ts) => n -> ts.map(rowsOf).sum.toDouble }.toMap

    def execute(name: String): (Array[Row], DataFrame, Double) = {
      val ((df, rows), dt) = Stats.timed(ctx.span("op") {
        val df = ctx.span("registry.build")(registry(name).run(spark, dir))
        (df, ctx.span("engine.collect")(df.collect()))
      })
      cleanup(ctx)
      (rows, df, dt)
    }

    // warm-up: two executions of each op (the JIT is still compiling engine
    // paths during the first); the first output is the reference
    val reference = mutable.Map.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    val oracle = mutable.Map.empty[String, String]
    val resultsDir = s"${ctx.work}/results"
    val warmupBy = mutable.Map.empty[String, Double]
    val (_, firstS) = Stats.timed(order.foreach { case (name, _) =>
      try {
        val (rows, df, dt) = execute(name)
        warmupBy(name) = dt
        reference(name) = digest(rows)
        registry(name).oracle.map(_.trim).filterNot(_.contains("FROM (VALUES")).foreach { sql =>
          oracle(name) = sql
          spark.createDataFrame(rows.toList.asJava, df.schema).write.parquet(s"$resultsDir/$name")
        }
      } catch {
        case e: Exception => failures += s"$name warm-up: ${e.getMessage.take(300)}"
      }
    })
    val (_, secondS) = Stats.timed(order.foreach { case (name, _) =>
      try {
        if (!reference.get(name).contains(digest(execute(name)._1)))
          failures += s"$name warm-up: output differs between executions"
      } catch {
        case e: Exception => failures += s"$name warm-up: ${e.getMessage.take(300)}"
      }
    })
    val warmupS = firstS + secondS
    val warmupFailed = failures.size
    if (oracle.nonEmpty) {
      new java.io.File(resultsDir).mkdirs()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$resultsDir/oracle_sql.json"),
        Json.write(oracle.toMap).getBytes("UTF-8"))
    }

    // measured passes: a fixed number per run (one per nominal 4 s of
    // --seconds), so every run's quantiles are over the same op mix. Every
    // execution is recorded as (op, seconds, output matched); run.py turns
    // the samples into metrics once the oracle check has run, so an output
    // found wrong there is not timed as a success either.
    val samples = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[(String, Double, Boolean)]]
    var corruptPending = ctx.corrupt
    val passes = math.max(1, math.round(ctx.seconds / 4.0).toInt)
    val window = ctx.measure {
      (1 to passes).foreach { _ =>
        val pass = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
        samples += pass
        order.foreach { case (name, _) =>
          try {
            val (rows0, _, dt) = execute(name)
            // self-test hook: corrupt one output to prove the check catches it
            val rows = if (corruptPending) { corruptPending = false; rows0.dropRight(1) :+ Row("corrupt") } else rows0
            val ok = reference.get(name).contains(digest(rows))
            if (!ok) failures += s"$name: output differs from the reference execution"
            pass += ((name, dt, ok))
          } catch {
            case e: Exception =>
              failures += s"$name: ${e.getMessage.take(300)}"
              pass += ((name, Double.NaN, false))
          }
        }
      }
    }
    val all = samples.flatten
    val layer = ctx.trace.fold(Map.empty[String, (Double, String)]) { t =>
      Map("registry.build_s" -> (t.spanSeconds("registry.build"), "s"))
    }
    Outcome(all.size.toLong, all.count(!_._3).toLong, Map.empty, repeats, warmupS, window,
      samples.map(_.map(_._2).sum).toSeq, layer, failures.toSeq, Map(
        "samples" -> samples.map(_.map { case (n, t, ok) => Seq(n, t, ok) }),
        "input_rows" -> inputRows, "order" -> order.map(_._1),
        "warmup_op_s" -> warmupBy.toMap, "warmup_failed" -> warmupFailed,
        "oracle_queries" -> oracle.keys.toSeq.sorted))
  }

  /** Stage split of the mining pipelines through the public operator calls
    * (traced runs only): MinHash index, exact PPJoin pairs (with the LSH
    * band candidates as the candidate count),
    * connected components, span dedup, fuzzy pairs, IVF assignment and PQ
    * asymmetric-distance scoring, each timed on the workload's corpus. */
  private def stageSplit(ctx: Ctx): Map[String, (Double, String)] = {
    val spark = ctx.spark
    val dir = s"${ctx.data}/tables"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (idx, minhashS) = Stats.timed(graft.Engine.truncate(MinHash.corpusIndex(docs, "doc_id", "text")))
    val nCands = MinHash.candidatePairs(idx.select(col("__id"), col("__sig")), "__id", "__sig", 32, 4).count()
    val (pairs, ppjoinS) = Stats.timed(graft.Engine.truncate(
      JaccardJoin.nearDupPairs(docs, "doc_id", "text", num = 6, den = 10).select("id_a", "id_b")))
    val nPairs = pairs.count()
    val (_, compS) = Stats.timed(Components.connectedComponents(pairs, "id_a", "id_b").count())
    val (_, spanS) = Stats.timed(SpanDedup.spans(docs, "doc_id", "text", 8).count())
    val (_, fuzzyS) = Stats.timed(FuzzyJoin.editDistancePairs(docs, "doc_id", "text", "n_chars",
      maxDist = 60, blockBy = Seq("source")).count())
    val (cents, _) = Stats.timed(graft.Engine.truncate(Ivf.centroids(emb, "vec_id", "v", stride = 16)))
    val (_, ivfS) = Stats.timed(Ivf.assign(emb, "vec_id", "v", cents).count())
    val (_, pqS) = Stats.timed {
      val books = graft.Engine.truncate(Pq.codebooks(emb, "vec_id", "v", m = 8, dims = 64, stride = 16))
      val enc = Pq.encode(emb, "vec_id", "v", books, m = 8, dims = 64)
      Pq.searchTopK(enc, emb.where(col("vec_id") < 20), "vec_id", "v", books,
        m = 8, dims = 64, k = 5).count()
    }
    cleanup(ctx)
    Map(
      "operators.minhash_index_s" -> (minhashS, "s"),
      "operators.ppjoin_s" -> (ppjoinS, "s"),
      "operators.ppjoin_candidates" -> (nCands.toDouble, "count"),
      "operators.ppjoin_pairs" -> (nPairs.toDouble, "count"),
      "operators.ppjoin_yield" -> (if (nCands == 0) 0.0 else nPairs.toDouble / nCands, "ratio"),
      "operators.components_s" -> (compS, "s"),
      "operators.span_s" -> (spanS, "s"),
      "operators.fuzzy_s" -> (fuzzyS, "s"),
      "operators.ivf_assign_s" -> (ivfS, "s"),
      "operators.pq_adc_s" -> (pqS, "s"))
  }
}
