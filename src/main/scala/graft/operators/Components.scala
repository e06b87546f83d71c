package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over an undirected edge list — the
  * clustering step of cluster-canonical corpus dedup (pair graph ->
  * components -> keep one representative per component), the policy
  * production LLM-data pipelines apply on top of near-dup PAIR detection.
  *
  * Algorithm: min-label propagation with pointer jumping (the practical
  * Spark formulation of the Shiloach–Vishkin / star-contraction family,
  * cf. Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14). Each round does two ids-only hash joins:
  *
  *   1. neighbor-min: comp(v) <- min(comp(v), min over comp(u) for
  *      neighbors u) — one equi-join of the symmetric edge list with the
  *      label table plus a groupBy-min (map-side partial agg);
  *   2. pointer jump: comp(v) <- comp(comp(v)) — a self-join that halves
  *      label-chain depth, giving O(log n) rounds on paths where plain
  *      propagation needs O(diameter).
  *
  * Every shuffle is an equi-join/agg on ids ONLY — no payload rides the
  * iteration, AQE handles skewed hub nodes. Lineage is truncated each
  * round via [[graft.Engine.truncate]] (iterative plans otherwise grow
  * superlinearly and stall the optimizer long before the cluster is the
  * bottleneck): `localCheckpoint` by default, or RELIABLE `checkpoint()`
  * files when `spark.graft.reliableCheckpoint=true` and a checkpoint dir
  * is set — task-level fault recovery for deployments where an executor
  * loss aborting the job is unacceptable. Both modes are bit-identical
  * (integer labels; pinned by a regression test).
  *
  * Determinism: min over a fixed vertex set is order-independent, so the
  * labeling is exactly reproducible at any parallelism.
  */
object Components {

  /** Conf key: symmetric-edge-row count at or below which the component
    * labeling runs as a DRIVER union-find over the collected ids-only
    * edge list instead of the distributed label-propagation loop.
    * Default 1000000 sym rows (= 500k undirected edges, ~8 MB of long
    * pairs) — the verified near-dup pair graph of a dedup run is orders
    * of magnitude smaller than its corpus (ids only, verified pairs
    * only; the sf0.1 gate corpus yields 256 pairs), and at that size the
    * loop's fixed cost (per-round checkpoint + convergence-count jobs)
    * dwarfs the work. The guard is SIZE-KEYED on the graph itself (a
    * bounded collect of at most localMax/2 + 1 undirected edges), so a
    * corpus whose pair graph IS large takes the distributed loop
    * unchanged — same device as `Pq.searchRerank`'s maxBroadcastRows.
    * Set 0 to force the loop.
    */
  val LocalEdgeMaxKey = "spark.graft.components.localEdgeMax"

  /** Driver union-find with min-id roots over an undirected edge array —
    * the local fast path of [[connectedComponents]]. Union-by-min keeps
    * every tree's root at its component's minimum id (each union makes
    * the smaller root the parent), so after full path compression
    * find(x) IS min-reachable(x) — exactly the loop's labeling, at any
    * edge order. Package-visible for the equality law in PropertySpec.
    */
  private[graft] def unionFind(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long](edges.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    // sorted for a deterministic row order (values are order-independent)
    parent.keys.toArray.sorted.map(id => (id, find(id)))
  }

  /** Components of the undirected graph given by `edges(aCol, bCol)`.
    * Output: (id BIGINT, comp BIGINT) — one row per distinct endpoint,
    * `comp` = the MINIMUM id reachable from `id` (so `comp` is a stable,
    * deterministic cluster representative). Isolated ids never appear in
    * `edges` and so are absent here — callers union them back (or
    * anti-join, as [[JaccardJoin.dedupCorpusClustered]] does).
    *
    * `maxIter` bounds the rounds; pointer jumping converges in O(log n)
    * so 30 covers any graph that fits in storage. Throws if labels have
    * not stabilized by then rather than returning a wrong clustering.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 30): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    // Local fast path: a graph this small pays more in per-round job
    // overhead (checkpoint + convergence count per round, AQE re-plans)
    // than the whole labeling costs on one core — measured 0.7-1.7 s of
    // loop for a 256-edge pair graph at sf0.1. ONE bounded collect of the
    // deduped undirected half (lo < hi) decides the path: the symmetric
    // row count is exactly twice its size, so localMax/2 + 1 rows settle
    // `nEdges <= localMax`. At or under the threshold the rows ARE the
    // graph: labeled on the driver, returned as a LocalRelation (which
    // downstream joins can broadcast for free). Above it the loop below
    // recomputes the edge frame — the price of a single job on the
    // common path; `localMax = 0` skips the probe (forced loop).
    // Bit-identical either way (PropertySpec laws).
    val spark = edges.sparkSession
    val localMax = spark.conf.get(LocalEdgeMaxKey, "1000000").toLong
    if (localMax > 0) {
      val half = e.select(least(col("src"), col("dst")), greatest(col("src"), col("dst")))
        .distinct().limit(math.min(localMax / 2 + 1, Int.MaxValue).toInt).collect()
      if (2L * half.length <= localMax) {
        val labeled = unionFind(half.map(r => (r.getLong(0), r.getLong(1))))
        val schema = StructType(Seq(
          StructField("id", LongType, nullable = false), StructField("comp", LongType, nullable = false)))
        return spark.createDataFrame(
          java.util.Arrays.asList(labeled.map { case (id, c) => Row(id, c) }: _*), schema)
      }
    }
    // symmetric, self-loop-free, ids-only — persisted AND materialized
    // before the loop: round 1 references it from two plan branches
    // (neighbor-min and the label join), and an unfilled cache would be
    // computed once PER BRANCH inside the same job. Symmetrization is a
    // single-branch explode, NOT `e.union(e.reversed)`: a union embeds
    // the (often expensive) edge-producing pipeline twice in one plan,
    // and the cache-fill job would compute it twice.
    val symAll = e
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = symAll.count()
    // Size the ITERATION's parallelism to the graph, not the corpus: the
    // pair graph of a dedup run is orders of magnitude smaller than its
    // input (ids only, verified pairs only), yet inherits corpus-sized
    // partitioning — every loop round would schedule full task waves over
    // near-empty partitions. ~2M edges (~64 MB) per partition; coalesce
    // is narrow over the cached blocks, so the re-layout is free, and at
    // real graph sizes p grows back to the cluster's parallelism.
    // Floor at min(8, current partitions): a 1-partition loop serializes
    // every round's join/agg even when cores are idle (the q89 PageRank
    // lesson) — small-but-multi beats single. Hard-floor at 1: an EMPTY
    // edge frame under AQE reports 0 partitions (coalesced away), and
    // shuffle.partitions=0 is rejected by Spark — an upstream-filtered
    // corpus with no surviving pairs (q162's waterfall at some SFs) is a
    // legitimate input, not an error.
    val p = math.max(1L, math.max(
      math.min(8L, symAll.rdd.getNumPartitions.toLong),
      math.min(symAll.rdd.getNumPartitions.toLong, nEdges / 2000000L))).toInt
    val sym = if (p < symAll.rdd.getNumPartitions) symAll.coalesce(p) else symAll

    var comp = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
    var iter = 0
    var changed = 1L
    // AQE off for the loop: every round is tiny pre-partitioned stages
    // over the cached graph, and AQE's per-stage re-planning adds driver
    // latency with nothing to improve (measured 2x on the q89 PageRank
    // loop, same shape). Shuffle partitions sized to the graph (p, from
    // the coalesce sizing above) for the same reason — with AQE off the
    // loop's joins/aggs would otherwise fan back out to corpus-sized
    // task waves.
    // Broadcast also off: the cached loop frames have small stats, so
    // every round's joins would otherwise pay a driver collect +
    // broadcast build to replace an already co-partitioned join (see
    // PageRank's loop confs).
    graft.Engine.withConfs(edges.sparkSession,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> p.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
    while (changed > 0 && iter < maxIter) {
      // 1. neighbor-min: min comp over each node's neighborhood. Every id
      // has >= 1 neighbor (sym is symmetric and self-loop-free), so the
      // join is inner. `__improved` rides the same pass: neighbor-min
      // stability IS the fixpoint test (comp(v) <= comp(u) across every
      // edge, symmetric => constant per component), so no separate
      // convergence join is needed — and the final round skips the jump.
      //
      // The ONE heavy job per round is this checkpoint. It also truncates
      // lineage every round — mandatory, not optional: `comp` is
      // referenced from two branches here (and the jump self-joins), so
      // an untruncated plan TREE grows ~4x per round, and Catalyst's
      // tree walks (no sharing-aware memoization) go exponential.
      val nbrMin = sym
        .join(comp.select(col("id").as("dst"), col("comp").as("__nc")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("__nc")).as("__nc"))
        .select(col("src").as("id"), col("__nc"))
      val stepped = graft.Engine.truncate(
        comp.join(nbrMin, Seq("id"))
          .select(col("id"), least(col("comp"), col("__nc")).as("comp"),
            (col("__nc") < col("comp")).as("__improved")))
      changed = stepped.where(col("__improved")).count()
      val labels = stepped.drop("__improved")
      comp =
        if (changed == 0) labels
        else {
          // 2. pointer jump: comp values are themselves node ids, so chase
          // one hop — comp(v) <- comp(comp(v)) — halving chain depth. Left
          // join: a label may already be its component's root. NOT
          // materialized: both inputs are the checkpointed `stepped`, so
          // the tree stays constant-depth and the join fuses into the
          // next round's single job.
          labels.as("x")
            .join(labels.select(col("id").as("comp"), col("comp").as("__cc")).as("y"),
              Seq("comp"), "left")
            .select(col("x.id").as("id"), coalesce(col("__cc"), col("comp")).as("comp"))
        }
      iter += 1
    }
    }
    symAll.unpersist()
    require(changed == 0,
      s"connected components did not converge in $maxIter rounds — " +
        "raise maxIter (pointer jumping needs O(log n) rounds)")
    comp
  }

  /** The cluster-canonical dedup POLICY, shared by every near-dup family:
    * cluster the verified pair graph, keep exactly the MINIMUM id of each
    * cluster, return the surviving `docs` rows. Docs in no pair never
    * enter the component table and survive via the anti-join. One
    * ids-only anti-join on top of [[connectedComponents]]; the doc
    * payload never rides the graph iteration.
    */
  def keepMinPerCluster(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val drop = connectedComponents(pairs, aCol, bCol)
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster dedup POLICY: keep the single best doc of each
    * near-dup cluster by an arbitrary quality ordering (longest, highest
    * classifier score, freshest...), not the minimum id — what production
    * corpus dedup actually ships, since the min-id survivor of a cluster
    * may be its worst copy. `better` orders DESCENDING by quality; ties
    * MUST be broken deterministically (pass the id last).
    *
    * Flow: components over the ids-only pair graph, attach quality to the
    * clustered ids ONLY (one semi-sized join — the doc payload still
    * never rides the graph iteration), a per-cluster ROW_NUMBER keeps
    * rank 1, and unclustered docs survive via the same anti-join shape as
    * [[keepMinPerCluster]]. Scale: the window partitions by cluster id —
    * cluster sizes are near-dup group sizes (small by nature); a
    * pathological mega-cluster is a corpus bug worth crashing on.
    */
  def keepBestPerCluster(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      better: Seq[Column],
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    // __-prefixed internals so a caller's own `id`/`comp` columns can't
    // collide with the component table's after the quality join
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("comp").as("__cc_comp"))
    val ranked = comp.join(docs, comp("__cc_id") === docs(idCol), "inner")
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__cc_comp")).orderBy(better: _*)))
    val drop = ranked.where(col("__rk") =!= 1).select(col("__cc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }
}
