package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** EXACT n-gram Jaccard similarity join via prefix filtering — the
  * AllPairs/PPJoin family (Bayardo et al., WWW'07; Xiao et al., PPJoin).
  *
  * Complements [[MinHash]]: minhash-LSH is probabilistic (a true pair can
  * miss every band), prefix filtering is exact-COMPLETE — every pair with
  * Jaccard >= t is guaranteed to surface, with no signature tuning.
  * The price is an inverted-index build (token-frequency agg + per-doc
  * re-sort) instead of minhash's O(b) bucket rows per doc.
  *
  * Pipeline:
  *   1. shingle: distinct word n-grams per doc (native expression,
  *      scan-side), then 8-byte polynomial hashes for the index stages
  *      (strings only re-enter at verify);
  *   2. canonical order: global shingle-hash document-frequencies (one
  *      agg, built once per call), then each doc's hashes ranked
  *      rarest-first by `row_number()` over (partition by doc, order by
  *      (df, hash)) — the order that makes prefixes maximally selective,
  *      no per-doc array sort;
  *   3. prefix: the rows ranked p = |S| - ceil(t*|S|) + 1 or better.
  *      Completeness: if J(A,B) >= t then |A \ B| <= (1-t)*|A|, so A's
  *      first common shingle sits within its first (1-t)*|A|+1 <= p_A
  *      canonical positions (same for B) — the pair MUST share a prefix
  *      key (string-equal shingles always hash-equal; a hash collision
  *      can only ADD a candidate, never hide one);
  *   4. candidates: the prefix rows grouped by token — the ONLY
  *      candidate shuffle, O(sum of prefix sizes), never all-pairs — and
  *      each group's pairs streamed out by a generator
  *      ([[graft.functions.PrefixPairs]]) that applies PPJoin's two
  *      exact-preserving filters as it emits (a hot token holds its k
  *      members, never a k² pair array):
  *      - LENGTH: J(A,B) >= t forces t*|A| <= |B| <= |A|/t (the
  *        intersection is at most min(|A|,|B|) and the union at least
  *        max) — integer form n_a*num <= n_b*den && n_b*num <= n_a*den;
  *        members are scanned in size order, so it ends each scan;
  *      - POSITIONAL: a prefix token matching at canonical positions
  *        (pa, pb) bounds the overlap by 1 + min(n_a-pa, n_b-pb) (later
  *        common tokens sit strictly after it in BOTH arrays), and
  *        J >= num/den needs overlap*(num+den) >= num*(n_a+n_b). A pair
  *        survives if ANY of its matched prefix tokens passes — for a
  *        true pair the FIRST common token in canonical order is inside
  *        both prefixes (step-3 guarantee) and every common token sits
  *        at-or-after it, so its bound >= the true overlap and the pair
  *        always survives there: completeness holds per-pair even though
  *        later matched tokens may individually fail the bound;
  *   5. verify: exact integer Jaccard on the candidates' true string
  *      sets (inter*den >= num*union — no float threshold, and any
  *      hash-collision false candidate dies here). Strings, not hashes,
  *      on purpose: the poly hash is mod 1e9+7 (~2^30), so distinct
  *      shingles DO collide at corpus scale — fine for candidate
  *      generation (adds candidates), wrong for the reported
  *      inter/union sizes.
  *
  * 100 TB notes: every stage is an equi-shuffle keyed on a doc id or a
  * token; the ranking window holds one doc's set, and a prefix-token
  * group holds its members and streams their pairs. Rarest-first
  * ordering pushes boilerplate (high-frequency) shingles OUT of
  * prefixes, so hot buckets are rare by construction — the reason
  * prefix filtering, not plain inverted-index join, is the web-dedup
  * standard. On low-diversity corpora (tiny vocabulary ⇒ every shingle
  * frequent) prefixes alone stop selecting;
  * the length + positional filters are what keep candidate volume near
  * the true-pair count there (Xiao et al.'s PPJoin result). The shingle
  * projection is persisted (MEMORY_AND_DISK) for the run: it feeds the
  * index build and both verify sides, and recomputing the scan+shingle
  * stage three times is pure waste at any scale.
  */
object JaccardJoin {

  /** Exact pairs (idA < idB) with shingle-Jaccard >= num/den. Output:
    * (id_a, id_b, inter_size, union_size) — the same verified shape as
    * [[MinHash.nearDupPairs]], but guaranteed complete.
    */
  def nearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int = 3,
      num: Int = 8,
      den: Int = 10): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // docs with < ngram tokens have empty shingle sets: Jaccard undefined
    // (0/0), can never reach a positive threshold — drop before indexing
    val sh = docs
      .repartition(par, col(idCol))
      .where(size(TextOps.tokens(col(textCol))) >= ngram)
      .select(
        col(idCol).as("__id"),
        TextOps.shingles(TextOps.tokens(col(textCol)), ngram).as("__sh"))
      // three consumers (index build + both verify sides): materialize
      // once. Lazy persist — first action fills it; the shared
      // CacheManager dedupes re-runs of the same plan (bench passes).
      // Cache-lifetime contract: entries are keyed by plan and live
      // until `spark.catalog.clearCache()` or session end — a service
      // looping over DIFFERENT corpora should clear between runs
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairsFromShingles(sh, num, den)
  }

  /** Exact pairs from a persisted [[MinHash.writeCorpusIndex]] table —
    * the build-once/query-many shape for the EXACT join: the
    * scan+shingle stage (the expensive artifact at corpus scale) is
    * read back as (__id, __sh) rows; only the inverted-index build,
    * prefix self-join and verify run per query. Same output as
    * [[nearDupPairs]] with the matching ngram. This is how q51-style
    * pipelines amortize the shared pair graph: write the index once,
    * derive pairs/components/weights/threshold-sweeps from it
    * (see `graft.AmortizedBench` for the measured shape).
    */
  def pairsFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      num: Int = 8,
      den: Int = 10): DataFrame = {
    val idx = spark.read.parquet(path)
    require(Seq("__id", "__sh").forall(idx.columns.contains),
      s"not a writeCorpusIndex table: ${idx.columns.mkString(",")}")
    // same persist contract as nearDupPairs' shingle stage (three
    // consumers; CacheManager dedupes identical plans across calls)
    val sh = idx.select(col("__id"), col("__sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairsFromShingles(sh, num, den)
  }

  /** Shared PPJoin stage over a (__id, __sh) frame (persisted by the
    * caller — it feeds the inverted-index build AND both verify sides).
    */
  private[graft] def pairsFromShingles(sh: DataFrame, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"threshold num/den must be in (0,1], got $num/$den")
    // the index pipeline works on 8-byte shingle HASHES, not the strings:
    // the frequency agg, per-doc ranking and prefix grouping shuffle ~3x
    // fewer bytes. Hash collisions are safe for COMPLETENESS — a string-
    // equal shingle always hash-matches, so every true pair still shares
    // a prefix key; a collision can only add a false candidate, and the
    // verify stage re-checks the real string sets
    val tok = hashTokens(sh)
    val dfreq = tok.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val pre = rankedPrefix(tok.join(dfreq, Seq("__h")), num, den)
    // candidates: one group per prefix token, pairs streamed out of it
    // with the length and positional filters applied as they are emitted
    val cands = pre
      .groupBy(col("__h"))
      .agg(collect_list(struct(col("__n"), col("__pos"), col("__id"))).as("__m"))
      .select(graft.functions.HashExprs.prefixPairs(col("__m"), num, den))
      .distinct()

    PairVerify.exact(cands, sh, num, den)
  }

  /** (__id, __n, __h): one row per shingle hash of each doc, __n the
    * doc's set size.
    */
  private def hashTokens(sh: DataFrame): DataFrame =
    sh.select(col("__id"), size(col("__sh")).as("__n"),
      explode(graft.functions.HashExprs.polyHashArray(col("__sh"))).as("__h"))

  /** Rarest-first prefixes of (__id, __n, __h, __df) token rows: each
    * doc's canonical position is its row_number in (df, hash) order —
    * the hash tiebreak makes the order total, and rows tied on both are
    * identical, so any order among them emits the same rows — and the
    * first p = n - ceil(num*n/den) + 1 positions are kept.
    * Output: (__id, __n, __pos, __h), __pos 1-based.
    */
  private def rankedPrefix(tok: DataFrame, num: Int, den: Int): DataFrame = {
    // ceil(a/b) = (a+b-1) div b, all-integer
    val p = col("__n") - floor((col("__n") * num + lit(den - 1)) / lit(den)).cast("int") + 1
    tok
      .withColumn("__pos", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__df"), col("__h"))))
      .where(col("__pos") <= p)
      .select(col("__id"), col("__n"), col("__pos"), col("__h"))
  }

  /** Exact CONTAINMENT join: pairs (id_q, id_c) where at least num/den
    * of the query doc's distinct n-gram shingles appear in the corpus
    * doc — |Sq ∩ Sc| / |Sq| >= num/den. The asymmetric complement of
    * [[nearDupPairs]]: Jaccard misses a short benchmark item quoted
    * verbatim inside a long document (the union is dominated by the
    * document), which is exactly the benchmark-decontamination case;
    * containment scales the threshold by the QUERY side only.
    *
    * Same exact-complete prefix-filter machinery, adapted:
    *  - query prefixes: any (1-t)·|Sq|+1 shingles of Sq must hit Sc for
    *    a true pair (at most (1-t)·|Sq| of Sq's shingles are outside
    *    Sc), so the rarest-first prefix works unchanged — ordered by
    *    CORPUS document frequency (0 for corpus-unseen shingles: they
    *    are both maximally selective and the only order that exists
    *    for them);
    *  - the corpus side indexes ALL its shingles (containment puts no
    *    bound relating the overlap to |Sc|'s tail, so there is no
    *    corpus prefix) — the inverted index a decontamination service
    *    builds ONCE per corpus snapshot and probes per benchmark;
    *  - length filter: overlap <= |Sc| needs |Sc|·den >= num·|Sq|
    *    (one-sided — a long document may contain a short query);
    *  - positional filter: the FIRST matched query-prefix shingle at
    *    canonical position p bounds overlap <= |Sq| - p + 1 (every
    *    common shingle sits at-or-after it in Sq's order), which must
    *    reach ceil(num·|Sq|/den) — per-pair complete by the same
    *    argument as PPJoin's;
    *  - verify: exact integer containment on the true string sets via
    *    the bounded kernel ([[graft.functions.BoundedContainSize]]).
    *
    * Output: (id_q, id_c, inter_size, q_size) with
    * inter_size·den >= q_size·num.
    */
  def containmentPairs(
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      corpus: DataFrame,
      cIdCol: String,
      cTextCol: String,
      ngram: Int = 3,
      num: Int = 1,
      den: Int = 2): DataFrame = {
    require(num > 0 && den > 0 && num <= den, s"threshold num/den must be in (0,1], got $num/$den")
    def shingled(df: DataFrame, id: String, text: String) = df
      .where(size(TextOps.tokens(col(text))) >= ngram)
      .select(col(id).as("__id"),
        TextOps.shingles(TextOps.tokens(col(text)), ngram).as("__sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val qsh = shingled(queries, qIdCol, qTextCol) // feeds prefix build + verify
    val csh = shingled(corpus, cIdCol, cTextCol) // feeds index + verify

    val ctok = hashTokens(csh)
    val dfreq = ctok.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    val qpre = rankedPrefix(
      hashTokens(qsh).join(dfreq, Seq("__h"), "left")
        .select(col("__id"), col("__n"), col("__h"), coalesce(col("__df"), lit(0L)).as("__df")),
      num, den)

    val cands = qpre
      .select(col("__id").as("id_q"), col("__n").as("__nq"), col("__pos").as("__pq"), col("__h"))
      .join(ctok.select(col("__id").as("id_c"), col("__n").as("__nc"), col("__h")), Seq("__h"))
      .where(col("__nc") * den >= col("__nq") * num)
      .where((col("__nq") - col("__pq") + lit(1)) * den >= col("__nq") * num)
      .select(col("id_q"), col("id_c"))
      .distinct()

    cands
      .join(qsh.select(col("__id").as("id_q"), col("__sh").as("sh_q")), Seq("id_q"))
      .join(csh.select(col("__id").as("id_c"), col("__sh").as("sh_c")), Seq("id_c"))
      .select(col("id_q"), col("id_c"),
        graft.functions.HashExprs.boundedContainSize(col("sh_q"), col("sh_c"), num, den)
          .as("inter_size"),
        size(col("sh_q")).cast("long").as("q_size"))
      .where(col("inter_size") * den >= col("q_size") * num)
  }

  /** Corpus-level near-dup removal with the EXACT join: drop every doc
    * that is the higher id of a verified pair (greedy keep-lowest-id,
    * same policy as [[MinHash.dedupCorpus]] — but guaranteed-complete,
    * no LSH miss probability). Survivors = docs ANTI JOIN distinct id_b:
    * one id shuffle, no payload rides the pair pipeline.
    */
  def dedupCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int = 3,
      num: Int = 8,
      den: Int = 10): DataFrame = {
    val drop = nearDupPairs(docs, idCol, textCol, ngram, num, den)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** CLUSTER-canonical corpus dedup: connected components over the
    * verified near-dup pair graph, keep exactly ONE doc (the min id) per
    * component. This is the policy production corpus pipelines apply —
    * a near-dup CLUSTER {1,2,3} contributes one survivor, whereas the
    * greedy drop-higher-id rule of [[dedupCorpus]] can keep several:
    * on pairs (1,3),(2,3) greedy keeps {1,2} (3 is the only higher id),
    * clustering keeps {1}. Also transitive: chains a~b~c collapse to one
    * doc even when a~c itself is below the threshold.
    *
    * Cost on top of the pair join: [[Components.connectedComponents]]
    * over the ids-only pair list — O(log n) rounds of id-to-id hash
    * joins, no payload — then one anti-join against the corpus. Docs in
    * no pair never enter the component table and survive via the
    * anti-join.
    */
  def dedupCorpusClustered(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ngram: Int = 3,
      num: Int = 8,
      den: Int = 10): DataFrame =
    Components.keepMinPerCluster(docs, idCol,
      nearDupPairs(docs, idCol, textCol, ngram, num, den))
}
