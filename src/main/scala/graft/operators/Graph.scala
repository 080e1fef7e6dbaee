package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics as plain relational ops (the GraphX/Pregel
  * workload, Spark-first): each PageRank iteration is ONE shuffle of the
  * edge list keyed by src joined to the current rank vector, contributions
  * aggregated on dst — Catalyst plans it, AQE sizes it.
  *
  * Numeric discipline: ranks live in integer 1e-12 units with floor
  * division everywhere (Page et al. 1999's damping applied as
  * `(85·Σ) div 100`), so every iteration is exact BIGINT arithmetic whose
  * value is independent of aggregation order — which is what lets an
  * ITERATED fixpoint be hash-checked against a SQL unroll (the d11
  * grid-quantized-k-means technique, graph edition).
  *
  * Iteration discipline: the edge list is persisted ONCE and every round's
  * rank vector is persist-materialize-truncated (flat `LogicalRDD` rebuild,
  * the e19/c09 pattern) — chaining rounds directly re-derives the whole
  * edge-construction subtree per reference, growing the plan geometrically
  * (a 192-node physical plan at 3 iterations, measured before this
  * restructure; 16.4 s → see SURVEY §6 for the after). RDD lineage is kept,
  * so a lost cached block recomputes instead of stranding the job.
  *
  * Partitioning discipline: the edge list is hash-partitioned by `src`
  * BEFORE it is persisted, into the session's `spark.sql.shuffle.partitions`
  * buckets. The NUMBERED repartition is what keeps that partitioning in the
  * cache: AQE never coalesces a repartition with an explicit count, so even
  * under the session's `canChangeCachedPlanOutputPartitioning=true` (which
  * lets AQE re-plan inside cached plans) the cached `InMemoryRelation`
  * reports `hashpartitioning(src, N)` as its output partitioning. A bare
  * `repartition(col)` would be coalesced, and the cache would then report a
  * partitioning no join can reuse. Every iteration's
  * `edges ⋈ ranks ON src = node` (and the `deg` groupBy, keyed on src)
  * satisfies its required distribution from the cache — once the rank
  * vector outgrows broadcast (the 100 TB regime), each iteration shuffles
  * ONLY the |nodes|-row rank vector, never the edge list. GraphSpec
  * asserts the plan shape: with broadcast disabled, no Exchange reads the
  * edge-side InMemoryTableScan directly, in one iteration join or in any
  * round of either entry point.
  *
  * Returns a PERSISTED frame (the Bm25.search hand-back contract): every
  * internal cache is released before return; the caller (or Verify/Bench's
  * clear-between-runs) releases the result.
  */
object Graph {

  /** PageRank over the customer↔supplier order graph. Node encoding:
    * customer → custkey·2, supplier → suppkey·2+1 (disjoint id spaces).
    * Symmetric edges (both directions of every distinct trading pair) mean
    * every node has out-degree ≥ 1 — no dangling-mass correction term.
    */
  def pageRank(spark: SparkSession, lineitem: DataFrame, orders: DataFrame,
               iterations: Int = 3): DataFrame =
    rank(spark, lineitem, orders, iterations, tolE12 = None)._1

  /** [[pageRank]] with a CONVERGENCE stopping criterion instead of a fixed
    * round count — the production mode (real runs iterate until the rank
    * vector stops moving, not for a magic constant). Same loop, same
    * [[step]]; the only addition is the per-round convergence probe:
    * `max |r_k − r_{k−1}|`, ONE join of two |nodes|-row persisted rank
    * vectors that are both hash-partitioned by `node` (inherited from the
    * step's final aggregate), so the probe never touches the edge cache
    * and costs O(|nodes|) per round regardless of |edges| — bounded
    * exactly like the iteration itself. Stops when the max move is ≤
    * `tolE12` (1e-12 rank units) or at `maxIterations`.
    *
    * Because every round is deterministic integer arithmetic, the result
    * after stopping at round k is BIT-IDENTICAL to `pageRank(…, k)` —
    * GraphSpec pins that equality, which is what lets the fixed-iteration
    * b43 row stay the certified shape while this mode serves deployments.
    *
    * @return (ranks frame — kind/key/rank_e12, like [[pageRank]] —
    *         persisted, caller releases; rounds actually run)
    */
  def pageRankUntil(spark: SparkSession, lineitem: DataFrame, orders: DataFrame,
                    tolE12: Long = 1000000L, maxIterations: Int = 20)
      : (DataFrame, Int) = {
    require(tolE12 >= 0 && maxIterations >= 1, "pageRankUntil bounds")
    rank(spark, lineitem, orders, maxIterations, Some(tolE12))
  }

  /** The one rank loop behind [[pageRank]] and [[pageRankUntil]]: at most
    * `maxRounds` rounds (at least one), stopping early once a round moves
    * no rank by more than `tolE12`. Without a tolerance no probe runs and
    * the last round is not persisted on its own: the output persist runs
    * it, so a fixed-round call spends no extra job.
    */
  private def rank(spark: SparkSession, lineitem: DataFrame, orders: DataFrame,
                   maxRounds: Int, tolE12: Option[Long]): (DataFrame, Int) = {
    val edges = edgeFrame(lineitem, orders).persist(StorageLevel.MEMORY_AND_DISK)
    // deg is computed ONCE and persisted (|nodes| rows, 16 B each): without
    // this, every iteration's `.join(deg, "src")` re-aggregated the full
    // cached edge list — 2 edge scans per iteration instead of 1 (measured
    // at the 100× graph probe; see SURVEY §6). Its hash partitioning (by
    // src, inherited from the edge cache's, exchange-free — GraphSpec)
    // survives into its own InMemoryRelation, so iteration joins still
    // need no deg-side exchange. deg.count() doubles as the node count
    // (every node has out-degree ≥ 1 by symmetric construction) and
    // materializes both caches.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = deg.count()
    def release(): Unit = {
      deg.unpersist(blocking = false)
      edges.unpersist(blocking = false)
    }
    if (n == 0) { // empty input: no nodes to rank (and nothing to divide by)
      release()
      return (spark.range(0).select(
        lit("customer").as("kind"), col("id").as("key"), col("id").as("rank_e12")), 0)
    }
    val scale = 1000000000000L
    val teleport = (15L * scale / 100) / n
    val iterate = step(edges, deg, teleport) _
    // deg already holds one row per node — the initial uniform rank vector
    // derives from it instead of a third distinct-scan of the edge cache
    var ranks = deg.select(col("src").as("node")).withColumn("r", lit(scale / n))
    var prevCache: Option[DataFrame] = None
    var rounds = 0
    var delta = Long.MaxValue
    val persistedRounds = if (tolE12.isEmpty) maxRounds - 1 else maxRounds
    while (rounds < persistedRounds && tolE12.forall(delta > _)) {
      val next = iterate(ranks).persist(StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize so the previous round can release
      if (tolE12.isDefined)
        delta = next.join(ranks.withColumnRenamed("r", "r0"), "node")
          .agg(max(abs(col("r") - col("r0")))).collect().head.getLong(0)
      prevCache.foreach(_.unpersist(blocking = false))
      prevCache = Some(next)
      ranks = spark.createDataFrame(next.rdd, next.schema) // truncate plan lineage
      rounds += 1
    }
    if (tolE12.isEmpty) { ranks = iterate(ranks); rounds += 1 }
    val out = ranks.select(
      when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
      expr("node div 2").as("key"), col("r").as("rank_e12"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize before the inputs it reads are released
    prevCache.foreach(_.unpersist(blocking = false))
    release()
    (out, rounds)
  }

  /** Symmetric edge list (both directions of every distinct trading pair),
    * hash-partitioned by `src` into `spark.sql.shuffle.partitions` buckets
    * so the caller's persist captures that partitioning — NOT persisted
    * here (the rank loop persists it; GraphSpec persists its own copy to
    * assert the plan shape).
    */
  private[graft] def edgeFrame(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val base = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("cn"), (col("l_suppkey") * 2 + 1).as("sn"))
      .distinct()
    // partition ONCE; every iteration reuses it. Numbered, so AQE never
    // coalesces it (the scaladoc's partitioning discipline)
    numberedRepartition(base.select(col("cn").as("src"), col("sn").as("dst"))
      .unionByName(base.select(col("sn").as("src"), col("cn").as("dst"))), col("src"))
  }

  /** One PageRank iteration: edges ⋈ ranks on src=node, per-edge
    * contribution `r div outdeg`, contributions summed on dst, damped in
    * exact integer arithmetic. With `edges` persisted under its src hash
    * partitioning, the edge side of this join reads straight from cache —
    * only the |nodes|-row rank vector moves.
    */
  private[graft] def step(edges: DataFrame, deg: DataFrame, teleport: Long)
                         (ranks: DataFrame): DataFrame =
    edges.join(ranks, col("src") === col("node"))
      .join(deg, "src")
      .select(col("dst"), expr("r div outdeg").as("c"))
      .groupBy(col("dst").as("node"))
      .agg(sum("c").as("csum"))
      .select(col("node"), (lit(teleport) + expr("(85 * csum) div 100")).as("r"))
}
