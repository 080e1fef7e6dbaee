package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanAudit.physicalNodes
import graft.telemetry.ActionTrace

/** Plan-shape contract for Graph.pageRank's iteration join (SURVEY §2 b43,
  * §4): the edge list is hash-partitioned by `src` BEFORE persist, so in
  * the shuffle-join regime — the 100 TB case, where the |nodes|-row rank
  * vector exceeds broadcast — each iteration reads the edges straight from
  * cache and shuffles ONLY the rank vector. Without the repartition, every
  * iteration re-shuffles the full edge list (the classic PageRank scale
  * cost this spec exists to forbid).
  */
class GraphSpec extends AnyFunSuite with SparkTestBase {

  private def hasCacheScan(p: SparkPlan): Boolean =
    physicalNodes(p).exists(_.isInstanceOf[InMemoryTableScanExec])
  private def hasShuffle(p: SparkPlan): Boolean =
    physicalNodes(p).exists(_.isInstanceOf[ShuffleExchangeLike])

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("iteration join reuses the cached edge partitioning: no shuffle above the edge-side cache scan") {
    // persisted exactly as pageRank persists it, under the session default
    // that lets AQE re-plan cached plans: edgeFrame's numbered repartition
    // is what keeps the cache's reported partitioning, so the reuse this
    // test pins needs no conf change around the persist
    val edges = graft.operators.Graph
      .edgeFrame(Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      edges.count()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // a rank vector with NO useful partitioning of its own (fresh range),
      // so any exchange the join needs must land on THIS side
      val n = 1000L
      val ranks = spark.range(n).select(col("id").as("node"), lit(1000000L).as("r"))
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val it = graft.operators.Graph.step(edges, deg, 1L)(ranks)
        it.write.format("noop").mode("overwrite").save() // finalize AQE stages
        val plan = it.queryExecution.executedPlan
        val joins = physicalNodes(plan).collect {
          case j: SortMergeJoinExec => (j.leftKeys ++ j.rightKeys, j.left, j.right)
          case j: ShuffledHashJoinExec => (j.leftKeys ++ j.rightKeys, j.left, j.right)
        }
        assert(joins.nonEmpty, s"expected shuffle joins in:\n$plan")
        assert(hasCacheScan(plan), s"expected the cached edge scan in:\n$plan")
        // the forbidden shape is an Exchange moving RAW cached edges: any
        // shuffle with the edge cache beneath it must sit above a partial
        // aggregate (the dst contribution-sum — |nodes|-sized rows), never
        // directly above the join/scan. The rank-side exchange has only the
        // fresh range beneath it and is always allowed.
        def unwrap(p: SparkPlan): SparkPlan = p match {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
          case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
          case other => other
        }
        physicalNodes(plan).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
          if (hasCacheScan(s)) {
            val aggregated = unwrap(s.child)
              .isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]
            assert(aggregated,
              s"exchange moves raw cached edges (no map-side combine below it):\n$s")
          }
        }
        // the rank vector is the side that moves: at least one shuffle in
        // the plan overall (ranks exchange and/or the dst aggregation)
        assert(physicalNodes(plan).exists(_.isInstanceOf[ShuffleExchangeLike]))
      }
    } finally edges.unpersist(blocking = true)
  }

  test("deg aggregate also reuses the edge partitioning (no exchange below the groupBy)") {
    val edges = graft.operators.Graph
      .edgeFrame(Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      edges.count()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      deg.write.format("noop").mode("overwrite").save()
      val plan = deg.queryExecution.executedPlan
      assert(hasCacheScan(plan), s"deg should read the cache:\n$plan")
      assert(!hasShuffle(plan),
        s"groupBy(src) over src-partitioned cache must not exchange:\n$plan")
    } finally edges.unpersist(blocking = true)
  }

  test("no round of pageRank or pageRankUntil shuffles the raw cached edge list") {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter,
      ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
    def source(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => source(w.child)
      case i: InputAdapter => source(i.child)
      case pr: ProjectExec => source(pr.child)
      case f: FilterExec => source(f.child)
      case c: ColumnarToRowExec => source(c.child)
      case t: TableCacheQueryStageExec => source(t.plan)
      case other => other
    }
    // a round's step plan runs inside its own cache's materialization
    def rawEdgeExchanges(p: SparkPlan): Int = executedNodes(p).count {
      case e: ShuffleExchangeLike => source(e.child) match {
        case m: InMemoryTableScanExec => m.relation.output.map(_.name) == Seq("src", "dst")
        case _ => false
      }
      case _ => false
    }
    /** (result, raw-edge exchanges per action the body ran) */
    def traced[A](body: => A): (A, Seq[Int]) = {
      val (a, trace) = ActionTrace.during(spark)(body)
      (a, trace.executions.map(qe => rawEdgeExchanges(qe.executedPlan)))
    }
    spark.sharedState.cacheManager.clearCache()
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    // the shuffle-join regime: the rank vector never broadcasts, so any
    // exchange the iteration join needs is planned, and an edge-side one
    // would move the whole cached edge list every round
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (fixed, fixedActions) = traced(graft.operators.Graph.pageRank(spark, li, ord))
      val ((until, rounds), untilActions) = traced(graft.operators.Graph.pageRankUntil(
        spark, li, ord, tolE12 = 10000000000L, maxIterations = 25))
      try {
        assert(fixedActions.sum == 0 && untilActions.sum == 0,
          s"raw-edge exchanges per action: pageRank $fixedActions, " +
            s"pageRankUntil $untilActions")
        // one loop, no extra job: 3 fixed rounds, 14 probed rounds
        assert(rounds == 14)
        assert(fixedActions.size == 6, s"pageRank ran ${fixedActions.size} actions")
        assert(untilActions.size == 44, s"pageRankUntil ran ${untilActions.size} actions")
        val same = graft.operators.Graph.pageRank(spark, li, ord, iterations = rounds)
        try assert(until.orderBy("kind", "key").collect().toSeq ==
          same.orderBy("kind", "key").collect().toSeq)
        finally same.unpersist(blocking = true)
      } finally {
        fixed.unpersist(blocking = true)
        until.unpersist(blocking = true)
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty, "a rank loop leaked a cache")
  }

  test("pageRank on empty input returns an empty frame without dividing by zero, and leaks no cache") {
    spark.sharedState.cacheManager.clearCache()
    val li = Tables.lineitem(spark, sfDir).filter(lit(false))
    val ord = Tables.orders(spark, sfDir).filter(lit(false))
    val out = graft.operators.Graph.pageRank(spark, li, ord)
    assert(out.columns.toSeq == Seq("kind", "key", "rank_e12"))
    assert(out.count() == 0)
    assert(spark.sharedState.cacheManager.isEmpty, "empty-input path leaked a cache")
  }

  test("pageRankUntil: stops on rank-delta tolerance, bit-equal to fixed-iteration at that count") {
    spark.sharedState.cacheManager.clearCache()
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    // loose tolerance so convergence lands well inside the cap (hub
    // suppliers carry ~1e12/|suppliers| rank mass, so early deltas are
    // ~1e10 and shrink by the 0.85 damping per round); the probe is
    // |nodes|-bounded per round so the extra rounds are cheap
    val tol = 10000000000L // 1e-2 in rank units
    val (ranks, iters) = graft.operators.Graph.pageRankUntil(
      spark, li, ord, tolE12 = tol, maxIterations = 25)
    try {
      assert(iters >= 1 && iters < 25, s"expected convergence before the cap, ran $iters")
      // determinism: stopping at k must equal the certified fixed-k shape
      val fixed = graft.operators.Graph.pageRank(spark, li, ord, iterations = iters)
      try {
        val a = ranks.orderBy("kind", "key").collect().toSeq
        val b = fixed.orderBy("kind", "key").collect().toSeq
        assert(a == b, "until-tolerance result must be bit-equal to fixed-iteration")
      } finally fixed.unpersist(blocking = true)
      // the stop was genuine: one MORE round moves every rank by ≤ tol.
      // (re-derive round k+1 from the returned vector via the same step)
      val (ranksNext, _) = graft.operators.Graph.pageRankUntil(
        spark, li, ord, tolE12 = tol / 2, maxIterations = iters + 1)
      try {
        val moved = ranksNext.select(
            col("kind"), col("key"), col("rank_e12").as("r1"))
          .join(ranks, Seq("kind", "key"))
          .agg(max(abs(col("r1") - col("rank_e12")))).collect().head.getLong(0)
        assert(moved <= tol, s"claimed convergence but next round moved $moved > $tol")
      } finally ranksNext.unpersist(blocking = true)
    } finally ranks.unpersist(blocking = true)
    // empty input: mode-specific guard path
    val (empty, n0) = graft.operators.Graph.pageRankUntil(
      spark, li.filter(lit(false)), ord.filter(lit(false)))
    assert(n0 == 0 && empty.count() == 0)
  }
}
