package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Static scale audit of a query's physical plan — the engine's own plan
  * discipline (PLANS.md review, PlanGuardSpec) packaged as a library API a
  * user can run on THEIR queries before pointing them at 100 TB.
  *
  * Heuristics, each a measured failure mode in this repo's history:
  *
  *  - `cartesian`  — a CartesianProduct node: |left|·|right| work; almost
  *    always a dropped equi-predicate (error severity — at scale this is
  *    never survivable).
  *  - `global-window` — a Window with an EMPTY partition spec: every row
  *    shuffles to ONE partition (the b27 hazard — fine for enum-bounded
  *    frames, fatal for SF-scaling ones, and the plan cannot tell which,
  *    so it warns).
  *  - `single-partition-shuffle` — an `Exchange SinglePartition` whose
  *    child is NOT an UNGROUPED aggregate: a global scalar reduces through
  *    one tiny partial-agg row per partition (benign), but an exchange
  *    over a KEYED aggregate — b27's original shape, per-supplier rows to
  *    one task — or over raw data funnels an unbounded frame through one
  *    task.
  *  - `unfiltered-wide-scan` — a file scan reading every column of a wide
  *    (>8 col) schema with no data filter and no partition filter: at
  *    100 TB either the projection or a pushed predicate should have
  *    narrowed it; full-width full-table reads are usually a missing
  *    `select`/`filter` (info severity — backups and exports do this on
  *    purpose).
  *  - `sort-aggregate-demotion` — a KEYED SortAggregate: Catalyst demotes
  *    an aggregate to sort-based silently when its buffer can't live in
  *    HashAggregate's fixed-width row (`max(struct)`, `min_by`/`max_by`,
  *    string-keyed min_by) — the b42/c14 lesson, measured at 2.4× the
  *    hash-agg sibling at the 100× probe. The fix is usually packing the
  *    ordering key into a long, or a TypedImperativeAggregate
  *    (`keep_latest`), both of which plan hash-based. Ungrouped sort
  *    aggregates reduce one row per partition and are not flagged.
  *  - `unbounded-collect` — `collect_list`/`collect_set` inside an
  *    aggregate: per-group state grows with group size and nothing in the
  *    PLAN bounds it — one hot key (a bot user, a boilerplate fragment)
  *    OOMs its task at scale (the original b38 funnel shape). Bounded
  *    alternatives: a k-bounded TypedImperativeAggregate (`EarliestK`) or
  *    a window + filter. Groups bounded by DATA semantics (per-document
  *    shingles) surface as waivable warnings, same contract as
  *    `global-window`.
  *  - `aggregate-before-prune` — a shuffle join (SMJ/SHJ) on keys K where
  *    one input is a KEYED aggregate grouped exactly by K and the OTHER
  *    input was already narrowed by a broadcast join on K: the aggregate
  *    shuffled the full key domain to compute values the join immediately
  *    discards for every key outside the broadcast subset. Pushing the
  *    same broadcast semi-join below the aggregate is value-identical for
  *    an inner join (per-key aggregates don't change under a by-key prune)
  *    and deletes a corpus-scale Exchange — the r7 BM25 lesson
  *    (`operators/Bm25.scala`: document frequency over the FULL vocabulary
  *    joined to query-term postings). Spark's own runtime filtering
  *    (`spark.sql.optimizer.runtime.bloomFilter.enabled`,
  *    InjectRuntimeFilter) attacks the adjacent class — probe-side SCAN
  *    reduction from the other side's join keys — but a filter injected
  *    at the scan cannot delete the aggregate's Exchange that sits above
  *    it, and the aggregate itself is the creation-side here; the
  *    design-time rewrite (aggregate AFTER the broadcast semi-join) is
  *    the fix this rule points at.
  *
  * The audit reads plan STRUCTURE only (no execution, no stats): it cannot
  * know a frame's cardinality, so bounded-by-construction patterns — the
  * two-level prefix-sum's #partitions-row level-2 window (Chunking/
  * Selection), a 25-nation rollup — will surface as warnings. That is the
  * intended contract: each warning is either a real hazard or a line a
  * reviewer consciously waives, exactly like this repo's PLANS.md notes.
  */
object PlanAudit {

  final case class Finding(rule: String, severity: String, node: String) {
    override def toString = s"[$severity] $rule: $node"
  }

  /** Audit the FINAL plan when the frame already executed, the initial
    * plan otherwise (AQE re-plans at runtime; auditing after a test-scale
    * execution also sees runtime decisions like skew splits).
    */
  def audit(df: DataFrame): Seq[Finding] =
    auditPlan(df.queryExecution.executedPlan)

  /** Every physical node of a plan, descending through AQE's wrappers
    * (`AdaptiveSparkPlanExec`, query stages), which hide live subtrees
    * behind accessors rather than `children`. Cached plans under in-memory
    * scans are not entered.
    */
  def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case q: QueryStageExec => physicalNodes(q.plan)
    case other => other.children.flatMap(physicalNodes)
  })

  def auditPlan(root: SparkPlan): Seq[Finding] = {
    // ≤1 output row per input partition — the benign global-scalar shape.
    // Codegen wrappers (WholeStageCodegen/InputAdapter) sit between an
    // exchange and the operator it actually shuffles; see through them.
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
      case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
      case other => other
    }
    def ungroupedAgg(p: SparkPlan): Boolean = unwrap(p) match {
      case b: BaseAggregateExec => b.groupingExpressions.isEmpty
      case _ => false
    }
    def collectsUnbounded(b: BaseAggregateExec): Boolean =
      b.aggregateExpressions.exists(_.aggregateFunction match {
        case _: org.apache.spark.sql.catalyst.expressions.aggregate.CollectList => true
        case _: org.apache.spark.sql.catalyst.expressions.aggregate.CollectSet => true
        case _ => false
      })
    def keyNames(es: Seq[Expression]): Seq[String] =
      es.collect { case a: AttributeReference => a.name }
    // the top of a shuffle-join input, seen through codegen and the sort
    // SMJ inserts above a final aggregate
    def topKeyedAgg(p: SparkPlan): Option[BaseAggregateExec] = unwrap(p) match {
      case s: SortExec => topKeyedAgg(s.child)
      case b: BaseAggregateExec if b.groupingExpressions.nonEmpty => Some(b)
      case _ => None
    }
    def hasBroadcastPruneOn(p: SparkPlan, names: Set[String]): Boolean =
      physicalNodes(p).exists {
        case b: BroadcastHashJoinExec =>
          keyNames(b.leftKeys ++ b.rightKeys).exists(names)
        case _ => false
      }
    // one input an aggregate grouped exactly by the join keys, the other
    // already broadcast-pruned on those keys → the aggregate should have
    // been computed AFTER the (order-commuting) prune
    def aggBeforePrune(keysA: Seq[Expression], keysB: Seq[Expression],
                       a: SparkPlan, b: SparkPlan, node: String): Seq[Finding] = {
      val all = (keyNames(keysA) ++ keyNames(keysB)).toSet
      def oneWay(aggKeys: Seq[Expression], aggSide: SparkPlan,
                 other: SparkPlan): Boolean =
        topKeyedAgg(aggSide).exists { agg =>
          keyNames(agg.groupingExpressions).toSet == keyNames(aggKeys).toSet &&
            !hasBroadcastPruneOn(aggSide, all) &&
            hasBroadcastPruneOn(other, all)
        }
      if (oneWay(keysA, a, b) || oneWay(keysB, b, a))
        Seq(Finding("aggregate-before-prune", "warn", node))
      else Nil
    }
    // a node can exhibit more than one hazard (a keyed SortAggregate that
    // also collects) — emit every match, not the first
    physicalNodes(root).flatMap { p =>
      val structural: Seq[Finding] = p match {
        case c: CartesianProductExec =>
          Seq(Finding("cartesian", "error", c.simpleStringWithNodeId()))
        case w: WindowExec if w.partitionSpec.isEmpty =>
          Seq(Finding("global-window", "warn", w.simpleStringWithNodeId()))
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition
            && !ungroupedAgg(e.child) =>
          Seq(Finding("single-partition-shuffle", "warn",
            e.simpleStringWithNodeId()))
        case s: FileSourceScanExec
            if s.schema.length > 8 && s.dataFilters.isEmpty
              && s.partitionFilters.isEmpty
              && s.schema.length == s.relation.dataSchema.length =>
          Seq(Finding("unfiltered-wide-scan", "info",
            s.simpleStringWithNodeId()))
        case _ => Nil
      }
      val aggregate: Seq[Finding] = p match {
        case sa: org.apache.spark.sql.execution.aggregate.SortAggregateExec
            if sa.groupingExpressions.nonEmpty =>
          Seq(Finding("sort-aggregate-demotion", "warn",
            sa.simpleStringWithNodeId()))
        case _ => Nil
      }
      val collect: Seq[Finding] = p match {
        case b: BaseAggregateExec if collectsUnbounded(b) =>
          Seq(Finding("unbounded-collect", "warn", b.simpleStringWithNodeId()))
        case _ => Nil
      }
      val prune: Seq[Finding] = p match {
        case j: SortMergeJoinExec =>
          aggBeforePrune(j.leftKeys, j.rightKeys, j.left, j.right,
            j.simpleStringWithNodeId())
        case j: ShuffledHashJoinExec =>
          aggBeforePrune(j.leftKeys, j.rightKeys, j.left, j.right,
            j.simpleStringWithNodeId())
        case _ => Nil
      }
      structural ++ aggregate ++ collect ++ prune
    }
  }
}
