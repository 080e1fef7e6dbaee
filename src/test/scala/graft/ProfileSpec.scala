package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Profile
import graft.plans.PlanAudit.physicalNodes

/** Single-scan table profiling (SURVEY §2 b48): the whole profile must be
  * ONE pass — one file scan, one ungrouped aggregate, a one-row shuffle —
  * and its statistics must honor the exact/estimate contracts the hash
  * gate can't explain when it reddens.
  */
class ProfileSpec extends AnyFunSuite with SparkTestBase {

  private val cols = Seq(
    ("o_orderkey", "int"), ("o_custkey", "int"), ("o_orderstatus", "str"),
    ("o_totalprice", "num"), ("o_orderdate", "ts"), ("o_orderpriority", "str"))

  test("one scan, ungrouped aggregate, one-row exchange — regardless of table width") {
    val df = Profile.profile(Tables.orders(spark, sfDir), cols)
    df.write.format("noop").mode("overwrite").save()
    val plan = physicalNodes(df.queryExecution.executedPlan)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"profile must read the table once, saw ${scans.length} scans")
    val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
    // the only exchange is the partial→final reduction of ONE aggregate row
    assert(shuffles.length == 1, s"expected the single agg exchange:\n${shuffles.mkString("\n")}")
  }

  test("counts exact, estimates honest, canonical reprs consistent") {
    val rows = Profile.profile(Tables.orders(spark, sfDir), cols)
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val orders = Tables.orders(spark, sfDir)
    val n = orders.count()
    assert(rows.values.forall(_.getAs[Long]("n_rows") == n))
    // exact distinct when cardinality is under the sketch budget (64)
    val statuses = orders.select(countDistinct("o_orderstatus")).first().getLong(0)
    assert(rows("o_orderstatus").getAs[Long]("n_distinct_est") == statuses)
    // estimate within the KMV error envelope for high cardinality
    val keys = orders.select(countDistinct("o_orderkey")).first().getLong(0)
    val est = rows("o_orderkey").getAs[Long]("n_distinct_est")
    assert(math.abs(est - keys).toDouble / keys < 0.35, s"est $est vs true $keys")
    // canonical num reprs: e4 fixed point floors exactly
    val minP = orders.select(min(col("o_totalprice"))).first().getDouble(0)
    assert(rows("o_totalprice").getAs[Long]("min_num") == math.floor(minP * 10000).toLong)
    // str columns carry string min/max and null num reprs; num columns the reverse
    assert(rows("o_orderstatus").isNullAt(rows("o_orderstatus").fieldIndex("min_num")))
    assert(rows("o_orderkey").isNullAt(rows("o_orderkey").fieldIndex("min_str")))
  }

  test("null accounting: nulls excluded from distinct and min/max, counted in n_nulls") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, null), (null, "b"), (1L, null))
      .toDF("v", "s")
    val p = Profile.profile(df, Seq(("v", "int"), ("s", "str")))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(p("v").getAs[Long]("n_rows") == 4)
    assert(p("v").getAs[Long]("n_nulls") == 1)
    assert(p("v").getAs[Long]("n_distinct_est") == 2)
    assert(p("v").getAs[Long]("min_num") == 1L && p("v").getAs[Long]("max_num") == 2L)
    assert(p("s").getAs[Long]("n_nulls") == 2)
    assert(p("s").getAs[Long]("n_distinct_est") == 2)
    assert(p("s").getAs[String]("min_str") == "a" && p("s").getAs[String]("max_str") == "b")
  }

  test("drift: planted null surge, id-space growth, and range escape all fire; steady state is quiet") {
    import spark.implicits._
    val prev = spark.range(1000).select(col("id").as("v"),
      concat(lit("u"), col("id") % 50).as("s"))
    // current snapshot: ids keep growing (range escape + distinct growth),
    // 20% of s goes null (null-rate surge)
    val cur = spark.range(2000).select(col("id").as("v"),
      when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("u"), col("id") % 50)).as("s"))
    val spec = Seq(("v", "int"), ("s", "str"))
    val d = Profile.drift(Profile.profile(cur, spec), Profile.profile(prev, spec))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val v = d("v")
    assert(v.getAs[Long]("n_rows_cur") == 2000 && v.getAs[Long]("n_rows_prev") == 1000)
    assert(v.getAs[Long]("distinct_ratio_e6") > 1500000, "id-space growth must show")
    assert(v.getAs[Boolean]("range_widened"), "cur max id escapes prev envelope")
    assert(v.getAs[Long]("null_rate_delta_e6") == 0)
    val sCol = d("s")
    assert(sCol.getAs[Long]("null_rate_delta_e6") == 200000, "20% null surge in ppm")
    assert(!sCol.getAs[Boolean]("range_widened"), "same string domain: no escape")
    // steady state: identical snapshots are all-quiet
    val q = Profile.drift(Profile.profile(prev, spec), Profile.profile(prev, spec))
      .collect()
    q.foreach { r =>
      assert(r.getAs[Long]("null_rate_delta_e6") == 0)
      assert(r.getAs[Long]("distinct_ratio_e6") == 1000000)
      assert(!r.getAs[Boolean]("range_widened"))
    }
  }

  // ------------------------------------------------ loud-failure guards
  // An alerting report must FAIL on degenerate inputs, not go quietly
  // null (r9 verdict #1 / ADVICE overflow): the DuckDB mirror errors on
  // integer division by zero and on BIGINT overflow natively, so the
  // Spark side raises too — engine-aligned loud failure.

  import spark.implicits._

  /** A hand-built profile frame (driftAgainst only reads the schema). */
  private def fakeProfile(rows: (String, Long, Long, Long)*) =
    rows.toSeq.toDF("column", "n_rows", "n_nulls", "n_distinct_est")
      .select(col("column"), lit("int").as("kind"), col("n_rows"),
        col("n_nulls"), col("n_distinct_est"),
        lit(1L).as("min_num"), lit(2L).as("max_num"),
        lit(null).cast("string").as("min_str"),
        lit(null).cast("string").as("max_str"))

  test("drift against a zero-row baseline raises instead of nulling the report") {
    val cur = fakeProfile(("v", 100L, 5L, 10L))
    val empty = fakeProfile(("v", 0L, 0L, 0L))
    val e = intercept[Exception](
      Profile.driftAgainst(cur, empty, Nil).collect())
    assert(e.getMessage.contains("zero-row profile"), e.getMessage)
    // and symmetrically for an empty current side
    val e2 = intercept[Exception](
      Profile.driftAgainst(empty, cur, Nil).collect())
    assert(e2.getMessage.contains("zero-row profile"), e2.getMessage)
  }

  test("drift with a column missing from the baseline raises, not silently drops") {
    val cur = fakeProfile(("v", 100L, 5L, 10L), ("w", 100L, 0L, 3L))
    val base = fakeProfile(("v", 100L, 5L, 10L))
    val e = intercept[Exception](
      Profile.driftAgainst(cur, base, Nil).collect())
    assert(e.getMessage.contains("baseline has no profile row for column w"),
      e.getMessage)
  }

  test("missing-baseline guard survives column pruning of the report (r10 ADVICE)") {
    // the guard must live inside EVERY derived metric, not in one column a
    // downstream projection can prune away — otherwise an alerting caller
    // selecting only a metric subset silently receives null/false for the
    // unmatched column
    val cur = fakeProfile(("v", 100L, 5L, 10L), ("w", 100L, 0L, 3L))
    val base = fakeProfile(("v", 100L, 5L, 10L))
    for (metric <- Seq("null_rate_delta_e6", "distinct_ratio_e6", "range_widened")) {
      val e = intercept[Exception](
        Profile.driftAgainst(cur, base, Nil)
          .select("column", metric).collect())
      assert(e.getMessage.contains("baseline has no profile row for column w"),
        s"$metric pruned the guard: ${e.getMessage}")
    }
  }

  test("ppm multiply past the long bound raises in lockstep with the BIGINT mirror") {
    val huge = Long.MaxValue / 1000000L + 1
    val cur = fakeProfile(("v", huge * 2, huge, 10L))
    val base = fakeProfile(("v", 100L, 5L, 10L))
    val e = intercept[Exception](
      Profile.driftAgainst(cur, base, Nil).collect())
    assert(e.getMessage.contains("overflows the ppm multiply"), e.getMessage)
    // in-bounds values still report (the guard is a guard, not a cap)
    val ok = Profile.driftAgainst(
      fakeProfile(("v", 200L, 10L, 10L)), base, Nil).collect()
    assert(ok.length == 1 && ok.head.getAs[Long]("null_rate_delta_e6") == 0L)
  }
}
