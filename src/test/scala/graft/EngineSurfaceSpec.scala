package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the engine's outer surfaces: the driver contract (entry on a
  * session without graft configs), the SQL function registry, and
  * whole-stage-codegen participation of the native expressions.
  */
class EngineSurfaceSpec extends AnyFunSuite with SparkTestBase {

  test("entry works on a session missing graft configs (driver smoke)") {
    // simulate the driver's vanilla session: flag off until entry sets it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try {
      val df = SparkEntry.entry(spark)
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  test("SQL surface: registered functions work through spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT anonymize_ip('1.2.3.4') AS a, anonymize_ip('junk') AS b").head()
    assert(r.getString(0) == "1.2.3.x")
    assert(r.getString(1) == "junk")
    val rt = spark.sql(
      """SELECT capnp_decode_http_log(
        |  capnp_encode_http_log(5L, 7L, 9L, 11L, 200, 'HIT', 'GET', '1.2.3.4', '/u')
        |).url AS url""".stripMargin).head()
    assert(rt.getString(0) == "/u")
  }

  test("native expressions stay inside whole-stage codegen") {
    // parquet-backed input so the projection isn't constant-folded away
    val df = graft.operators.HttpLog.view(Tables.events(spark, sfDir))
      .select(graft.functions.anonymize_ip(col("remote_addr")).as("a"),
        graft.functions.simhash64(col("url")).as("h"))
    val plan = df.queryExecution.executedPlan.toString()
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [anonymize_ip"), s"no WSCG span in:\n$plan")
    val rows = df.limit(5).collect()
    assert(rows.forall(_.getString(0).endsWith(".x")))
  }

  test("flagship plan evaluates the codec exactly once, never in a Filter") {
    // regression guard for the opt_fence: without it, predicate pushdown
    // duplicates decode(encode(...)) into every null-check Filter AND pushes
    // the decode projection below the replay Union (once per branch) — 4
    // decode evaluations per surviving row instead of 1
    val df = Queries.all.find(_.name == "a00_pipeline_e2e").get.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    val decodes = "capnp_decode_http_log".r.findAllIn(plan).length
    assert(decodes == 1, s"decode must appear exactly once, saw $decodes")
    assert("Filter [^\\n]*capnp_decode".r.findFirstIn(plan).isEmpty,
      "decode leaked into a Filter condition")
  }

  test("a03 keep_latest plans hash-based — no SortAggregate demotion") {
    // regression guard for the keep_latest TypedImperativeAggregate: the
    // declarative forms (max_by, max(struct)) carry variable-width buffers
    // and demote to SortAggregate on both map and reduce side (2.4× a04 at
    // the 100× probe); keep_latest must stay ObjectHashAggregate
    val df = Queries.all.find(_.name == "a03_dedup_replacing").get.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"SortAggregate demotion in:\n$plan")
    // and keep_latest is SQL-registered
    GraftFunctions.register(spark)
    import spark.implicits._
    val r = spark.sql(
      """SELECT g, keep_latest(v, struct(v, s)).s AS latest
        |FROM VALUES (1, 10L, 'old'), (1, 20L, 'new'), (2, 5L, 'only') AS t(g, v, s)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r.map(_.getString(1)).toSeq == Seq("new", "only"))
  }

  test("optimizer collapses nested idempotent calls to one evaluation") {
    // pipelines compose: a defensive re-anonymize / re-normalize downstream
    // of an already-clean view is a provable no-op the ENGINE should delete
    // (a full extra string pass per row at 100 TB otherwise)
    GraftFunctions.register(spark) // installs CollapseIdempotent
    val df = graft.operators.HttpLog.view(Tables.events(spark, sfDir))
      .select(
        graft.functions.anonymize_ip(
          graft.functions.anonymize_ip(col("remote_addr"))).as("a"),
        graft.functions.nfc_normalize(
          graft.functions.nfc_normalize(col("url"))).as("u"))
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert("anonymize_ip".r.findAllIn(optimized).length == 1,
      s"nested anonymize_ip must collapse:\n$optimized")
    assert("nfc_normalize".r.findAllIn(optimized).length == 1,
      s"nested nfc_normalize must collapse:\n$optimized")
    // identical results to the single application (idempotence contract)
    val single = graft.operators.HttpLog.view(Tables.events(spark, sfDir))
      .select(graft.functions.anonymize_ip(col("remote_addr")).as("a"),
        graft.functions.nfc_normalize(col("url")).as("u"))
    assert(df.collect().toSeq == single.collect().toSeq)
  }

  test("c14 keep-best dedup plans hash-based — no SortAggregate demotion") {
    // same guard as a03 for the keeper-policy variant: the (score, id) order
    // is packed into keep_latest's long version — max(struct) would carry a
    // struct buffer and demote to SortAggregate on both sides
    val df = Queries.all.find(_.name == "c14_exact_dedup_keep_best").get.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"SortAggregate demotion in:\n$plan")
    // keeper policy on a planted frame: best score wins, id DESC breaks ties
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", 0.2), (2L, "same text", 0.9), (3L, "same text", 0.9),
      (4L, "other", 0.5)).toDF("doc_id", "text", "q")
    val kept = operators.Dedup.exactKeepBest(docs, "doc_id", "text", "q")
      .select("keeper_id", "keeper_score", "n_copies")
      .as[(Long, Double, Long)].collect().toSet
    assert(kept == Set((3L, 0.9, 3L), (4L, 0.5, 1L)))
  }

  test("e14 gopher rules is one scan with zero exchanges") {
    // the corpus-wide quality pass must stay a stateless projection: a
    // shuffle or extra scan creeping in (e.g. a rule rewritten through an
    // aggregate) multiplies the cost of the cheapest whole-corpus operator
    val df = Queries.all.find(_.name == "e14_gopher_rules").get.fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"unexpected shuffle in e14:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1, s"expected one scan:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB shuffle-volume lever: a selective dim filter is turned into
    // a bloom `might_contain` applied to the fact side BEFORE its shuffle
    // write, so non-matching fact rows never cross the wire. Default-on in
    // this Spark, but gated by a 10 GB application-side scan threshold the
    // test data can't reach — lower the gates, assert injection, and prove
    // result equality with the un-bloomed join.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def join() = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val bloomed = join()
      val plan = bloomed.queryExecution.executedPlan.toString()
      assert(plan.toLowerCase.contains("bloom"), s"no bloom filter injected in:\n$plan")
      val withBloom = bloomed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      saved.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
      val plain = join().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(withBloom == plain, "bloom-pruned join changed the result")
      assert(withBloom.nonEmpty)
    } finally {
      confs.foreach { case (k, _) => spark.conf.unset(k) }
      saved.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
    }
  }

  test("every query has matching column names with its oracle select list") {
    // cheap structural check: oracle SQL aliases every output column with the
    // same name Spark produces (the driver sorts columns by name)
    val byName = Queries.all.map(q => q.name -> q).toMap
    assert(byName.size == Queries.all.size, "duplicate query names")
    assert(SparkEntry.queries.keySet == Queries.all.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // oracles are stripMargin strings built from shared fragments: a missing
    // `s` interpolator leaves `${x}`/`$x` in the text, and stripMargin (which
    // runs after interpolation) eats the first `|` of a fragment line that
    // starts with `||`, or leaves a margin the template forgot to strip
    val unrendered = """\$\{|\$[A-Za-z_]""".r
    val loneBar = """^\s*\|(?!\|)""".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(unrendered.findFirstIn(sql).isEmpty, s"$name: unrendered interpolation")
      sql.linesIterator.foreach { line =>
        assert(loneBar.findFirstIn(line).isEmpty, s"$name: line led by a lone '|': $line")
      }
    }
  }

  test("session scale configs are set (SURVEY §4: AQE + skew join on, bounded shuffle partitions)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt <= 64,
      "local sessions must size shuffle partitions to cores, not the 200 default")
  }
}
