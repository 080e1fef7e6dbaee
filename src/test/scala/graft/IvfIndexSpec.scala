package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The IVF serving layout on disk: vectors written partitioned by cell, a
  * probe reads only its nProbe cells (partition pruning), and the results
  * equal the in-memory ivfTopK with the same quantizer.
  */
class IvfIndexSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("written index probe equals in-memory ivfTopK and prunes partitions") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val centroids = Similarity.ivfCentroids(emb, nCells = 16, refineIters = 1)
    withTempDir("graft_ivf") { tmp =>
      val dir = tmp + "/idx"
      Similarity.writeIndex(emb, centroids, dir)

      val probed = Similarity.probeIndex(spark, dir, queries, centroids, k = 10, nProbe = 4)
      val expected = Similarity.ivfTopK(emb, queries, 10, nCells = 16, nProbe = 4,
        refineIters = 1)
      assert(probed.collect().toSet == expected.collect().toSet,
        "disk-served probe must equal the in-memory plan")

      // the probe's scan carries the cell filter as a PARTITION filter — the
      // pruning happens at file listing, before any IO (BucketingSpec-style
      // plan assertion)
      val plan = probed.queryExecution.executedPlan.toString()
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
        s"no partition filter on cell in:\n$plan")

      // behavioral check: a single-cell read lists only that cell's files
      val aCell = spark.read.parquet(dir).select("cell").head().get(0).toString
      val files = spark.read.parquet(dir).filter(col("cell") === aCell)
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.contains(s"cell=$aCell")))
    }
  }

  test("grouped layout probe equals the flat probe and prunes at group grain") {
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val centroids = Similarity.ivfCentroids(emb, nCells = 16, refineIters = 1)
    withTempDir("graft_givf") { base =>
      Similarity.writeIndex(emb, centroids, s"$base/flat")
      // same flat assignment (routeGroups = 0), two-level directory layout
      Similarity.writeIndexGrouped(emb, centroids, s"$base/grouped",
        layoutGroups = 4)

      val flat = Similarity.probeIndex(spark, s"$base/flat", queries,
        centroids, k = 10, nProbe = 4)
      val grouped = Similarity.probeIndexGrouped(spark, s"$base/grouped",
        queries, centroids, k = 10, nProbe = 4)
      assert(grouped.collect().toSet == flat.collect().toSet,
        "grouped-layout probe must equal the flat-layout probe")

      // pruning happens at GROUP listing (grp is the partition column), and
      // the cell predicate is pushed into the sorted files for row-group skip
      val plan = grouped.queryExecution.executedPlan.toString()
      assert("PartitionFilters: \\[[^\\]]*grp".r.findFirstIn(plan).isDefined,
        s"no partition filter on grp in:\n$plan")
      assert("PushedFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
        s"cell predicate not pushed in:\n$plan")

      // the map artifact is invisible to the data read (underscore dir)
      assert(!spark.read.parquet(s"$base/grouped").columns.contains("_cellmap"))
      // every cell resolves to exactly one group
      val m = spark.read.parquet(s"$base/grouped/_cellmap")
      assert(m.groupBy("cell").count().filter(col("count") > 1).isEmpty)

      // behavioral check (the flat test's file-listing assertion at group
      // grain): reading one cell through its group touches ONLY that group's
      // directory — the listing-level prune the r13 gate requires in-plan
      val (aCell, aGrp) = {
        val r = m.orderBy("cell").head(); (r.getLong(0), r.getLong(1))
      }
      val files = spark.read.parquet(s"$base/grouped")
        .filter(col("grp") === aGrp && col("cell") === aCell)
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.contains(s"grp=$aGrp")),
        s"cell $aCell read outside its group dir grp=$aGrp: ${files.mkString(",")}")
    }
  }

  test("PQ index probe prunes partitions AND columns, twins stay rank 1") {
    val aug = emb.unionByName(
      emb.filter(col("vec_id") % 25 === 0).withColumn("vec_id", col("vec_id") + 100000))
    val queries = aug.filter(col("vec_id") >= 100000)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val centroids = Similarity.ivfCentroids(aug, nCells = 16, refineIters = 1)
    val trained = Similarity.pqCodebooks(aug, m = 8, kc = 16)
    val cb = spark.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    withTempDir("graft_pq") { tmp =>
      val dir = tmp + "/idx"
      Similarity.writeIndexPQ(aug, centroids, cb, dir, m = 8, w = 8)

      val probed = Similarity.probeIndexPQ(spark, dir, queries, centroids, cb,
        k = 5, m = 8, kc = 16)
      val top = probed.filter(col("rank") === 1)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      queries.select("qid").collect().map(_.getLong(0)).foreach { qid =>
        val (nbr, cos) = top(qid)
        // the twin shares the query's cell (identical vector, same argmax
        // tie-break as the probe ranking), codes match exactly → max ADC →
        // exact re-rank pins it at rank 1
        assert(nbr == qid - 100000, s"twin not rank 1 for $qid (got $nbr)")
        assert(cos > 0.9999)
      }

      val plan = probed.queryExecution.executedPlan.toString()
      assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
        "cell filter must prune partitions at file listing")
      // the ADC scan's parquet read schema must NOT include the embedding —
      // that column-pruned read is the 32× IO saving PQ exists for
      val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
      assert(readSchemas.exists(s => s.contains("codes") && !s.contains("embedding")),
        s"no codes-only scan found in:\n${readSchemas.mkString("\n")}")
    }
  }

  test("MaxSim over the disk-IVF shortlist preserves planted self-retrieval") {
    // the d14 serving composition: each query TOKEN probes the partitioned
    // index (partition-pruned read), probe hits map to a doc shortlist, and
    // the exact integer MaxSim scorer runs only on shortlisted docs — the
    // corpus-scale posture where scoring everything is not an option
    val corpus = emb.select(expr("vec_id div 8").as("doc_id"),
      col("vec_id"), col("embedding"))
    val queries = corpus.filter(col("doc_id") === 3)
      .select(col("doc_id").as("qid"), col("vec_id").as("qtok"), col("embedding"))
    val centroids = Similarity.ivfCentroids(emb, nCells = 8, refineIters = 1)
    withTempDir("graft_maxsim") { tmp =>
      val dir = tmp + "/idx"
      Similarity.writeIndex(emb, centroids, dir)
      val tokenProbes = queries
        .select(col("qtok").as("qid"), col("embedding").as("qv"))
      val hits = Similarity.probeIndex(spark, dir, tokenProbes, centroids,
        k = 32, nProbe = 4)
      val shortlist = hits.select(expr("neighbor div 8").as("doc_id")).distinct()
      val served = Similarity.maxSim(
        corpus.join(shortlist, "doc_id"), queries).collect()
      val top = served.filter(_.getAs[Int]("rank") == 1)
      assert(top.length == 1 && top.head.getAs[Long]("doc_id") == 3L,
        s"self doc lost through the IVF shortlist: ${served.mkString(",")}")
      assert(top.head.getAs[Long]("maxsim") == 8L * 1000000L)
      // the shortlist is a genuine prune, not the whole corpus
      assert(shortlist.count() < corpus.select("doc_id").distinct().count())
    }
  }

  test("index layout spans all cells and loses no vectors") {
    val centroids = Similarity.ivfCentroids(emb, nCells = 16, refineIters = 1)
    withTempDir("graft_ivf2") { tmp =>
      val dir = tmp + "/idx"
      Similarity.writeIndex(emb, centroids, dir)
      val idx = spark.read.parquet(dir)
      assert(idx.count() == emb.count(), "every vector exactly once")
      val cells = idx.select("cell").distinct().count()
      assert(cells > 1 && cells <= 16)
    }
  }
}
