package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.NearDupScreen

/** The disk-served LSH band index: corpus written partitioned by
  * `pb = band * nBuckets + (key mod nBuckets)`, a probe of a small incoming
  * batch reads only its own pb partitions (partition pruning at file
  * listing) and returns exactly what the in-memory batch screen returns.
  */
class NearDupIndexSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("disk index probe equals in-memory screen and prunes partitions") {
    // small admission batch: re-crawls with a token appended (near-dups of
    // their sources), plus one novel doc that must not flag
    val incoming = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 900000)
      .withColumn("text", concat(col("text"), lit(" re crawl")))
      .select("doc_id", "text")
      .unionByName(spark.range(1).select(
        lit(999999L).as("doc_id"),
        lit("entirely novel admission content nothing like the corpus").as("text")))

    withTempDir("graft_lsh") { tmp =>
      val dir = tmp + "/idx"
      NearDupScreen.writeIndex(docs, dir, "doc_id", "text")

      val probed = NearDupScreen.probeIndex(spark, dir, incoming, "doc_id", "text")
      val expected = NearDupScreen.screen(incoming, docs, "doc_id", "text")
      assert(probed.collect().toSet == expected.collect().toSet,
        "disk-served probe must equal the in-memory screen")
      assert(!probed.collect().exists(_.getLong(0) == 999999L),
        "the novel doc must not flag")

      // the pb isin lands as a PARTITION filter — pruning happens at listing
      val plan = probed.queryExecution.executedPlan.toString()
      assert("PartitionFilters: \\[[^\\]]*pb".r.findFirstIn(plan).isDefined,
        s"no partition filter on pb in:\n$plan")

      // behavioral: a single-pb read lists only that partition's files
      val aPb = spark.read.parquet(dir).select("pb").head().get(0).toString
      val files = spark.read.parquet(dir).filter(col("pb") === aPb)
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.contains(s"pb=$aPb")))
      probed.unpersist(blocking = false)
    }
  }

  test("tiny batch probes a strict subset of index partitions") {
    val one = docs.filter(col("doc_id") === 7).select("doc_id", "text")
    withTempDir("graft_lsh1") { tmp =>
      val dir = tmp + "/idx"
      NearDupScreen.writeIndex(docs, dir, "doc_id", "text")
      val total = spark.read.parquet(dir).select("pb").distinct().count()
      // one doc touches ≤ bands (=32) pb partitions out of the corpus's spread
      val touched = one
        .select(posexplode(graft.functions.lsh_band_keys(
          graft.functions.minhash_sig_arr(graft.functions.word_shingles(col("text"))), 32)).as(Seq("band", "key")))
        .select((col("band") * 64 + pmod(col("key"), lit(64L))).cast("int").as("pb"))
        .distinct().count()
      assert(touched <= 32 && touched < total,
        s"probe set $touched must be a strict subset of $total index partitions")
    }
  }
}
