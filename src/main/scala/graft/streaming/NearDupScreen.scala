package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Dedup

/** Stream-vs-static near-duplicate screen: incoming documents are checked
  * against an indexed static corpus — the admission-control step of a
  * training-data pipeline (reject a crawled page that near-duplicates what
  * the corpus already holds) run continuously instead of as a batch job.
  *
  * The screen plan is fully STATELESS — signature + band explode on the
  * incoming side, an equi-join against the static banded index, and an exact
  * sorted-merge Jaccard verify — so it is legal in a Structured Streaming
  * micro-batch with zero state store (same posture as
  * [[graft.operators.Similarity.assignStateless]]): at 100 TB of stream
  * history there is nothing to checkpoint but the source offsets. The same
  * function IS the batch path; `screen` (batch) merely dedupes band-collision
  * repeats with `distinct()` — a streaming caller dedupes downstream (e.g.
  * `dropDuplicatesWithinWatermark`, proven in StreamingSpec) or tolerates
  * at-least-once flags.
  */
object NearDupScreen {

  /** (id, shingles, band, key) of one side — blank (token-less) docs
    * excluded; shared by the corpus index, the screen, and the disk probe.
    * Built on [[Dedup.signatures]], which shingles each document once.
    */
  private def bandedSide(df: DataFrame, idCol: String, textCol: String,
                         outId: String, shCol: String,
                         k: Int, n: Int, bands: Int): DataFrame =
    Dedup.signatures(df, idCol, textCol, Nil, k, n, bands)
      .filter(size(col("sh")) > 0)
      .select(col("id").as(outId), col("sh").as(shCol),
        posexplode(col("keys")).as(Seq("band", "key")))

  /** Band-collision join + exact sorted-merge Jaccard verify of a banded
    * incoming side against an index. One row per verifying (doc, corpus,
    * band) collision.
    */
  private def verifyJoin(banded: DataFrame, index: DataFrame,
                         threshold: Double): DataFrame =
    banded.join(index, Seq("band", "key"))
      .withColumn("inter",
        opt_fence(sorted_intersect_count(col("sh"), col("csh"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh")) + size(col("csh")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))

  /** Banded index + shingle sets of the static corpus — persisted, so
    * "build once, reuse for every micro-batch" is real and not a full
    * corpus re-shingle per batch; long-lived callers `unpersist()` it when
    * the stream stops. (corpus_id, band, key, csh).
    *
    * Token-less corpus docs are excluded (an empty shingle set has the
    * constant densified signature — every blank doc would collide with
    * every other on all bands, then 0/0 the Jaccard verify), and
    * `maxBucket` drops degenerate buckets exactly like the batch family's
    * [[graft.operators.Dedup]] band-join guard: a boilerplate bucket of N
    * corpus docs would otherwise cost every matching incoming doc N verify
    * rows per micro-batch.
    */
  def corpusIndex(corpus: DataFrame, idCol: String, textCol: String,
                  k: Int = 3, n: Int = 128, bands: Int = 32,
                  maxBucket: Int = 100000): DataFrame = {
    val banded = bandedSide(corpus, idCol, textCol, "corpus_id", "csh", k, n, bands)
    val hot = banded.groupBy("band", "key").count()
      .filter(col("count") > maxBucket).select("band", "key")
    banded.join(broadcast(hot), Seq("band", "key"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Stateless screen of `incoming` (streaming or batch) against a
    * [[corpusIndex]]: one row per (doc, corpus doc, band) collision that
    * verifies at `threshold` exact Jaccard. Self-matches (same id) are kept —
    * an incoming exact re-crawl of corpus doc X flags against X.
    */
  def screenRaw(incoming: DataFrame, index: DataFrame, idCol: String,
                textCol: String, k: Int = 3, n: Int = 128, bands: Int = 32,
                threshold: Double = 0.5): DataFrame =
    verifyJoin(bandedSide(incoming, idCol, textCol, "doc_id", "sh", k, n, bands),
      index, threshold)

  /** Batch form: distinct verified (doc, corpus) flags, materialized so the
    * internally-built index cache is released before returning (the Dedup
    * family's [[Dedup.materializedPairs]]).
    */
  def screen(incoming: DataFrame, corpus: DataFrame, idCol: String,
             textCol: String, threshold: Double = 0.5): DataFrame = {
    val index = corpusIndex(corpus, idCol, textCol)
    Dedup.materializedPairs(
      screenRaw(incoming, index, idCol, textCol, threshold = threshold).distinct(), index)
  }

  /** Disk-served band index — the LSH analogue of
    * [[graft.operators.Similarity.writeIndex]]: the banded corpus is laid out
    * partitioned by `pb = band * nBuckets + (key mod nBuckets)`, one flat
    * partition column so a probe's `isin` prunes at file listing. "Index the
    * 100 TB corpus once, admit each crawl increment against only the buckets
    * it can collide with" — the incremental-dedup posture where re-shingling
    * (or even re-reading) the corpus per batch is not an option.
    */
  def writeIndex(corpus: DataFrame, path: String, idCol: String,
                 textCol: String, k: Int = 3, n: Int = 128, bands: Int = 32,
                 nBuckets: Int = 64, maxBucket: Int = 100000): Unit = {
    val index = corpusIndex(corpus, idCol, textCol, k, n, bands, maxBucket)
    index
      .withColumn("pb",
        (col("band") * nBuckets + pmod(col("key"), lit(nBuckets.toLong))).cast("int"))
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(path)
    index.unpersist(blocking = false)
  }

  /** Screen a (small) incoming batch against a [[writeIndex]] layout reading
    * ONLY the partitions the batch's own band keys hash into: the collected
    * `pb` set is routing metadata bounded by |batch|·bands ints, and the
    * `isin` filter lands in the scan's `PartitionFilters`. With a 100-doc
    * micro-batch over a `bands × nBuckets = 2048`-partition corpus index,
    * ≥ ~0.4 of the index is never listed; with a 10-doc batch, ~0.96 — the
    * pruning win grows exactly as batches shrink, which is the admission
    * use case. Output matches [[screen]] (distinct verified flags).
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 incoming: DataFrame, idCol: String, textCol: String,
                 k: Int = 3, n: Int = 128, bands: Int = 32,
                 nBuckets: Int = 64, threshold: Double = 0.5): DataFrame = {
    // signatures are the dominant per-doc cost — compute the banded form
    // ONCE, cache it, and use it for both the pb routing set and the join
    val banded = bandedSide(incoming, idCol, textCol, "doc_id", "sh", k, n, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pbs = banded
      .select(((col("band") * nBuckets
        + pmod(col("key"), lit(nBuckets.toLong))).cast("int")).as("pb"))
      .distinct().collect().map(_.getInt(0))
    val index = spark.read.parquet(path).filter(col("pb").isin(pbs.map(Integer.valueOf): _*))
    Dedup.materializedPairs(verifyJoin(banded, index, threshold).distinct(), banded)
  }
}
