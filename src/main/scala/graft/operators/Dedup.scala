package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Deduplication operator family (SURVEY.md §2 group C), designed so every
  * variant is an equi-join at scale:
  *
  *  - exact: one hash-groupBy (single shuffle, map-side partial agg)
  *  - MinHash/SimHash: LSH banding turns near-dup search into an equi-join on
  *    (band, key) — never an O(n²) cross join
  *  - n-gram Jaccard: bounded by an explicit blocking column
  *  - embedding: threshold pairs for small/blocked inputs; the scale path is
  *    [[Similarity.lshTopK]]'s bucketed join
  */
object Dedup {

  /** LSH candidate pairs: all (id_a < id_b) pairs co-bucketed by some
    * (band, key), distinct. The shared core of every banding scheme here —
    * since r21 one capped-collect aggregation per bucket with in-row pair
    * generation (same output as the previous (band, key) self-join, one
    * pass over the banded frame instead of two).
    *
    * `maxBucket` caps degenerate buckets (e.g., a boilerplate fragment shared
    * by millions of documents makes one (band, key) quadratic — the classic
    * LSH hot-bucket failure at 100 TB). Oversized buckets evaluate to NULL
    * in the aggregate and are dropped; their members still pair through
    * their other bands, so recall only degrades for documents similar
    * *solely* via the degenerate band.
    */
  private[graft] def bandJoinCandidates(banded: DataFrame,
                                        maxBucket: Int = 100000): DataFrame = {
    // r21: ONE aggregation replaces the previous count-pass + broadcast
    // anti-join + (band, key) self-join. collect_capped gathers each
    // bucket's ids (sorted ascending, NULL past maxBucket — the same
    // "bucket size > maxBucket ⇒ dropped" semantics the anti-join had) and
    // pairs generate in-row from the sorted array: position i pairs with
    // every later position, so id_a < id_b and each unordered pair appears
    // once per bucket — exactly the self-join's output, with one pass over
    // the banded frame instead of two and no broadcast. The per-bucket
    // quadratic is identical to the join's (a bucket's pairs always
    // co-reside in one task either way); the cap bounds both. Distinct
    // across bands is unchanged.
    // r22 (ADVICE): null band keys are dropped BEFORE the groupBy — v1's
    // equi-join could never match them, but groupBy treats null as a value
    // and would pool every null-key doc into one quadratic bucket (paired
    // candidates that only the downstream null-metric filter discards).
    // Output is unchanged on any input; candidate volume stops blowing up
    // on dirty corpora (e.g. null-text docs under simhashPairs).
    val emitted = banded.filter(col("key").isNotNull)
      .groupBy("band", "key")
      .agg(graft.functions.collect_capped(col("id"), maxBucket).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("id_b"))
    // r22: the cross-band dedup partitions by id_a ALONE (subset of the
    // dedup keys, so the aggregation needs no second exchange) instead of
    // (id_a, id_b) — downstream, the first verify join is keyed on id_a,
    // so at scale (sort-merge/shuffled-hash regime, where the sig frame
    // outgrows broadcast) the candidate set arrives at the join already
    // co-partitioned and is NOT re-shuffled: one exchange of the pair set
    // instead of two. Shuffled bytes are unchanged (a pair's cross-band
    // duplicates originate in different (band, key) partitions either way,
    // so the old map-side partial dedup could not collapse them before the
    // exchange). A hot id_a is bounded by cap·bands pairs per doc.
    // Numbered: at bench scale the pair set is a few hundred KB, which
    // AQE's coalescing floor packs into fewer tasks than cores, and the
    // pair dedup and Jaccard verify behind it are CPU-bound.
    numberedRepartition(emitted, col("id_a")).dropDuplicates("id_a", "id_b")
  }

  /** Exact dedup by content hash: keeper = min id per hash. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", md5(col(textCol).cast("binary")))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping the copy that maximizes `scoreCol` (id as the
    * deterministic tie-break) — the RefinedWeb-style policy of keeping the
    * best-quality/longest representative instead of the first-seen one.
    * Same single-shuffle aggregation shape as [[exact]], but `max(struct)`
    * carries a struct aggregation buffer, which HashAggregate's fixed-width
    * UnsafeRow map cannot hold — Catalyst demotes it to SortAggregate on both
    * sides (the a03 pathology; the 100× probe measured that at 2.4× the
    * hash-agg sibling). Instead the (score, id) order is PACKED into one long
    * — `round(score·10⁴) << 48 | id` — and fed to the native `keep_latest`
    * TypedImperativeAggregate, which plans as ObjectHashAggregate with
    * map-side combine and carries the exact (score, id) payload unrounded.
    * Packing contract: score ∈ [0,1] (quality scores are), 1e-4 order
    * resolution (callers already round scores to 4 dp), ids < 2^48.
    */
  def exactKeepBest(df: DataFrame, idCol: String, textCol: String,
                    scoreCol: String): DataFrame =
    df.withColumn("fp", md5(col(textCol).cast("binary")))
      .groupBy("fp")
      .agg(
        graft.functions.keep_latest(
          shiftleft(round(col(scoreCol) * 10000).cast("long"), 48) + col(idCol),
          struct(col(scoreCol).as("s"), col(idCol).cast("long").as("id"))).as("best"),
        count(lit(1)).as("n_copies"))
      .select(col("fp"), col("best.id").as("keeper_id"),
        col("best.s").as("keeper_score"), col("n_copies"))

  /** Per-document diff of two corpus snapshots — the incremental-pipeline
    * question ("what did the new crawl change?") answered before any
    * reprocessing is scheduled: full outer join on the id, content compared
    * by fingerprint. Output: (idCol, status ∈ added|removed|changed|same).
    * One shuffle per side (the join); fingerprints are computed in the scan
    * projection, so the join carries (id, 32-byte fp), never the text.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    def fp(df: DataFrame, as: String) =
      df.select(col(idCol), md5(col(textCol).cast("binary")).as(as))
    fp(oldSnap, "fp_old").join(fp(newSnap, "fp_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("same").as("status"))
  }

  /** Materialize the (tiny) verified-pair frame into its own cache, then
    * release the operator's internal caches. Without this, every invocation
    * leaks a MEMORY_AND_DISK cache into the session — in a long-lived service
    * or a benchmark loop those accumulate until they evict each other and
    * every unrelated query pays the GC bill.
    *
    * persist+count, NOT localCheckpoint: an eager localCheckpoint writes an
    * extra copy of every partition and leaves the blocks unreplicated with
    * lineage truncated, so one lost executor (or a dynamic-allocation
    * decommission) makes the pair set unrecoverable — and the extra
    * materialization regressed the batch path ~1.4× (BENCH_r03 c02/c06).
    * persist keeps lineage: eviction or executor loss just recomputes. The
    * pair cache itself is verified near-dup pairs — orders of magnitude
    * smaller than the corpus; callers holding the frame long-term can
    * `unpersist()` it when done.
    */
  private[graft] def materializedPairs(pairs: DataFrame, caches: DataFrame*): DataFrame = {
    val out = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    materialize(out) // force the pair cache so the big inputs can be released now
    caches.foreach(_.unpersist(blocking = false))
    out
  }

  /** Materialize a persisted frame and return its row count. Plain
    * `count()`, deliberately: r22 probed two "one job, no aggregation
    * stages" alternatives and BOTH measured worse under interleaved A/B at
    * sf0.1 — `queryExecution.toRdd.count()` read 1.16-1.21× (the readback
    * deserializes every column of the just-built cache batches, where
    * count()'s aggregate prunes them all), and `select(lit(1))` over the
    * cache read through the internal RDD read 1.26-1.27× (worse still).
    * count()'s two extra stages (partial + single-task final) are cheaper
    * than either; do not re-run this experiment without new evidence.
    */
  private def materialize(df: DataFrame): Long = df.count()

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification.
    *
    * sig(n hashes) → `bands` bands → equi-join on (band, key) → distinct
    * candidate pairs → verify on true shingle Jaccard. With n=128, bands=32
    * (r=4), the S-curve crosses ~0.5 at j≈0.42.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, n: Int = 128, bands: Int = 32,
                   threshold: Double = 0.5): DataFrame = {
    // the sig subtree feeds four plan branches (both join sides, twice);
    // persist so shingling+minhashing runs once per doc, not four times.
    // Token-less docs are excluded: their constant densified signature would
    // collide all blank docs on every band, then 0/0 the Jaccard verify
    // (ANSI divide error) — the exact-Jaccard oracle excludes them too.
    // NOT eagerly materialized (r22 probe): AQE's three TableCacheQueryStages
    // over it (band map, `sa`, `sb`) race this cache's block locks on
    // first run, but the waiters overlap the winner's compute — forcing the
    // cache with its own action first measured a ~5% LOSS on interleaved
    // mins (c02 0.955, c07 0.946, lazy/eager) for one extra job.
    val sigs = signatures(df, idCol, textCol, Nil, k, n, bands)
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    materializedPairs(verifiedPairs(sigs, threshold), sigs)
  }

  /** (id, carry…, sh, keys): each doc's ascending shingle-hash array and its
    * `bands` LSH band keys. Shingle ONCE per doc: `sh` is fenced so neither
    * CollapseProject (into the keys projection) nor PushDownPredicates (into
    * a caller's size filter) duplicates the tokenize+hash pass, and the
    * signature derives from the materialized shingle array (bit-identical to
    * `TextHash.minhashSig` on the text — OPH is a per-bucket min,
    * order-free). The unfenced shape evaluated word_shingles up to 3× per
    * doc: once in the pushed-down filter, once for `sh`, once inside a
    * text-level MinHash's internal re-shingling. Token-less docs get an
    * empty `sh`; callers filter them off the band/verify side.
    */
  private[graft] def signatures(df: DataFrame, idCol: String, textCol: String,
                                carry: Seq[String], k: Int, n: Int, bands: Int): DataFrame = {
    val carried = carry.map(col)
    df.select(col(idCol).as("id") +: carried :+
        opt_fence(word_shingles(col(textCol), k)).as("sh"): _*)
      .select(col("id") +: carried :+ col("sh") :+
        lsh_band_keys(minhash_sig_arr(col("sh"), n), bands).as("keys"): _*)
  }

  /** Verified near-dup pairs (id_a < id_b, jaccard ≥ threshold, rounded to
    * 4 dp) over a [[signatures]] frame of docs with at least one shingle:
    * band equi-join candidates, then exact shingle Jaccard.
    */
  private def verifiedPairs(sigs: DataFrame, threshold: Double): DataFrame = {
    val banded = sigs.select(col("id"), posexplode(col("keys")).as(Seq("band", "key")))
    val cand = bandJoinCandidates(banded)
    // The attach joins below deliberately shuffle the full sig frame rather
    // than semi-join-pruning it to candidate ids first: on candidate-dense
    // corpora the prune buys nothing (most ids are candidates) while adding
    // a distinct + an extra sort/shuffle of the array payloads — measured
    // 4× SLOWER at the 100× probe — and letting AQE broadcast the "pruned"
    // arrays OOMs (its size estimate is compressed bytes; the deserialized
    // arrays are many× larger).
    // The two attach sides can never share one broadcast: Spark 4.1 AQE
    // gives each InMemoryTableScan of a cache its own TableCacheQueryStage,
    // and unlike shuffle/broadcast stages that stage does not canonicalize:
    // its canonical form keeps its stage id and its scan's own expression
    // ids, so the BroadcastExchanges above `sa` and `sb` never match in
    // AQE's exchange reuse (their scans alone canonicalize equal), and at
    // bench scale both sides broadcast the signatures.
    val sh = sigs.select(col("id"), col("sh"))
    // verification by sorted merge over the ascending shingle arrays
    // (wordShingles emits them sorted): i / (|A| + |B| − i) — no per-pair
    // hash-set builds like array_intersect/array_union. Fenced: otherwise
    // the threshold filter is rewritten to contain the merge expression and
    // verification runs twice per candidate.
    cand
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("inter",
        opt_fence(sorted_intersect_count(col("sa.sh"), col("sb.sh"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa.sh")) + size(col("sb.sh")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash near-dup pairs: 4×16-bit bands (any band equal → candidate),
    * verified by exact hamming distance. The pigeonhole guarantee only
    * covers hamming ≤ 3 — the default threshold matches it; raising
    * `maxHamming` above 3 returns extra pairs best-effort (a pair's 4+
    * differing bits can straddle all four bands and never collide).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"), simhash64(col(textCol)).as("h"))
    val bandCols = array((0 until 4).map(i =>
      shiftrightunsigned(col("h"), i * 16).bitwiseAND(lit(0xffffL))): _*)
    val banded = sh.select(col("id"), posexplode(bandCols).as(Seq("band", "key")))
    bandJoinCandidates(banded)
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("hamming", bit_count(col("sa.h").bitwiseXOR(col("sb.h"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Weighted (idf) MinHash+LSH near-dup pairs: shingles shared by many
    * documents (boilerplate) get weight 1, rare content-bearing shingles get
    * up to `maxWeight` — so two documents that only share ubiquitous
    * boilerplate no longer bucket together, the classic precision failure of
    * unweighted MinHash on web corpora.
    *
    * Plan shape: shingle → one df aggregation (map-side combined; shingles
    * are distinct per doc) → weight = clamp(ln(N/df), 1, maxWeight) → per-doc
    * weighted signature ([[graft.functions.minhash_sig_weighted]], constant
    * work per shingle via an exponential race) → the usual band equi-join →
    * verified on exact weighted Jaccard  Σ min(w_a,w_b) / Σ max(w_a,w_b)
    * via a sorted-merge over the aligned (shingle, weight) arrays
    * ([[graft.functions.weighted_intersect_sum]]), computed only for
    * candidate pairs.
    */
  def weightedMinhashPairs(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, n: Int = 128, bands: Int = 32,
                           threshold: Double = 0.5, maxWeight: Int = 8): DataFrame = {
    // shingle once per doc, cache; the array feeds both the df aggregation
    // and the per-doc packing below (exploding from the cache is cheap)
    val base = df.select(col(idCol).as("id"), word_shingles(col(textCol), k).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus size N for idf, read off the SAME action that materializes the
    // shingle cache — previously a separate column-pruned count() job that
    // re-scanned the corpus before the cache existed (one whole extra pass
    // at 5k docs ≈ the query's fixed-cost floor; at 100 TB, a full extra
    // read). Every downstream consumer reuses the now-warm cache.
    val nDocs = materialize(base)
    val exploded = base.select(col("id"), explode(col("sh")).as("shingle"))
    def wOf(dfc: Column): Column = greatest(lit(1),
      least(lit(maxWeight), ceil(log(lit(nDocs.toDouble) / dfc)))).cast("int")
    // r21 (optimization): weights attach ROW-LOCALLY instead of
    // explode → join-on-shingle → collect_list(struct) → sort_array.
    // Key algebra: w(df) = clamp(ceil(ln(N/df)), 1, maxWeight) equals the
    // df=1 default for every shingle with df < N/e^(maxWeight-1), so the
    // NON-default ("exception") shingles each appear in > N/e^(maxWeight-1)
    // documents — and since Σ df = N·avgShingles, there are at most
    // e^(maxWeight-1)·avgShingles ≈ 1100·avgShingles of them REGARDLESS of
    // corpus size. That bounded set rides one broadcast row as two aligned
    // ascending arrays, and ws derives per row by binary search
    // ([[graft.functions.weights_for]] — NOT a Spark map probe, whose
    // ArrayBasedMapData lookup is a linear scan and measured 66 s of CPU
    // here). No second explode, no shingle-keyed join, no struct
    // collect/sort (sh is already ascending); the old shape cost 2 extra
    // exchanges of shingle-level rows plus ObjectHashAggregate struct
    // buffers (plan: Exchange 9.1 MiB + BroadcastExchange 24 MiB, both
    // gone). w values come from the SAME ceil(log(N/df)) expression on both
    // paths, and Math.log(N/1.0) == Math.log(N), so packed arrays — and
    // every downstream signature, band key, and verified weighted Jaccard —
    // are bit-identical. Docs with empty shingle sets were dropped by the
    // old inner join; the size(sh) > 0 filter keeps that row set exactly.
    val wDefaultInt: Int = math.max(1, math.min(maxWeight,
      math.ceil(math.log(nDocs.toDouble)).toInt))
    val exc = exploded.groupBy("shingle").agg(count(lit(1)).as("df"))
      .select(col("shingle"), wOf(col("df")).as("w"))
      .filter(col("w") =!= lit(wDefaultInt))
      .agg(sort_array(collect_list(struct(col("shingle"), col("w")))).as("ew"))
      .select(transform(col("ew"), e => e.getField("shingle")).as("ekeys"),
        transform(col("ew"), e => e.getField("w")).as("ews"))
    val packed = base
      .filter(size(col("sh")) > 0)
      .crossJoin(broadcast(exc))
      .select(col("id"), col("sh").as("shs"),
        // fenced: ws feeds the signature, the output column and the total —
        // CollapseProject would otherwise inline the lookup three times
        opt_fence(graft.functions.weights_for(
          col("sh"), col("ekeys"), col("ews"), wDefaultInt)).as("ws"))
      .select(col("id"),
        lsh_band_keys(minhash_sig_weighted(col("shs"), col("ws"), n), bands).as("keys"),
        col("shs"), col("ws"),
        // per-doc total weight, precomputed once: turns pair verification
        // into a single pass (Σmax = tot_a + tot_b − Σ∩, see below)
        aggregate(col("ws"), lit(0L), (acc, w) => acc + w.cast("long")).as("tot"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = packed.select(col("id"), posexplode(col("keys")).as(Seq("band", "key")))
    // Both docs carry the same global idf weight for a shared shingle, so
    //   Σ min(w_a,w_b) = Σ_{g∈A∩B} w(g)          (one merge pass, A's weights)
    //   Σ max(w_a,w_b) = tot_a + tot_b − Σ_{g∈A∩B} w(g)
    // — the B side carries no weight array at all.
    val cand = bandJoinCandidates(banded)
    // full-frame attach joins, NOT a candidate-id semi-join prune — see the
    // equivalent comment in minhashPairs (the prune measured 2-4× slower at
    // the 100× probe on this candidate-dense corpus, and AQE-broadcast of
    // the "pruned" arrays OOMs)
    val pairs = cand
      .join(packed.select(col("id"), col("shs").as("sha"), col("ws").as("wsa"),
          col("tot").as("tot_a")),
        col("id_a") === col("id"))
      .drop("id")
      .join(packed.select(col("id"), col("shs").as("shb"), col("tot").as("tot_b")),
        col("id_b") === col("id"))
      .withColumn("inter_w", // fenced: single evaluation
        opt_fence(weighted_intersect_sum(col("sha"), col("wsa"), col("shb"))))
      .withColumn("wjaccard",
        col("inter_w").cast("double") / (col("tot_a") + col("tot_b") - col("inter_w")))
      .filter(col("wjaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("wjaccard"), 4).as("wjaccard"))
    materializedPairs(pairs, base, packed)
  }

  /** Exact n-gram Jaccard pairs within an explicit blocking column (the
    * quadratic stays bounded by the largest block).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        blockCol: String, k: Int = 3,
                        threshold: Double = 0.6): DataFrame = {
    val sh = df.select(
      col(idCol).as("id"), col(blockCol).as("blk"), word_shingles(col(textCol), k).as("sh"))
      // token-less docs (empty/whitespace-only) have no shingle set and no
      // meaningful Jaccard — excluded explicitly so the semantics don't hinge
      // on how 0/0 divides
      .filter(size(col("sh")) > 0)
    sh.as("a")
      .join(sh.as("b"), col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("inter",
        opt_fence(sorted_intersect_count(col("a.sh"), col("b.sh"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("a.sh")) + size(col("b.sh")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** The prelude [[cleanCorpus]] and [[cleanCorpusCC]] share, as ONE
    * persisted frame (id, fp, exact_copies, sh, keys) — one row per exact
    * keeper, signed for the LSH screen:
    *
    *  - length floor, then exact dedup as a single md5 group-by whose
    *    `keep_latest(-id, struct(id, text))` yields the min id and its text
    *    (every row of an fp group has the same text, so no join back to the
    *    corpus is needed; ObjectHashAggregate with map-side combine, like
    *    [[exactKeepBest]]). Ids must be integral.
    *  - [[signatures]] over the keepers. Token-less keepers (≥ minTokens
    *    tokens but no word shingle) stay in the frame with an empty `sh`:
    *    they are kept docs, so the final anti-join must see them, and only
    *    the band/verify side filters them out.
    *
    * The frame is not materialized on its own: its three consumers (the
    * band join, the verify attach joins, the final anti-join's left side)
    * all run under the caller's one output action, which fills the cache on
    * first read. Callers release it after that action.
    */
  private def keeperSignatures(df: DataFrame, idCol: String, textCol: String,
                               minTokens: Int): DataFrame = {
    val keepers = df.filter(size(split(trim(col(textCol)), "\\s+")) >= minTokens)
      .withColumn("fp", md5(col(textCol).cast("binary")))
      .groupBy("fp")
      .agg(
        graft.functions.keep_latest(-col(idCol).cast("long"),
          struct(col(idCol).as("id"), col(textCol).as("text"))).as("keeper"),
        count(lit(1)).as("exact_copies"))
      .select(col("keeper.id").as("id"), col("fp"), col("exact_copies"),
        col("keeper.text").as("text"))
    signatures(keepers, "id", "text", Seq("fp", "exact_copies"), k = 3, n = 128, bands = 32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The keepers minus `dropped` (an `id` column, duplicates allowed) as
    * (idCol, fp, exact_copies), materialized as the returned cache — the
    * call's one action — after which `sigs` and `caches` are released.
    */
  private def keptRows(sigs: DataFrame, dropped: DataFrame, idCol: String,
                       caches: DataFrame*): DataFrame =
    materializedPairs(
      sigs.join(dropped, Seq("id"), "left_anti")
        .select(col("id").as(idCol), col("fp"), col("exact_copies")),
      sigs +: caches: _*)

  /** The full corpus-cleaning pipeline a training-data run needs, composed
    * from the family above: length floor → exact dedup (keep min id) →
    * near-dup removal (greedy: the higher id of every verified MinHash pair
    * is dropped). Output: (idCol, fp, exact_copies), one row per kept doc.
    *
    * Shape: [[keeperSignatures]] is the one per-document cache. The band
    * join and the sorted-merge verify read it, the verified pairs' `id_b`
    * feeds the left-anti join against it as is (an anti-join needs no
    * distinct right side), and the output's persist+count is the call's
    * only action. The returned frame is the only cache left behind (the
    * CacheHygieneSpec contract); callers holding it long-term unpersist it.
    */
  def cleanCorpus(df: DataFrame, idCol: String, textCol: String,
                  minTokens: Int = 5, nearThreshold: Double = 0.5): DataFrame = {
    val sigs = keeperSignatures(df, idCol, textCol, minTokens)
    val dropIds = verifiedPairs(sigs.filter(size(col("sh")) > 0), nearThreshold)
      .select(col("id_b").as("id"))
    keptRows(sigs, dropIds, idCol)
  }

  /** Connected components of an undirected pair graph via alternating
    * large-star / small-star contractions (the MapReduce CC algorithm of
    * Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * converges in O(log²) rounds regardless of component diameter, unlike
    * naive label propagation whose round count is the graph diameter (a
    * near-dup *chain* of n documents would need n rounds). Every round is
    * two groupBy+join passes over the current edge set; edge sets only
    * shrink toward the final star forest.
    *
    * Input: (id_a, id_b) pairs. Output: one row per node, (doc_id, rep)
    * with rep = the minimum id of the node's component (reps map to
    * themselves).
    *
    * The driver-side convergence loop is justified the same way AQE's
    * re-optimization is: O(log²) iterations of fully-distributed work, with
    * two scalar aggregates per round to detect the fixpoint.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // large-star: attach every neighbor v > u to m = min(Γ(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: orient edges large→small; attach u and all its smaller
    // neighbors to m = min of that star.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(mins, "u").select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Each star round references its input several times (symmetrization
    // union + the mins join), so the Catalyst plan grows geometrically with
    // iterations — by round ~8 even explain() OOMs. Persist+materialize the
    // round, then restart the plan from the cached rows as a flat
    // LogicalRDD: the cache serves reads, and on cache eviction/executor
    // loss the RDD lineage (one round back at a time) recomputes.
    // (truncated view, persisted handle, row count)
    def materializeTruncated(df: DataFrame): (DataFrame, DataFrame, Long) = {
      val p = df.persist(MEMORY_AND_DISK)
      val n = materialize(p)
      (p.sparkSession.createDataFrame(p.rdd, p.schema), p, n)
    }

    var (cur, curCache, curCount) = materializeTruncated(
      pairs.filter(col("id_a") =!= col("id_b"))
        .select(col("id_a").as("u"), col("id_b").as("v")).distinct())
    try {
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val (next, nextCache, nextCount) = materializeTruncated(smallStar(largeStar(cur)))
        // both sides are distinct sets: equal counts + empty one-way except
        // ⇒ set equality ⇒ star-forest fixpoint reached
        converged = nextCount == curCount &&
          next.exceptAll(cur).isEmpty
        curCache.unpersist(blocking = false)
        cur = next
        curCache = nextCache
        curCount = nextCount
        i += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      // fixpoint edges are (member, componentMin); reps get a self row; a
      // node whose only input edge was a self-pair (id, id) is a singleton
      // component and must still get its (id, id) row
      val members = cur.select(col("u").as("doc_id"), col("v").as("rep"))
      val reps = cur.select(col("v").as("doc_id"), col("v").as("rep")).distinct()
      val singles = pairs.filter(col("id_a") === col("id_b"))
        .select(col("id_a").as("doc_id"), col("id_a").as("rep")).distinct()
      val linked = members.union(reps)
      val out = linked
        .union(singles.join(linked.select("doc_id"), Seq("doc_id"), "left_anti"))
        .persist(MEMORY_AND_DISK)
      materialize(out)
      out
    } finally curCache.unpersist(blocking = false)
  }

  /** Near-duplicate cluster assignment: verified MinHash pairs → connected
    * components → (doc_id, rep, cluster_size), one row per document that has
    * at least one near-duplicate. This is the policy-grade output a corpus
    * run wants (pick a canonical doc per cluster, count cluster mass);
    * [[cleanCorpus]]'s greedy pair drop is the cheaper cousin that never
    * merges docs that are only *transitively* similar.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, threshold: Double = 0.5): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, k = k, threshold = threshold)
    val cc = connectedComponents(pairs.select("id_a", "id_b"))
    // CC's output is materialized, so the verified-pair cache can go now
    pairs.unpersist(blocking = false)
    val sizes = cc.groupBy("rep").agg(count(lit(1)).as("cluster_size"))
    // r22: materialize the (small) cluster table and release the CC cache —
    // previously the returned frame RODE the CC cache, so releasing the
    // result could never free it (VERDICT task #2's leak class)
    materializedPairs(
      cc.join(sizes, "rep").select(col("doc_id"), col("rep"), col("cluster_size")),
      cc)
  }

  /** [[cleanCorpus]] with transitive-cluster semantics: near-dup removal
    * keeps exactly ONE representative (the min id) per connected component
    * of the verified pair graph, instead of the greedy "drop the higher id
    * of every pair". The two differ on hub shapes — pairs (1,3) and (2,3)
    * with 1≁2: greedy keeps 1 AND 2, CC keeps only 1 — and CC is the policy
    * a training run usually wants ("one doc per duplicate cluster").
    *
    * Same prelude and output as [[cleanCorpus]]. The verified pairs are
    * persisted but not counted: [[connectedComponents]] reads them twice
    * (its first round and its singleton pass), and its first round's action
    * fills the cache. The signature, pair and CC caches are released after
    * the output's persist+count.
    */
  def cleanCorpusCC(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 5, nearThreshold: Double = 0.5): DataFrame = {
    val sigs = keeperSignatures(df, idCol, textCol, minTokens)
    val pairs = verifiedPairs(sigs.filter(size(col("sh")) > 0), nearThreshold)
      .select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cc = connectedComponents(pairs)
    val nonReps = cc.filter(col("doc_id") =!= col("rep")).select(col("doc_id").as("id"))
    keptRows(sigs, nonReps, idCol, pairs, cc)
  }

  /** Benchmark decontamination: flag (training doc, benchmark doc) pairs
    * sharing at least `minShared` word k-grams — the standard guard against
    * eval-set leakage in a training-data pipeline. Pure equi-join on gram
    * hashes, shuffle-partitioned by gram, with map-side-combined counts.
    *
    * `maxDf` drops grams appearing in more than that many training docs
    * before the join (broadcast anti-join, same pattern as the LSH
    * hot-bucket guard): ubiquitous boilerplate grams carry no contamination
    * signal but each would emit |docs-with-gram| × |bench-with-gram| join
    * rows — the quadratic failure mode at 100 TB.
    */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int = 3, minShared: Int = 5,
                    maxDf: Int = 10000): DataFrame = {
    // the exploded training grams feed BOTH the document-frequency aggregate
    // and the join — persist so the corpus is shingled once, not twice
    val d = docs.select(col(idCol).as("doc_id"),
      explode(word_shingles(col(textCol), k)).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = bench.select(col(idCol).as("bench_id"),
      explode(word_shingles(col(textCol), k)).as("gram"))
    val hot = d.groupBy("gram").count()
      .filter(col("count") > maxDf).select("gram")
    val out = d.join(broadcast(hot), Seq("gram"), "left_anti")
      .join(b, "gram")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared_grams"))
      .filter(col("shared_grams") >= minShared)
    materializedPairs(out, d)
  }

  /** Line-level dedup (RefinedWeb/C4-style): drop every line that appears in
    * more than `maxLineDf` distinct documents — boilerplate navigation,
    * cookie banners, footers — and reassemble each document's remaining
    * lines in order. A line repeated within ONE document survives (df
    * counts documents, not occurrences). Documents whose every line is
    * boilerplate drop out entirely.
    *
    * Plan shape: posexplode → distinct-doc count per line (map-side
    * combined) → join back → ordered re-agg. The line-frequency table is
    * the only global state and it is |distinct lines|, not corpus-sized.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxLineDf: Int = 1): DataFrame = {
    // the exploded lines feed BOTH the line-df aggregate and the anti-join —
    // persist so the corpus is split once, not twice (same pattern as
    // contamination's gram frame). Lines are keyed by xxhash64 for the df
    // aggregate and the anti-join (e22's lesson: a mostly-unique line
    // inventory otherwise ships every line STRING through the aggregate
    // exchange — 8-byte keys measured 8.1× end-to-end at the 100× probe,
    // 17.9 s → 2.2 s; beyond the byte savings, the fixed-width key frees
    // AQE to pick the join strategy from a far smaller build estimate);
    // the line text rides only where reassembly needs it.
    // 64-bit collisions (~n²/2⁶⁵) can only DROP a kept line as boilerplate;
    // the string-keyed DuckDB oracle hash-passing certifies none at test SFs.
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lh", xxhash64(col("line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = lines.groupBy("lh")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > maxLineDf).select("lh")
    // no broadcast hint: boilerplate lines are plentiful at web scale, so
    // the hot side can be large — let AQE pick broadcast vs shuffle
    val out = lines.join(hot, Seq("lh"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("clean_text"))
    materializedPairs(out, lines)
  }

  /** CCNet-style paragraph dedup: every distinct paragraph survives exactly
    * ONCE corpus-wide — at its first occurrence in (document, position)
    * order — and every later occurrence is dropped. This is the CCNet
    * pre-processing step (split into paragraphs, hash, keep first), and it
    * is deliberately different from [[lineDedup]]: a document-frequency
    * threshold removes boilerplate EVERYWHERE including its first copy,
    * while keep-first preserves one canonical copy of repeated content.
    *
    * Scale shape: paragraphs are keyed by xxhash64 (8-byte shuffle keys —
    * the e22/c11 lesson; the paragraph text rides only where reassembly
    * needs it) and the global keep decision is `min(packed (doc, pos))` —
    * a plain long `min`, which stays in HashAggregate with map-side combine
    * (a `min(struct(...))` would demote to SortAggregate, the a03
    * pathology). Packing contract: pos < 2^24 paragraphs per document,
    * doc ids < 2^39 — enforced loudly by [[packedOrderKey]], never silent.
    * The first-key table is |distinct paragraphs| rows of
    * 16 bytes, never corpus-sized; its partitioning (by hash) is reused by
    * the decision join, so the full text crosses exactly one exchange.
    * Documents whose every paragraph first appeared elsewhere drop out.
    *
    * 64-bit collisions (~n²/2⁶⁵) can only merge two distinct paragraphs
    * (dropping a kept one); the string-keyed DuckDB oracle hash-passing
    * certifies none at test SFs.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol).cast("long").as("doc_id"),
      posexplode(split(col(textCol), sep)).as(Seq("pos", "para")))
      .withColumn("ph", xxhash64(col("para")))
      .withColumn("okey", packedOrderKey(col("doc_id"), col("pos")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = paras.groupBy("ph").agg(min(col("okey")).as("first_key"))
    val out = paras.join(first, Seq("ph"))
      .filter(col("okey") === col("first_key"))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            x => x.getField("para")), sep).as("clean_text"),
        count(lit(1)).as("n_paras_kept"))
    materializedPairs(out, paras)
  }

  /** Exact substring dedup (the Lee et al. 2022 "Deduplicating Training
    * Data" operator, re-expressed as joins): any word sequence of at least
    * `l` tokens that occurs more than once corpus-wide is kept at its FIRST
    * occurrence in (document, position) order and excised everywhere else.
    * Implemented by fingerprinting every l-token window (the rolling-gram
    * equivalent of the paper's suffix-array scan): a window whose gram was
    * seen earlier marks its l token positions for removal; overlapping
    * marked windows merge naturally at the position level, so a shared run
    * of M ≥ l tokens is removed in full. Runs shorter than l never match —
    * exactly the paper's length threshold.
    *
    * Scale shape: grams are built INSIDE each row (higher-order functions
    * over the token array — no explode, no per-document window/sort) and
    * only the 8-byte xxhash64 gram keys are exploded into the global
    * aggregate, which is a plain long `min` per gram (HashAggregate,
    * map-side combine). Duplicate window STARTS — typically a tiny fraction
    * of the corpus — come back as one `collect_set` per affected document,
    * and the final join is corpus ⋈ affected-docs (AQE broadcasts the small
    * side); the token-level excision then happens row-locally with an
    * indexed `filter` lambda. Nothing token-level ever shuffles.
    * Per-document cost of the excision is O(tokens × marked-windows); a
    * document that is ENTIRELY duplicated text has marked-windows ≈ tokens,
    * so the worst case is quadratic in one pathological document's length —
    * bounded by the 2^24 position contract, and such documents are exactly
    * what c01 exact dedup removes upstream.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     l: Int = 8): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("toks"))
    val grams = docs.select(col("doc_id"),
      posexplode(when(size(col("toks")) >= l,
        expr(s"transform(sequence(0, size(toks) - $l), " +
          s"i -> xxhash64(concat_ws(' ', slice(toks, i + 1, $l))))"))
        .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))).as(Seq("pos", "gh")))
      .withColumn("okey", packedOrderKey(col("doc_id"), col("pos")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = grams.groupBy("gh").agg(min(col("okey")).as("first_key"))
    val dupStarts = grams.join(first, Seq("gh"))
      .filter(col("okey") =!= col("first_key"))
      .groupBy("doc_id")
      .agg(collect_set(col("pos")).as("dup_starts"))
    val out = docs.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("dup_starts").isNull, col("toks"))
          .otherwise(expr(
            s"filter(toks, (t, i) -> NOT exists(dup_starts, p -> i >= p AND i < p + $l))")))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("int").as("n_removed_tokens"))
    materializedPairs(out, grams)
  }

  /** Packed (doc, pos) corpus-wide order key — doc_id·2²⁴ + pos — with the
    * b42 loud-bound discipline: the pack silently MISORDERS keep-first
    * decisions if a document exceeds 2²⁴ paragraphs/windows or doc_id ≥ 2³⁹,
    * so a violated bound fails loudly in both engines instead — Spark
    * through this raise_error, DuckDB through its overflow-checked
    * `doc_id * 16777216` plus an explicit error() on the pos bound in the
    * mirrored oracles (Queries c19/c20). Production runs have no oracle;
    * this guard is what they get.
    */
  private[graft] def packedOrderKey(docId: Column, pos: Column): Column =
    when(docId < 0 || docId >= lit(1L << 39) || pos < 0 || pos >= lit(1 << 24),
      raise_error(format_string(
        "packed (doc, pos) order key out of bounds: doc_id=%d pos=%d " +
          "(need 0<=doc_id<2^39, 0<=pos<2^24)",
        docId, pos)).cast("long"))
      .otherwise(shiftleft(docId, 24) + pos)

  /** Embedding cosine near-dup pairs above a threshold. Nested-loop join —
    * intended for small or pre-blocked inputs; use LSH buckets at scale.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    v.as("a")
      .join(v.as("b"), col("a.id") < col("b.id"))
      // fenced: one cosine per pair (the filter would otherwise re-derive it)
      .withColumn("cos_sim", opt_fence(vec_cosine(col("a.vec"), col("b.vec"))))
      .filter(col("cos_sim") >= threshold)
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }
}
