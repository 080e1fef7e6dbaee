package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (SURVEY.md §2 group D).
  */
object Similarity {

  /** Shared tail: exact-cosine score candidates (qid, qv, vec_id, embedding),
    * rank per query, keep top k.
    */
  private def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("vec_id"))
    cand
      .withColumn("cos_sim", vec_cosine(col("embedding"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor"),
        round(col("cos_sim"), 4).as("cos_sim"), col("rank"))
  }

  /** Exact top-k cosine neighbors for a (small, broadcast) query set — the
    * correctness baseline. One scan of the corpus per batch of queries.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    rankTopK(corpus.join(broadcast(queries), col("vec_id") =!= col("qid")), k)

  /** Nearest-centroid assignment carrying every input column through, plus
    * `cell`: centroids fold into one broadcast array row and the argmax runs
    * inside a `transform` + `array_max` per row — NO shuffle, no aggregation,
    * no corpus re-join (the previous `max_by` groupBy form cost a corpus-wide
    * shuffle + SortAggregate + an SMJ join to re-attach the embedding).
    * Tie-break: max (cosine, cid); [[assignStateless]] is its (vec_id, cell)
    * form.
    * Public so cluster-then-pair consumers ([[SemDedup]]) reuse the exact
    * same quantizer semantics as the ANN family.
    */
  def assigned(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val packed = centroids.agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    corpus.crossJoin(broadcast(packed))
      .withColumn("scored", transform(col("cs"), c =>
        struct(vec_cosine(col("embedding"), c.getField("cv")).as("sc"),
          c.getField("cid").as("cid"))))
      .withColumn("cell", array_max(col("scored")).getField("cid"))
      .drop("scored", "cs")
  }

  /** Two-level (coarse→fine) nearest-centroid assignment for LARGE k — the
    * faiss-style coarse quantizer. The flat [[assigned]] argmax costs N·k
    * distance evals, and consumers that scale k with the corpus (SemDeDup's
    * nCells = N/500 rule) turn that into O(N²): measured 64.6×/decade on the
    * 1000× dedup probe (SURVEY §6, c12 row) — the joins scaled, the
    * quantizer didn't. Here the k centroids are themselves k-means-grouped
    * into `routeGroups` (≈√k) groups ONCE (k·g evals — noise), and each
    * corpus row pays a group argmax (g evals) plus a fine argmax over only
    * the chosen group's cells (~k/g evals): ~2√k per row, ~32× fewer at
    * k=4000. Still per-row and shuffle-free — the packed group array
    * broadcasts exactly like the flat path's centroid array.
    *
    * Same output schema and the same (cosine, cid) fine tie-break as
    * [[assigned]]; routing adds approximation (a vector near a group
    * boundary may land in a neighboring group's best cell — acceptable for
    * cell-partition consumers by the same argument as nProbe probing), but
    * it stays a PURE function of the embedding: identical vectors always
    * share a cell, under any partitioning — the property SemDeDup's
    * planted-twin oracle gates. The group argmax and the selected cell list
    * are `opt_fence`d: CollapseProject would otherwise inline the g-element
    * group scan into every fine-lambda slice (the d08 codegen-CSE lesson,
    * SURVEY §6) and re-create the very blowup this path removes.
    */
  def assignedRouted(corpus: DataFrame, centroids: DataFrame,
                     routeGroups: Int): DataFrame = {
    require(routeGroups > 1, s"routeGroups must be > 1, got $routeGroups")
    val asVec = centroids.select(col("cid").as("vec_id"), col("cv").as("embedding"))
    val gcents = ivfCentroids(asVec, nCells = routeGroups, refineIters = 1)
      .select(col("cid").as("gid"), col("cv").as("gcv"))
    // flat assignment of the k centroids to their groups — k·g work, tiny
    val cellToGroup = assigned(asVec,
        gcents.select(col("gid").as("cid"), col("gcv").as("cv")))
      .select(col("cell").as("gid"), col("vec_id").as("cid"), col("embedding").as("cv"))
    // inner join: only groups that own ≥1 cell are routable, so the fine
    // argmax below can never see an empty cell list
    val packed = cellToGroup
      .groupBy("gid").agg(collect_list(struct(col("cid"), col("cv"))).as("cells"))
      .join(gcents, "gid")
      .agg(collect_list(struct(col("gid"), col("gcv"), col("cells"))).as("gs"))
    corpus.crossJoin(broadcast(packed))
      .withColumn("gsel", graft.functions.opt_fence(
        array_max(transform(col("gs"), g =>
          struct(vec_cosine(col("embedding"), g.getField("gcv")).as("sc"),
            g.getField("gid").as("gid")))).getField("gid")))
      .withColumn("gcells", graft.functions.opt_fence(
        element_at(filter(col("gs"), g =>
          g.getField("gid") === col("gsel")), 1).getField("cells")))
      .withColumn("scored", transform(col("gcells"), c =>
        struct(vec_cosine(col("embedding"), c.getField("cv")).as("sc"),
          c.getField("cid").as("cid"))))
      .withColumn("cell", array_max(col("scored")).getField("cid"))
      .drop("scored", "gcells", "gsel", "gs")
  }

  /** [[assignedRouted]] when `routeGroups` > 1, the flat [[assigned]]
    * otherwise — the dispatch consumers with a scale-dependent k call.
    */
  def assignedVia(corpus: DataFrame, centroids: DataFrame,
                  routeGroups: Int): DataFrame =
    if (routeGroups > 1) assignedRouted(corpus, centroids, routeGroups)
    else assigned(corpus, centroids)

  /** One Lloyd iteration in pure DataFrame ops: new centroid = elementwise
    * mean of the vectors assigned to the cell (posexplode → per-(cell, dim)
    * mean → reassembled array). Cells that lose all members keep their id
    * absent (nProbe probing tolerates fewer cells).
    */
  private def refineCentroids(corpus: DataFrame, centroids: DataFrame,
                              routeGroups: Int = 0): DataFrame = {
    val cells = assignedVia(corpus, centroids, routeGroups)
    cells
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      // Grid-quantize BEFORE averaging (2^-20 steps): every addend is
      // k·2^-20 with |k| < 2^21, so the double sum is EXACT for up to ~2^32
      // members — and exact sums are summation-ORDER-INDEPENDENT, which
      // makes the trained centroids bit-identical under any partitioning,
      // any executor count, and any engine replaying the same math (the
      // d03/d04/d11 SQL oracles). Without it, a mean landing within the
      // partial-sum ulp drift of a float rounding boundary flips a borderline
      // assignment between engines (~1% of datasets at this table's size —
      // observed on d08 before the same fix landed in pqCodebooks).
      .groupBy("cell", "pos")
      .agg(avg(round(col("v") * 1048576) / 1048576).as("m"))
      .groupBy("cell")
      .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
      .select(col("cell").as("cid"),
        expr("transform(array_sort(pm), x -> CAST(x.m AS FLOAT))").as("cv"))
  }

  /** Deterministic IVF centroids: the `nCells` lowest-id corpus vectors as
    * seeds, refined by `refineIters` Lloyd iterations. Public so an index
    * build and later probes share the exact same quantizer.
    */
  def ivfCentroids(corpus: DataFrame, nCells: Int = 16, refineIters: Int = 1,
                   routeGroups: Int = 0): DataFrame = {
    val seeds = corpus.orderBy("vec_id").limit(nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    (1 to refineIters).foldLeft(seeds) { (c, _) =>
      refineCentroids(corpus, c, routeGroups) }
  }

  /** First-class distributed k-means (the clustering step behind IVF cells,
    * SemDeDup, and domain discovery), exposed with the exact semantics the
    * internal quantizer uses: deterministic lowest-id seeds, `iters` Lloyd
    * iterations of [[refineCentroids]], cosine argmax assignment with
    * (cosine, cid) tie-break, plus the per-cell population a balance check
    * reads. Scale shape: centroids broadcast (k×dim floats), assignment is
    * per-row with NO shuffle, refinement is a map-side-combined
    * per-(cell, dim) mean (≤ k·dim rows per partition after partial agg),
    * and the final cell_size window shuffles by cell only. Cross-engine
    * (and cross-partitioning) hash-exactness rests on
    * [[refineCentroids]]'s grid-quantized means: addends on a 2^-20 grid
    * sum EXACTLY in double, so the trained centroids are bit-identical
    * under any summation order — an all-double SQL oracle reproduces
    * every iteration bit-for-bit.
    */
  def kmeansAssign(corpus: DataFrame, k: Int = 8, iters: Int = 2,
                   routeGroups: Int = 0): DataFrame = {
    // routeGroups > 1 = assignedRouted's coarse quantizer for large k (the
    // SemDeDup quadratic, SURVEY §6 c12 row); 0 keeps the oracle-replayed
    // flat argmax
    val centroids = ivfCentroids(corpus, nCells = k, refineIters = iters,
      routeGroups)
    assignedVia(corpus.select(col("vec_id"), col("embedding")), centroids,
        routeGroups)
      .select(col("vec_id"), col("cell"))
      .withColumn("cell_size", count(lit(1)).over(Window.partitionBy("cell")))
  }

  /** Each query's `nProbe` cosine-nearest cells: (qid, qv, cell).
    * cid DESC on cosine ties — the same tie-break as assigned/assignStateless's
    * argmax, so a query's own cell can never be cut off by the probe bound.
    */
  private def probeCells(queries: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy("qid").orderBy(col("cos_c").desc, col("cid").desc)
    queries.join(broadcast(centroids))
      .withColumn("cos_c", vec_cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(probeW))
      .filter(col("rnk") <= nProbe)
      .select(col("qid"), col("qv"), col("cid").as("cell"))
  }

  /** IVF-style ANN: deterministic seed centroids (the `nCells` lowest-id
    * corpus vectors) refined by `refineIters` Lloyd iterations, then every
    * vector is assigned to its nearest cell; queries probe their `nProbe`
    * nearest cells and rank candidates by exact cosine.
    * At scale the corpus is write-once partitioned by `cell`, so a probe
    * reads `nProbe/nCells` of the data (partition pruning), and both
    * assignment and refinement are embarrassingly parallel.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 1): DataFrame = {
    val centroids = ivfCentroids(corpus, nCells, refineIters)
    val probes = probeCells(queries, centroids, nProbe)
    // assignment is per-row (no shuffle) and carries the embedding, so the
    // whole candidate path is shuffle-free: only rankTopK's per-qid window
    // exchanges data
    val cand = assigned(corpus, centroids)
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
    rankTopK(cand, k)
  }

  /** Write the IVF serving layout: every corpus vector stored in its cell's
    * partition (`cell=<cid>/…`). This is the write-once index the ivfTopK
    * Scaladoc promises: probes then read `nProbe/nCells` of the data via
    * partition pruning instead of scanning the corpus.
    * One dir per cell stops scaling when nCells grows with the corpus
    * (listing + tiny-file floor, measured — SURVEY §6 serving addendum):
    * past a few hundred cells prefer [[writeIndexGrouped]].
    */
  def writeIndex(corpus: DataFrame, centroids: DataFrame, path: String,
                 routeGroups: Int = 0): Unit =
    // routeGroups > 1 = the assignedRouted coarse quantizer: a production
    // index wants k ~ √N cells, where the flat N·k build assignment is the
    // same quadratic the SemDeDup probe measured (SURVEY §6 c12 row)
    assignedVia(corpus, centroids, routeGroups)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe a written index: resolve each query's `nProbe` cells, then scan
    * ONLY those cells' partitions — the `.filter(isin(cells))` lands in the
    * scan's `PartitionFilters`, so unprobed cells are never even listed.
    * Collecting the probed cell ids is per-query-batch routing metadata
    * (≤ |queries|·nProbe longs), not data movement.
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: DataFrame, centroids: DataFrame, k: Int,
                 nProbe: Int = 4): DataFrame = {
    val probes = probeCells(queries, centroids, nProbe)
    val cells = probes.select("cell").distinct().collect().map(_.getLong(0))
    val idx = spark.read.parquet(path).filter(col("cell").isin(cells: _*))
    rankTopK(
      idx.join(broadcast(probes), "cell").filter(col("vec_id") =!= col("qid")), k)
  }

  /** Two-level IVF serving layout: partition by centroid GROUP (the
    * [[assignedRouted]] grouping, ≈√k dirs), sort by `cell` within files.
    * The flat [[writeIndex]] layout's partition count IS nCells, and
    * scale-proportional nCells makes directory listing + the tiny-file
    * floor grow linearly with the corpus: the 1000× serve probe measured
    * the PROBE path at 7.3 s of d15's ~9 s while the pruned data read was
    * ~13 MB (4000 dirs of ~140 KB files — the same small-file floor the r8
    * fine-bucket revert documented). Here listing is ⌈√k⌉ dirs of healthy
    * ~√k-cell files, probes prune dirs at listing (`grp` is the partition
    * column) and row-group min/max on the sorted `cell` column skips inside
    * them — coarse→fine applied to the I/O exactly as [[assignedRouted]]
    * applies it to the compute.
    *
    * `layoutGroups` = directory count (a LAYOUT choice, valid at any k);
    * `routeGroups` = assignment routing (0 keeps the flat argmax), so a
    * grouped layout can hold the exact cells of a flat-assigned index.
    * The cell→group map rides with the index at `path/_cellmap` (underscore
    * dirs are invisible to the data read) — probes resolve groups from the
    * artifact, never by re-deriving the grouping.
    */
  def writeIndexGrouped(corpus: DataFrame, centroids: DataFrame, path: String,
                        layoutGroups: Int, routeGroups: Int = 0): Unit = {
    require(layoutGroups > 1, s"layoutGroups must be > 1, got $layoutGroups")
    val asVec = centroids.select(col("cid").as("vec_id"), col("cv").as("embedding"))
    val gcents = ivfCentroids(asVec, nCells = layoutGroups, refineIters = 1)
      .select(col("cid").as("gid"), col("cv").as("gcv"))
    val cellMap = assigned(asVec,
        gcents.select(col("gid").as("cid"), col("gcv").as("cv")))
      .select(col("vec_id").as("cell_of"), col("cell").as("grp"))
    assignedVia(corpus, centroids, routeGroups)
      .join(broadcast(cellMap), col("cell") === col("cell_of")).drop("cell_of")
      .repartition(col("grp"))
      .sortWithinPartitions(col("cell"))
      .write.mode("overwrite").partitionBy("grp").parquet(path)
    cellMap.select(col("cell_of").as("cell"), col("grp"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_cellmap")
  }

  /** Probe a [[writeIndexGrouped]] layout: same query routing as
    * [[probeIndex]], but the scan prunes at GROUP granularity (the probed
    * cells' groups, resolved from the `_cellmap` artifact — ≤ the probed
    * cell count of rows, routing metadata) and the `cell` predicate then
    * row-group-skips inside the sorted group files. Results are identical
    * to [[probeIndex]] over a same-assignment flat layout (spec-pinned).
    */
  def probeIndexGrouped(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, centroids: DataFrame, k: Int,
                        nProbe: Int = 4): DataFrame = {
    val probes = probeCells(queries, centroids, nProbe)
    val cells = probes.select("cell").distinct().collect().map(_.getLong(0))
    val grps = spark.read.parquet(s"$path/_cellmap")
      .filter(col("cell").isin(cells: _*))
      .select("grp").distinct().collect().map(_.getLong(0))
    val idx = spark.read.parquet(path)
      .filter(col("grp").isin(grps: _*) && col("cell").isin(cells: _*))
    rankTopK(
      idx.join(broadcast(probes), "cell").filter(col("vec_id") =!= col("qid")), k)
  }

  /** IVF with per-query adaptive nProbe: instead of a fixed probe count,
    * each query keeps probing its cosine-ranked cells until the probed cells
    * cover `coverage` of the corpus (cell sizes come from the assignment —
    * already computed, broadcast-tiny). A query whose nearest cell is huge
    * probes 1–2 cells; one landing in a run of small cells probes more —
    * equal *work* per query instead of equal probe count, which is what
    * keeps tail latency flat when cell sizes skew at scale.
    */
  def ivfTopKAdaptive(corpus: DataFrame, queries: DataFrame, k: Int,
                      nCells: Int = 16, coverage: Double = 0.25,
                      maxProbe: Int = 8, refineIters: Int = 1): DataFrame = {
    val centroids = ivfCentroids(corpus, nCells, refineIters)
    val assignments = assignStateless(corpus, centroids)
    val cellSizes = assignments.groupBy(col("cell").as("cid"))
      .agg(count(lit(1)).as("cell_n"))
    val tot = cellSizes.agg(sum("cell_n").as("tot"))
    // tie-break matches assignStateless (see probeCells)
    val probeW = Window.partitionBy("qid").orderBy(col("cos_c").desc, col("cid").desc)
    val probes = queries.join(broadcast(centroids))
      .withColumn("cos_c", vec_cosine(col("qv"), col("cv")))
      .join(broadcast(cellSizes), Seq("cid")) // drops member-less centroids
      .crossJoin(broadcast(tot))
      .withColumn("rnk", row_number().over(probeW))
      .withColumn("cum_before",
        sum("cell_n").over(probeW.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("rnk") <= maxProbe &&
        (col("rnk") === 1 ||
          coalesce(col("cum_before"), lit(0L)) < col("tot") * coverage))
      .select(col("qid"), col("qv"), col("cid").as("cell"))
    val cand = assigned(corpus, centroids)
      .join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
    rankTopK(cand, k)
  }

  /** (vec_id, cell): [[assigned]]'s per-row argmax (max (cosine, cid))
    * without the carried columns — no shuffle, no aggregation state, so it
    * is legal inside a Structured Streaming plan, which is what incremental
    * IVF index maintenance needs.
    */
  def assignStateless(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assigned(vectors, centroids).select(col("vec_id"), col("cell"))

  // ------------------------------------------------------- product quantization

  private def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Append `out` = L2-normalized `vecCol` (inner product of unit vectors ==
    * cosine, which is the space PQ quantizes). Two fenced steps: the norm is
    * computed ONCE per row (the naive `x / sqrt(dot(v,v))` lambda re-derives
    * the dot product per ELEMENT), and the unit vector is fenced so
    * CollapseProject cannot inline the whole transform into every downstream
    * per-subspace slice — codegen cannot CSE inside higher-order-function
    * lambdas, and the inlined form measured 140× slower at the 100× probe
    * (640 s vs the fenced rewrite) before this fence existed.
    */
  private def withUnitVec(df: DataFrame, vecCol: String, out: String): DataFrame =
    df.withColumn("_nrm", opt_fence(sqrt(dot(col(vecCol), col(vecCol)))))
      .withColumn(out, opt_fence(transform(col(vecCol), x => x / col("_nrm"))))
      .drop("_nrm")

  /** Train per-subspace PQ codebooks: split the (normalized) embedding into
    * `m` contiguous subvectors, k-means each subspace independently —
    * deterministic seeds (the `kc` lowest-id vectors' slices) + `iters`
    * Lloyd rounds on subvector L2. Returns (sub, cid, cv) with cid 0-based
    * per subspace. Training shuffles only (sub, cid, pos) aggregates —
    * never the corpus.
    */
  def pqCodebooks(corpus: DataFrame, m: Int = 8, kc: Int = 16,
                  iters: Int = 1): DataFrame = {
    val dim = corpus.select(size(col("embedding"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val w = dim / m
    val subs = withUnitVec(corpus.select(col("vec_id"), col("embedding")),
        "embedding", "nv")
      .select(col("vec_id"), explode(array((0 until m).map(s =>
        struct(lit(s).as("sub"), slice(col("nv"), s * w + 1, w).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
    val seedIds = corpus.select("vec_id").orderBy("vec_id").limit(kc)
      .collect().map(_.getLong(0)).zipWithIndex.toMap
    val seedCid = seedIds.foldLeft(lit(-1)) { case (acc, (id, i)) =>
      when(col("vec_id") === id, lit(i)).otherwise(acc)
    }
    val seeds = subs.filter(col("vec_id").isin(seedIds.keys.toSeq: _*))
      .select(col("sub"), seedCid.as("cid"), col("sv").as("cv"))
    (1 to iters).foldLeft(seeds) { (cb, _) =>
      val packed = cb.groupBy("sub")
        .agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
      subs.join(broadcast(packed), "sub")
        .withColumn("code", array_min(transform(col("cs"), c =>
          struct(l2sq(col("sv"), c.getField("cv")).as("d"),
            c.getField("cid").as("cid")))).getField("cid"))
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
        // same 2^-20 grid-quantize-then-average as refineCentroids: exact,
        // order-independent sums make codebook training deterministic
        .groupBy("sub", "code", "pos")
        .agg(avg(round(col("v") * 1048576) / 1048576).as("mv"))
        .groupBy("sub", "code")
        .agg(collect_list(struct(col("pos"), col("mv"))).as("pm"))
        .select(col("sub"), col("code").as("cid"),
          expr("transform(array_sort(pm), x -> CAST(x.mv AS FLOAT))").as("cv"))
    }
  }

  /** Encode every corpus vector as `m` sub-codes — a stateless per-row map
    * against the broadcast codebook (same shuffle-free shape as
    * [[assignStateless]]). Carries every input column through plus `codes`.
    * At 100 TB this is THE reason PQ exists: m bytes per vector instead of
    * 4·dim, so an ADC scan reads ~32× less.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, w: Int): DataFrame = {
    val packed = codebooks
      .agg(collect_list(struct(col("sub"), col("cid"), col("cv"))).as("cbs"))
    withUnitVec(corpus, "embedding", "nv")
      .crossJoin(broadcast(packed))
      .withColumn("codes", transform(sequence(lit(0), lit(m - 1)), s =>
        array_min(transform(
          filter(col("cbs"), c => c.getField("sub") === s),
          c => struct(l2sq(slice(col("nv"), s * w + 1, lit(w)), c.getField("cv")).as("d"),
            c.getField("cid").as("cid")))).getField("cid")))
      .drop("nv", "cbs")
  }

  /** Per-query ADC lookup table keyed by sub·kc + cid:
    * lut[sub·kc + cid] = ⟨q_sub, centroid⟩. (qid, qv, lut). A MAP, not a
    * position-indexed array: a Lloyd round can drop a code that wins no
    * vectors, and a flat array would then misalign every entry after the
    * gap — the map stays correct under gaps (encode only ever emits codes
    * that exist in the codebook).
    */
  private def queryLut(queries: DataFrame, codebooks: DataFrame,
                       w: Int, kc: Int): DataFrame = {
    val packed = codebooks
      .agg(collect_list(struct(col("sub"), col("cid"), col("cv"))).as("cbs"))
    withUnitVec(queries.select(col("qid"), col("qv")), "qv", "qn")
      .crossJoin(broadcast(packed))
      .withColumn("lut", map_from_entries(transform(col("cbs"), c =>
        struct((c.getField("sub") * kc + c.getField("cid")).cast("int").as("k"),
          dot(slice(col("qn"), c.getField("sub") * w + 1, lit(w)), c.getField("cv")).as("v")))))
      .select(col("qid"), col("qv"), col("lut"))
  }

  /** ADC scoring + per-query shortlist: input rows carry (qid, lut, vec_id,
    * codes); output the top `limit` (qid, vec_id) by summed LUT score.
    */
  private def adcShortlist(scored: DataFrame, m: Int, kc: Int, limit: Int): DataFrame = {
    val adcW = Window.partitionBy("qid").orderBy(col("adc").desc, col("vec_id"))
    scored
      .withColumn("adc", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc + element_at(col("lut"),
          (s * kc + element_at(col("codes"), s + 1)).cast("int"))))
      .withColumn("arnk", row_number().over(adcW))
      .filter(col("arnk") <= limit)
      .select(col("qid"), col("vec_id"))
  }

  /** PQ-ADC ANN: score every encoded vector against a per-query lookup
    * table (LUT[sub][code] = ⟨q_sub, centroid⟩, so the approximate cosine is
    * m table lookups instead of a dim-wide dot product), keep the top
    * `rerank` per query by ADC score, then re-rank exactly. The scan side
    * touches only (vec_id, codes); full vectors are re-attached for the
    * `rerank` survivors per query — the asymmetric-distance pattern of
    * Jégou et al.'s IVFADC, minus the coarse stage (compose with the IVF
    * cell filter when cell-partitioned storage is in play).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, kc: Int = 16, iters: Int = 1,
             rerankFactor: Int = 4): DataFrame = {
    val dim = corpus.select(size(col("embedding"))).first().getInt(0)
    val w = dim / m
    // codebooks are m·kc rows of w floats — driver-tiny by construction, so
    // materialize them once into a LocalTableScan instead of leaving the
    // Lloyd-training subtree in the plan (it would otherwise re-run for
    // every branch that references it: encode + both LUT projections)
    val trained = pqCodebooks(corpus, m, kc, iters)
    val cb = trained.sparkSession.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    val codes = pqEncode(corpus.select(col("vec_id"), col("embedding")), cb, m, w)
      .select(col("vec_id"), col("codes"))
    val qlut = queryLut(queries, cb, w, kc)
    val shortlist = adcShortlist(
      codes.join(broadcast(qlut.select("qid", "lut"))), m, kc, k * rerankFactor)
    val cand = corpus.select(col("vec_id"), col("embedding"))
      .join(shortlist, "vec_id")
      .join(broadcast(qlut.select("qid", "qv")), "qid")
      .filter(col("vec_id") =!= col("qid"))
    rankTopK(cand, k)
  }

  /** Write the PQ-augmented IVF serving layout: every vector stored in its
    * cell's partition with BOTH its PQ codes and the full embedding. The
    * probe then composes all three pruning axes a 100 TB serving read
    * needs: partition pruning (only probed cells listed), column pruning
    * (the ADC pass reads vec_id+codes — never the 32×-larger embedding),
    * and ADC itself (m LUT adds per row). Only the per-query shortlist's
    * vectors are fetched for exact re-rank.
    */
  def writeIndexPQ(corpus: DataFrame, centroids: DataFrame,
                   codebooks: DataFrame, path: String, m: Int, w: Int,
                   routeGroups: Int = 0): Unit =
    pqEncode(assignedVia(corpus, centroids, routeGroups), codebooks, m, w)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe a [[writeIndexPQ]] layout: resolve nProbe cells per query, ADC-
    * score the pruned (vec_id, codes) scan, exact-rank the shortlist from a
    * second, embedding-only read of the same pruned partitions.
    */
  def probeIndexPQ(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                   k: Int, m: Int, kc: Int, nProbe: Int = 4,
                   rerankFactor: Int = 4): DataFrame = {
    val w = codebooks.select(size(col("cv"))).first().getInt(0)
    val probes = probeCells(queries, centroids, nProbe)
    val cells = probes.select("cell").distinct().collect().map(_.getLong(0))
    val qlut = queryLut(queries, codebooks, w, kc)
    // ADC pass: codes-only columns, probed-cells-only partitions
    val codeScan = spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("codes"), col("cell"))
    val shortlist = adcShortlist(
      codeScan.join(
        broadcast(probes.select("qid", "cell").join(qlut.select("qid", "lut"), "qid")),
        "cell"),
      m, kc, k * rerankFactor)
    // re-rank pass: embedding column only, same pruned partitions
    val vecs = spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("embedding"))
    rankTopK(
      vecs.join(shortlist, "vec_id")
        .join(broadcast(qlut.select("qid", "qv")), "qid")
        .filter(col("vec_id") =!= col("qid")), k)
  }

  /** Exact late-interaction (ColBERT MaxSim) scorer — the multi-vector
    * complement to [[bruteForceTopK]] (Queries d14 documents the scheme):
    * score(q, d) = Σ_{query tokens} max_{doc vectors} cos. Determinism:
    * components integer-quantized (round(x·1000), the d12 convention),
    * dots/norms exact BIGINT via zip_with/aggregate HOFs, each pair score
    * floored to integer millionths AFTER the single sqrt+divide — so both
    * aggregations are order-independent integer ops. Query side broadcast
    * (BNLJ); the corpus is never shuffled before the |docs|-keyed sum. The
    * 100 TB serving path composes per-token [[probeIndex]] probes into a
    * doc shortlist and runs this scorer on it (SimilaritySpec proves the
    * composition preserves planted self-retrieval).
    *
    * @param corpus  (doc_id, embedding) — one row per document VECTOR
    * @param queries (qid, qtok, embedding) — one row per query token
    */
  def maxSim(corpus: DataFrame, queries: DataFrame, k: Int = 3): DataFrame = {
    def quant(df: DataFrame): DataFrame =
      df.withColumn("iv",
          expr("transform(embedding, x -> cast(round(x * 1000) as bigint))"))
        .withColumn("n2",
          expr("aggregate(transform(iv, x -> x * x), 0L, (a, x) -> a + x)"))
        .filter(col("n2") > 0)
    val dv = quant(corpus).select(col("doc_id"), col("iv"), col("n2"))
    val qv = quant(queries).select(col("qid"), col("qtok"),
      col("iv").as("qiv"), col("n2").as("qn2"))
    val w = Window.partitionBy("qid").orderBy(col("maxsim").desc, col("doc_id"))
    dv.crossJoin(broadcast(qv))
      .withColumn("dot",
        expr("aggregate(zip_with(iv, qiv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
      .withColumn("score",
        floor(lit(1e6) * col("dot") /
          sqrt(col("n2").cast("double") * col("qn2").cast("double"))).cast("long"))
      .groupBy("qid", "qtok", "doc_id").agg(max("score").as("mx"))
      .groupBy("qid", "doc_id").agg(sum("mx").as("maxsim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("maxsim"))
  }

  /** Sparse cosine top-k over word-3-gram TF-IDF — the inverted-index dual
    * of the dense ANN paths: candidate pairs come from a postings self-join
    * on the gram (never all-pairs), with a document-frequency cap as the
    * ubiquitous-term guard (a gram in > max(10, N/10) docs carries no
    * signal and is what makes term joins quadratic at scale; the cap bounds
    * per-gram pair fanout at df_cap²).
    *
    * Determinism: weights are INTEGER (tf × bit-width-of(N div df) — a
    * power-of-two-quantized idf), so dot products and norms are exact
    * BIGINT sums independent of aggregation order; the only float ops are
    * one sqrt and one division over identical integers — bit-deterministic
    * across engines, which is what lets the full formula hash-check in
    * DuckDB (Queries d13). Gram keys are xxhash64 longs at the explode (the
    * c11/e22 8-byte shuffle-key discipline); the oracle groups on raw gram
    * strings, so a key collision reddens the compare instead of passing.
    *
    * Deliberately NOT persisted (the c15 lesson, re-measured here): the
    * static plan shows the tf/posting subtree referenced from norms and
    * both self-join sides, but AQE's ReusedExchange dedupes the identical
    * exchanges at runtime, and persist-materialize-release of tf AND
    * posting was tried and REVERTED — the 100×-probe cache write of the
    * posting table cost more than the residual recompute it saved
    * (49.2 s lazy vs 53.7 s persisted at 500k docs). Lazy composition also
    * keeps the operator cache-neutral: nothing to hand back or release.
    */
  def sparseCosineTopK(spark: org.apache.spark.sql.SparkSession,
                       docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3): DataFrame = {
    val n = docs.count()
    val toks = docs
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("t"))
      .filter(size(col("t")) >= 3)
    val grams = toks.select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
      .as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("gram"))
    val tf = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
    val maxDf = math.max(10L, n / 10)
    val dfq = tf.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val posting = tf.join(dfq, "gram")
      .withColumn("wq",
        col("tf") * length(bin(floor(lit(n.toDouble) / col("df")).cast("long"))))
      .select("doc_id", "gram", "wq")
    val norms = posting.groupBy("doc_id").agg(sum(col("wq") * col("wq")).as("n2"))
    val pairs = posting.as("a")
      .join(posting.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
      .agg(sum(col("a.wq") * col("b.wq")).as("dot"))
    val sym = pairs.select(col("ida").as("doc_id"), col("idb").as("neighbor_id"), col("dot"))
      .unionByName(pairs.select(col("idb").as("doc_id"), col("ida").as("neighbor_id"), col("dot")))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    sym
      .join(norms.withColumnRenamed("doc_id", "na_id").withColumnRenamed("n2", "na2"),
        col("doc_id") === col("na_id"))
      .join(norms.withColumnRenamed("doc_id", "nb_id").withColumnRenamed("n2", "nb2"),
        col("neighbor_id") === col("nb_id"))
      .withColumn("score",
        col("dot").cast("double") / sqrt(col("na2").cast("double") * col("nb2").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("cosine"))
  }

  /** LSH-bucketed ANN (the scale path): both sides key by random-hyperplane
    * sketches (`tables` independent tables of `bits` sign-bits), candidates
    * come from an equi-join on (table, key), then exact cosine ranks them.
    * Planes are re-derived from hashes on every executor — nothing broadcast.
    *
    * `multiProbe` additionally probes every hamming-1 neighbor of each query
    * key (bits+1 keys per table instead of 1): near-miss sign bits — the
    * dominant LSH failure for vectors close to a hyperplane — stop costing
    * recall, for `bits`× more (tiny, broadcast) probe rows and the same
    * corpus-side plan.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 4, bits: Int = 8, multiProbe: Boolean = false,
              maxBucket: Int = 100000): DataFrame = {
    // corpus side carries ONLY (vec_id, tbl, key): the multi-table candidate
    // dedup below then shuffles bare id pairs — never embedding payloads,
    // which dominate bytes at scale
    val db0 = corpus.select(col("vec_id"),
      posexplode(hyperplane_sketches(col("embedding"), tables, bits)).as(Seq("tbl", "key")))
    // hot-bucket guard (same failure mode as the dedup band join): a sketch
    // bucket holding a large fraction of the corpus — near-duplicate floods,
    // or low-entropy embedding dims — would emit ~|queries|·|bucket|
    // candidate rows. Drop oversized buckets via a broadcast anti-join; a
    // vector stays reachable through its other `tables − 1` sketches.
    val hot = db0.groupBy("tbl", "key").count()
      .filter(col("count") > maxBucket).select("tbl", "key")
    val db = db0.join(broadcast(hot), Seq("tbl", "key"), "left_anti")
    val q0 = queries.select(col("qid"),
      posexplode(hyperplane_sketches(col("qv"), tables, bits)).as(Seq("tbl", "key0")))
    val q =
      if (!multiProbe) q0.withColumnRenamed("key0", "key")
      else q0.select(col("qid"), col("tbl"),
        explode(array((col("key0") +: (0 until bits).map(b =>
          col("key0").bitwiseXOR(lit(1L << b)))): _*)).as("key"))
    val candIds = db
      .join(broadcast(q), Seq("tbl", "key"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
    // re-attach vectors after the dedup: query vectors by broadcast (bounded
    // — the query batch), corpus vectors by a second (cheap, column-pruned)
    // scan. The candidate side gets NO broadcast hint: its size is
    // data-dependent (a hot sketch bucket under maxBucket can yield
    // ~queries × bucket-size rows), so AQE picks broadcast vs shuffle from
    // the observed size instead of a hint OOM-ing the driver at scale.
    val cand = corpus.select(col("vec_id"), col("embedding"))
      .join(candIds.join(broadcast(queries), "qid"), "vec_id")
    rankTopK(cand, k)
  }
}
