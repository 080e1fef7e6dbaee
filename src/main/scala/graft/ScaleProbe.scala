package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQuery, StreamingQueryProgress}

import graft.operators.{Dedup, Similarity}

/** Scale-up probe: inflates the sf0.1 tables N× into /tmp, then times the
  * scale-critical paths on them. Evidence for SURVEY.md §4 that the plans
  * scale ≤ linearly in input size rather than degrading (shuffle spill,
  * skew, quadratic candidate blowups).
  *
  * Every mode is one entry of [[modes]], and one path inflates, warms,
  * times, narrows and prints for all of them. Trailing names after a mode
  * narrow it to those probes, except `bucketed` (a bucket count) and the
  * query-list modes (`textq`, `graph`, bare registered query names). A name
  * that matches nothing exits 2 with the [[usage]] the table generates.
  *
  * Usage: runMain graft.ScaleProbe [multiplier] [etl|dedup|sketch|text|ann|textq|
  * index|stream|graph|serve|recovery|layout|profile|bucketed|query...] [args...]
  */
object ScaleProbe {

  /** What follows a mode name: probe names that narrow its probes,
    * registered queries to time (at least one), or a bucket count.
    */
  private[graft] sealed abstract class Trailing(val syntax: String)
  private[graft] case object ProbeNames extends Trailing("[probe...]")
  private[graft] case object QueryNames extends Trailing("query...")
  private[graft] case object BucketCount extends Trailing("[buckets]")

  /** What a mode's probes read. The session starts on first use, so
    * building a probe list (argument resolution) starts nothing.
    */
  private[graft] final class Ctx(session: => SparkSession, val base: String,
                                 val out: String, val mult: Int, val rest: Seq[String]) {
    lazy val spark: SparkSession = session
  }

  /** A mode's probes, each a name and a thunk that runs it and returns its
    * JSON value, and its extra top-level fields, read after the probes.
    */
  private[graft] type Probe = (String, () => String)
  private[graft] final case class Probes(list: Seq[Probe],
                                         fields: () => Seq[(String, Long)] = () => Nil)

  /** One mode. `probes` must start nothing itself: every Spark action sits
    * in a probe thunk or a lazy val.
    */
  private[graft] final case class Mode(name: String, about: String,
                                       inflates: Seq[Ctx => Unit], rows: String,
                                       trailing: Trailing, probes: Ctx => Probes)

  private[graft] val modes: Seq[Mode] = Seq(
    Mode("etl", "inflate events; time the ETL-heavy queries a00, a03 and a04",
      Seq(events), "events", ProbeNames, c => Probes(queryProbes(c,
        Seq("a00_pipeline_e2e", "a03_dedup_replacing", "a04_traffic_totals")))),
    Mode("dedup", "inflate documents and embeddings; time MinHash/weighted dedup and 50-query ANN",
      Seq(documents, embeddings), "documents", ProbeNames, dedupProbes),
    Mode("sketch", "inflate events; exact countDistinct vs the KMV sketch at low and high cardinality",
      Seq(events), "events", ProbeNames, sketchProbes),
    Mode("text", "inflate documents; time LM scoring, source overlap, BPE learn and encode",
      Seq(documents), "documents", ProbeNames, textProbes),
    Mode("ann", "inflate embeddings; recall@10 vs exact and wall time per ANN variant",
      Seq(embeddings), "embeddings", ProbeNames, annProbes),
    Mode("textq", "inflate documents; time the named document-reading queries",
      Seq(documents), "documents", QueryNames, c => Probes(queryProbes(c, c.rest))),
    Mode("index", "inflate embeddings; time the disk-served IVF / IVF+PQ build and 50-query probe",
      Seq(embeddings), "embeddings", ProbeNames, indexProbes),
    Mode("stream", "inflate events; replay them through g06/g07 stateful operators, peak state",
      Seq(events), "events", ProbeNames, streamProbes),
    Mode("graph", "inflate orders and lineitem with disjoint keys; time the named queries",
      Seq(ordersLineitem), "lineitem", QueryNames, c => Probes(queryProbes(c, c.rest))),
    Mode("serve", "inflate documents and embeddings; per-batch admission and MaxSim on prebuilt indexes",
      Seq(documents, embeddings), "documents", ProbeNames, serveProbes),
    Mode("recovery", "inflate events; g13 frames through the exactly-once sink: drain and crash recovery",
      Seq(events), "events", ProbeNames, recoveryProbes),
    Mode("layout", "inflate events; files touched and filtered scan time, Z-order vs linear",
      Seq(events), "events", ProbeNames, layoutProbes),
    Mode("profile", "inflate events; profile cost at 4 and 32 columns, md5 vs xxhash64",
      Seq(events), "events", ProbeNames, profileProbes),
    Mode("bucketed", "inflate orders and lineitem; shuffle join vs bucketed join (default 32 buckets)",
      Seq(ordersLineitem), "lineitem", BucketCount, bucketedProbes))

  /** Bare registered query names in place of a mode: the first names the run. */
  private val queryMode = Mode("", "inflate events; time the named registered queries",
    Seq(events), "events", QueryNames, c => Probes(queryProbes(c, c.rest)))

  private[graft] def usage: String =
    ("usage: runMain graft.ScaleProbe [multiplier=100] [mode=etl] ..." +:
      (modes :+ queryMode).map { m =>
        f"  ${(m.name + " " + m.trailing.syntax).trim}%-22s ${m.about}"
      }).mkString("\n")

  /** Arguments resolved against the table: the mode, the name the run is
    * printed and stored under, and the probes to run.
    */
  private[graft] final case class Run(mode: Mode, label: String, ctx: Ctx, probes: Probes)

  /** Resolves `multiplier mode trailing...`; Left names what matched nothing. */
  private[graft] def resolve(args: Seq[String], base: String,
                             session: => SparkSession): Either[String, Run] = {
    val registered = Queries.all.map(_.name).toSet
    val label = args.lift(1).getOrElse("etl")
    for {
      mult <- args.headOption.fold[Either[String, Int]](Right(100))(a =>
        a.toIntOption.filter(_ > 0).toRight(s"multiplier '$a' is not a positive integer"))
      picked <- modes.find(_.name == label).map(_ -> args.drop(2))
        .orElse(Option.when(registered(label))(queryMode -> args.drop(1)))
        .toRight(s"'$label' is neither a mode nor a registered query")
      (mode, rest) = picked
      ctx = new Ctx(session, base, s"/tmp/graft_scale_${label}_${mult}x", mult, rest)
      all = mode.probes(ctx)
      list <- mode.trailing match {
        case BucketCount =>
          if (rest.size <= 1 && rest.forall(_.toIntOption.exists(_ > 0))) Right(all.list)
          else Left(s"$label takes one positive bucket count, not '${rest.mkString(" ")}'")
        case QueryNames if rest.isEmpty => Left(s"$label needs query names")
        case _ => // query-list modes build probes for the registered names only
          val names = all.list.map(_._1)
          rest.find(!names.contains(_))
            .map(p => if (mode.trailing == QueryNames) s"'$p' is not a registered query"
              else s"'$p' is not a $label probe (${names.mkString(", ")})")
            .toLeft(all.list.filter(p => rest.isEmpty || rest.contains(p._1)))
      }
    } yield Run(mode, label, ctx, all.copy(list = list))
  }

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** Distinct affine substitution cipher per replica:
    * c → alpha[(a·idx(c) + b) mod 26] with a coprime to 26 — injective in r
    * for r < 312 (12 multipliers × 26 shifts), so no replica is ever an
    * exact copy of another. (A plain rotation degenerates to the identity at
    * r % 26 == 0, re-admitting the duplicate-pair explosion the dedup mode
    * exists to avoid.)
    */
  private val coprimes = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
  private def cipher(r: Int): String = {
    val a = coprimes((r / 26) % coprimes.length)
    val b = r % 26
    (0 until 26).map(i => alpha((a * i + b) % 26)).mkString
  }

  /** N replicas of `table` with non-colliding ids; `salt` makes replica
    * content unrelated to the original's (rep 0 is the original). Salted
    * replicas are DISSIMILAR, so the probes measure the LSH/ANN machinery
    * growing with corpus size, not an artificial explosion of duplicate
    * groups.
    */
  private def inflate(c: Ctx, table: String, idCol: String)
                     (salt: (DataFrame, Int) => DataFrame): Unit = {
    val df = c.spark.read.parquet(s"${c.base}/$table.parquet")
    (0 until c.mult).map { r =>
      val d = df.withColumn(idCol, col(idCol) + lit(r.toLong * 10000000L))
      if (r == 0) d else salt(d, r)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"${c.out}/$table.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val run = resolve(args.toSeq, base, GraftSession.local()) match {
      case Right(r) => r
      case Left(why) =>
        System.err.println(s"ScaleProbe: $why\n$usage")
        sys.exit(2)
    }
    val c = run.ctx
    once(c.out, "_done") {
      run.mode.inflates.foreach(_(c))
      Tables.names.foreach { t =>
        val link = Paths.get(s"${c.out}/$t.parquet")
        if (!Files.exists(link)) Files.createSymbolicLink(link, Paths.get(s"${c.base}/$t.parquet"))
      }
    }
    val qs = run.probes.list.map { case (name, probe) => "\"" + name + "\":" + probe() }
      .mkString("{", ",", "}")
    val fields = run.probes.fields().map { case (k, v) => s""","$k":$v""" }.mkString
    // counted last: range partitioning seeds its sample with the RDD id, so
    // an earlier job would move the file boundaries of the probes' layouts
    val rows = c.spark.read.parquet(s"${c.out}/${run.mode.rows}.parquet").count()
    println(s"""{"metric":"scale_probe","mode":"${run.label}","rows":$rows,"mult":${c.mult}$fields,"queries":$qs}""")
    c.spark.stop()
  }

  private def documents(c: Ctx): Unit = inflate(c, "documents", "doc_id") { (d, r) =>
    d.withColumn("text", translate(col("text"), alpha, cipher(r)))
  }

  // sign-flip mask from murmur3(hash(dim, r)) — distinct per replica for
  // every r (the old (i + r) % 7 pattern repeated with period 7)
  private def embeddings(c: Ctx): Unit = inflate(c, "embeddings", "vec_id") { (d, r) =>
    d.withColumn("embedding", expr(
      s"transform(embedding, (x, i) -> CAST(IF(pmod(hash(i, $r), 2) = 0, -x, x) AS FLOAT))"))
  }

  /** `table` crossed with replica numbers `rep` < mult; `keys` separates
    * the replicas' keys by `rep`.
    */
  private def crossInflate(c: Ctx, table: String)(keys: DataFrame => DataFrame): Unit =
    keys(c.spark.read.parquet(s"${c.base}/$table.parquet")
        .crossJoin(c.spark.range(c.mult).toDF("rep")))
      .drop("rep")
      .write.mode("overwrite").parquet(s"${c.out}/$table.parquet")

  // events.ts arrives as epoch-nano long or µs timestamp depending on the
  // testdata vintage and is written back as-is — Tables.events adapts to
  // either on read
  private def events(c: Ctx): Unit = crossInflate(c, "events")(_
    .withColumn("event_id", col("event_id") * c.mult + col("rep"))
    .withColumn("user_id", col("user_id") + col("rep") % 10 * 150))

  // disjoint key offsets per replica → structurally identical components;
  // the graph probe measures b43's per-iteration edge shuffle growing with
  // the graph (nodes AND edges both ×mult)
  private def ordersLineitem(c: Ctx): Unit =
    Seq("orders" -> Seq("o_orderkey", "o_custkey"),
        "lineitem" -> Seq("l_orderkey", "l_suppkey")).foreach { case (t, keys) =>
      crossInflate(c, t)(keys.foldLeft(_)((d, k) => d.withColumn(k, col(k) + col("rep") * 10000000L)))
    }

  /** Runs `build` unless `dir/marker` exists, then creates the marker (a
    * later run in the same dir reuses what it built); true when it built.
    */
  private def once(dir: String, marker: String)(build: => Unit): Boolean = {
    val done = Paths.get(dir, marker)
    if (Files.exists(done)) false
    else {
      Files.createDirectories(done.getParent)
      build
      Files.createFile(done)
      true
    }
  }

  /** Warm pass, then the min of three [[Bench.timedPass]]es: single-node
    * numbers swing up to 2× from the previous run's async writeback.
    */
  private def timed(c: Ctx)(probes: (String, () => DataFrame)*): Seq[Probe] =
    probes.map { case (name, mk) =>
      name -> { () =>
        Bench.timedPass(c.spark)(mk())
        (0 until 3).map(_ => Bench.timedPass(c.spark)(mk())).min.toString
      }
    }

  /** The registered queries among `names`, in registry order. */
  private def queryProbes(c: Ctx, names: Seq[String]): Seq[Probe] =
    timed(c)(Queries.all.filter(q => names.contains(q.name))
      .map(q => q.name -> (() => q.fn(c.spark, c.out))): _*)

  private def queries50(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 50).select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** A trained model collected and recreated as local rows, so later plans
    * do not re-train it.
    */
  private def frozen(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Writes `shape(df)`, range-partitioned by `ts` into 16 files, with
    * ascending mtimes in part order: FileStreamSource batches in mtime
    * order, so maxFilesPerTrigger=1 replays in event-time order.
    */
  private def writeTsOrdered(df: DataFrame, dir: String)(shape: DataFrame => DataFrame): Unit = {
    shape(df.repartitionByRange(16, col("ts"))).write.mode("overwrite").parquet(dir)
    val partRe = "part-(\\d+)".r
    val listing = Files.list(Paths.get(dir))
    try listing.forEach { p =>
      partRe.findFirstMatchIn(p.getFileName.toString).foreach { m =>
        Files.setLastModifiedTime(p,
          FileTime.fromMillis(1_600_000_000_000L + m.group(1).toLong * 60_000L))
      }
    } finally listing.close()
  }

  /** Runs one stream: starts `start(dir)` on a fresh [[operators.Scratch]]
    * dir (wiped on reuse and at exit) for its checkpoint and sink, drains
    * every available file and stops. Returns (seconds with start-up,
    * progress, dir).
    */
  private def drain(tag: String)(start: String => StreamingQuery)
      : (Double, Array[StreamingQueryProgress], String) = {
    val dir = operators.Scratch.dir(s"scale_probe_$tag")
    val t0 = System.nanoTime()
    val q = start(dir)
    try {
      q.processAllAvailable()
      ((System.nanoTime() - t0) / 1e9, q.recentProgress, dir)
    } finally q.stop()
  }

  /** The largest per-batch sum of `f` over the state operators. */
  private def peak(prog: Array[StreamingQueryProgress])
                  (f: StateOperatorProgress => Long): Long =
    prog.map(_.stateOperators.map(f).sum).maxOption.getOrElse(0L)

  /** A drained stream's seconds, input rows per second (named `rate`) and
    * peak state rows, as JSON fields.
    */
  private def drainFields(sec: Double, prog: Array[StreamingQueryProgress], rate: String): String = {
    val rows = prog.map(_.numInputRows).sum
    s""""sec":${math.rint(sec * 100) / 100},"$rate":${if (sec > 0) (rows / sec).toLong else 0L},""" +
      s""""peak_state_rows":${peak(prog)(_.numRowsTotal)}"""
  }

  private def dedupProbes(c: Ctx): Probes = {
    def docs = Tables.documents(c.spark, c.out)
    def emb = Tables.embeddings(c.spark, c.out)
    Probes(timed(c)(
      "c01_exact" -> (() => Dedup.exact(docs, "doc_id", "text")),
      "c02_minhash" -> (() => Dedup.minhashPairs(docs, "doc_id", "text")),
      "c07_weighted" -> (() => Dedup.weightedMinhashPairs(docs, "doc_id", "text")),
      "c08_contamination" -> (() => Dedup.contamination(
        docs, docs.filter(col("doc_id") % 17 === 0), "doc_id", "text")),
      "c09_clusters" -> (() => Dedup.nearDupClusters(docs, "doc_id", "text")),
      "d11_kmeans" -> (() => Similarity.kmeansAssign(
        emb.select(col("vec_id"), col("embedding")), k = 8, iters = 2)),
      "c12_semdedup" -> (() => {
        // SemDeDup's own scaling rule: cells grow with the corpus so
        // per-cell membership (and the within-cell quadratic) stays flat
        val n = emb.count()
        operators.SemDedup.removed(emb, nCells = math.max(16, (n / 500).toInt))
      }),
      "d02_lsh_ann_50q" -> (() =>
        Similarity.lshTopK(emb, queries50(emb), 10, multiProbe = true)),
      "d03_ivf_ann_50q" -> (() => Similarity.ivfTopK(emb, queries50(emb), 10)),
      "d08_pq_ann_50q" -> (() => Similarity.pqTopK(emb, queries50(emb), 10))))
  }

  // exact distinct-count vs the KMV sketch at LOW (1.5k users) and HIGH
  // (10M event ids) cardinality (SURVEY §6 "Sketch scale probe"). Low card:
  // exact wins — its state is tiny and the sketch pays md5 per row. High
  // card is the 100 TB shape: exact must expand + shuffle every distinct
  // value; the sketch shuffles 64 hashes per group whatever the input size.
  private def sketchProbes(c: Ctx): Probes = {
    def ev = Tables.events(c.spark, c.out)
    def kmvOver(name: String) = () => ev
      .select(col("event_type"), md5(col(name).cast("string").cast("binary")).as("h"))
      .groupBy("event_type")
      .agg(operators.Kmv.kmv_distinct(64)(col("h")).as("r"))
      .select(col("event_type"), col("r.est_distinct"))
    def exactOver(name: String) = () => ev
      .groupBy("event_type").agg(countDistinct(col(name)).as("nd"))
    Probes(timed(c)(
      "exact_low_card" -> exactOver("user_id"),
      "kmv_low_card" -> kmvOver("user_id"),
      "exact_high_card" -> exactOver("event_id"),
      "kmv_high_card" -> kmvOver("event_id")))
  }

  private def textProbes(c: Ctx): Probes = {
    def docs = Tables.documents(c.spark, c.out)
    Probes(timed(c)(
      "e18_lm_score" -> (() =>
        operators.TextLm.lmScore(docs, "doc_id", "text")),
      "c15_source_overlap_exact" -> (() =>
        operators.Overlap.sourceOverlap(docs, "source", "text")),
      "c15_source_overlap_sketch" -> (() =>
        operators.Overlap.estimatedOverlap(
          operators.Overlap.sourceSignatures(docs, "source", "text"))),
      // 10 rounds: the probe measures how ROUND COST grows with corpus/
      // vocab size; round count is a constant workload knob
      "e19_bpe_10_rounds" -> (() =>
        operators.Bpe.learnMerges(c.spark, docs, "text", 10)),
      // the e26 serving path: merges learned ONCE outside the timed
      // thunk (a model artifact, not per-run work) so the probe times
      // the broadcast + mapPartitions encode — expected linear in docs
      "e26_encode" -> {
        lazy val merges = operators.Bpe.learn(c.spark, docs, "text", 10)
        () => operators.Bpe.encodeCorpus(c.spark, docs, "text", "doc_id", merges)
      }))
  }

  // recall@10 vs exact, plus wall time, per variant. The result sets are
  // 50 queries × 10 rows — the collects are probe bookkeeping, not
  // operator data paths.
  private def annProbes(c: Ctx): Probes = {
    lazy val emb = Tables.embeddings(c.spark, c.out)
    lazy val queries = queries50(emb)
    def resultSet(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("qid").cast("long"), col("neighbor").cast("long"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    lazy val exact = resultSet(Similarity.bruteForceTopK(emb, queries, 10))
    def variant(name: String, mk: () => DataFrame): Probe = name -> { () =>
      val ex = exact
      Bench.timedPass(c.spark)(mk()) // warm
      c.spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val rs = resultSet(mk())
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = ex.map { case (q, e) =>
        rs.getOrElse(q, Set.empty).count(e).toDouble / e.size
      }.sum / ex.size
      s"""{"sec":$sec,"recall10":${math.rint(recall * 1000) / 1000}}"""
    }
    Probes(Seq(
      variant("d02_lsh_multiprobe", () => Similarity.lshTopK(emb, queries, 10, multiProbe = true)),
      variant("d03_ivf", () => Similarity.ivfTopK(emb, queries, 10)),
      variant("d04_ivf_adaptive", () => Similarity.ivfTopKAdaptive(emb, queries, 10)),
      variant("d08_pq", () => Similarity.pqTopK(emb, queries, 10)),
      // the recall knobs: re-rank budget (ADC scan cost unchanged) and
      // codebook resolution (LUT 4× bigger, codes still 8 B/vec)
      variant("d08_pq_rerank32", () =>
        Similarity.pqTopK(emb, queries, 10, rerankFactor = 32)),
      variant("d08_pq_kc64_rerank8", () =>
        Similarity.pqTopK(emb, queries, 10, kc = 64, rerankFactor = 8)),
      // the REGISTERED d08 config since r6 (6-bit codebooks, re-rank ×32)
      variant("d08_pq_kc64_rerank32", () =>
        Similarity.pqTopK(emb, queries, 10, kc = 64, rerankFactor = 32))))
  }

  // The 100 TB ANN serving story, TIMED: offline index build (assignment +
  // partitioned write) and per-batch probe latency for the disk-served IVF
  // and IVF+PQ layouts. The quantizer is trained ONCE and frozen (collect +
  // recreate, like IvfIndexSpec) — builds time the assignment/encode/write,
  // probes time routing + pruned scan + rank against the index the build
  // probe wrote; the ad-hoc in-memory comparators are the `ann` mode's
  // d03/d08 entries.
  private def indexProbes(c: Ctx): Probes = {
    lazy val emb = Tables.embeddings(c.spark, c.out)
    lazy val centroids = frozen(Similarity.ivfCentroids(emb, nCells = 64, refineIters = 1))
    lazy val cb = frozen(Similarity.pqCodebooks(emb, m = 8, kc = 16))
    val ivfDir = s"${c.out}/ivf_idx"
    val pqDir = s"${c.out}/pq_idx"
    def asDf(body: => Unit): DataFrame = { body; c.spark.range(0).toDF() }
    Probes(timed(c)(
      "ivf_index_build" -> (() =>
        asDf(Similarity.writeIndex(emb, centroids, ivfDir))),
      "ivf_probe_50q" -> (() =>
        Similarity.probeIndex(c.spark, ivfDir, queries50(emb), centroids, k = 10, nProbe = 4)),
      "pq_index_build" -> (() =>
        asDf(Similarity.writeIndexPQ(emb, centroids, cb, pqDir, m = 8, w = 8))),
      "pq_probe_50q" -> (() =>
        Similarity.probeIndexPQ(c.spark, pqDir, queries50(emb), centroids, cb,
          k = 10, m = 8, kc = 16))))
  }

  // The stateful-streaming probe (g06 funnel / g07 retention): replay the
  // inflated events through flatMapGroupsWithState in EVENT-TIME ORDER so
  // the watermark advances the way a live stream's would, and record
  // (a) rows/sec through the stateful operator and (b) PEAK state-store
  // rows and bytes. The claim under test: state ∝ active users (one state
  // row per live user; funnel bytes additionally ∝ min(step events, cap)),
  // NOT ∝ history — the inflation grows history `mult`× but users ≤10×.
  //
  // One full throwaway replay (fresh checkpoint) per op before the timed
  // run — JVM/codegen/stream-startup warm-up otherwise lands in the FIRST
  // probe's numbers only, skewing g06-vs-g07 and stream-vs-batch reads.
  // `emitted_closed` counts only windows/weeks CLOSED by the final
  // watermark: tail users whose funnel window / retention week is still
  // open when the bounded replay ends never emit, so it reads low next to
  // `users` by design.
  private def streamProbes(c: Ctx): Probes = {
    lazy val streamIn = {
      val dir = s"${c.out}/stream_in"
      once(c.out, "_stream_done") {
        writeTsOrdered(Tables.events(c.spark, c.out), dir)(
          _.select(col("user_id"), col("ts"), col("event_type")))
      }
      dir
    }
    lazy val schema = c.spark.read.parquet(streamIn).schema
    val steps = Seq("view", "click", "purchase")
    def probe(name: String, op: DataFrame => Dataset[_]): Probe = name -> { () =>
      def replay() = drain(name) { dir =>
        op(c.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(streamIn))
          .writeStream.format("noop")
          .option("checkpointLocation", dir).outputMode("append").start()
      }
      replay() // discarded: cold-start warm-up
      val (sec, prog, _) = replay()
      val peakMb = peak(prog)(_.memoryUsedBytes) / 1e6
      val emitted = prog.map(_.sink.numOutputRows).filter(_ > 0).sum
      s"""{${drainFields(sec, prog, "rows_per_sec")},""" +
        s""""peak_state_mb":${math.rint(peakMb * 10) / 10},"emitted_closed":$emitted}"""
    }
    Probes(
      Seq(
        probe("g06_funnel", df =>
          streaming.StatefulFunnel.levels(c.spark, df, steps, windowMinutes = 1440)),
        probe("g07_retention", df =>
          streaming.StatefulRetention.increments(c.spark, df))),
      () => Seq("users" ->
        c.spark.read.parquet(streamIn).select(countDistinct(col("user_id"))).first().getLong(0)))
  }

  // Per-batch cost with PREBUILT indexes across corpus growth — the
  // admission/serving posture: the archive is indexed ONCE (outside the
  // timed thunks, like e26's merges — an offline artifact), and the timed
  // runs are per-increment costs that must track the BATCH while the
  // corpus grows 10×/100× underneath. Covers the two r8 ops previously
  // measured only with both sides growing: g09 admission (now vs a
  // prebuilt band index) and d14/d15 MaxSim (exact scorer curve + the
  // IVF-shortlist serving knob).
  private def serveProbes(c: Ctx): Probes = {
    lazy val emb = Tables.embeddings(c.spark, c.out)
    // fixed arrival batch: the BASE corpus's g09 mix, size-invariant in
    // mult, so the probe isolates corpus growth
    lazy val arrivals = {
      val base0 = c.spark.read.parquet(s"${c.base}/documents.parquet")
      base0.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" servescreen probe suffix")).as("text"))
        .unionByName(base0.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 300000).as("doc_id"),
            trim(repeat(lit("@@@ "), 20)).as("text")))
        .unionByName(base0.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 400000).as("doc_id"),
            translate(col("text"), "aeiou", "uoiea").as("text")))
    }
    val screenIdx = s"${c.out}/screen_idx"
    // lazy like `centroids` below, so a d14/d15-only run never pays it:
    // the band index replicates each doc's shingle signature once per
    // band (~bands × signature bytes of scratch for the build shuffle —
    // ~130 GB at the 1000× corpus, past this box's disk; an offline
    // artifact a cluster builds with provisioned scratch)
    lazy val screenReady = {
      once(c.out, "_screen_idx_done") {
        streaming.NearDupScreen.writeIndex(Tables.documents(c.spark, c.out), screenIdx,
          "doc_id", "text")
      }
      screenIdx
    }
    lazy val corpus = emb.select(expr("vec_id div 8").as("doc_id"),
      col("vec_id"), col("embedding"))
    lazy val queries = corpus.filter(col("doc_id").isin(3, 17, 29))
      .select(col("doc_id").as("qid"), col("vec_id").as("qtok"), col("embedding"))
    lazy val tokenQueries = queries.select(col("qtok").as("qid"), col("embedding").as("qv"))
    lazy val nCells = math.max(16, (emb.count() / 500).toInt) // cells grow, cell size flat
    // scale-proportional nCells is the SemDeDup quadratic (SURVEY §6
    // c12 row): route the one-time build through ⌈√k⌉ groups past the
    // same k ≥ 512 breakeven SemDedup.removed uses
    lazy val rg = if (nCells >= 512) math.ceil(math.sqrt(nCells)).toInt else 0
    val ivfDir = s"${c.out}/maxsim_ivf_idx"
    lazy val centroids = {
      val cs = frozen(Similarity.ivfCentroids(emb, nCells, refineIters = 1, rg))
      once(c.out, "_maxsim_idx_done")(Similarity.writeIndex(emb, cs, ivfDir, rg))
      cs
    }
    // Doc-sorted token store: the 1000× run showed d15's residual
    // linear term is the shortlist FETCH (corpus.join(shortlist) scans
    // the raw parquet — layout-bound, not algorithm-bound). Range-
    // partitioned + sorted by doc_id, a bounded `isin` on the shortlist
    // ids row-group-skips to just the matching files — the fetch cost
    // tracks the SHORTLIST, not the corpus (same one-time-layout
    // convention as the IVF index above).
    val tokDir = s"${c.out}/maxsim_tokens"
    lazy val tokenStore = {
      once(c.out, "_maxsim_tokens_done") {
        corpus.repartitionByRange(64, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(tokDir)
      }
      tokDir
    }
    // Two-level directory layout for the SAME cells: the d15_probe_only
    // decomposition showed the flat layout's nCells-proportional dir
    // listing + tiny-file floor IS the serving cost at 1000×
    val grpIdxDir = s"${c.out}/maxsim_givf_idx"
    lazy val groupedIdx = {
      once(c.out, "_maxsim_gidx_done") {
        Similarity.writeIndexGrouped(emb, centroids, grpIdxDir,
          layoutGroups = math.max(2, math.ceil(math.sqrt(nCells)).toInt),
          routeGroups = rg)
      }
      grpIdxDir
    }
    // Shortlist fetch from the doc-sorted store (r12 ADVICE): the ids
    // are routing metadata (≤ k·tokens by the probe convention), but an
    // EMPTY shortlist must not build isin() over zero values, and a
    // large one must not bloat the plan with a single giant In — past a
    // few thousand ids a broadcast semi-join carries them instead (the
    // predicate then prunes via the runtime bloom/DPP path rather than
    // one literal list per scan task).
    def fetchTokens(hits: DataFrame): DataFrame = {
      val ids = shortlist(hits).collect().map(_.getLong(0))
      val store = c.spark.read.parquet(tokenStore)
      if (ids.isEmpty) store.filter(lit(false))
      else if (ids.length <= 4096) store.filter(col("doc_id").isin(ids: _*))
      else {
        import c.spark.implicits._
        store.join(broadcast(ids.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
      }
    }
    def shortlist(hits: DataFrame) = hits.select(expr("neighbor div 8").as("doc_id")).distinct()
    def ivfHits = Similarity.probeIndex(c.spark, ivfDir, tokenQueries, centroids, k = 32, nProbe = 4)
    def groupedHits = Similarity.probeIndexGrouped(c.spark, groupedIdx, tokenQueries,
      centroids, k = 32, nProbe = 4)
    Probes(timed(c)(
      "g09_admit_prebuilt" -> (() =>
        streaming.Admission.admitIndexed(c.spark, arrivals, screenReady,
          "doc_id", "text")),
      "d14_maxsim_exact" -> (() => Similarity.maxSim(corpus, queries)),
      "d15_maxsim_shortlist" -> (() =>
        Similarity.maxSim(corpus.join(shortlist(ivfHits), "doc_id"), queries)),
      // decomposition entry: just the per-token IVF probe (routing +
      // pruned index read + rank), no shortlist fetch, no rerank —
      // isolates where d15's serving cost lives as the corpus grows
      "d15_probe_only" -> (() => ivfHits),
      // the probe-only decomposition against the grouped layout —
      // the pair (d15_probe_only, this) isolates the layout's share
      "d15_grouped_probe_only" -> (() => groupedHits),
      // end-to-end serving on the two-level layout + token store
      "d15_maxsim_grouped" -> (() => Similarity.maxSim(fetchTokens(groupedHits), queries)),
      // same probe; the fetch reads the doc-sorted token store with a
      // bounded isin (shortlist ids are routing metadata, ≤ k·tokens —
      // the probeIndex cell-collect convention), so parquet min/max
      // skips every non-matching file/row-group
      "d15_maxsim_store" -> (() => Similarity.maxSim(fetchTokens(ivfHits), queries))))
  }

  // The g13 deployment pipeline probed at scale: capnp frames → decode →
  // anonymize → offset-keyed watermark dedup → per-batch partial totals
  // through the idempotent sink. Reports (a) sustained msg/s through a full
  // drain (the reference's core throughput claim, measured on the
  // REGISTERED exactly-once posture, dedup state and sink included), (b)
  // peak dedup-state rows (must track the watermark horizon, not stream
  // history), and (c) the cost of a crash+recovery — the replayed batch
  // after crashBeforeCommit, which should cost a fraction of a drain, not a
  // re-run.
  private def recoveryProbes(c: Ctx): Probes = {
    lazy val framesDir = {
      val dir = s"${c.out}/recovery_frames"
      once(c.out, "_recovery_done") {
        writeTsOrdered(Queries.httpLogMs(c.spark, c.out).withColumn("value", Queries.capnpMsg),
          dir)(sources.KafkaShaped.framesFromPayloads(_, "value", "log_id"))
      }
      dir
    }
    def drainFrames() = drain("g13") { dir =>
      streaming.Recovery.offsetKeyedLogs(
          sources.KafkaShaped.fileStream(c.spark, framesDir, Some(1)))
        .writeStream.option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch(streaming.Recovery.totalsBatchSink(s"$dir/sink"))
        .start()
    }
    // (drain seconds, drain progress, recovery seconds, sink requests)
    lazy val measured = {
      drainFrames() // cold-start warm-up
      val (sec, prog, dir) = drainFrames()
      // induced crash cut at the newest data batch (later no-data batch
      // erased); recovery cost ≈ that one replay, NOT a re-drain
      streaming.Recovery.crashBeforeCommit(s"$dir/ckpt")
      val t1 = System.nanoTime()
      streaming.Recovery.runUntilDrained(c.spark, framesDir, s"$dir/ckpt", s"$dir/sink")
      val recSec = (System.nanoTime() - t1) / 1e9
      val total = c.spark.read.parquet(s"$dir/sink").agg(sum("requests")).head().getLong(0)
      (sec, prog, recSec, total)
    }
    Probes(
      Seq(
        "g13_drain" -> (() => s"{${drainFields(measured._1, measured._2, "msgs_per_sec")}}"),
        "g13_crash_recover" -> (() => s"""{"sec":${math.rint(measured._3 * 100) / 100}}""")),
      () => Seq("sink_requests" -> measured._4))
  }

  // Z-order vs linear layout at scale: write both, then measure (a) how
  // many files hold rows matching a point/range predicate on EACH
  // interleaved dimension — the stats-pruning bound — and (b) the warm
  // filtered-scan time, where parquet row-group min/max pruning turns the
  // file-locality into real I/O savings.
  private def layoutProbes(c: Ctx): Probes = {
    val nFiles = 64
    val zPath = s"${c.out}/z_layout"
    val linPath = s"${c.out}/lin_layout"
    lazy val written = once(c.out, "_layout_done") {
      val log = operators.HttpLog.view(Tables.events(c.spark, c.out))
      operators.Layout.writeZOrdered(log, zPath, nFiles, 8, "resource_id", "bytes_sent")
      operators.Layout.writeLinear(log, linPath, nFiles, "resource_id")
    }
    val preds = Seq(
      "res_point" -> (col("resource_id") === 7),
      "bytes_tail" -> col("bytes_sent").between(200000, 400000))
    Probes(for {
      (pname, pred) <- preds
      (lname, path) <- Seq("zorder" -> zPath, "linear" -> linPath)
    } yield s"${lname}_$pname" -> { () =>
      written
      val touched = operators.Layout.filesTouched(c.spark, path, pred)
      val scan = c.spark.read.parquet(path).filter(pred)
      scan.count() // warm
      val t0 = System.nanoTime()
      scan.count()
      val sec = (System.nanoTime() - t0) / 1e9
      s"""{"files":$touched,"of":$nFiles,"sec":$sec}"""
    })
  }

  // b48's width claim measured: profile cost must grow ∝ columns·rows with
  // O(k·columns) flat state (ProfileSpec asserts the one-scan plan at any
  // width; this measures the constant). 4-col = the g11 ingest set; 32-col
  // = the same base columns widened 8× with distinct-bearing variants. The
  // _xx twins run the PRODUCTION xxhash64 hash (Kmv long-input path)
  // against the oracle-replayable md5 on identical shapes — the per-row
  // hashing delta, isolated.
  private def profileProbes(c: Ctx): Probes = {
    val baseCols = Seq(("resource_id", "int"), ("bytes_sent", "int"),
      ("remote_addr", "str"), ("cache_status", "str"))
    val wideSpecs = (0 until 8).flatMap { i =>
      Seq[(String, String, Column)](
        (s"resource_id_$i", "int", col("resource_id") * 8 + lit(i)),
        (s"bytes_sent_$i", "int", col("bytes_sent") * 8 + lit(i)),
        (s"remote_addr_$i", "str", concat(col("remote_addr"), lit("#" + i))),
        (s"cache_status_$i", "str", concat(col("cache_status"), lit("#" + i))))
    }
    def hl = operators.HttpLog.view(Tables.events(c.spark, c.out))
    def wide = wideSpecs.foldLeft(hl) { case (d, (n, _, e)) => d.withColumn(n, e) }
    val wideCols = wideSpecs.map(s => (s._1, s._2))
    Probes(timed(c)(
      "profile_4col_md5" -> (() => operators.Profile.profile(hl, baseCols)),
      "profile_4col_xx" -> (() =>
        operators.Profile.profile(hl, baseCols, hashKind = "xx")),
      "profile_32col_md5" -> (() => operators.Profile.profile(wide, wideCols)),
      "profile_32col_xx" -> (() =>
        operators.Profile.profile(wide, wideCols, hashKind = "xx"))))
  }

  // b50's claim measured: at fact⋈fact scale the shuffles of BOTH sides are
  // the join's cost. The same join+agg (per-order revenue by priority)
  // timed two ways over the inflated lineitem/orders: from raw parquet
  // (SortMergeJoin shuffles both sides + the agg exchange) vs from tables
  // written bucketed+sorted by okey (zero exchanges — the b50 in-gate
  // shape). The bucketed WRITE is one-time layout investment (reported on
  // stderr, not timed into the probe — the a22/serve prebuilt-index
  // convention). The bucket count (default 32) is a knob, not a constant:
  // the r12 1000× run showed that at 600M rows the 32-bucket layout leaves
  // each bucket a ~19M-row file that ONE task must scan+join whole
  // (bucketed files never split), and the 4.4× win measured at 100×
  // collapsed to 1.4× — bucket count must be provisioned for the TARGET
  // data volume (≈100-500 MB/bucket), the same sizing rule as shuffle
  // partitions.
  private def bucketedProbes(c: Ctx): Probes = {
    lazy val buckets = c.rest.headOption.map(_.toInt).getOrElse(32)
    lazy val sfx = if (buckets == 32) "" else s"_$buckets"
    def li = c.spark.read.parquet(s"${c.out}/lineitem.parquet")
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"), col("l_discount"))
    def ord = c.spark.read.parquet(s"${c.out}/orders.parquet")
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    lazy val tables = {
      val layouts = Seq("probe_bli" -> (li, s"${c.out}/bucketed_li$sfx"),
        "probe_bord" -> (ord, s"${c.out}/bucketed_ord$sfx"))
      layouts.foreach { case (t, _) => c.spark.sql(s"DROP TABLE IF EXISTS $t") }
      val built = once(c.out, s"_bucketed_done$sfx") {
        val t0 = System.nanoTime()
        layouts.foreach { case (t, (df, dir)) =>
          operators.Bucketing.writeBucketed(c.spark, df, t, dir, Seq("okey"), buckets = buckets)
        }
        System.err.println(
          f"[bucketed] one-time layout write ($buckets buckets): ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      // fresh session, existing files: re-register the bucketed layout
      if (!built) layouts.foreach { case (t, (df, dir)) =>
        c.spark.sql(s"""CREATE TABLE $t (${df.schema.toDDL})
          USING parquet CLUSTERED BY (okey) SORTED BY (okey) INTO $buckets BUCKETS
          LOCATION '$dir'""")
      }
    }
    def revAgg(j: DataFrame): DataFrame = j
      .groupBy(col("okey"), col("o_orderpriority"))
      .agg(sum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"))
    Probes(timed(c)(
      "shuffle_join" -> (() => revAgg(li.join(ord, "okey"))),
      "bucketed_join" -> (() => {
        tables
        revAgg(operators.Bucketing.colocatedJoin(c.spark, "probe_bli", "probe_bord", Seq("okey")))
      })))
  }
}
