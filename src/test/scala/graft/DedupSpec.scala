package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.telemetry.ActionTrace

/** Known-answer tests for the dedup family over the planted-duplicate corpus
  * (see Queries.corpus): doc_id%20==0 → exact copy at id+100000,
  * doc_id%20==10 → near copy with 3 extra tokens.
  */
class DedupSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = Tables.documents(spark, sfDir)

  private lazy val corpus: DataFrame = {
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text",
        when(col("doc_id") % 20 === 10, concat(col("text"), lit(" graft dup marker")))
          .otherwise(col("text")))
    docs.unionByName(planted)
  }

  private lazy val exactIds: Set[Long] = docs
    .filter(col("doc_id") % 20 === 0).select("doc_id")
    .collect().map(_.getLong(0)).toSet

  private lazy val nearIds: Set[Long] = docs
    .filter(col("doc_id") % 20 === 10).select("doc_id")
    .collect().map(_.getLong(0)).toSet

  test("minhash LSH finds every planted exact dup at jaccard 1.0") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    exactIds.foreach { id =>
      val j = pairs.get((id, id + 100000))
      assert(j.contains(1.0), s"exact dup pair ($id, ${id + 100000}) missing or j!=1: $j")
    }
  }

  test("minhash LSH finds planted near dups above threshold") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val found = nearIds.count(id => pairs.contains((id, id + 100000)))
    // banding (32 bands × 4 rows) catches j≈0.9 with prob ≈ 1 - (1-0.9^4)^32
    assert(found >= (nearIds.size * 0.9).toInt,
      s"only $found/${nearIds.size} near dups found")
  }

  test("collect_capped: sorted array under cap, NULL past it (r21 band-join core)") {
    import spark.implicits._
    val rows = Seq.tabulate(30)(i => (i % 3L, (97L * i) % 1000)).toDF("g", "v")
    val out = rows.groupBy("g")
      .agg(graft.functions.collect_capped(col("v"), 10).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    // each group has 10 values — exactly at the cap: kept, sorted ascending
    (0L to 2L).foreach { g =>
      val expected = (0 until 30).filter(_ % 3 == g).map(i => (97L * i) % 1000).sorted
      assert(out(g) == expected, s"group $g: ${out(g)} != $expected")
    }
    val over = rows.groupBy("g")
      .agg(graft.functions.collect_capped(col("v"), 9).as("ids"))
      .collect().map(r => r.isNullAt(1))
    assert(over.forall(identity), "cap 9 < group size 10 must evaluate to NULL")
  }

  /** Reference for [[Dedup.bandJoinCandidates]]: the pre-r21 shape — count
    * each (band, key) bucket, broadcast-anti-join the buckets over
    * `maxBucket` away, self-join the rest on (band, key), distinct. Null keys
    * never match the equi-join, so they pair with nothing.
    */
  private def selfJoinCandidates(banded: DataFrame, maxBucket: Int = 100000): DataFrame = {
    val hot = banded.groupBy("band", "key").count()
      .filter(col("count") > maxBucket).select("band", "key")
    val cold = banded.join(broadcast(hot), Seq("band", "key"), "left_anti")
    cold.as("a")
      .join(cold.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  private def idPairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** minhashPairs' shingles and (id, band, key) frame over the spec corpus. */
  private lazy val corpusShingles: DataFrame = corpus
    .select(col("doc_id").as("id"), graft.functions.word_shingles(col("text"), 3).as("sh"))
    .filter(size(col("sh")) > 0)

  private lazy val corpusBanded: DataFrame = corpusShingles.select(col("id"),
    posexplode(graft.functions.lsh_band_keys(
      graft.functions.minhash_sig_arr(col("sh"), 128), 32)).as(Seq("band", "key")))

  test("band-join candidates equal the self-join reference on the corpus") {
    val ref = idPairs(selfJoinCandidates(corpusBanded))
    val got = idPairs(Dedup.bandJoinCandidates(corpusBanded))
    assert(ref.nonEmpty)
    assert(got == ref, s"got minus ref: ${got diff ref}; ref minus got: ${ref diff got}")
  }

  test("band-join candidates drop null keys and capped buckets like the self-join") {
    import spark.implicits._
    // maxBucket 5: bucket (0, 1) holds ids 0..5 — one over the cap, dropped;
    // bucket (1, 2) holds ids 0..4 — at the cap, kept; band 2 gives ids
    // 0..9 a null key (pairs with nothing), re-pairs (0, 1) (distinct across
    // bands) and adds (6, 7). Ids 5..9 co-bucket only through the capped
    // bucket or null keys, so (5, x) and (8, 9) must not appear.
    val rows: Seq[(Long, Int, Option[Long])] =
      (0L to 5L).map(i => (i, 0, Some(1L))) ++
        (0L to 4L).map(i => (i, 1, Some(2L))) ++
        (0L to 9L).map(i => (i, 2, None)) ++
        Seq((0L, 2, Some(4L)), (1L, 2, Some(4L)), (6L, 2, Some(3L)), (7L, 2, Some(3L)))
    val banded = rows.toDF("id", "band", "key")
    val expected = (for (a <- 0L to 4L; b <- a + 1 to 4L) yield (a, b)).toSet + ((6L, 7L))
    assert(idPairs(selfJoinCandidates(banded, maxBucket = 5)) == expected)
    assert(idPairs(Dedup.bandJoinCandidates(banded, maxBucket = 5)) == expected)
  }

  test("band-join v2 (capped-collect) emits exactly the v1 self-join pair set") {
    // minhashPairs' verification over the reference candidates: exact
    // shingle Jaccard, threshold 0.5, rounded to 4 dp
    val sh = corpusShingles
    val ref = selfJoinCandidates(corpusBanded)
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("inter", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa.sh")) + size(col("sb.sh")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4))
    def triples(df: DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val v2 = triples(Dedup.minhashPairs(corpus, "doc_id", "text"))
    val v1 = triples(ref)
    assert(v1.nonEmpty)
    assert(v2 == v1, s"v2 minus v1: ${v2 diff v1}; v1 minus v2: ${v1 diff v2}")
  }

  test("simhash finds planted exact dups at hamming 0") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    exactIds.foreach { id =>
      assert(pairs.get((id, id + 100000)).contains(0),
        s"simhash pair ($id, ${id + 100000}) missing or hamming!=0")
    }
  }

  test("ngram jaccard within source blocks finds planted pairs") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exactIds.foreach { id =>
      assert(pairs.contains((id, id + 100000)), s"block pair ($id, ${id + 100000}) missing")
    }
  }

  test("clean corpus drops every planted duplicate and keeps originals") {
    val cleaned = Dedup.cleanCorpus(corpus, "doc_id", "text")
    val ids = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    // every planted id (exact at +100000, near at +100000) must be gone:
    // exact copies lose to min-id, near copies are the higher id of a pair
    assert(!ids.exists(_ >= 100000L), s"planted ids survived: ${ids.filter(_ >= 100000L)}")
    // all sufficiently-long originals survive
    val originals = docs.filter(length(trim(col("text"))) > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(originals))
    assert(ids.size > originals.size / 2, "cleaning dropped too much")
  }

  /** Reference for [[Dedup.cleanCorpus]] and [[Dedup.cleanCorpusCC]]: the
    * shape before their one-action prelude — length floor → `exact` keepers
    * (fp, min id, copies) joined back to their text → `minhashPairs` →
    * distinct greedy drop ids (or CC non-reps) → left-anti join on the
    * keepers.
    */
  private def referenceClean(df: DataFrame, cc: Boolean): DataFrame = {
    val longEnough = df.filter(size(split(trim(col("text")), "\\s+")) >= 5)
    val keepers = Dedup.exact(longEnough, "doc_id", "text")
      .select(col("fp"), col("keeper_id").as("doc_id"), col("n_copies").as("exact_copies"))
    val exactKept = keepers.join(longEnough.select(col("doc_id"), col("text")), "doc_id")
    val pairs = Dedup.minhashPairs(exactKept, "doc_id", "text")
    val dropIds =
      if (cc) Dedup.connectedComponents(pairs.select("id_a", "id_b"))
        .filter(col("doc_id") =!= col("rep")).select("doc_id")
      else pairs.select(col("id_b").as("doc_id")).distinct()
    keepers.join(dropIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("fp"), col("exact_copies"))
  }

  /** cleanCorpus and cleanCorpusCC each equal [[referenceClean]] on `df`:
    * same column names and dtypes, same rows. Returns cleanCorpus' ids.
    */
  private def assertCleanMatchesReference(df: DataFrame): Set[Long] = {
    def rows(out: DataFrame): Seq[(Long, String, Long)] =
      out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    def dtypes(out: DataFrame) = out.schema.map(f => f.name -> f.dataType)
    try {
      Seq(false, true).map { cc =>
        val got = if (cc) Dedup.cleanCorpusCC(df, "doc_id", "text")
          else Dedup.cleanCorpus(df, "doc_id", "text")
        val ref = referenceClean(df, cc)
        val label = if (cc) "cleanCorpusCC" else "cleanCorpus"
        assert(dtypes(got) == dtypes(ref), s"$label dtypes")
        val (g, r) = (rows(got), rows(ref))
        assert(r.nonEmpty)
        assert(g == r, s"$label: got minus ref ${g diff r}; ref minus got ${r diff g}")
        g.map(_._1).toSet
      }.head
    } finally spark.sharedState.cacheManager.clearCache()
  }

  test("cleanCorpus and cleanCorpusCC equal the keepers-join reference on the corpus") {
    assertCleanMatchesReference(corpus)
  }

  test("cleanCorpus and cleanCorpusCC equal the reference on planted edge cases") {
    import spark.implicits._
    val same = "alpha beta gamma delta epsilon zeta"
    val split = "one two three four five six seven"
    // five tokens for the length floor's `\\s+` split, but every character
    // is Unicode whitespace to the shingler's tokenizer: no word shingle
    val blank = "\u001c \u001d \u001e \u001f \u3000"
    val toks = (0 until 40).map(i => s"tok$i")
    // four input partitions of three rows each
    val rows: Seq[(Long, String)] = Seq(
      (30L, same), (7L, toks.mkString(" ")), (10L, same),   // exact group: min id 10 is not first
      (11L, blank), (20L, same), (12L, null),               // token-less doc; null text
      (8L, toks.take(30).mkString(" ")), (5L, split), (40L, "too short"),
      (9L, toks.drop(10).mkString(" ")), (50L, split), (60L, toks.take(30).mkString(" ")))
    val planted = spark.sparkContext.parallelize(rows, 4).toDF("doc_id", "text")
    val part = planted.select(col("doc_id"), spark_partition_id().as("p"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(part(5L) != part(50L), "the split copies must sit in different input partitions")
    assert(part(30L) == part(10L), "the exact group's first row precedes its min id")
    val shingles = planted.filter(col("doc_id") === 11L)
      .select(size(graft.functions.word_shingles(col("text"), 3))).head().getInt(0)
    assert(shingles == 0, "the separator-only doc has no word shingle")
    val kept = assertCleanMatchesReference(planted)
    assert(kept.contains(11L), "a token-less doc past the length floor is kept")
    assert(kept.contains(10L) && !kept.contains(20L) && !kept.contains(30L))
    assert(kept.contains(5L) && !kept.contains(50L))
    assert(!kept.contains(12L) && !kept.contains(40L))
  }

  test("a warm cleanCorpus call starts exactly one SQL execution") {
    Dedup.cleanCorpus(corpus, "doc_id", "text").unpersist(blocking = true) // warm-up
    val (out, trace) = ActionTrace.during(spark)(Dedup.cleanCorpus(corpus, "doc_id", "text"))
    assert(trace.sqlExecutions == 1, s"${trace.sqlExecutions} SQL executions for one cleanCorpus call")
    out.unpersist(blocking = true)
  }

  /** ~0.9 MB of text in 2 150 docs, the size of a bench pass: 320 docs
    * share a 50-word run (a hot LSH bucket), 150 are near copies (two words
    * changed) and 200 are exact copies. Its
    * dedup exchanges carry ~1 MB, where AQE's coalescing floor decides how
    * many tasks read them; the spec corpus' exchanges are far below it.
    */
  private lazy val mbCorpus: DataFrame = {
    val r = new scala.util.Random(11)
    val vocab = Vector.fill(4000)(Vector.fill(3 + r.nextInt(4))(('a' + r.nextInt(26)).toChar).mkString)
    def words(n: Int) = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    val boilerplate = words(50)
    val unique = Vector.tabulate(1800)(i => words(50 + r.nextInt(61)) ++ (if (i < 320) boilerplate else Nil))
    val near = Vector.tabulate(150) { i =>
      val base = unique(320 + i)
      base.updated(r.nextInt(base.size), "graft").updated(r.nextInt(base.size), "dup")
    }
    val texts = unique ++ near ++ Vector.fill(200)(unique(r.nextInt(unique.size)))
    spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) })
      .toDF("doc_id", "text")
  }

  test("a warm cleanCorpus over ~1 MB keeps its map-side partial aggregates and reads its fp, (band, key) and id_a exchanges in shuffle.partitions tasks") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // one exchange's map side: the nodes down to the previous stage boundary
    def mapSide(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: ShuffleExchangeLike | _: QueryStageExec | _: InMemoryTableScanExec => Nil
      case other => other.children.flatMap(mapSide)
    })
    // per hash exchange: (hash keys, partial aggregate on its map side,
    // tasks of the stage reading it); the signature cache fills inside the
    // action
    def exchanges(p: SparkPlan): Seq[(Seq[String], Boolean, Int)] = {
      val nodes = executedNodes(p)
      val reads = nodes.collect {
        case r: AQEShuffleReadExec => r.child match {
          case s: ShuffleQueryStageExec => (s.shuffle, r.partitionSpecs.size)
        }
      }
      nodes.collect { case e: ShuffleExchangeLike => e.outputPartitioning match {
        case h: HashPartitioning =>
          val partial = mapSide(e.child).exists {
            case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
            case _ => false
          }
          (h.expressions.collect { case a: Attribute => a.name }, partial,
            reads.collectFirst { case (s, n) if s eq e => n }.getOrElse(e.numPartitions))
        case _ => (Nil, false, e.numPartitions)
      }}
    }
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Dedup.cleanCorpus(mbCorpus, "doc_id", "text").unpersist(blocking = true) // warm-up
    val (out, trace) = ActionTrace.during(spark)(Dedup.cleanCorpus(mbCorpus, "doc_id", "text"))
    out.unpersist(blocking = true)
    val plans = trace.executions.map(_.executedPlan)
    assert(plans.size == 1)
    val all = exchanges(plans.head)
    val seen = all.filter { case (keys, _, _) =>
      Seq(Seq("fp"), Seq("band", "key"), Seq("id_a")).contains(keys) }
    assert(seen.map(_._1).toSet == Set(Seq("fp"), Seq("band", "key"), Seq("id_a")),
      s"exchanges found: $all")
    // a hot bucket's capped buffer and an exact-copy group collapse
    // before their exchange, not after it
    assert(seen.filter(_._1 != Seq("id_a")).forall(_._2),
      s"group-by exchanges without a map-side partial aggregate: $seen")
    assert(seen.forall(_._3 == n), s"stage tasks per exchange (want $n): $seen")
  }

  test("weighted minhash finds every planted exact dup at weighted jaccard 1.0") {
    val pairs = Dedup.weightedMinhashPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    exactIds.foreach { id =>
      val j = pairs.get((id, id + 100000))
      assert(j.contains(1.0), s"exact dup pair ($id, ${id + 100000}) missing or jw!=1: $j")
    }
  }

  test("idf weighting scores boilerplate-only overlap below unweighted jaccard") {
    import spark.implicits._
    // 20 docs all carry the same long boilerplate preamble; docs 0 and 1
    // share ONLY that boilerplate (their content differs), docs 2..19 give
    // the boilerplate shingles a high document frequency (low idf weight)
    val boiler = "all rights reserved contact the site operator for takedown requests here"
    val synth = (0 until 20).map { i =>
      val content = s"unique subject $i covers topic $i with detail $i and angle $i today"
      (i.toLong, s"$boiler $content")
    }.toDF("doc_id", "text")
    def pairJ(dfp: org.apache.spark.sql.DataFrame): Double =
      dfp.filter(col("id_a") === 0 && col("id_b") === 1)
        .collect().headOption.map(_.getDouble(2)).getOrElse(0.0)
    val unweighted = pairJ(
      Dedup.minhashPairs(synth, "doc_id", "text", threshold = 0.0))
    val weighted = pairJ(
      Dedup.weightedMinhashPairs(synth, "doc_id", "text", threshold = 0.0))
    info(f"boilerplate-only pair: unweighted=$unweighted%.3f weighted=$weighted%.3f")
    assert(unweighted > 0.3, "sanity: the pair does share substantial boilerplate")
    assert(weighted < unweighted * 0.75,
      "idf weighting must discount the shared high-df boilerplate shingles")
  }

  test("connected components resolves a chain to one cluster in log rounds") {
    import spark.implicits._
    // path graph 0-1-2-...-9 plus a separate pair (100,101): naive label
    // propagation needs diameter(=9) rounds; star contraction must still
    // land every node on the component min
    val pairs = ((0L until 9L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 9L).foreach(i => assert(cc(i) == 0L, s"node $i rep=${cc(i)}"))
    assert(cc(100L) == 100L && cc(101L) == 100L)
    assert(cc.size == 12)
  }

  test("connected components matches union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { trial =>
      val nNodes = 2 + rnd.nextInt(24)
      val nEdges = rnd.nextInt(40)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      // reference: union-find keeping the smaller root, so the final root of
      // every node IS its component minimum
      val parent = Array.tabulate(nNodes)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (${edges.length} edges): $edges")
    }
  }

  test("connected components keeps self-pair nodes as singleton components") {
    import spark.implicits._
    val pairs = Seq((5L, 5L), (1L, 2L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("near-dup clusters group transitive chains the greedy drop cannot") {
    import spark.implicits._
    // sliding windows over 40 unique tokens: doc 2 = all 40, doc 1 = first
    // 30, doc 3 = last 30. Trigram Jaccard: j(1,2)=j(2,3)=28/38≈0.74 (≥0.5,
    // verified pairs), j(1,3)=18/38≈0.47 (<0.5, NOT a pair) — a genuine
    // transitive chain. CC must still produce ONE cluster {1,2,3} with
    // rep=1; cleanCorpus's pairwise drop has no way to see that 1 and 3
    // belong together.
    val toks = (0 until 40).map(i => s"tok$i")
    val docs = Seq(
      (1L, toks.take(30).mkString(" ")),
      (2L, toks.mkString(" ")),
      (3L, toks.drop(10).mkString(" "))
    ).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(clusters.keySet == Set(1L, 2L, 3L), s"got ${clusters.keySet}")
    assert(clusters.values.forall(_ == (1L, 3L)), s"got $clusters")
  }

  test("CC clean keeps one rep per cluster where greedy keeps hub satellites") {
    import spark.implicits._
    // doc 3 = all 40 tokens, docs 1/2 = first/last 30: j(1,3)=j(2,3)≈0.74
    // but j(1,2)≈0.47 < 0.5. Greedy drops only id_b(=3) of each pair and
    // keeps BOTH satellites {1,2}; CC sees one component {1,2,3} and keeps
    // only rep 1 — the "one doc per duplicate cluster" policy.
    val toks = (0 until 40).map(i => s"tok$i")
    val docs = Seq(
      (1L, toks.take(30).mkString(" ")),
      (2L, toks.drop(10).mkString(" ")),
      (3L, toks.mkString(" "))
    ).toDF("doc_id", "text")
    val greedy = Dedup.cleanCorpus(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val cc = Dedup.cleanCorpusCC(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(greedy == Set(1L, 2L))
    assert(cc == Set(1L))
  }

  test("contamination flags training docs sharing grams with a benchmark set") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog near the river bank"
    val train = Seq(
      (1L, s"training sample one $shared and then some extra prose"),
      (2L, "completely unrelated training text about spark physical plans"),
      (3L, shared)  // verbatim benchmark leak
    ).toDF("doc_id", "text")
    val bench = Seq((100L, shared)).toDF("doc_id", "text")
    val hits = Dedup.contamination(train, bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(hits.contains((3L, 100L)), "verbatim leak must be flagged")
    assert(hits.contains((1L, 100L)), "embedded leak must be flagged")
    assert(!hits.exists(_._1._1 == 2L), "unrelated doc must not be flagged")
    // the verbatim copy shares every benchmark gram (13 tokens → 11 trigrams)
    assert(hits((3L, 100L)) == 11L)
  }

  test("contamination hot-gram cap drops boilerplate grams before the join") {
    import spark.implicits._
    val boiler = "standard legal footer text all rights reserved worldwide"
    val train = (0 until 50).map(i => (i.toLong, s"doc number $i body $boiler"))
      .toDF("doc_id", "text")
    val bench = Seq((999L, s"benchmark question $boiler")).toDF("doc_id", "text")
    // maxDf=10: the boilerplate grams appear in 50 training docs → dropped,
    // so no (train, bench) pair reaches minShared
    val capped = Dedup.contamination(train, bench, "doc_id", "text", maxDf = 10)
    assert(capped.count() == 0, "hot grams past the cap must not create pairs")
    // with the cap lifted the same pairs DO surface — proving the guard, not
    // the tokenization, removed them
    val uncapped = Dedup.contamination(train, bench, "doc_id", "text", maxDf = 1000000)
    assert(uncapped.count() == 50L)
  }

  test("line dedup drops cross-doc boilerplate, keeps within-doc repeats in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha body\ncookie banner\nalpha body\nclosing one"),
      (2L, "beta body\ncookie banner\nclosing two"),
      (3L, "cookie banner") // all-boilerplate doc vanishes
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 'cookie banner' df=3 → dropped; doc 1's repeated 'alpha body' is one
    // doc (df=1) → both occurrences survive, original order kept
    assert(out == Map(
      1L -> "alpha body\nalpha body\nclosing one",
      2L -> "beta body\nclosing two"))
  }

  test("paragraph dedup keeps only the globally first occurrence of a paragraph") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha\n\nshared one\n\nbeta"),
      (2L, "shared one\n\ngamma\n\nshared two"),
      (3L, "shared two\n\nshared one\n\ndelta")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("alpha\n\nshared one\n\nbeta", 3L)),
      "doc 1 holds the first occurrence of everything it contains")
    assert(out(2L) == (("gamma\n\nshared two", 2L)),
      "'shared one' first occurred in doc 1 → dropped here, order preserved")
    assert(out(3L) == (("delta", 1L)),
      "both shared paragraphs first occurred earlier → only the unique one left")
  }

  test("paragraph dedup: within-doc repeat keeps first; all-repeated doc drops out") {
    import spark.implicits._
    val df = Seq(
      (1L, "x\n\nx\n\ny"),
      (2L, "x\n\ny") // every paragraph first seen in doc 1 → no survivors
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "x\n\ny"))
  }

  test("substring dedup excises repeated runs >= l at non-first occurrences") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d e z") // shares the 5-token run 'a b c d e'
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", l = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("a b c d e f", 0)), "first occurrence untouched")
    assert(out(2L) == (("x y z", 5)),
      "overlapping dup windows at pos 2,3,4 cover exactly tokens 2..6")
  }

  test("substring dedup: runs shorter than l and docs shorter than l survive") {
    import spark.implicits._
    val df = Seq(
      (1L, "p q r s"),
      (2L, "p q z w"), // shared run 'p q' has length 2 < l=3 → no window matches
      (3L, "k m")      // fewer than l tokens → no windows at all
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", l = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(2L) == (("p q z w", 0)))
    assert(out(3L) == (("k m", 0)))
  }

  test("substring dedup: exact copy collapses to empty but stays in the output") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", l = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("a b c d", 0)))
    assert(out(2L) == (("", 4)), "full duplicate → every token excised, row kept")
  }

  test("substring dedup: a within-doc repeated run is excised at its second occurrence") {
    import spark.implicits._
    val df = Seq((1L, "a b c z a b c")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(df, "doc_id", "text", l = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("a b c z", 3)))
  }

  test("exact dedup counts planted exact copies") {
    val byCopies = Dedup.exact(corpus, "doc_id", "text")
      .groupBy("n_copies").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byCopies.get(2L).contains(exactIds.size.toLong))
  }

  test("packedOrderKey: in-bound packs exactly, each violated bound fails loudly") {
    import spark.implicits._
    // in-bound: exact pack, including both boundary-adjacent corners
    val ok = Seq((5L, 7), ((1L << 39) - 1, (1 << 24) - 1)).toDF("d", "p")
      .select(Dedup.packedOrderKey(col("d"), col("p")).as("k"))
      .collect().map(_.getLong(0))
    assert(ok(0) == (5L << 24) + 7)
    assert(ok(1) == (((1L << 39) - 1) << 24) + ((1 << 24) - 1))
    // just-over-bound, one violation at a time
    for ((d, p) <- Seq((1L << 39, 0), (5L, 1 << 24), (-1L, 0), (5L, -1))) {
      val e = intercept[Exception] {
        Seq((d, p)).toDF("d", "p")
          .select(Dedup.packedOrderKey(col("d"), col("p")).as("k")).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("order key out of bounds")),
        s"($d,$p) failed without the loud guard message: $e")
    }
  }

  test("paragraphDedup fails loudly on a doc_id past the pack bound") {
    import spark.implicits._
    val df = Seq((1L << 39, "alpha\n\nbeta")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.paragraphDedup(df, "doc_id", "text").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("order key out of bounds")))
  }
}
