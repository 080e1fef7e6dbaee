package e2ebench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextHash
import graft.operators.Dedup

/** `corpus_dedup`: repeated `Dedup.cleanCorpus` passes over one generated
  * corpus. Shingling, MinHash, the LSH band join (with one hot bucket from
  * the shared boilerplate run) and exact-Jaccard verification do the work;
  * no streaming layer runs.
  */
object CorpusRun {
  val shape = CorpusShape(uniqueDocs = 1600, exactCopies = 160, clusters = 120,
    boilerplateDocs = 320)

  final case class Pass(unit: String, ms: Double, startMs: Long, endMs: Long, kept: Set[Long])

  def pass(spark: SparkSession, path: String, n: Int): Pass = {
    val unit = s"pass-$n"
    spark.sparkContext.setLocalProperty(OpsListener.UnitKey, unit)
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    val out = Dedup.cleanCorpus(spark.read.parquet(path), "id", "text")
    val kept = out.select("id").collect().map(_.getLong(0)).toSet
    out.unpersist()
    val t1 = System.nanoTime()
    spark.sparkContext.setLocalProperty(OpsListener.UnitKey, null)
    Pass(unit, (t1 - t0) / 1e6, w0, System.currentTimeMillis(), kept)
  }

  def run(env: Env, seed: Long, seconds: Int, trace: Boolean): Result = {
    val res = new Result
    val c = CorpusGen.generate(seed, shape)
    // one file per core, so the scan and shingling stages run in parallel
    val path = env.dir("corpus")
    c.docs.grouped((c.docs.size + Pinned.cores - 1) / Pinned.cores).zipWithIndex.foreach {
      case (part, i) => CorpusGen.writeParquet(part, path.resolve(s"part-$i.parquet"))
    }
    val truthKept = c.docs.map(_._1).toSet -- c.removals
    res.note(f"corpus: ${c.docs.size} docs, ${c.exactRemovals} exact and ${c.nearRemovals} near " +
      f"removals planted (cluster Jaccard >= ${c.minPairJaccard}%.3f), ${c.boilerplateDocs} " +
      f"boilerplate docs (pairwise Jaccard <= ${c.maxOtherJaccard}%.3f)")

    val passes = mutable.ArrayBuffer[Pass]()
    def checked(p: Pass): Pass = {
      passes += p
      res.attempted += 1
      p
    }
    val c0 = System.nanoTime()
    val spark = env.session()
    checked(pass(spark, path.toString, -1))
    res.note(f"cold start (new JVM, session through first pass): ${(System.nanoTime() - c0) / 1e9}%.3f s")
    val ops = Probe.attach(spark, trace)

    // warm-up by the steady-state rule, then passes until `seconds` is filled
    val warm = mutable.ArrayBuffer[Pass]()
    val w0 = System.nanoTime()
    var steady: Option[Int] = None
    while (steady.isEmpty && (System.nanoTime() - w0) / 1e9 < Pinned.maxWarmupS) {
      warm += checked(pass(spark, path.toString, warm.size))
      steady = Stats.steadyAfter(warm.map(_.ms).toSeq)
    }
    val m0 = JvmDelta.mark()
    val window = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    while (window.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      window += checked(pass(spark, path.toString, warm.size + window.size))
    val wallS = (System.nanoTime() - t0) / 1e9
    val jvm = m0.to(JvmDelta.mark())
    val w = Window(window.indices.map(_.toLong).toSet, wallS, warm.size, steady.isDefined, jvm, t0, 0L)
    res.note(w.describe("passes"))

    // post-GC heap samples while one more pass runs
    var heap = 0.0
    val prober = new Thread(() => heap = Jvm.sampledLiveHeapMb(1000), "e2ebench-heap")
    prober.start()
    checked(pass(spark, path.toString, -100))
    prober.join()

    val rows = c.docs.size.toLong * window.size
    res.e2e("rows_per_s") = (rows / wallS, "1/s")
    val lat = window.map(_.ms).toSeq
    res.e2e("latency_p50_ms") = (Stats.median(lat), "ms")
    val (label, tail) = Stats.tail(lat)
    res.e2e("latency_p95_ms") = (tail, "ms")
    res.note(s"latency_p95_ms reports the $label pass latency")
    res.e2e("queries_per_s") = (window.size / wallS, "1/s")
    res.layer("jvm.cpu_s_per_mrow") = (jvm.cpuS / rows * 1e6, "s")
    res.e2e("live_heap_mb") = (heap, "MB")

    if (trace) {
      ops.settle(spark)
      Layers.noStreaming(res)
      Layers.noSink(res)
      Layers.noReads(res)
      Layers.operators(res, ops, spark, window.map(_.unit).toSeq,
        window.map(p => p.unit -> (p.startMs, p.endMs)).toMap, pairs = true)
      Layers.jvm(res, jvm, window.size, heap)
      Layers.ingestKernelsAbsent(res)
      corpusKernels(res, c)
    }
    Setup.measure(res, env)((s, i) => checked(pass(s, path.toString, -1 - i)))

    // every pass, set-up passes included, must keep exactly the truth's documents
    val removedSets = passes.map(p => c.docs.map(_._1).toSet -- p.kept)
    val worst = removedSets.minBy(r => (r intersect c.removals).size)
    val recall = (worst intersect c.removals).size.toDouble / c.removals.size
    res.e2e("recall") = (recall, "ratio")
    val wrong = passes.count(_.kept != truthKept)
    res.check("kept_docs", wrong == 0,
      s"$wrong of ${passes.size} passes differ from the planted truth; worst recall $recall, " +
        s"${(worst -- c.removals).size} unplanted removals")
    res
  }

  /** Kernel timings over this corpus's own documents; intersection over
    * the document pairs that share an LSH band key (the candidates).
    */
  def corpusKernels(res: Result, c: Corpus): Unit = {
    val texts = c.docs.map(d => UTF8String.fromString(d._2)).toArray
    val sh: Array[ArrayData] = texts.map(TextHash.wordShingles(_, 3))
    val sigs: Array[ArrayData] = sh.map(TextHash.minhashSigFromShingles(_, 128))
    val keys = sigs.map(TextHash.lshBandKeys(_, 32))
    val buckets = mutable.HashMap[(Int, Long), mutable.ArrayBuffer[Int]]()
    for (d <- keys.indices; b <- 0 until 32)
      buckets.getOrElseUpdate((b, keys(d).getLong(b)), mutable.ArrayBuffer()) += d
    val pairs = buckets.valuesIterator.filter(_.size > 1)
      .flatMap(ds => for (i <- ds.indices.iterator; j <- (i + 1 until ds.size).iterator) yield (ds(i), ds(j)))
      .take(50000).toArray
    res.layer("functions.word_shingles_ns") =
      (Probe.nsPerCall(texts.length)(i => TextHash.wordShingles(texts(i), 3).numElements().toLong), "ns")
    res.layer("functions.minhash_sig_ns") =
      (Probe.nsPerCall(sh.length)(i => TextHash.minhashSigFromShingles(sh(i), 128).getLong(0)), "ns")
    res.layer("functions.lsh_band_keys_ns") =
      (Probe.nsPerCall(sigs.length)(i => TextHash.lshBandKeys(sigs(i), 32).getLong(0)), "ns")
    res.layer("functions.intersect_ns") = (Probe.nsPerCall(pairs.length) { i =>
      TextHash.intersectCount(sh(pairs(i)._1), sh(pairs(i)._2))
    }, "ns")
    res.note(s"functions.intersect_ns over ${pairs.length} candidate pairs")
  }
}
