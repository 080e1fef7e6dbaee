package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic properties of the round-8 continuation additions (SURVEY.md §2:
  * b43, d13, e29; g08 is covered in StreamingSpec). The DuckDB hash-compare
  * is the exactness gate; these assert the invariants a hash can't explain
  * when it breaks.
  */
class QueriesRound8bSpec extends AnyFunSuite with SparkTestBase {

  private def q(name: String) =
    Queries.all.find(_.name == name).get.fn(spark, sfDir)

  test("d13_sparse_cosine: valid ranks, bounded scores, exact-duplicate texts at 1.0") {
    val rows = q("d13_sparse_cosine").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val c = r.getAs[Double]("cosine"); c > 0.0 && c <= 1.0
    })
    // ranks are 1..3, dense from 1, no self-neighbors
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (id, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.length), s"doc $id ranks $ranks")
      assert(rs.forall(_.getAs[Long]("neighbor_id") != id))
    }
    // cosine is symmetric: where both orientations of a pair survive their
    // respective top-3 cuts, the scores must be identical doubles
    val scores = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("neighbor_id")) ->
      r.getAs[Double]("cosine")).toMap
    val both = scores.keys.filter { case (a, b) => scores.contains((b, a)) }
    assert(both.nonEmpty, "expected some mutually-top-3 pairs")
    both.foreach { case (a, b) =>
      assert(scores((a, b)) == scores((b, a)), s"asymmetric score for ($a,$b)")
    }
    // a doc made entirely of one repeated gram scores 1.0 against itself —
    // sanity-pin the formula on a planted mini-corpus through the same fn
    import spark.implicits._
    val planted = Seq(
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "alpha beta gamma delta", "en", "s", 22L),
      (3L, "zeta eta theta iota", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    withTempDir("d13") { dir =>
      planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = Queries.all.find(_.name == "d13_sparse_cosine").get.fn(spark, dir).collect()
      val top1 = out.filter(r => r.getAs[Long]("doc_id") == 1L && r.getAs[Int]("rank") == 1).head
      assert(top1.getAs[Long]("neighbor_id") == 2L)
      assert(top1.getAs[Double]("cosine") == 1.0)
      // disjoint-gram doc 3 shares nothing → absent from the pair graph
      assert(!out.exists(r => r.getAs[Long]("doc_id") == 3L))
    }
  }

  test("d14_maxsim: self-retrieval at rank 1 with the exact ceiling score") {
    val rows = q("d14_maxsim").collect()
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet == Set(3L, 17L, 29L))
    byQ.foreach { case (qid, rs) =>
      val top = rs.find(_.getAs[Int]("rank") == 1).get
      // a query doc's own tokens each score exactly 1e6 against themselves,
      // so MaxSim(self) = 8 tokens × 1e6 — an analytic ceiling no other doc
      // can exceed (per-pair scores are ≤ 1e6 by Cauchy-Schwarz)
      assert(top.getAs[Long]("doc_id") == qid, s"query $qid: self not at rank 1")
      assert(top.getAs[Long]("maxsim") == 8L * 1000000L)
      rs.foreach(r => assert(r.getAs[Long]("maxsim") <= 8L * 1000000L))
    }
  }

  test("d14_maxsim plan: no shuffle ever carries a vector payload (SURVEY §4 claim)") {
    // the "corpus never shuffles" discipline, enforced: query vectors move
    // by broadcast, and every ShuffleExchange in the plan carries only
    // scalar (aggregated-score) columns — an array-typed attribute crossing
    // a shuffle would mean corpus embeddings on the wire
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import graft.plans.PlanAudit.physicalNodes
    val df = Queries.all.find(_.name == "d14_maxsim").get.fn(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    val shuffles = physicalNodes(df.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty, "expected the keyed score aggregation to shuffle")
    shuffles.foreach { s =>
      val arrays = s.output.filter(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"shuffle carries vector payload ${arrays.map(_.name).mkString(",")}:\n$s")
    }
  }

  test("b43_pagerank: mass conserved within floor loss, suppliers outrank customers") {
    val rows = q("b43_pagerank").collect()
    val scale = 1000000000000L
    val total = rows.map(_.getAs[Long]("rank_e12")).sum
    // floor division leaks at most a few units per node per iteration
    assert(total <= scale && total > (scale * 9) / 10, s"mass $total")
    assert(rows.forall(_.getAs[Long]("rank_e12") > 0))
    val (supp, cust) = rows.partition(_.getAs[String]("kind") == "supplier")
    assert(supp.nonEmpty && cust.nonEmpty)
    // ~100 suppliers absorb the traffic of ~1500 customers: average supplier
    // rank must dominate
    val avgS = supp.map(_.getAs[Long]("rank_e12")).sum / supp.length
    val avgC = cust.map(_.getAs[Long]("rank_e12")).sum / cust.length
    assert(avgS > avgC * 2, s"supplier avg $avgS vs customer avg $avgC")
  }

  test("f11/f12: dead-letters never pair, collapse leaves only distinct-hash pairs") {
    Seq("f11_image_dhash", "f12_audio_fingerprint").foreach { name =>
      val rows = q(name).collect()
      assert(rows.nonEmpty, name)
      rows.foreach { r =>
        // truncated payloads (%20==15, +300000) must never reach the pair set
        assert(r.getAs[Long]("id_a") < 300000 && r.getAs[Long]("id_b") < 300000,
          s"$name: dead-letter row paired")
        // post-collapse pairs are between DISTINCT hashes → hamming ≥ 1
        val h = r.getAs[Int]("hamming")
        assert(h >= 1 && h <= 2, s"$name: hamming $h out of range")
        assert(r.getAs[Long]("copies_a") >= 1 && r.getAs[Long]("copies_b") >= 1)
      }
      // the planted exact twins collapse INTO groups: some group carries ≥2
      assert(rows.exists(r => r.getAs[Long]("copies_a") >= 2 || r.getAs[Long]("copies_b") >= 2),
        s"$name: no collapsed exact-dup group visible")
    }
  }

  test("e29_hash_split: partitions the corpus, shares sum to 1 per source") {
    val rows = q("e29_hash_split").collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sfDir).count())
    assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val share = rs.map(_.getAs[Double]("doc_share")).sum
      assert(math.abs(share - 1.0) < 0.001, s"$src shares $share")
      // train is 12/16 of hash space: must be the majority split everywhere
      val train = rs.filter(_.getAs[String]("split") == "train").map(_.getAs[Long]("n_docs")).sum
      assert(train * 2 > rs.map(_.getAs[Long]("n_docs")).sum, s"$src train minority")
    }
    // stability: assignment is a pure function of doc_id — rerun is identical
    val again = q("e29_hash_split").collect().map(_.toSeq).toSet
    assert(again == rows.map(_.toSeq).toSet)
  }
}
