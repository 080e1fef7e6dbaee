package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.streaming.AnnServe

/** Continuous ANN serving: streamed query batches probed against the disk
  * IVF index must equal the batch probe exactly (stateless ⇒ parity is per
  * batch, not just aggregate), and the planted twins must surface at
  * rank 1 through the streaming path too.
  */
class AnnServeSpec extends AnyFunSuite with SparkTestBase {

  test("streamed probes equal the batch probe per micro-batch; twins at rank 1") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    // plant exact twins so correctness is checkable through ANN recall
    val twins = emb.filter(col("vec_id") < 6)
      .withColumn("vec_id", col("vec_id") + 100000L)
    val corpus = emb.unionByName(twins)
    val centroids = Similarity.ivfCentroids(corpus, nCells = 16, refineIters = 1)
    val frozen = spark.createDataFrame(
      java.util.Arrays.asList(centroids.collect(): _*), centroids.schema)
    withTempDir("graft_annserve") { tmp =>
      val dir = tmp + "/idx"
      Similarity.writeIndex(corpus, frozen, dir)

      // two micro-batches of queries: the twin copies, 3 per batch
      val qSchema = twins.select(col("vec_id").as("qid"), col("embedding").as("qv")).schema
      implicit val enc = org.apache.spark.sql.Encoders.row(qSchema)
      val stream = MemoryStream[org.apache.spark.sql.Row](enc, spark)
      val all = twins.select(col("vec_id").as("qid"), col("embedding").as("qv")).collect()

      val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Int)]]
      val q = AnnServe.serve(spark, stream.toDF(), dir, frozen, k = 5, nProbe = 4,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
        (res: DataFrame, id: Long) =>
          got.synchronized {
            got(id) = res.select(col("qid").cast("long"), col("neighbor").cast("long"),
              col("rank").cast("int"))
              .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
          }
      }.start()
      try {
        stream.addData(all.take(3).toSeq)
        q.processAllAvailable()
        stream.addData(all.drop(3).toSeq)
        q.processAllAvailable()
      } finally q.stop()

      assert(got.keySet == Set(0L, 1L), s"expected two committed batches, got ${got.keySet}")
      // per-batch parity with the cold batch probe over the same query subset
      for ((bid, qids) <- Seq(0L -> all.take(3), 1L -> all.drop(3))) {
        val batchQ = spark.createDataFrame(java.util.Arrays.asList(qids: _*), qSchema)
        val expect = Similarity.probeIndex(spark, dir, batchQ, frozen, k = 5, nProbe = 4)
          .select(col("qid").cast("long"), col("neighbor").cast("long"),
            col("rank").cast("int"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(got(bid) == expect, s"batch $bid diverged from the batch probe")
      }
      // every twin query finds its original at rank 1 through the stream
      val rank1 = got.values.flatten.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
      for (q0 <- all.map(_.getLong(0)))
        assert(rank1.get(q0).contains(q0 - 100000L), s"twin $q0 lost its original")
    }
  }
}
