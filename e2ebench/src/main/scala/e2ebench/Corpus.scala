package e2ebench

import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** A generated corpus and the document ids a correct clean must remove.
  *
  * @param removals planted removals: every exact copy but the lowest id of
  *                 its text, and every near-copy cluster member but the
  *                 lowest id of its cluster
  * @param minPairJaccard the smallest word-3-shingle Jaccard between two
  *                 members of one planted cluster
  * @param maxOtherJaccard the largest Jaccard between two of the first 60
  *                 boilerplate documents (pairs must stay below the 0.5
  *                 threshold)
  */
final case class Corpus(docs: Vector[(Long, String)], removals: Set[Long],
                        exactRemovals: Int, nearRemovals: Int, boilerplateDocs: Int,
                        minPairJaccard: Double, maxOtherJaccard: Double)

final case class CorpusShape(uniqueDocs: Int, exactCopies: Int, clusters: Int,
                             boilerplateDocs: Int)

object CorpusGen {

  /** Word 3-shingles of whitespace-separated lowercase tokens, the same
    * definition the near-duplicate threshold is stated in.
    */
  def shingles(tokens: IndexedSeq[String]): Set[String] =
    tokens.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def generate(seed: Long, shape: CorpusShape): Corpus = {
    val r = new SplittableRandom(seed ^ 0xc0c0a5L)
    val syll = Vector("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "po", "da", "fe",
      "gu", "hi", "ja", "ko", "be", "ci", "do", "ex")
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < 8000)
        seen += Vector.fill(2 + r.nextInt(3))(syll(r.nextInt(syll.size))).mkString
      seen.toVector
    }
    def words(n: Int) = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    val boilerplate = words(50)

    // unique documents; the first `boilerplateDocs` carry the shared run
    val unique = Vector.tabulate(shape.uniqueDocs) { i =>
      val own = words(50 + r.nextInt(61))
      if (i < shape.boilerplateDocs) {
        val at = r.nextInt(own.size + 1)
        own.take(at) ++ boilerplate ++ own.drop(at)
      } else own
    }
    // clusters are built on plain documents, after the boilerplate ones
    val clusterBases = shape.boilerplateDocs until shape.boilerplateDocs + shape.clusters
    var minPair = 1.0
    val variants = clusterBases.map { b =>
      val base = unique(b)
      val n = 1 + r.nextInt(3)
      var vs: Vector[Vector[String]] = Vector.empty
      while (vs.size < n) {
        val v = (0 until 1 + r.nextInt(3)).foldLeft(base)((t, _) =>
          t.updated(r.nextInt(t.size), vocab(r.nextInt(vocab.size))))
        val members = (base +: vs).map(m => shingles(m))
        val js = members.map(jaccard(_, shingles(v)))
        // an edit can restore a word, so a variant may repeat a member's
        // text exactly; that would be an exact copy, not a near copy
        if (js.min >= 0.8 && js.max < 1.0) { vs :+= v; minPair = math.min(minPair, js.min) }
      }
      b -> vs
    }
    // exact copies of plain documents outside the clusters
    val plain = (shape.boilerplateDocs + shape.clusters until shape.uniqueDocs).toVector
    val copies = Vector.fill(shape.exactCopies)(plain(r.nextInt(plain.size)))

    // texts, tagged with their group: (text, exact-group, near-group)
    val texts: Vector[(Vector[String], Int, Int)] =
      unique.indices.map(i => (unique(i), i, i)).toVector ++
        variants.flatMap { case (b, vs) => vs.map(v => (v, -1, b)) } ++
        copies.map(i => (unique(i), i, i))
    // ids are a random permutation, so a copy or variant can hold the
    // lowest id of its group
    val ids = {
      val a = Array.tabulate(texts.size)(i => 1L + i)
      var i = a.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    val docs = texts.indices.map(i => ids(i) -> texts(i)._1.mkString(" ")).toVector

    // exact copies: all but the lowest id of each identical text
    val exactGroups = texts.indices.filter(i => texts(i)._2 >= 0).groupBy(i => texts(i)._2)
    val exactRemoved = exactGroups.values.flatMap(g => g.map(ids).sorted.tail).toSet
    // near copies: among the exact keepers, all but the lowest id per cluster
    val clusterSet = clusterBases.toSet
    val nearRemoved = texts.indices
      .filter(i => clusterSet(texts(i)._3) && !exactRemoved(ids(i)))
      .groupBy(i => texts(i)._3).values.flatMap(g => g.map(ids).sorted.tail).toSet

    val bp = (0 until math.min(shape.boilerplateDocs, 60)).map(i => shingles(unique(i)))
    val maxOther = (for (i <- bp.indices; j <- i + 1 until bp.size) yield jaccard(bp(i), bp(j)))
      .foldLeft(0.0)(math.max)
    Corpus(docs, exactRemoved ++ nearRemoved, exactRemoved.size, nearRemoved.size,
      shape.boilerplateDocs, minPair, maxOther)
  }

  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 id;
      |  required binary text (STRING);
      |}""".stripMargin)

  def writeParquet(docs: Seq[(Long, String)], path: java.nio.file.Path): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(schema)
    try docs.foreach { case (id, text) => w.write(f.newGroup().append("id", id).append("text", text)) }
    finally w.close()
  }
}
