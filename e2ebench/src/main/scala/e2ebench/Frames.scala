package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.{ByteBuffer, ByteOrder}
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** One generated log record. `addr` carries both the raw and the expected
  * anonymized address.
  */
final case class LogRec(offset: Long, tsMilli: Long, resourceId: Long, bytesSent: Long,
                        requestTimeMilli: Long, status: Int, cache: String,
                        method: String, addr: Addr, url: String)

/** A Kafka-shaped frame: `rec` is null for a planted malformed frame. */
final case class Frame(offset: Long, value: Array[Byte], rec: LogRec, redelivery: Boolean)

/** Shape of one ingest workload's frame files. Every file has the same
  * number of frames, malformed frames and redeliveries, so the planted
  * counts depend only on how many files a run consumed.
  *
  * @param stepMs event time advances this much per offset, so the
  *               pipeline's 2-hour watermark evicts dedup state and the
  *               state levels off at about 7.2e6 / stepMs rows
  */
final case class IngestShape(framesPerFile: Int, deadPerFile: Int, redeliveriesPerFile: Int,
                             stepMs: Long) {
  val freshPerFile: Int = framesPerFile - redeliveriesPerFile
}

/** Seeded frame generator. File `k` is a pure function of (seed, shape, k). */
final class FrameGen(seed: Long, shape: IngestShape) {
  import FrameGen._

  private val addrs = new AddrPool(seed)
  private val zipf = new Zipf(resources, 1.1)

  private def rng(k: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + k * 0xbf58476d1ce4e5b9L + 1)

  /** The fresh (non-redelivered) frames of file `k`, in offset order. */
  private def fresh(k: Int): Vector[Frame] = {
    val r = rng(k)
    val base = k.toLong * shape.freshPerFile
    val dead = pick(r, shape.freshPerFile, shape.deadPerFile)
    Vector.tabulate(shape.freshPerFile) { i =>
      val offset = base + i
      val rec = LogRec(
        offset = offset,
        tsMilli = T0 + offset * shape.stepMs + r.nextInt(2000),
        resourceId = 1000L + 7L * zipf.sample(r),
        bytesSent = 200L + r.nextInt(50000),
        requestTimeMilli = 1L + r.nextInt(2000),
        status = statuses(weighted(r, statusWeights)),
        cache = caches(weighted(r, cacheWeights)),
        method = methods(r.nextInt(methods.length)),
        addr = addrs.draw(r),
        url = s"/r/${r.nextInt(100000)}/item-${r.nextLong() & 0xffffffL}")
      if (dead(i)) Frame(offset, malformed(r, encode(rec)), null, redelivery = false)
      else Frame(offset, encode(rec), rec, redelivery = false)
    }
  }

  /** All frames of file `k`: its fresh frames, plus redeliveries of good
    * frames from file `k - 1` (or from earlier in file 0) at random
    * positions.
    */
  def file(k: Int): Vector[Frame] = {
    val mine = fresh(k)
    val r = rng(k).split()
    val pool = (if (k == 0) mine else fresh(k - 1)).filter(_.rec != null)
    val again = Vector.fill(shape.redeliveriesPerFile)(pool(r.nextInt(pool.size)))
      .map(_.copy(redelivery = true))
    val out = mine.toBuffer
    again.foreach { f =>
      // a redelivery of a same-file frame lands after the original
      val lo = if (k == 0) out.indexWhere(_.offset == f.offset) + 1 else 0
      out.insert(lo + r.nextInt(out.size - lo + 1), f)
    }
    out.toVector
  }

  /** Write file `k` as a parquet file of Kafka-shaped rows. */
  def writeFile(k: Int, path: java.nio.file.Path): Unit = FrameGen.writeParquet(file(k), path)
}

object FrameGen {
  /** 2026-01-01T00:00:00Z: fixed, so every seed covers the same hours. */
  val T0: Long = 1767225600000L
  val resources = 200
  val statuses: Array[Int] = Array(200, 304, 302, 404, 500, 503)
  val statusWeights: Array[Int] = Array(70, 10, 3, 8, 5, 4)
  val caches: Array[String] = Array("HIT", "MISS", "EXPIRED")
  val cacheWeights: Array[Int] = Array(60, 35, 5)
  val methods: Array[String] = Array("GET", "GET", "GET", "POST", "HEAD")

  private def weighted(r: SplittableRandom, w: Array[Int]): Int = {
    var u = r.nextInt(w.sum); var i = 0
    while (u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  /** Exactly `m` of `n` positions, chosen at random. */
  private def pick(r: SplittableRandom, n: Int, m: Int): Array[Boolean] = {
    val out = new Array[Boolean](n); var left = m
    while (left > 0) { val i = r.nextInt(n); if (!out(i)) { out(i) = true; left -= 1 } }
    out
  }

  /** A framed single-segment Cap'n Proto message of the `HttpLogRecord`
    * struct (5 data words, 4 text pointers), written from the wire format
    * specification.
    */
  def encode(rec: LogRec): Array[Byte] = {
    val texts = Seq(rec.cache, rec.method, rec.addr.raw, rec.url).map(_.getBytes(UTF_8))
    val textWords = texts.map(t => (t.length + 8) / 8) // bytes + NUL, rounded up
    val segWords = 1 + 5 + 4 + textWords.sum
    val b = ByteBuffer.allocate(8 + segWords * 8).order(ByteOrder.LITTLE_ENDIAN)
    b.putInt(0).putInt(segWords)
    b.putLong((5L << 32) | (4L << 48)) // root: struct pointer, offset 0
    b.putLong(rec.tsMilli).putLong(rec.resourceId).putLong(rec.bytesSent)
      .putLong(rec.requestTimeMilli).putLong(rec.status.toLong)
    var ahead = 0 // text words between the pointer section's end and this text
    for (i <- 0 until 4) {
      val off = (3 - i) + ahead
      b.putLong(1L | (off.toLong << 2) | (2L << 32) | ((texts(i).length + 1).toLong << 35))
      ahead += textWords(i)
    }
    for (i <- 0 until 4) {
      b.put(texts(i))
      b.put(new Array[Byte](textWords(i) * 8 - texts(i).length))
    }
    b.array()
  }

  /** A frame no conforming decoder accepts: too short to hold a header, a
    * segment that declares more words than follow, or a root pointer that
    * is not a struct pointer.
    */
  def malformed(r: SplittableRandom, good: Array[Byte]): Array[Byte] = r.nextInt(3) match {
    case 0 => Array.fill(4 + 4 * r.nextInt(3))(r.nextInt(256).toByte)
    case 1 =>
      val b = good.clone()
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putInt(4, (b.length - 8) / 8 + 8)
      b
    case _ =>
      val b = good.clone()
      b(8) = ((b(8) & 0xfc) | 1).toByte // pointer kind 1 (list)
      b
  }

  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary key;
      |  optional binary value;
      |  optional binary topic (STRING);
      |  optional int32 partition;
      |  optional int64 offset;
      |  optional int64 timestamp (TIMESTAMP(MICROS,true));
      |  optional int32 timestampType;
      |}""".stripMargin)

  def writeParquet(frames: Seq[Frame], path: java.nio.file.Path): Unit = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val f = new SimpleGroupFactory(schema)
    try frames.foreach { fr =>
      val g = f.newGroup()
      g.add("value", org.apache.parquet.io.api.Binary.fromConstantByteArray(fr.value))
      g.add("topic", "http_log")
      g.add("partition", (fr.offset % 8).toInt)
      g.add("offset", fr.offset)
      g.add("timestamp", (T0 + fr.offset * 10) * 1000)
      g.add("timestampType", 0)
      w.write(g)
    } finally w.close()
  }
}

/** Zipf(s) over ranks 1..n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def sample(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    (if (i >= 0) i else -i - 1).min(n - 1) + 1
  }
}
