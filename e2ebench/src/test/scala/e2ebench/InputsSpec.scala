package e2ebench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HttpLogCodec, IpAnon}

class InputsSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("e2ebench-spec")

  private val shape = IngestShape(framesPerFile = 500, deadPerFile = 5, redeliveriesPerFile = 7,
    stepMs = 48)

  test("the same seed gives byte-identical frame files; another seed does not") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    for (k <- 0 until 3) {
      new FrameGen(7, shape).writeFile(k, a.resolve(s"f$k"))
      new FrameGen(7, shape).writeFile(k, b.resolve(s"f$k"))
      new FrameGen(8, shape).writeFile(k, c.resolve(s"f$k"))
      val bytes = (d: Path) => Files.readAllBytes(d.resolve(s"f$k"))
      assert(bytes(a).sameElements(bytes(b)), s"file $k differs under one seed")
      assert(!bytes(a).sameElements(bytes(c)), s"file $k is the same under two seeds")
    }
  }

  test("the same seed gives a byte-identical corpus; another seed does not") {
    val shape = CorpusShape(uniqueDocs = 300, exactCopies = 20, clusters = 20, boilerplateDocs = 60)
    val (a, b, c) = (tmp(), tmp(), tmp())
    CorpusGen.writeParquet(CorpusGen.generate(3, shape).docs, a.resolve("c"))
    CorpusGen.writeParquet(CorpusGen.generate(3, shape).docs, b.resolve("c"))
    CorpusGen.writeParquet(CorpusGen.generate(4, shape).docs, c.resolve("c"))
    val bytes = (d: Path) => Files.readAllBytes(d.resolve("c"))
    assert(bytes(a).sameElements(bytes(b)))
    assert(!bytes(a).sameElements(bytes(c)))
  }

  test("every file plants exactly its malformed frames and redeliveries") {
    val gen = new FrameGen(11, shape)
    val files = (0 until 4).map(gen.file)
    files.foreach { f =>
      assert(f.size == shape.framesPerFile)
      assert(f.count(_.rec == null) == shape.deadPerFile)
      assert(f.count(_.redelivery) == shape.redeliveriesPerFile)
    }
    val truth = Truth.ingest(files.iterator.flatten)
    assert(truth.dead == 4 * shape.deadPerFile)
    assert(truth.redelivered == 4 * shape.redeliveriesPerFile)
  }

  test("generated frames decode to their records; planted malformed frames do not") {
    new FrameGen(5, shape).file(0).foreach { f =>
      val row = HttpLogCodec.decode(f.value)
      if (f.rec == null) assert(row == null)
      else {
        assert(row.getLong(0) == f.rec.tsMilli && row.getLong(1) == f.rec.resourceId)
        assert(row.getLong(2) == f.rec.bytesSent && row.getInt(4) == f.rec.status)
        assert(row.getUTF8String(7).toString == f.rec.addr.raw)
        assert(row.getUTF8String(8).toString == f.rec.url)
      }
    }
  }

  // (groups or octets as generated, spelling, raw text, anonymized)
  private val table: Seq[(Addr, String, String)] = Seq(
    (Addr.v4(192, 168, 1, 77), "192.168.1.77", "192.168.1.x"),
    (Addr.v4(8, 0, 0, 0), "8.0.0.0", "8.0.0.x"),
    (Addr.v6(Array(0x2001, 0xdb8, 0x85a3, 0, 0, 0x8a2e, 0x370, 0x7334), 1),
      "2001:0DB8:85A3:0000:0000:8A2E:0370:7334", "2001:db8:85a3::8a2e:370:7334:xxxx"),
    (Addr.v6(Array(0x2001, 0xdb8, 0, 1, 0, 0, 0, 1), 0),
      "2001:db8:0:1::1", "2001:db8:0:1::1:xxxx"),
    // two zero runs of equal length: the first is compressed
    (Addr.v6(Array(0x2001, 0, 0, 1, 2, 0, 0, 3), 2), "2001::1:2:0:0:3", "2001::1:2:0:0:3:xxxx"),
    // a single zero group is never compressed
    (Addr.v6(Array(1, 0, 2, 3, 4, 5, 6, 7), 0), "1:0:2:3:4:5:6:7", "1:0:2:3:4:5:6:7:xxxx"),
    (Addr.v6(Array(0, 0, 0, 0, 0, 0, 0, 1), 0), "::1", "::1:xxxx"),
    (Addr.v6(Array(0, 0, 0, 0, 0, 0, 0, 0), 0), "::", ":::xxxx"),
    (Addr.v6(Array(0xfe80, 0, 0, 0, 0, 0, 0, 0), 2), "FE80::", "fe80:::xxxx"),
    (Addr.v6(Array(0x64, 0xff9b, 0, 0, 0, 0, 0xc000, 0x221), 3),
      "64:ff9b:0:0:0:0:192.0.2.33", "64:ff9b::c000:221:xxxx"),
    (Addr("01.2.3.4", "01.2.3.4"), "01.2.3.4", "01.2.3.4"),
    (Addr("fe80::1%eth0", "fe80::1%eth0"), "fe80::1%eth0", "fe80::1%eth0"),
    (Addr("1::2::3", "1::2::3"), "1::2::3", "1::2::3"))

  test("anonymized addresses: the truth table") {
    table.foreach { case (a, raw, anon) =>
      assert(a.raw == raw)
      assert(a.anonymized == anon, s"truth for $raw")
    }
  }

  test("the program's anonymize_ip agrees with the truth on the table and the pools") {
    table.foreach { case (a, _, anon) =>
      assert(IpAnon.anonymize(UTF8String.fromString(a.raw)).toString == anon, a.raw)
    }
    val pool = new AddrPool(1)
    val r = new SplittableRandom(2)
    (0 until 5000).map(_ => pool.draw(r)).foreach { a =>
      assert(IpAnon.anonymize(UTF8String.fromString(a.raw)).toString == a.anonymized, a.raw)
    }
  }

  test("planted near copies meet the threshold; boilerplate documents stay below it") {
    val c = CorpusGen.generate(9, CorpusShape(uniqueDocs = 400, exactCopies = 30, clusters = 30,
      boilerplateDocs = 80))
    assert(c.minPairJaccard >= 0.8)
    assert(c.maxOtherJaccard < 0.5)
    assert(c.removals.size == c.exactRemovals + c.nearRemovals)
    assert(c.exactRemovals == 30)
  }
}
