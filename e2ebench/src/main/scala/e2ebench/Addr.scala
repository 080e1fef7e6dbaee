package e2ebench

import java.util.SplittableRandom

/** A generated remote address: the raw text written into the frame and the
  * anonymized form the totals must carry. The truth is derived from how the
  * address was built (its octets or its eight groups), never by parsing the
  * raw text, so it does not share a parser with the program under test.
  */
final case class Addr(raw: String, anonymized: String)

object Addr {

  /** IPv4 `a.b.c.d` keeps its /24 and masks the host: `a.b.c.x`. */
  def v4(a: Int, b: Int, c: Int, d: Int): Addr =
    Addr(s"$a.$b.$c.$d", s"$a.$b.$c.x")

  /** RFC 5952 text of eight 16-bit groups: lowercase hex without leading
    * zeros, and the first longest run of two or more zero groups written
    * as `::`. (v4-mapped addresses have a dotted special form; the
    * generator never produces them.)
    */
  def canonical(g: Array[Int]): String = {
    require(g.length == 8)
    var bestAt = -1; var bestLen = 0; var i = 0
    while (i < 8) {
      var j = i
      while (j < 8 && g(j) == 0) j += 1
      if (j - i > bestLen) { bestLen = j - i; bestAt = i }
      i = math.max(j, i + 1)
    }
    def hex(xs: Seq[Int]) = xs.map(Integer.toHexString).mkString(":")
    if (bestLen < 2) hex(g.toSeq)
    else hex(g.slice(0, bestAt).toSeq) + "::" + hex(g.slice(bestAt + bestLen, 8).toSeq)
  }

  /** Raw spellings of one IPv6 address, all naming the same eight groups. */
  val v6Styles = 4

  def v6(g: Array[Int], style: Int): Addr = {
    val raw = style match {
      case 0 => canonical(g)
      case 1 => g.map(x => f"$x%04X").mkString(":")            // full, upper, zero-padded
      case 2 => canonical(g).toUpperCase
      case _ =>                                                  // embedded IPv4 tail
        g.take(6).map(Integer.toHexString).mkString(":") +
          s":${g(6) >> 8}.${g(6) & 0xff}.${g(7) >> 8}.${g(7) & 0xff}"
    }
    // the first 8 `:`-tokens of the canonical form; RFC 5952 text never
    // has more than 8, so the cut keeps it whole
    Addr(raw, canonical(g).split(":", -1).take(8).mkString(":") + ":xxxx")
  }

  /** Strings that are neither address family; they pass through unchanged. */
  val nonIp: Vector[String] = Vector(
    "", "-", "unknown", "localhost", "10.0.0", "1.2.3.4.5", "256.1.2.3",
    "01.2.3.4", "1.2.3.4 ", "::g", "1:2:3:4:5:6:7:8:9", "fe80::1%eth0",
    "1::2::3", "12345::1", "2001:db8:::1", "host.example.com")

  /** Eight groups with zero runs of varied length and position (ties
    * included, so "first longest run" matters); never v4-mapped.
    */
  def randomGroups(r: SplittableRandom): Array[Int] = {
    val g = Array.fill(8)(if (r.nextInt(4) == 0) r.nextInt(16) else r.nextInt(0x10000))
    val runs = r.nextInt(3)
    var k = 0
    while (k < runs) {
      val len = r.nextInt(5)
      val at = r.nextInt(8 - len + 1)
      var i = at
      while (i < at + len) { g(i) = 0; i += 1 }
      k += 1
    }
    val mapped = g.take(5).forall(_ == 0) && g(5) == 0xffff
    if (mapped) g(0) = 0x2001
    g
  }
}

/** The generated address population: a pool per family, drawn per row. */
final class AddrPool(seed: Long) {
  private val r = new SplittableRandom(seed ^ 0x5eedadd5L)
  private val prefixes: Vector[(Int, Int, Int)] =
    Vector.fill(64)((1 + r.nextInt(223), r.nextInt(256), r.nextInt(256)))
  private val v6: Vector[Array[Int]] = Vector.fill(24)(Addr.randomGroups(r))

  /** 60% IPv4, 25% IPv6, 15% neither. */
  def draw(rr: SplittableRandom): Addr = {
    val u = rr.nextInt(100)
    if (u < 60) {
      val (a, b, c) = prefixes(rr.nextInt(prefixes.size))
      Addr.v4(a, b, c, rr.nextInt(256))
    } else if (u < 85) Addr.v6(v6(rr.nextInt(v6.size)), rr.nextInt(Addr.v6Styles))
    else { val s = Addr.nonIp(rr.nextInt(Addr.nonIp.size)); Addr(s, s) }
  }
}
