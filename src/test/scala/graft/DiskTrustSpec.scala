package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DiskTrust

/** Pins the r12 disk-trust contract behind a23 (the gate whose emitted
  * values previously round-tripped through a self-written table and
  * hash-reddened in the driver twice while green locally): the round-trip
  * check is FULL-content multiset equality whose failure NAMES the
  * differing rows, and the forensic sidecar records per-column evidence in
  * a readable shape. Red-before/green-after, the §4.1 enforcement pattern.
  */
class DiskTrustSpec extends AnyFunSuite with SparkTestBase {

  test("multiset equality passes on reordered duplicates, fails naming the rows") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y"), (2L, "y")).toDF("id", "v")
    val b = Seq((2L, "y"), (1L, "x"), (2L, "y")).toDF("id", "v") // same multiset
    DiskTrust.requireMultisetEqual(a, b, "ctx") // row order must not matter

    // duplicate-count divergence (the classic replay/overwrite bug shape):
    // set-wise equal, multiset-wise NOT — EXCEPT ALL must catch it
    val dup = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException] {
      DiskTrust.requireMultisetEqual(a, dup, "dup-count ctx")
    }
    assert(e1.getMessage.contains("dup-count ctx"))
    assert(e1.getMessage.contains("[2,y]"), s"must name the extra row: ${e1.getMessage}")

    // value divergence names the row from BOTH directions
    val skew = Seq((1L, "x"), (2L, "y"), (2L, "Z")).toDF("id", "v")
    val e2 = intercept[IllegalArgumentException] {
      DiskTrust.requireMultisetEqual(a, skew, "value ctx")
    }
    assert(e2.getMessage.contains("[2,y]") && e2.getMessage.contains("[2,Z]"),
      s"must name both sides of the divergence: ${e2.getMessage}")
  }

  test("forensic sidecar records per-column stats, row checksum, count, and env facts") {
    import spark.implicits._
    val pre = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val back = Seq((2L, "b"), (1L, "a")).toDF("id", "v") // reordered, equal
    val prevOut = sys.props.get("graft.verify.out")
    withTempDir("graft_sidecar") { tmp =>
      try {
        sys.props("graft.verify.out") = tmp
        val path = DiskTrust.forensicSidecar(spark,
          Seq("pre_write" -> pre, "readback" -> back),
          Seq("k" -> "v"), "sidecar_test")
        assert(path == s"$tmp/sidecar_test")
        val side = spark.read.parquet(path)
        assert(side.columns.toSeq ==
          Seq("frame", "column", "min_or_value", "max", "sum_xxhash64"))
        // 2 frames × (2 cols + __row__ + __count__) + 1 env row
        assert(side.count() == 9)
        def rows(frame: String) = side.filter(col("frame") === frame)
          .collect().map(r => (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
          .sortBy(_._1).toSeq
        // the two equal frames must produce IDENTICAL stat rows — that is the
        // property that lets a driver red localize its divergent column
        assert(rows("pre_write") == rows("readback"))
        val byCol = rows("pre_write").map(r => r._1 -> r).toMap
        assert(byCol("id")._2 == "1" && byCol("id")._3 == "2")
        assert(byCol("v")._2 == "a" && byCol("v")._3 == "b")
        assert(byCol("id")._4 != null && byCol("__row__")._4 != null)
        assert(byCol("__count__")._2 == "2")
        val env = side.filter(col("frame") === "env").head()
        assert(env.getString(1) == "k" && env.getString(2) == "v")

        // and a real divergence moves exactly the divergent column's checksum
        val skew = Seq((1L, "a"), (2L, "c")).toDF("id", "v")
        DiskTrust.forensicSidecar(spark,
          Seq("pre_write" -> pre, "readback" -> skew), Nil, "sidecar_skew")
        val side2 = spark.read.parquet(s"$tmp/sidecar_skew")
        def cks(side: org.apache.spark.sql.DataFrame)(frame: String, c: String) =
          side.filter(col("frame") === frame && col("column") === c)
            .head().getString(4)
        val c2 = cks(side2) _
        assert(c2("pre_write", "id") == c2("readback", "id"),
          "untouched column's checksum must agree")
        assert(c2("pre_write", "v") != c2("readback", "v"),
          "divergent column's checksum must differ")

        // r12 ADVICE: a bit_xor checksum self-cancels on EVEN-multiplicity
        // divergences — a row duplicated 2 extra times XORs to the same value.
        // The sum-based checksum must move on it (multiplicity-sensitive).
        val evenDup = pre.unionByName(Seq((2L, "b"), (2L, "b")).toDF("id", "v"))
        DiskTrust.forensicSidecar(spark,
          Seq("pre_write" -> pre, "readback" -> evenDup), Nil, "sidecar_evendup")
        val side3 = spark.read.parquet(s"$tmp/sidecar_evendup")
        val c3 = cks(side3) _
        assert(c3("pre_write", "id") != c3("readback", "id") &&
          c3("pre_write", "__row__") != c3("readback", "__row__"),
          "even-multiplicity duplicate must move the sum checksum — the XOR " +
            "blind spot this checksum replaced")
      } finally {
        prevOut match {
          case Some(p) => sys.props("graft.verify.out") = p
          case None    => sys.props.remove("graft.verify.out")
        }
      }
    }
  }
}
