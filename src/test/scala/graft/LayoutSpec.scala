package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HttpLog, Layout}

class LayoutSpec extends AnyFunSuite with SparkTestBase {

  private lazy val log = HttpLog.view(Tables.events(spark, sfDir))

  test("zvalue interleaves bits exactly (known answers)") {
    // r=0b101 (5), b=0b011 (3), k=2: r bits at even positions, b at odd
    // z = r0<<0 | b0<<1 | r1<<2 | b1<<3 | r2<<4 | b2<<5
    //   = 1 | 2 | 0 | 8 | 16 | 0 = 27
    val df = spark.range(1).select(
      Layout.zvalue(3, lit(5L), lit(3L)).as("z"),
      Layout.zvalue(16, lit(0L), lit(0L)).as("z0"),
      Layout.zvalue(4, lit(15L), lit(15L)).as("zf"))
    val r = df.collect()(0)
    assert(r.getLong(0) == 27L)
    assert(r.getLong(1) == 0L)
    assert(r.getLong(2) == 255L) // full interleave of two nibbles
  }

  test("zvalue stays inside whole-stage codegen (no UDF barrier)") {
    val plan = log.select(Layout.zvalue(20, col("resource_id"), col("bytes_sent")))
      .queryExecution.executedPlan.toString
    // WholeStageCodegen renders as a `*(n)` prefix in the plan string
    assert(plan.contains("*(1)"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("zvalue is a bijection on its declared bit range") {
    // distinct (x, y) within bitsPer bits must give distinct z — the
    // interleave loses nothing, so range partitioning on z is a total order
    // over the key space
    val n = 20000
    val df = spark.range(n).select(
      (col("id") * 2654435761L % (1L << 20)).as("x"),
      (col("id") * 40503L % (1L << 20)).as("y"))
    val pairs = df.distinct()
    val z = pairs.select(Layout.zvalue(20, col("x"), col("y")).as("z"))
    assert(z.distinct().count() == pairs.count())
  }

  test("z-order layout prunes files on BOTH dimensions; linear only on one") {
    withTempDir("layout") { dir =>
      val n = 8
      val zPath = s"$dir/z"
      val linPath = s"$dir/lin"
      Layout.writeZOrdered(log, zPath, n, 8, "resource_id", "bytes_sent")
      Layout.writeLinear(log, linPath, n, "resource_id")

      val onResource = col("resource_id") === 7
      val onBytes = col("bytes_sent").between(10000, 60000)

      val zRes = Layout.filesTouched(spark, zPath, onResource)
      val zBytes = Layout.filesTouched(spark, zPath, onBytes)
      val linRes = Layout.filesTouched(spark, linPath, onResource)
      val linBytes = Layout.filesTouched(spark, linPath, onBytes)

      // linear layout: perfect on the sort column, useless on the other
      assert(linRes <= 2, s"linear should localize resource_id (got $linRes/$n)")
      assert(linBytes == n, s"linear cannot localize bytes_sent (got $linBytes/$n)")
      // z-order: strict subset of files on BOTH predicates
      assert(zRes < n, s"z-order should prune on resource_id (got $zRes/$n)")
      assert(zBytes < n, s"z-order should prune on bytes_sent (got $zBytes/$n)")
      // and the rewrite is lossless
      assert(spark.read.parquet(zPath).count() == log.count())
    }
  }

  test("compaction merges small files, preserves content, spares big ones") {
    import spark.implicits._
    withTempDir("graft_compact") { dir =>
      // 1 well-sized file + 40 tiny ones (the streaming-writer pathology)
      (1L to 50000L).map(i => (i, s"payload-$i")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      (50001L to 54000L).map(i => (i, s"payload-$i")).toDF("id", "v")
        .repartition(40).write.mode("append").parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      val bigBefore = files().filter(_.getLen >= 100000).map(_.getPath.getName).toSet
      val before = spark.read.parquet(dir).as[(Long, String)].collect().sorted

      val stats = operators.Layout.compact(spark, dir,
        targetBytes = 200000L, sortCols = Seq("id"))

      assert(stats.smallRewritten >= 40, s"$stats")
      assert(stats.filesAfter < stats.filesBefore / 4, s"$stats")
      // content is exactly preserved
      val after = spark.read.parquet(dir).as[(Long, String)].collect().sorted
      assert(after.sameElements(before))
      // the well-sized file was not rewritten
      val bigAfter = files().map(_.getPath.getName).toSet
      assert(bigBefore.subsetOf(bigAfter), "well-sized files must survive untouched")
      // re-sorted merge keeps min/max stats tight: a point predicate on the
      // compacted range touches at most one compacted file
      val touched = operators.Layout.filesTouched(spark, dir, col("id") === 53000L)
      assert(touched <= 1, s"expected tight stats after re-sort, touched $touched")
      // idempotent: nothing small remains, second run is a no-op
      val again = operators.Layout.compact(spark, dir, 200000L, sortCols = Seq("id"))
      assert(again.smallRewritten == 0 || again.filesAfter == stats.filesAfter)
    }
  }

  test("compaction crash recovery: every leftover state repairs to one copy") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    withTempDir("graft_crash") { dir =>
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Plant a parquet file in `dir` under an exact name.
      def plant(name: String, lo: Long, hi: Long): Unit = {
        withTempDir("graft_stage") { stage =>
          (lo to hi).map(i => (i, s"v-$i")).toDF("id", "v")
            .coalesce(1).write.mode("overwrite").parquet(stage)
          val part = fs.listStatus(new Path(stage))
            .filter(_.getPath.getName.startsWith("part-")).head.getPath
          assert(fs.rename(part, new Path(dir, name)))
        }
      }
      def names() = fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
      def ids() = spark.read.parquet(dir).as[(Long, String)].collect()
        .map(_._1).sorted.toSeq
      def writeManifest(rid: String, doomed: Seq[String]): Unit = {
        val out = fs.create(new Path(dir, s"_compact_manifest_$rid"), true)
        try out.write(doomed.mkString("\n").getBytes("UTF-8")) finally out.close()
      }
      def writeIntent(rid: String): Unit =
        fs.create(new Path(dir, s"_compact_intent_$rid"), true).close()

      // State A — post-commit crash: manifest committed, doomed source still
      // present (duplicate of the compacted file), intent + tmp left behind.
      plant("part-src-a.parquet", 1, 100)       // doomed source
      plant("part-compacted-aaaa0000-0.parquet", 1, 100) // its compacted copy
      plant("part-keep.parquet", 101, 200)      // untouched survivor
      writeIntent("aaaa0000")
      writeManifest("aaaa0000", Seq("part-src-a.parquet"))
      fs.mkdirs(new Path(dir, "_compact_tmp"))
      operators.Layout.recover(fs, new Path(dir))
      assert(ids() == (1L to 200L), "exactly one copy after post-commit repair")
      assert(names().contains("part-compacted-aaaa0000-0.parquet"))
      assert(!names().exists(_.startsWith("_compact")), "markers+tmp cleaned")

      // State B — mid-rename crash: sources all intact, one orphan compacted
      // duplicate renamed in, intent + tmp present, NO manifest. Sources win
      // — and run aaaa0000's committed compacted file (same name shape, no
      // surviving intent) must NOT be swept as an orphan.
      plant("part-compacted-bbbb0000-0.parquet", 1, 100) // orphan duplicate
      writeIntent("bbbb0000")
      fs.mkdirs(new Path(dir, "_compact_tmp"))
      operators.Layout.recover(fs, new Path(dir))
      assert(ids() == (1L to 200L), "orphan duplicate removed, sources kept")
      assert(!names().contains("part-compacted-bbbb0000-0.parquet"))
      assert(names().contains("part-compacted-aaaa0000-0.parquet"),
        "a committed run's compacted files survive another run's crash repair")

      // State C — no markers at all: recovery is a strict no-op on data.
      operators.Layout.recover(fs, new Path(dir))
      assert(names().contains("part-compacted-aaaa0000-0.parquet"))
      assert(ids() == (1L to 200L))

      // And compact() itself runs recovery first: plant state B again and
      // call compact — content stays single-copy.
      plant("part-compacted-cccc0000-0.parquet", 101, 200)
      writeIntent("cccc0000")
      fs.mkdirs(new Path(dir, "_compact_tmp"))
      operators.Layout.compact(spark, dir, targetBytes = 1L << 20)
      assert(ids() == (1L to 200L), "compact() self-repairs before compacting")
    }
  }

  test("hilbert layout prunes on both dimensions, within z-order's file counts") {
    withTempDir("hlayout") { dir =>
      val n = 8
      val hPath = s"$dir/h"
      val zPath = s"$dir/z"
      Layout.writeHilbertOrdered(log, hPath, n, 8, "resource_id", "bytes_sent")
      Layout.writeZOrdered(log, zPath, n, 8, "resource_id", "bytes_sent")
      // a grid of range predicates on each dimension: on PURE axis-aligned
      // ranges z-order's axis-aligned blocks can edge Hilbert out (measured
      // here: the two totals are within a file or two of each other across
      // seeds) — Hilbert's win is 2-D neighborhood locality (continuity,
      // proven below), not 1-D ranges. Assert comparability, not victory.
      def total(path: String): Long =
        (0 until 4).map { q =>
          Layout.filesTouched(spark, path, col("resource_id").between(q * 12, q * 12 + 11)) +
            Layout.filesTouched(spark, path,
              col("bytes_sent").between(q * 30000, q * 30000 + 29999))
        }.sum
      val hTotal = total(hPath)
      val zTotal = total(zPath)
      assert(hTotal <= zTotal + n,
        s"hilbert ($hTotal files) should stay comparable to z-order ($zTotal)")
      // on 2-D BOX predicates (both dims constrained — the neighborhood
      // query shape) both curves prune hard; Hilbert must not be worse
      // than z-order by more than one file per box on this data
      val boxes = (0 until 4).map { q =>
        col("resource_id").between(q * 12, q * 12 + 11) &&
          col("bytes_sent").between(q * 30000, q * 30000 + 29999)
      }
      val hBox = boxes.map(Layout.filesTouched(spark, hPath, _)).sum
      val zBox = boxes.map(Layout.filesTouched(spark, zPath, _)).sum
      assert(hBox <= zBox + boxes.length,
        s"hilbert box scans ($hBox files) vs z-order ($zBox)")
      // still prunes on both single dimensions (narrower band on the
      // second axis: a wide 1-D slab crosses most of a Hilbert curve —
      // exactly the axis-range weakness the docstring trades away)
      assert(Layout.filesTouched(spark, hPath, col("resource_id") === 7) < n)
      assert(Layout.filesTouched(spark, hPath, col("bytes_sent").between(10000, 20000)) < n)
      // and the rewrite is lossless
      assert(spark.read.parquet(hPath).count() == log.count())
    }
  }

  test("hilbert curve is continuous where z-order jumps (exhaustive 32x32)") {
    import spark.implicits._
    // every cell of the 32x32 grid, indexed by both curves
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val indexed = operators.Layout.withHilbertValue(
      grid, 5, col("x"), col("y"), "hd")
      .withColumn("zv", operators.Layout.zvalue(5, col("x"), col("y")))
      .collect().map(r => (r.getAs[Long]("hd"), r.getAs[Long]("x"),
        r.getAs[Long]("y"), r.getAs[Long]("zv")))
    // the Hilbert index is a bijection onto 0..1023
    assert(indexed.map(_._1).sorted.toSeq == (0L until 1024L))
    // CONTINUITY: consecutive indexes are unit Manhattan steps, everywhere
    val byH = indexed.sortBy(_._1)
    byH.sliding(2).foreach { case Array((_, x1, y1, _), (d2, x2, y2, _)) =>
      val step = math.abs(x2 - x1) + math.abs(y2 - y1)
      assert(step == 1, s"hilbert jumped $step at d=$d2 ($x1,$y1)->($x2,$y2)")
    }
    // ...which the Z curve does NOT have: it provably jumps (e.g. 31 cells
    // at every 2^k seam) — the measured reason Hilbert ranges cover tighter
    // blocks than z ranges
    val byZ = indexed.sortBy(_._4).map(t => (t._2, t._3))
    val zJumps = byZ.sliding(2).count { case Array((x1, y1), (x2, y2)) =>
      math.abs(x2 - x1) + math.abs(y2 - y1) > 1
    }
    assert(zJumps > 0, "z-order unexpectedly continuous — test is broken")
  }
}
