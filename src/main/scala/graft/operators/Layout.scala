package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional file layout for 100 TB scans: Morton (Z-order)
  * clustering. Sorting a table by one column makes parquet min/max skipping
  * perfect on that column and useless on every other; interleaving the bits
  * of k columns into one sort key gives every interleaved column locality,
  * so a range/point predicate on ANY of them prunes most files (the layout
  * trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`).
  *
  * The z-value is pure integer bit arithmetic — built from codegen'd
  * shift/and/or columns (no UDF, stays inside WholeStageCodegen) and exactly
  * mirrorable in ANSI SQL ([[zvalueSql]]), which is what makes the curve
  * itself hash-oracle-able even though file layout is a write-side effect.
  *
  * Scale shape of [[writeZOrdered]]: one `repartitionByRange` exchange on
  * the z-value (range boundaries from a driver-side sample — the same
  * machinery as any global sort) + an in-partition sort, then a write. No
  * shuffle ever carries more than the data once; reads after the rewrite
  * prune at file granularity via ordinary parquet column stats.
  */
object Layout {

  /** Morton interleave of the low `bitsPer` bits of each column: bit `i` of
    * column `j` lands at position `i * k + j`. Columns must be non-negative
    * and fit `bitsPer` bits; `k * bitsPer` must fit a signed long (≤ 63).
    */
  def zvalue(bitsPer: Int, cols: Column*): Column = {
    val k = cols.size
    require(k >= 1 && k * bitsPer <= 63, s"$k cols × $bitsPer bits exceeds a long")
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bitsPer
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** The ANSI-SQL mirror of [[zvalue]] over column names — one `|`-chain of
    * shift/mask terms, runnable by DuckDB for the oracle compare.
    */
  def zvalueSql(bitsPer: Int, cols: String*): String = {
    val k = cols.size
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bitsPer
    } yield s"((($c >> $i) & 1) << ${i * k + j})"
    terms.mkString("(", " | ", ")")
  }

  /** Hilbert curve index of a 2-D point — the locality upgrade over
    * [[zvalue]]: consecutive Hilbert indexes are ALWAYS unit Manhattan
    * steps (the curve is continuous), where the Z curve takes long
    * diagonal jumps at power-of-two boundaries — so a contiguous
    * Hilbert-range file covers a tighter spatial block and range predicates
    * touch fewer files (why Delta added `OPTIMIZE ZORDER` first and Hilbert
    * after). The classic per-bit fold (consume the top bit of each axis,
    * add the quadrant's sub-square count, reflect+swap the frame for the
    * next level) is built as a chain of codegen'd conditional columns; each
    * level's (x, y) goes through [[graft.functions.opt_fence]] because the
    * rotation references BOTH previous axes — CollapseProject would inline
    * the chain into an exponentially-sized expression (the d08 lesson).
    * Mirrorable level-by-level in SQL ([[hilbertSqlCtes]]), so the curve is
    * hash-oracle-able like the z-value.
    */
  def withHilbertValue(df: DataFrame, bits: Int, xCol: Column, yCol: Column,
                       as: String): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62, s"2×$bits bits exceeds a long")
    val n = 1L << bits
    // mask to the low `bits` first: the reflection (n-1-x) reads the FULL
    // value, so an out-of-range input would go negative instead of wrapping
    var cur = df
      .withColumn("_hx", xCol.cast("long").bitwiseAND(lit(n - 1)))
      .withColumn("_hy", yCol.cast("long").bitwiseAND(lit(n - 1)))
      .withColumn("_hd", lit(0L))
    for (i <- (bits - 1) to 0 by -1) {
      val rx = shiftright(col("_hx"), i).bitwiseAND(lit(1L))
      val ry = shiftright(col("_hy"), i).bitwiseAND(lit(1L))
      val step = lit((1L << i) * (1L << i)) * (lit(3L) * rx).bitwiseXOR(ry)
      val nx = when(ry === 0,
        when(rx === 1, lit(n - 1) - col("_hy")).otherwise(col("_hy")))
        .otherwise(col("_hx"))
      val ny = when(ry === 0,
        when(rx === 1, lit(n - 1) - col("_hx")).otherwise(col("_hx")))
        .otherwise(col("_hy"))
      cur = cur
        .withColumn("_hd", col("_hd") + step)
        .withColumn("_nx", graft.functions.opt_fence(nx))
        .withColumn("_ny", graft.functions.opt_fence(ny))
        .drop("_hx", "_hy")
        .withColumnRenamed("_nx", "_hx")
        .withColumnRenamed("_ny", "_hy")
    }
    cur.withColumnRenamed("_hd", as).drop("_hx", "_hy")
  }

  /** The SQL mirror of [[withHilbertValue]] as a chain of CTEs `h0…h<bits>`
    * (one per bit level, exactly the fenced projections the Spark side
    * runs): h0 reads `src`, the final CTE exposes `keyCols` and `hd`.
    */
  def hilbertSqlCtes(bits: Int, src: String, keyCols: String,
                     x: String, y: String): String = {
    val n = 1L << bits
    val sb = new StringBuilder(
      s"h0 AS (SELECT $keyCols, CAST($x AS BIGINT) & ${n - 1} AS hx, " +
        s"CAST($y AS BIGINT) & ${n - 1} AS hy, CAST(0 AS BIGINT) AS hd FROM $src)")
    var lvl = 0
    for (i <- (bits - 1) to 0 by -1) {
      val s2 = (1L << i) * (1L << i)
      val prev = lvl
      lvl += 1
      sb.append(s""",
h$lvl AS (
  SELECT $keyCols,
    CASE WHEN ((hy >> $i) & 1) = 0 THEN
      CASE WHEN ((hx >> $i) & 1) = 1 THEN ${n - 1} - hy ELSE hy END
    ELSE hx END AS hx,
    CASE WHEN ((hy >> $i) & 1) = 0 THEN
      CASE WHEN ((hx >> $i) & 1) = 1 THEN ${n - 1} - hx ELSE hx END
    ELSE hy END AS hy,
    hd + $s2 * xor(3 * ((hx >> $i) & 1), (hy >> $i) & 1) AS hd
  FROM h$prev)""")
    }
    sb.toString
  }

  /** Rewrite `df` into `numFiles` z-clustered parquet files. Each output
    * file covers one contiguous z-range = one axis-aligned block of the
    * key space, so its per-column min/max stats are tight on every
    * interleaved column at once.
    *
    * Dimensions are rank-normalized to `bitsPer` bits (equi-depth quantile
    * buckets) before the interleave. Two failure modes force this: raw
    * interleaving of columns with different ranges degenerates to a
    * single-column sort (a 19-bit bytes column's high bits outrank ALL of a
    * 6-bit id's bits), and min-max scaling of skewed data parks most rows
    * in a few low cells, which un-localizes every mid-range predicate.
    * Per-column quantile cuts (one `approxQuantile` pass, ≤ 2^bitsPer − 1
    * driver-side doubles per column) give every bucket equal row mass —
    * the same idea as Delta's per-column range-id normalization. The
    * bucket-index lookup is a codegen'd count-of-cuts-below (O(2^bitsPer)
    * comparisons per row), so keep `bitsPer` small — 8 bits = 256 buckets
    * far exceeds any realistic file count.
    */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
                    bitsPer: Int, cols: String*): Unit = {
    val scaled = rankBuckets(df, bitsPer, cols)
    df.withColumn("_z", zvalue(bitsPer, scaled: _*))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Each of `cols` as its `bitsPer`-bit equi-depth bucket index (the rank
    * normalization [[writeZOrdered]] documents). One eager `approxQuantile`
    * pass per column, in order: each pass creates RDDs, and the range
    * exchange's sampler seed depends on how many RDDs exist before it.
    */
  private def rankBuckets(df: DataFrame, bitsPer: Int, cols: Seq[String]): Seq[Column] = {
    val nb = 1 << bitsPer
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    cols.map { c =>
      // distinct-ing the cuts collapses low-cardinality columns to m ≪ 2^bits
      // buckets; rescale the bucket index back to the full bit range or the
      // column's top bits would sit permanently at 0 and lose the interleave
      val cuts = df.stat.approxQuantile(c, probs, 1.0 / (4 * nb)).distinct.sorted
      val m = math.max(cuts.length, 1)
      val cnt = size(filter(lit(cuts), x => x <= col(c).cast("double")))
      floor(cnt.cast("double") * lit((nb - 1).toDouble / m)).cast("long")
    }
  }

  /** Linear (single-column sort) rewrite — the baseline layout z-ordering
    * beats on every non-leading column; used by specs/probes for contrast.
    */
  def writeLinear(df: DataFrame, path: String, numFiles: Int, sortCol: String): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** [[writeZOrdered]]'s Hilbert twin: same equi-depth rank normalization,
    * same single range-exchange + in-partition sort + write — only the
    * curve differs. The measured trade (LayoutSpec head-to-head): on 2-D
    * NEIGHBORHOOD shapes (box predicates, spatial joins) Hilbert's
    * continuity keeps each file's block tight, while on pure axis-aligned
    * 1-D ranges z-order's axis-aligned blocks can edge it out by a file or
    * two — pick the curve by the workload's dominant predicate shape.
    */
  def writeHilbertOrdered(df: DataFrame, path: String, numFiles: Int,
                          bitsPer: Int, xc: String, yc: String): Unit = {
    val scaled = rankBuckets(df, bitsPer, Seq(xc, yc))
    withHilbertValue(df, bitsPer, scaled(0), scaled(1), "_h")
      .repartitionByRange(numFiles, col("_h"))
      .sortWithinPartitions("_h")
      .drop("_h")
      .write.mode("overwrite").parquet(path)
  }

  /** How many of a layout's files hold rows matching `pred` — the count an
    * engine with per-file column stats must read (skipping is exactly the
    * complement). Diagnostic for specs and the scale probe.
    */
  def filesTouched(spark: org.apache.spark.sql.SparkSession, path: String,
                   pred: Column): Long =
    spark.read.parquet(path).filter(pred)
      .select(input_file_name()).distinct().count()

  /** Result of a [[compact]] run. */
  case class CompactStats(filesBefore: Int, filesAfter: Int,
                          smallRewritten: Int, bytesRewritten: Long)

  /** Small-file compaction — the `OPTIMIZE` (bin-packing) maintenance
    * operation: streaming/incremental writers leave many under-sized
    * parquet files, and at 100 TB the per-file open/footer/stats overhead
    * plus scheduler pressure of millions of small files dominates scans
    * long before data volume does.
    *
    * Only files smaller than `smallRatio · targetBytes` are rewritten —
    * merged into ≈`targetBytes` outputs (optionally re-sorted by `sortCols`
    * so per-file min/max stats stay tight after the merge) — and
    * well-sized files are left untouched, so the rewrite cost is
    * proportional to the SMALL-FILE MASS, not the table. The driver-side
    * work is a filesystem listing (pure metadata, same discipline as range
    * boundaries); the data moves once through one coalesce+write.
    *
    * Filesystem-level swap (write merged to a temp subdir, rename merged
    * in, delete the small sources): crash-safe against LOSS (sources are
    * removed only after every merged file is renamed in) but not against
    * DUPLICATE-VISIBILITY — two crash windows leave both copies visible
    * until the next compact() run: (a) mid-rename, where some
    * `part-compacted-<runId>-*` files coexist with all sources, and (b)
    * between the last rename and the source deletes. Both are repaired
    * idempotently on the NEXT call via a manifest protocol: after all
    * renames succeed (and before any source delete) a
    * `_compact_manifest_<runId>` file listing the doomed sources is
    * written; [[recover]] runs first on every compact() call and (a)
    * deletes still-present sources listed by a manifest (renames were
    * complete — the compacted copy is authoritative), (b) deletes orphan
    * `part-compacted-<rid>-*` files whose rid has no manifest (the run
    * died mid-rename — the sources are still intact and authoritative).
    * A reader racing the swap can still transiently see both; a table
    * format's transaction log (Delta/Iceberg) is the production answer
    * for serializable reads, orthogonal to the compaction itself.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long, smallRatio: Double = 0.5,
              sortCols: Seq[String] = Nil): CompactStats = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, new Path(path))
    def parts() = fs.listStatus(new Path(path))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val before = parts()
    val small = before.filter(_.getLen < (targetBytes * smallRatio).toLong)
    if (small.length <= 1)
      return CompactStats(before.length, before.length, 0, 0L)
    val smallBytes = small.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(path, "_compact_tmp")
    val merged = spark.read.parquet(small.map(_.getPath.toString): _*)
    val arranged =
      if (sortCols.nonEmpty)
        merged.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else merged.coalesce(nOut)
    arranged.write.mode("overwrite").parquet(tmp.toString)
    // Swap order matters for crash-safety: rename the merged files IN first
    // (under a per-run unique prefix, so a second compaction can never
    // collide with a previous run's output — fixed names would silently
    // overwrite on local FS and rename-fail-then-lose on HDFS), and delete
    // the small sources only after EVERY rename succeeded. A failed rename
    // rolls back the already-renamed files and aborts with the sources
    // intact — worst case is leftover tmp data, never loss.
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // Intent marker BEFORE the first rename: recovery needs to know which
    // runId's `part-compacted-<rid>-*` files are uncommitted duplicates —
    // compacted files from OLD fully-committed runs look identical by name
    // and must never be swept as orphans.
    val intent = new Path(path, s"_compact_intent_$runId")
    fs.create(intent, true).close()
    val dests = fs.listStatus(tmp).filter(_.getPath.getName.startsWith("part-"))
      .zipWithIndex.map { case (s, j) =>
        (s.getPath, new Path(path, s"part-compacted-$runId-$j.parquet"))
      }
    val renamed = scala.collection.mutable.ArrayBuffer.empty[Path]
    val allOk = dests.forall { case (src, dst) =>
      val ok = fs.rename(src, dst)
      if (ok) renamed += dst
      ok
    }
    if (!allOk) {
      renamed.foreach(p => fs.delete(p, false))
      fs.delete(tmp, true)
      fs.delete(intent, false)
      throw new java.io.IOException(
        s"compact: rename into $path failed; small sources left intact")
    }
    // Commit point: the manifest existing means "every rename succeeded;
    // the listed sources are stale duplicates". Written via create+rename
    // so a half-written manifest is never visible under its final name.
    val manifest = new Path(path, s"_compact_manifest_$runId")
    val manifestTmp = new Path(path, s"_compact_manifest_$runId.inprogress")
    val mout = fs.create(manifestTmp, true)
    try mout.write(small.map(_.getPath.getName).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally mout.close()
    if (!fs.rename(manifestTmp, manifest))
      throw new java.io.IOException(s"compact: manifest commit failed in $path")
    // Cleanup order is load-bearing for recover(): sources, tmp, intent,
    // manifest. The intent must outlive nothing past the manifest — if the
    // intent survived the manifest's deletion, recovery would read
    // "intent without manifest" as a pre-commit crash and sweep this run's
    // (now sole-copy) compacted files.
    small.foreach(s => fs.delete(s.getPath, false))
    fs.delete(tmp, true)
    fs.delete(intent, false)
    fs.delete(manifest, false)
    CompactStats(before.length, parts().length, small.length, smallBytes)
  }

  /** Idempotent repair of a crashed [[compact]] run (called automatically
    * at the start of every compact; single concurrent maintainer assumed,
    * as for compact itself). The run's marker files define the state:
    *  - `_compact_manifest_<rid>` exists → run `rid` COMMITTED (the
    *    manifest is written only after the last rename), so the compacted
    *    files are authoritative; delete any still-present source files the
    *    manifest lists, then tmp/intent/manifest — finishing the run's own
    *    cleanup order.
    *  - `_compact_intent_<rid>` exists with NO matching manifest → run
    *    `rid` died BEFORE its commit point, so every source file is still
    *    present and authoritative; its `part-compacted-<rid>-*` files are
    *    partial duplicates — delete exactly those (an OLD committed run's
    *    compacted files carry a different rid with no surviving intent and
    *    are never touched), plus the tmp dir and any half-written
    *    `.inprogress` manifest.
    *  - no markers → only fully-committed runs ever ran; `part-compacted-*`
    *    files are ordinary committed data, untouched.
    */
  private[graft] def recover(fs: org.apache.hadoop.fs.FileSystem,
                             dir: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(dir)) return
    val entries = fs.listStatus(dir)
    entries.filter(_.getPath.getName.endsWith(".inprogress"))
      .foreach(s => fs.delete(s.getPath, false))
    val manifests = entries.filter { s =>
      val n = s.getPath.getName
      n.startsWith("_compact_manifest_") && !n.endsWith(".inprogress")
    }
    val committed = manifests.map(_.getPath.getName
      .stripPrefix("_compact_manifest_")).toSet
    val intents = entries.filter(
      _.getPath.getName.startsWith("_compact_intent_"))
    val uncommitted = intents.map(_.getPath.getName
      .stripPrefix("_compact_intent_")).toSet -- committed
    if (uncommitted.nonEmpty) {
      // Pre-commit crash: sources intact, renamed-in files are duplicates.
      entries.filter { s =>
        val n = s.getPath.getName
        s.isFile && n.startsWith("part-compacted-") &&
          n.split("-").lift(2).exists(uncommitted.contains)
      }.foreach(s => fs.delete(s.getPath, false))
    }
    manifests.foreach { m =>
      val in = fs.open(m.getPath)
      val doomed =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      doomed.filter(_.nonEmpty)
        .foreach(name => fs.delete(new Path(dir, name), false))
    }
    val tmp = new Path(dir, "_compact_tmp")
    if (entries.exists(_.getPath.getName == "_compact_tmp"))
      fs.delete(tmp, true)
    intents.foreach(i => fs.delete(i.getPath, false))
    manifests.foreach(m => fs.delete(m.getPath, false))
  }
}
