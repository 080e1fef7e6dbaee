package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{HttpLogCodec, IpAnon}

/** Native Catalyst expressions for the graft engine.
  *
  * Hosted under `org.apache.spark.sql` (the standard library escape hatch,
  * cf. public Spark-extension projects) because `AbstractDataType` /
  * `ExpressionUtils` are `private[sql]`. All heavy lifting lives in the
  * public `graft.functions.{IpAnon, HttpLogCodec}` objects, which the
  * generated code calls statically — so everything stays inside whole-stage
  * codegen with zero boxing.
  */

/** `anonymize_ip(string) -> string` — reference `anonymize_ip` semantics
  * (`/root/reference/anonymizer/src/lib.rs:253-271`).
  */
case class AnonymizeIp(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "anonymize_ip"

  override protected def nullSafeEval(input: Any): Any =
    IpAnon.anonymize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IpAnon.anonymize($c)")

  override protected def withNewChildInternal(newChild: Expression): AnonymizeIp =
    copy(child = newChild)
}

/** `capnp_encode_http_log(ts_milli, resource_id, bytes_sent,
  * request_time_milli, response_status, cache_status, method, remote_addr,
  * url) -> binary`: one framed capnp HttpLogRecord message.
  */
case class CapnpEncodeHttpLog(children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(
    LongType, LongType, LongType, LongType, IntegerType,
    StringType, StringType, StringType, StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "capnp_encode_http_log"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else HttpLogCodec.encode(
      vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Long], vs(2).asInstanceOf[Long],
      vs(3).asInstanceOf[Long], vs(4).asInstanceOf[Int],
      vs(5).asInstanceOf[UTF8String], vs(6).asInstanceOf[UTF8String],
      vs(7).asInstanceOf[UTF8String], vs(8).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.map(e => s"${e.isNull}").mkString(" || ")
    val args = evals.map(e => s"${e.value}").mkString(", ")
    val javaType = CodeGenerator.javaType(dataType)
    val childCode = evals.map(_.code.toString).mkString("\n")
    ev.copy(code = code"""
      $childCode
      boolean ${ev.isNull} = $anyNull;
      $javaType ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.HttpLogCodec.encode($args);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CapnpEncodeHttpLog = copy(children = newChildren)
}

/** `capnp_decode_http_log(binary) -> struct` — null on malformed input
  * (dead-letter semantics, reference lib.rs:112).
  */
case class CapnpDecodeHttpLog(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = HttpLogCodec.schema
  override def nullable: Boolean = true
  override def prettyName: String = "capnp_decode_http_log"

  override protected def nullSafeEval(input: Any): Any =
    HttpLogCodec.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HttpLogCodec.decode($c);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): CapnpDecodeHttpLog =
    copy(child = newChild)
}

/** `opt_fence(expr)` — identity optimization fence. Reports itself as
  * non-deterministic so Catalyst neither inlines the child into consumers
  * (CollapseProject) nor substitutes it into pushed-down predicates
  * (PushDownPredicates). The wrapped value IS deterministic — the flag only
  * pins one evaluation of an expensive expression (codec decode, pairwise
  * similarity) at a single place in the plan instead of letting the optimizer
  * duplicate it into both a Filter and a Project, which otherwise doubles the
  * most expensive expression in the pipeline (observed on the capnp decode
  * and every dedup-verify filter).
  */
case class OptFence(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "opt_fence"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): OptFence =
    copy(child = newChild)
}

/** Mutable buffer for [[KeepLatest]]: highest version seen + its payload. */
final class KeepLatestBuf(var version: Long, var row: UnsafeRow)

/** `keep_latest(version, payload) -> payload` — arg-max of a struct `payload`
  * by a long `version` column (ClickHouse ReplacingMergeTree-FINAL keep-latest
  * semantics, reference `http_log.rs:105-107`).
  *
  * Exists because the declarative forms (`max_by`, `max(struct)`) carry a
  * variable-width aggregation buffer, which HashAggregate's fixed-width
  * UnsafeRow map cannot hold — Catalyst demotes them to SortAggregate and the
  * map+reduce-side sorts dominate at scale (the 100× probe measured the
  * SortAggregate dedup at 2.4× its HashAggregate sibling). As a
  * TypedImperativeAggregate this plans as ObjectHashAggregate: hash-based on
  * both sides, map-side combine, no sorts. Pair with a raised
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (GraftSession)
  * — the 128-key default would fall back to sorting almost immediately.
  */
case class KeepLatest(
    version: Expression,
    payload: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KeepLatestBuf] with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(version, payload)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, payload.dataType)
  override def dataType: DataType = payload.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "keep_latest"

  private def numFields: Int = payload.dataType.asInstanceOf[StructType].length
  @transient private lazy val toUnsafe =
    UnsafeProjection.create(payload.dataType.asInstanceOf[StructType])

  override def createAggregationBuffer(): KeepLatestBuf =
    new KeepLatestBuf(Long.MinValue, null)

  override def update(buf: KeepLatestBuf, input: InternalRow): KeepLatestBuf = {
    val v = version.eval(input)
    if (v != null) {
      val ver = v.asInstanceOf[Long]
      if (buf.row == null || ver > buf.version) {
        val p = payload.eval(input)
        if (p != null) {
          buf.version = ver
          // copy: the evaluated row aliases the input iterator's buffer
          buf.row = toUnsafe(p.asInstanceOf[InternalRow]).copy()
        }
      }
    }
    buf
  }

  override def merge(a: KeepLatestBuf, b: KeepLatestBuf): KeepLatestBuf = {
    if (b.row != null && (a.row == null || b.version > a.version)) {
      a.version = b.version
      a.row = b.row
    }
    a
  }

  override def eval(buf: KeepLatestBuf): Any = buf.row

  override def serialize(buf: KeepLatestBuf): Array[Byte] =
    if (buf.row == null) Array.emptyByteArray
    else {
      val rowBytes = buf.row.getBytes
      val out = new Array[Byte](8 + rowBytes.length)
      val bb = java.nio.ByteBuffer.wrap(out)
      bb.putLong(buf.version)
      bb.put(rowBytes)
      out
    }

  override def deserialize(bytes: Array[Byte]): KeepLatestBuf =
    if (bytes.isEmpty) createAggregationBuffer()
    else {
      val ver = java.nio.ByteBuffer.wrap(bytes).getLong
      val row = new UnsafeRow(numFields)
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + 8, bytes.length - 8)
      new KeepLatestBuf(ver, row)
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): KeepLatest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KeepLatest =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KeepLatest =
    copy(version = newChildren(0), payload = newChildren(1))
}

/** Column/Expression conversions for code outside the sql package. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

// ---------------------------------------------------------------------------
// Text sketching expressions (dedup family / text analysis)
// ---------------------------------------------------------------------------

/** `word_shingles(text, k)` — distinct hashes of word k-grams. */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.wordShingles(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordShingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `minhash_sig_arr(shingles, n)` — MinHash signature over a pre-hashed
  * shingle array; bit-identical to `TextHash.minhashSig` on the text the
  * shingles came from (see [[graft.functions.TextHash.minhashSigFromShingles]]).
  */
case class MinHashSigFromShingles(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType, containsNull = false))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig_arr"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.minhashSigFromShingles(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.minhashSigFromShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigFromShingles =
    copy(child = newChild)
}

/** `minhash_sig_weighted(shingles, weights, n)` — weighted MinHash signature
  * over pre-hashed shingles with integer weights (idf-style importance).
  */
case class MinHashSigWeighted(left: Expression, right: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType, containsNull = false), ArrayType(IntegerType, containsNull = false))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig_weighted"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.TextHash.minhashSigWeighted(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextHash.minhashSigWeighted($a, $b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashSigWeighted =
    copy(left = l, right = r)
}

/** `weighted_intersect_sum(shs_a, ws_a, shs_b) -> long` — Σ weight over the
  * sorted-merge intersection of two ascending shingle arrays (weighted-
  * MinHash pair verification). Weights are positionally aligned with A's
  * shingles and globally identical for shared shingles (idf), so only A's
  * weights are consulted — the B side of the verify join carries no weight
  * array at all.
  */
case class WeightedIntersectSum(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(LongType, containsNull = false),
    ArrayType(IntegerType, containsNull = false),
    ArrayType(LongType, containsNull = false))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "weighted_intersect_sum"
  override protected def nullSafeEval(a: Any, wa: Any, b: Any): Any =
    graft.functions.TextHash.weightedIntersectSum(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      wa.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, wa, b) => s"graft.functions.TextHash.weightedIntersectSum($a, $wa, $b)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WeightedIntersectSum =
    copy(first = f, second = s, third = t)
}

/** Mutable buffer for [[CollectCappedLongs]]: growable long storage, or the
  * overflow state (`xs == null` after the cap is crossed — storage is freed
  * immediately, so a degenerate bucket costs O(1) once detected).
  */
final class CollectCappedBuf(var xs: Array[Long], var n: Int) {
  def overflowed: Boolean = xs == null
}

/** `collect_capped(long, cap) -> array<long> | null` — collect a group's
  * long values up to `cap` of them; a group that crosses the cap evaluates
  * to NULL (the LSH hot-bucket drop semantics: bucket size > cap ⇒ bucket
  * excluded). The output array is sorted ascending at eval, so it is
  * deterministic under any partitioning / merge order.
  *
  * Exists so the band self-join's hot-bucket guard needs no separate
  * count-aggregate pass + broadcast anti-join over the banded frame: one
  * aggregation both detects oversized buckets AND gathers the survivors'
  * ids for in-row pair generation. TypedImperativeAggregate ⇒
  * ObjectHashAggregate (hash on both sides, map-side combine, no sorts —
  * the keep_latest rationale). Memory: ≤ cap longs per live group, freed on
  * overflow; cap defaults to the LSH maxBucket (100k ⇒ 800 KB worst-case
  * per in-flight degenerate group, transiently).
  */
case class CollectCappedLongs(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CollectCappedBuf] with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "collect_capped"

  // fresh buffers share one immutable empty array: at web scale most LSH
  // buckets are singletons, and an 8-slot array per bucket is pure garbage
  // (16M buckets at the 100× probe ≈ 1.5 GB of allocation saved)
  override def createAggregationBuffer(): CollectCappedBuf =
    new CollectCappedBuf(CollectCappedLongs.EMPTY, 0)

  private def append(buf: CollectCappedBuf, v: Long): Unit = {
    if (buf.n >= cap) { buf.xs = null; return }
    if (buf.n == buf.xs.length) {
      val grown = new Array[Long](math.min(math.max(1, buf.xs.length * 2), cap))
      System.arraycopy(buf.xs, 0, grown, 0, buf.n)
      buf.xs = grown
    }
    buf.xs(buf.n) = v
    buf.n += 1
  }

  override def update(buf: CollectCappedBuf, input: InternalRow): CollectCappedBuf = {
    if (!buf.overflowed) {
      val v = child.eval(input)
      if (v != null) append(buf, v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(a: CollectCappedBuf, b: CollectCappedBuf): CollectCappedBuf = {
    if (a.overflowed || b.overflowed) { a.xs = null; return a }
    var i = 0
    while (i < b.n && !a.overflowed) { append(a, b.xs(i)); i += 1 }
    a
  }

  override def eval(buf: CollectCappedBuf): Any =
    if (buf.overflowed) null
    else {
      val out = java.util.Arrays.copyOf(buf.xs, buf.n)
      java.util.Arrays.sort(out)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

  override def serialize(buf: CollectCappedBuf): Array[Byte] =
    if (buf.overflowed) Array[Byte](1)
    else {
      val out = new Array[Byte](1 + 4 + 8 * buf.n)
      val bb = java.nio.ByteBuffer.wrap(out)
      bb.put(0: Byte); bb.putInt(buf.n)
      var i = 0
      while (i < buf.n) { bb.putLong(buf.xs(i)); i += 1 }
      out
    }

  override def deserialize(bytes: Array[Byte]): CollectCappedBuf =
    if (bytes.isEmpty || bytes(0) == 1) new CollectCappedBuf(null, 0)
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes, 1, bytes.length - 1)
      val n = bb.getInt
      val xs = if (n == 0) CollectCappedLongs.EMPTY else new Array[Long](n)
      var i = 0
      while (i < n) { xs(i) = bb.getLong; i += 1 }
      new CollectCappedBuf(xs, n)
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectCappedLongs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectCappedLongs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CollectCappedLongs =
    copy(child = newChildren.head)
}

object CollectCappedLongs {
  private[graft] val EMPTY = new Array[Long](0)
}

/** `weights_for(sh, keys, ws, default) -> array<int>` — per-shingle idf
  * weight lookup: binary-search each ascending shingle in the ascending
  * exception-key array (`ws` positionally aligned), `default` for misses
  * (see [[graft.functions.TextHash.weightsFor]]).
  */
case class WeightsFor(first: Expression, second: Expression, third: Expression,
                      default: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(LongType, containsNull = false),
    ArrayType(LongType, containsNull = false),
    ArrayType(IntegerType, containsNull = false))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "weights_for"
  override protected def nullSafeEval(a: Any, k: Any, w: Any): Any =
    graft.functions.TextHash.weightsFor(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      k.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      w.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      default)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, k, w) => s"graft.functions.TextHash.weightsFor($a, $k, $w, $default)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WeightsFor =
    copy(first = f, second = s, third = t)
}

/** `sorted_intersect_count(a, b) -> long` — |A ∩ B| of two ascending long
  * arrays by sorted merge (unweighted dedup verification; Jaccard derives as
  * i / (|A| + |B| − i) with the sizes already at hand).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(
    ArrayType(LongType, containsNull = false),
    ArrayType(LongType, containsNull = false))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.TextHash.intersectCount(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.TextHash.intersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedIntersectCount = copy(left = l, right = r)
}

/** `lsh_band_keys(sig, bands)` — one hashed key per signature band. */
case class LshBandKeys(child: Expression, bands: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType, containsNull = false))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_band_keys"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.lshBandKeys(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.lshBandKeys($c, $bands)")
  override protected def withNewChildInternal(newChild: Expression): LshBandKeys =
    copy(child = newChild)
}

/** `simhash64(text)` — 64-bit SimHash of unigram tokens. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `nfc_normalize(text)` — Unicode NFC canonical composition (the standard
  * first step of a text-cleaning pipeline: visually-identical strings with
  * decomposed combining marks re-compose to one byte sequence, so dedup and
  * fingerprinting see them as equal).
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** `winnow(text, k, w)` — winnowing fingerprint hashes (distinct, sorted). */
case class Winnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.winnow(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.winnow($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** `lang_id(text)` — heuristic language identification. */
case class LangId(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lang_id"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.TextHash.langId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.langId($c)")
  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

// ---------------------------------------------------------------------------
// Vector expressions (similarity search)
// ---------------------------------------------------------------------------

/** `vec_cosine(array<float>, array<float>) -> double`. */
case class VecCosine(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorOps.cosine(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(left = l, right = r)
}

/** `hyperplane_sketches(array<float>, tables, bits)` — one LSH key per table. */
case class HyperplaneSketches(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_sketches"
  override protected def nullSafeEval(input: Any): Any =
    graft.functions.VectorOps.hyperplaneSketches(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], tables, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorOps.hyperplaneSketches($c, $tables, $bits)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSketches =
    copy(child = newChild)
}

/** Mutable buffer for [[HeavyHitters]]: value → [count, err], plus the
  * total rows observed (`n`, carried for the ε = n/k error contract).
  */
final class HeavyHittersBuf(
    var n: Long,
    val m: java.util.HashMap[Long, Array[Long]])

/** `heavy_hitters(value, k) -> array<struct<value, est, err>>` — SpaceSaving
  * (Metwally et al. 2005) frequency estimation with a k-entry bound: the
  * `approx_top_k` OSS Spark lacks. Guarantees (and what the spec pins):
  * for every tracked value, true ≤ est ≤ true + err; presence is
  * guaranteed for true frequency > n/k in a SINGLE sketch, and > 2n/k
  * once sketches MERGE (any multi-partition aggregate merges): the merge
  * follows Agarwal et al. 2012's mergeable-summaries construction — a
  * value absent from one side gains that side's min count on both est and
  * err, since that is the mass it could have held there before eviction;
  * counts and overcounts add, trimming keeps the k largest — which
  * preserves est ≥ true across merges, but the per-side min-count
  * additions let the merged est-sum reach 2n, so the trim's presence
  * threshold weakens to ~2n/k (HeavyHittersSpec and FuzzProps pin exactly
  * this bound; callers needing the n/k contract must separate by 2n/k, as
  * b45/b46 do).
  *
  * Exists for the same plan reason as [[KeepLatest]]: a bounded O(k) state
  * through TypedImperativeAggregate plans as ObjectHashAggregate with
  * map-side combine — the exact `groupBy(value).count.orderBy.limit`
  * alternative shuffles EVERY distinct value; this shuffles k entries per
  * partition, period. Eviction scans the k entries linearly — k is a
  * constant (64ish); a heap only pays above k ≈ thousands.
  *
  * NOT bit-deterministic across merge orders (no bounded-memory heavy
  * hitter is): estimates inside the [true, true+err] band depend on
  * partition layout. Registered as rows-only (b44) with a separation-
  * guaranteed known-answer companion (b45) — the c03/d02 pattern.
  */
case class HeavyHitters(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[HeavyHittersBuf] with ExpectsInputTypes {

  require(k > 0 && k <= (1 << 20), "heavy_hitters k out of range")

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("value", LongType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "heavy_hitters"

  override def createAggregationBuffer(): HeavyHittersBuf =
    new HeavyHittersBuf(0L, new java.util.HashMap[Long, Array[Long]](k * 2))

  override def update(buf: HeavyHittersBuf, input: InternalRow): HeavyHittersBuf = {
    val v = child.eval(input)
    if (v != null) {
      buf.n += 1
      val value = v.asInstanceOf[Long]
      val cur = buf.m.get(value)
      if (cur != null) cur(0) += 1
      else if (buf.m.size < k) buf.m.put(value, Array(1L, 0L))
      else {
        // evict the min-count entry; the newcomer inherits its count as err
        var minV = 0L
        var minC = Long.MaxValue
        val it = buf.m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue()(0) < minC ||
            (e.getValue()(0) == minC && e.getKey < minV)) {
            minC = e.getValue()(0); minV = e.getKey
          }
        }
        buf.m.remove(minV)
        buf.m.put(value, Array(minC + 1, minC))
      }
    }
    buf
  }

  /** A full sketch's smallest count — the mass an UNTRACKED value could
    * have accumulated in that sketch's stream. A sketch with spare budget
    * tracked everything it saw, so absent there means count 0.
    */
  private def minCount(buf: HeavyHittersBuf): Long =
    if (buf.m.size < k) 0L
    else {
      var m = Long.MaxValue
      val it = buf.m.values().iterator()
      while (it.hasNext) { val c = it.next()(0); if (c < m) m = c }
      m
    }

  override def merge(a: HeavyHittersBuf, b: HeavyHittersBuf): HeavyHittersBuf = {
    // Agarwal et al. 2012 (mergeable summaries): a value absent from one
    // side may have held up to that side's min count before eviction — add
    // it to BOTH est and err, so est ≥ true survives the merge (the naive
    // count sum UNDERCOUNTS values evicted in some partition: found by the
    // FuzzProps property, k=1, 11×"0"+1×"1" in 3 chunks → est 8 < true 11)
    val ma = minCount(a)
    val mb = minCount(b)
    if (mb > 0) {
      val bKeys = b.m
      val itAe = a.m.entrySet().iterator()
      while (itAe.hasNext) {
        val e = itAe.next()
        if (!bKeys.containsKey(e.getKey)) {
          e.getValue()(0) += mb; e.getValue()(1) += mb
        }
      }
    }
    a.n += b.n
    val it = b.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = a.m.get(e.getKey)
      if (cur != null) { cur(0) += e.getValue()(0); cur(1) += e.getValue()(1) }
      else a.m.put(e.getKey,
        Array(e.getValue()(0) + ma, e.getValue()(1) + ma))
    }
    if (a.m.size > k) {
      // keep the k largest counts (ties broken by value for stability)
      val entries = new Array[(Long, Array[Long])](a.m.size)
      val it2 = a.m.entrySet().iterator()
      var i = 0
      while (it2.hasNext) { val e = it2.next(); entries(i) = (e.getKey, e.getValue); i += 1 }
      java.util.Arrays.sort(entries, new java.util.Comparator[(Long, Array[Long])] {
        def compare(x: (Long, Array[Long]), y: (Long, Array[Long])): Int = {
          val c = java.lang.Long.compare(y._2(0), x._2(0))
          if (c != 0) c else java.lang.Long.compare(x._1, y._1)
        }
      })
      a.m.clear()
      i = 0
      while (i < k) { a.m.put(entries(i)._1, entries(i)._2); i += 1 }
    }
    a
  }

  override def eval(buf: HeavyHittersBuf): Any = {
    val entries = new Array[(Long, Array[Long])](buf.m.size)
    val it = buf.m.entrySet().iterator()
    var i = 0
    while (it.hasNext) { val e = it.next(); entries(i) = (e.getKey, e.getValue); i += 1 }
    java.util.Arrays.sort(entries, new java.util.Comparator[(Long, Array[Long])] {
      def compare(x: (Long, Array[Long]), y: (Long, Array[Long])): Int = {
        val c = java.lang.Long.compare(y._2(0), x._2(0))
        if (c != 0) c else java.lang.Long.compare(x._1, y._1)
      }
    })
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      entries.map { case (v, ce) =>
        InternalRow(v, ce(0), ce(1))
      }.toSeq)
  }

  override def serialize(buf: HeavyHittersBuf): Array[Byte] = {
    val out = new Array[Byte](8 + 4 + buf.m.size * 24)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putLong(buf.n)
    bb.putInt(buf.m.size)
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey); bb.putLong(e.getValue()(0)); bb.putLong(e.getValue()(1))
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): HeavyHittersBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    buf.n = bb.getLong
    val sz = bb.getInt
    var i = 0
    while (i < sz) {
      buf.m.put(bb.getLong, Array(bb.getLong, bb.getLong))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HeavyHitters =
    copy(child = newChildren(0))
}

/** Sorted unique 128-bit hashes as two parallel long arrays (unsigned
  * (hi, lo) order == the md5 hex strings' lexicographic order). Capacity
  * k; `n` live entries.
  */
abstract class Md5SortedBuf(val k: Int) {
  var n: Int = 0
  val hi: Array[Long] = new Array[Long](k)
  val lo: Array[Long] = new Array[Long](k)

  protected final def cmpAt(i: Int, h: Long, l: Long): Int = {
    val c = java.lang.Long.compareUnsigned(hi(i), h)
    if (c != 0) c else java.lang.Long.compareUnsigned(lo(i), l)
  }

  /** Index of the first entry ≥ (h, l); n if none. */
  protected final def lowerBound(h: Long, l: Long): Int = {
    var a = 0; var b = n
    while (a < b) {
      val m = (a + b) >>> 1
      if (cmpAt(m, h, l) < 0) a = m + 1 else b = m
    }
    a
  }
}

/** 32-char md5 hex input → its two 64-bit halves, read in place from the
  * UTF8String (no per-row allocation). `fn` names the calling function in
  * the loud input-contract errors.
  */
private[graft] object Md5Hex {
  def check(s: UTF8String, fn: String): Unit =
    if (s.numBytes != 32) throw new IllegalArgumentException(
      s"$fn expects 32-char hex (md5) input, got length ${s.numBytes}")

  /** The 16 hex digits at `from` (0 → hi, 16 → lo) as one long. */
  def half(s: UTF8String, from: Int, fn: String): Long = {
    var v = 0L; var i = from
    while (i < from + 16) { v = (v << 4) | nibble(s.getByte(i), fn); i += 1 }
    v
  }

  private def nibble(b: Byte, fn: String): Int = {
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else throw new IllegalArgumentException(
      s"$fn expects 32-char hex (md5) input, got byte '${b.toChar}'")
  }
}

/** Sorted unique bottom-k of 128-bit md5 values. */
final class KmvBuf(capacity: Int) extends Md5SortedBuf(capacity) {
  def insert(h: Long, l: Long): Unit = {
    // O(1) reject once full: not below the current k-th smallest
    if (n == k && cmpAt(n - 1, h, l) <= 0) return
    val i = lowerBound(h, l)
    if (i < n && cmpAt(i, h, l) == 0) return // already tracked
    val last = math.min(n, k - 1)
    System.arraycopy(hi, i, hi, i + 1, last - i)
    System.arraycopy(lo, i, lo, i + 1, last - i)
    hi(i) = h; lo(i) = l
    if (n < k) n += 1
  }
}

/** `kmv_distinct(md5Hex, k)` — the KMV bottom-k theta sketch
  * (graft.operators.Kmv documents the math and the determinism argument)
  * as a native TypedImperativeAggregate: the buffer is two primitive long
  * arrays instead of an encoder-round-tripped Seq[String], which is what
  * put the original Aggregator form at ~4 µs/row on the b48 profile hot
  * path. Semantics are IDENTICAL — unsigned (hi, lo) order over the md5's
  * 128 bits IS the hex strings' lexicographic order, the k-th hash is
  * re-rendered as the same 32-char lowercase hex, and the estimate uses
  * the same top-52-bit integer — so every KMV oracle (b23/b35/b48/g11)
  * hash-checks unchanged. Input contract: 32-char hex (an md5), enforced
  * loudly — the b42/c19 guard discipline, since a silently mis-parsed
  * hash would corrupt the order statistics.
  *
  * PRODUCTION hash path (r10): a LongType child is treated as a 64-bit
  * hash directly — `kmv_distinct(xxhash64(x), k)` — with (hash, 0) taking
  * the md5 pair's place in the unsigned order and the k-th hash rendered
  * as 16-char hex. No per-row string materialization, no hex parse; the
  * estimator's top-52-bit formula is unchanged (uniform 64-bit hash ⇒ the
  * same θ statistics). md5 exists so DuckDB can replay the permutation
  * (the oracle gate); xxhash64 is what a 100 TB run should feed. Certified
  * by the b51/b52 rows + KmvSpec's xxhash64 merge-law and known-answer
  * runs.
  *
  * Input contract is STRICT at analysis time (r10 ADVICE): exactly
  * StringType (an md5 hex) or LongType (a 64-bit hash) — no implicit
  * casts, so `kmv_distinct(hash(x), k)` (Spark's 32-bit int hash) or a
  * double child fails the ANALYZER instead of dying mid-job on a hex
  * parse. What no type system can catch: a LongType child that is a raw
  * id rather than a uniform 64-bit hash — `kmv_distinct(user_id, 64)`
  * over small sequential ids yields a tiny θ and a wildly inflated
  * estimate with no error. The LongType form MUST be fed a real hash
  * (xxhash64); documented on every surface (graft.operators.Kmv, the SQL
  * registration in GraftFunctions).
  */
case class KmvDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuf] with ExpectsInputTypes {

  require(k >= 2 && k <= (1 << 20), "kmv_distinct k out of range")

  private def longInput: Boolean = child.dataType == LongType

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, LongType))
  override def dataType: DataType = StructType(Seq(
    StructField("n_tracked", LongType, nullable = false),
    StructField("kth_hash", StringType, nullable = true),
    StructField("est_distinct", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_distinct"

  override def createAggregationBuffer(): KmvBuf = new KmvBuf(k)

  override def update(buf: KmvBuf, input: InternalRow): KmvBuf = {
    val v = child.eval(input)
    if (v != null) {
      if (longInput) buf.insert(v.asInstanceOf[Long], 0L)
      else {
        val s = v.asInstanceOf[UTF8String]
        Md5Hex.check(s, prettyName)
        buf.insert(Md5Hex.half(s, 0, prettyName), Md5Hex.half(s, 16, prettyName))
      }
    }
    buf
  }

  override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = {
    var i = 0
    while (i < b.n) { a.insert(b.hi(i), b.lo(i)); i += 1 }
    a
  }

  override def eval(buf: KmvBuf): Any =
    if (buf.n < k) InternalRow(buf.n.toLong, null, buf.n.toLong)
    else {
      val h = buf.hi(k - 1); val l = buf.lo(k - 1)
      val hex = UTF8String.fromString(
        if (longInput) f"$h%016x" else f"$h%016x$l%016x")
      // first 13 hex chars = the top 52 bits of hi — fits a double exactly
      val v = math.max(h >>> 12, 1L)
      val est = math.floor((k - 1).toDouble / (v.toDouble / 4503599627370496.0)).toLong
      InternalRow(k.toLong, hex, est)
    }

  override def serialize(buf: KmvBuf): Array[Byte] = {
    val out = new Array[Byte](4 + buf.n * 16)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.hi(i)); bb.putLong(buf.lo(i)); i += 1 }
    out
  }

  override def deserialize(bytes: Array[Byte]): KmvBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.hi(i) = bb.getLong; buf.lo(i) = bb.getLong; i += 1 }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvDistinct =
    copy(child = newChildren(0))
}

/** Sorted unique bottom-k of (md5, payload) entries: parallel long arrays
  * for the hash halves plus the kept payload — one entry per hash, the
  * MINIMUM payload for that hash (so collisions resolve identically under
  * every merge order).
  */
final class BottomKBuf(capacity: Int) extends Md5SortedBuf(capacity) {
  val pay: Array[Long] = new Array[Long](k)

  def insert(h: Long, l: Long, p: Long): Unit = {
    // full and strictly above the current k-th: reject (equal hash must
    // still proceed — it may lower the kept payload)
    if (n == k && cmpAt(n - 1, h, l) < 0) return
    val i = lowerBound(h, l)
    if (i < n && cmpAt(i, h, l) == 0) {
      if (p < pay(i)) pay(i) = p
      return
    }
    val last = math.min(n, k - 1)
    System.arraycopy(hi, i, hi, i + 1, last - i)
    System.arraycopy(lo, i, lo, i + 1, last - i)
    System.arraycopy(pay, i, pay, i + 1, last - i)
    hi(i) = h; lo(i) = l; pay(i) = p
    if (n < k) n += 1
  }
}

/** `hash_sample(md5Hex, payload, k)` — the deterministic bottom-k-by-hash
  * uniform sample (graft.operators.Kmv documents why the hash IS the
  * random permutation) as a native TypedImperativeAggregate, the
  * [[KmvDistinct]] treatment for the sampling sibling: packed-long buffer
  * instead of encoder-round-tripped Seq[HEntry] (~24 B/entry vs ~90 B, and
  * no per-row serialization). Semantics identical: one entry per hash
  * keeping the MINIMUM payload (merge-order-invariant under collisions),
  * ascending output, nulls skipped, 32-hex input enforced loudly.
  *
  * Like [[KmvDistinct]] (r10): a LongType hash child is the production
  * xxhash64 path — `(hash, 0)` in the unsigned order, `h` rendered as
  * 16-char hex. The hash slot is STRICT at analysis time (r10 ADVICE):
  * exactly StringType or LongType, no implicit casts — and the LongType
  * form must be a real 64-bit hash (xxhash64), never a raw id. The
  * payload slot accepts any integral type (widened exactly in update —
  * the pre-r9 INT/SHORT surface) but rejects fractional types at
  * analysis instead of silently truncating.
  */
case class HashSample(
    hash: Expression,
    payload: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BottomKBuf] with ExpectsInputTypes {

  require(k >= 1 && k <= (1 << 20), "hash_sample k out of range")

  private def longInput: Boolean = hash.dataType == LongType

  override def children: Seq[Expression] = Seq(hash, payload)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, LongType),
      TypeCollection(LongType, IntegerType, ShortType, ByteType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h", StringType, nullable = false),
      StructField("payload", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hash_sample"

  override def createAggregationBuffer(): BottomKBuf = new BottomKBuf(k)

  private def payloadLong(pv: Any): Long = pv match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalArgumentException(
      s"hash_sample payload must be integral, got ${other.getClass.getSimpleName}")
  }

  override def update(buf: BottomKBuf, input: InternalRow): BottomKBuf = {
    val hv = hash.eval(input)
    val pv = payload.eval(input)
    if (hv != null && pv != null) {
      if (longInput) buf.insert(hv.asInstanceOf[Long], 0L, payloadLong(pv))
      else {
        val s = hv.asInstanceOf[UTF8String]
        Md5Hex.check(s, prettyName)
        buf.insert(Md5Hex.half(s, 0, prettyName), Md5Hex.half(s, 16, prettyName),
          payloadLong(pv))
      }
    }
    buf
  }

  override def merge(a: BottomKBuf, b: BottomKBuf): BottomKBuf = {
    var i = 0
    while (i < b.n) { a.insert(b.hi(i), b.lo(i), b.pay(i)); i += 1 }
    a
  }

  override def eval(buf: BottomKBuf): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      (0 until buf.n).map { i =>
        InternalRow(
          UTF8String.fromString(
            if (longInput) f"${buf.hi(i)}%016x"
            else f"${buf.hi(i)}%016x${buf.lo(i)}%016x"),
          buf.pay(i))
      })

  override def serialize(buf: BottomKBuf): Array[Byte] = {
    val out = new Array[Byte](4 + buf.n * 24)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) {
      bb.putLong(buf.hi(i)); bb.putLong(buf.lo(i)); bb.putLong(buf.pay(i)); i += 1
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): BottomKBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    val n = bb.getInt
    var i = 0
    while (i < n) {
      buf.hi(i) = bb.getLong; buf.lo(i) = bb.getLong; buf.pay(i) = bb.getLong; i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HashSample =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HashSample =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HashSample =
    copy(hash = newChildren(0), payload = newChildren(1))
}
