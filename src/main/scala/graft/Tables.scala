package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-aware readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * Readers stay plain `spark.read.parquet` so Catalyst keeps full pushdown /
  * pruning; only `events` needs massaging (nanosecond timestamps arrive as
  * epoch-nano longs under `spark.sql.legacy.parquet.nanosAsLong`).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Process-level parquet schema cache. Without it, EVERY query invocation
    * pays a schema-inference footer job per table read (`spark.read.parquet`
    * with no schema runs a one-task Spark job just to merge footers) — pure
    * fixed cost, measured at 0.2-1 s wall per bench query on this box. The
    * schema of a given path is immutable metadata (a production deployment
    * reads it from a catalog), so inferring it once per process and passing
    * it explicitly is behavior-preserving: the data is still read from
    * parquet on every run. Keyed by full path, so differently-vintaged
    * copies (ScaleProbe's BIGINT-ts inflations) can never alias.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Invalidate cached schemas (r22, ADVICE): a caller that REWRITES a
    * table's parquet with a different schema inside one JVM must clear the
    * stale entry, or subsequent reads apply the old schema and misbind
    * columns silently. No in-repo path rewrites a cached table in-process
    * (ScaleProbe's per-mode dirs are `_done`-guarded and written before
    * first read), so nothing calls this today — it exists so the footgun
    * has a safe off-ramp. Pass a path to drop one entry, nothing for all.
    */
  def invalidateSchemaCache(path: Option[String] = None): Unit = path match {
    case Some(p) => schemaCache.remove(p); ()
    case None    => schemaCache.clear()
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(path, p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** events with `ts_ns` (epoch nanos, long) and `ts` (µs-truncated timestamp).
    *
    * The driver's generator has shipped `ts` as both INT64 TIMESTAMP(NANOS)
    * (read as epoch-nano long under `nanosAsLong`) and plain TIMESTAMP(MICROS);
    * ScaleProbe-inflated copies write BIGINT. Adapt on the observed type so
    * every consumer sees the same (ts_ns: long, ts: timestamp) pair in the
    * same column positions regardless of which vintage is on disk.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // GraftSession disables NTZ inference, so the post-r7 µs vintage reads
    // directly as TIMESTAMP (no per-row convertTz — see GraftSession); the
    // TimestampNTZType branch below keeps foreign sessions correct.
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // fallback for sessions that force NTZ inference some other way:
        // value-identity under UTC, per the old (slower) adapter
        val order = raw.columns.map { case "ts" => "ts_ns"; case c => c } :+ "ts"
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
          .select(order.map(col): _*)
      case _ => // TIMESTAMP (µs): ts_ns is pure long arithmetic, codegen'd
        val order = raw.columns.map { case "ts" => "ts_ns"; case c => c } :+ "ts"
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
          .select(order.map(col): _*)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
