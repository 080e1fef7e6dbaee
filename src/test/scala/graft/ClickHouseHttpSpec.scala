package graft

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ClickHouseHttp

/** Drives the reference sink's delivery semantics (sink.rs: retry with fixed
  * delay, fail the batch when exhausted so offsets never commit past a lost
  * insert) against an in-process HTTP stand-in for ClickHouse.
  */
class ClickHouseHttpSpec extends AnyFunSuite with SparkTestBase {

  /** Minimal ClickHouse-shaped endpoint: records successful insert bodies;
    * fails requests with HTTP 500 while `failing` > 0 (transient outage) or
    * forever (hard outage), decrementing per request.
    */
  private class Stub(failFirst: Int) {
    val requests = new AtomicInteger(0)
    val chunked = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val failing = new AtomicInteger(failFirst)
    val bodies = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val queries = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        requests.incrementAndGet()
        if (Option(ex.getRequestHeaders.getFirst("Transfer-encoding"))
              .exists(_.equalsIgnoreCase("chunked"))) chunked.set(true)
        if (failing.getAndUpdate(n => math.max(0, n - 1)) > 0) {
          val msg = "DB::Exception: simulated outage".getBytes("UTF-8")
          ex.sendResponseHeaders(500, msg.length)
          ex.getResponseBody.write(msg)
        } else {
          // getQuery keeps the form encoding; decode to the SQL actually sent
          queries.add(java.net.URLDecoder.decode(
            Option(ex.getRequestURI.getRawQuery).getOrElse(""), "UTF-8")
            .stripPrefix("query="))
          bodies.add(body)
          ex.sendResponseHeaders(200, -1)
        }
        ex.close()
      }
    })
    server.start()
    def recover(): Unit = failing.set(0)
    def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def lines: Seq[String] = {
      import scala.jdk.CollectionConverters._
      bodies.asScala.toSeq.flatMap(_.split("\n")).filter(_.nonEmpty)
    }
    def stop(): Unit = server.stop(0)
  }

  private def sampleDf = spark.range(0, 100)
    .select(col("id").as("log_id"), concat(lit("u\t"), col("id")).as("payload"))
    .repartition(4)

  test("insert sink delivers every row exactly once across transient failures") {
    val stub = new Stub(failFirst = 3)
    try {
      val df = sampleDf
      val sink = ClickHouseHttp.insertSink(
        stub.endpoint, "http_log", df.schema, tries = 5, delayMs = 1)
      sink(df, 0L)
      // every row arrived once (the 3 rejected attempts were re-sent whole)
      val ids = stub.lines.map(_.split("\t")(0).toLong).sorted
      assert(ids == (0L until 100L), s"got ${ids.size} rows")
      // tab inside a value survives the TSV escaping
      assert(stub.lines.forall(_.split("\t", 2)(1).startsWith("u\\t")))
      // the INSERT statement is the DDL module's contract
      assert(stub.queries.get(0).contains(
        "INSERT INTO http_log (log_id, payload) FORMAT TabSeparated"))
      assert(stub.requests.get() >= 4 + 3, "expected retries to have happened")
    } finally stub.stop()
  }

  test("exhausted retries fail the batch — nothing half-delivered counts as sent") {
    val stub = new Stub(failFirst = Int.MaxValue)
    try {
      val df = sampleDf.coalesce(1)
      val sink = ClickHouseHttp.insertSink(
        stub.endpoint, "http_log", df.schema, tries = 2, delayMs = 1)
      val e = intercept[Exception] { sink(df, 0L) }
      assert(e.getMessage != null)
      assert(stub.requests.get() >= 3, "tries+1 attempts expected")
      assert(stub.bodies.isEmpty, "no insert may be recorded as successful")
    } finally stub.stop()
  }

  test("tsv bytes: binary raw-escaped, java.time + sql dates, CR escaped, null") {
    import org.apache.spark.sql.Row
    val bos = new java.io.ByteArrayOutputStream()
    ClickHouseHttp.writeTsvRow(Row(
      Array[Byte]('a', '\t', '\n', '\r', '\\', 0xff.toByte),
      java.time.Instant.parse("2024-02-29T12:34:56Z"),
      java.sql.Date.valueOf("2024-02-29"),
      java.time.LocalDate.of(2024, 2, 29),
      "a\rb",
      null), bos)
    // binary passes through as raw bytes (0xff intact, not a UTF-8
    // replacement), with \t \n \r \\ escaped; Instant renders in ClickHouse
    // DateTime form (no ISO 'T'); dates ISO; CR in a string escaped; \N null
    val expected =
      "a\\t\\n\\r\\\\".getBytes("UTF-8") ++ Array(0xff.toByte) ++
      "\t2024-02-29 12:34:56\t2024-02-29\t2024-02-29\ta\\rb\t\\N\n".getBytes("UTF-8")
    assert(bos.toByteArray.toSeq == expected.toSeq)
  }

  test("batched sink: maxRows splits a partition into counted block inserts") {
    val stub = new Stub(failFirst = 0)
    try {
      val df = spark.range(0, 10).select(
        col("id").as("log_id"), concat(lit("p"), col("id")).as("payload"))
        .coalesce(1)
      val sink = ClickHouseHttp.insertSinkBatched(
        stub.endpoint, "http_log", df.schema, maxRows = 4,
        maxDelayMs = Long.MaxValue / 2, tries = 2, delayMs = 1)
      sink(df, 0L)
      assert(stub.requests.get() == 3, "10 rows at block size 4 → 4+4+2")
      import scala.jdk.CollectionConverters._
      val sizes = stub.bodies.asScala.map(_.split("\n").count(_.nonEmpty))
      assert(sizes == Seq(4, 4, 2), s"got block sizes $sizes")
      val ids = stub.lines.map(_.split("\t")(0).toLong).sorted
      assert(ids == (0L until 10L), "every row delivered exactly once")
    } finally stub.stop()
  }

  test("batched sink: maxDelay flushes an open block even below maxRows") {
    val stub = new Stub(failFirst = 0)
    try {
      val df = spark.range(0, 10).select(
        col("id").as("log_id"), concat(lit("p"), col("id")).as("payload"))
        .coalesce(1)
      // injected clock: every reading advances 6 ms. open() reads once, then
      // each row's flush check reads once → a block's second row always sees
      // elapsed 12 ms ≥ 10 ms and flushes: 10 rows → 5 two-row blocks
      val clock = new java.util.concurrent.atomic.AtomicLong(0L)
      val sink = ClickHouseHttp.insertSinkBatched(
        stub.endpoint, "http_log", df.schema, maxRows = 1000,
        maxDelayMs = 10, tries = 2, delayMs = 1,
        nanoTime = () => clock.addAndGet(6000000L))
      sink(df, 0L)
      assert(stub.requests.get() == 5, "delay must flush below-maxRows blocks")
      import scala.jdk.CollectionConverters._
      val sizes = stub.bodies.asScala.map(_.split("\n").count(_.nonEmpty))
      assert(sizes == Seq(2, 2, 2, 2, 2), s"got block sizes $sizes")
      val ids = stub.lines.map(_.split("\t")(0).toLong).sorted
      assert(ids == (0L until 10L))
    } finally stub.stop()
  }

  test("batched sink: per-block retry/replay semantics unchanged") {
    val stub = new Stub(failFirst = 2) // first block rejected twice, then ok
    try {
      val df = spark.range(0, 9).select(
        col("id").as("log_id"), concat(lit("p"), col("id")).as("payload"))
        .coalesce(1)
      val sink = ClickHouseHttp.insertSinkBatched(
        stub.endpoint, "http_log", df.schema, maxRows = 3,
        maxDelayMs = Long.MaxValue / 2, tries = 3, delayMs = 1)
      sink(df, 0L)
      val ids = stub.lines.map(_.split("\t")(0).toLong).sorted
      assert(ids == (0L until 9L), "retried block must re-send whole, once")
      assert(stub.requests.get() == 3 + 2, "3 blocks + 2 rejected attempts")
    } finally stub.stop()
  }

  test("multi-thousand-row partition streams chunked and survives a retry") {
    val stub = new Stub(failFirst = 1) // first attempt rejected → file re-streams
    try {
      val df = spark.range(0, 5000).select(
        col("id").as("log_id"), concat(lit("payload_"), col("id")).as("payload"))
        .coalesce(1)
      val sink = ClickHouseHttp.insertSink(
        stub.endpoint, "http_log", df.schema, tries = 3, delayMs = 1)
      sink(df, 0L)
      val ids = stub.lines.map(_.split("\t")(0).toLong).sorted
      assert(ids == (0L until 5000L), s"got ${ids.size} rows")
      assert(stub.chunked.get(), "insert must use chunked transfer encoding")
    } finally stub.stop()
  }

  test("failed micro-batch does not advance the checkpoint; restart replays it") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val stub = new Stub(failFirst = Int.MaxValue) // hard down
    withTempDir("graft_ch_ckpt") { ckpt =>
      try {
        val ms = MemoryStream[(Long, String)]
        val schema = ms.toDF().schema
        def start() = ms.toDF().writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(ClickHouseHttp.insertSink(
            stub.endpoint, "http_log", schema, tries = 1, delayMs = 1))
          .start()
        ms.addData((1L, "a"), (2L, "b"))
        val q1 = start()
        intercept[Exception] { q1.processAllAvailable() }
        q1.stop()
        assert(stub.bodies.isEmpty, "failed insert must not be recorded")
        // ClickHouse comes back; the SAME offsets replay from the checkpoint
        stub.recover()
        val q2 = start()
        q2.processAllAvailable()
        q2.stop()
        val ids = stub.lines.map(_.split("\t")(0).toLong).sorted
        assert(ids == Seq(1L, 2L), "batch must replay after recovery, exactly once")
      } finally stub.stop()
    }
  }
}
