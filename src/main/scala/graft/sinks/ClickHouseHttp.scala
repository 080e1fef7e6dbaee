package graft.sinks

import java.io.{BufferedOutputStream, IOException, OutputStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

/** The reference sink's insert path re-expressed for Spark: batched HTTP
  * inserts with fixed-delay retry, wired as a `foreachBatch` sink.
  *
  * Reference semantics (`/root/reference/anonymizer/src/sink.rs:258`,
  * `error.rs:76-89` `async_retry`): an insert is attempted up to
  * `tries + 1` times with a fixed delay between attempts; when retries are
  * exhausted the insert FAILS — and because the failure propagates out of
  * `foreachBatch`, the streaming checkpoint does not advance and the source
  * replays the batch (the reference's manual commit-after-insert). Delivery
  * is therefore at-least-once, restored to exactly-once by the
  * ReplacingMergeTree table the DDL in [[ClickHouseDdl]] declares.
  *
  * Unlike the single-node reference, the insert itself runs per PARTITION on
  * the executors — N parallel inserts per micro-batch, which is the posture
  * a 1000-executor cluster needs (the driver never sees the rows).
  *
  * Memory posture: a partition is spilled once to a local temp file and the
  * POST streams it with chunked transfer encoding — the insert body is never
  * held on heap (a partition at 100 TB scale is easily GBs), and a retry
  * re-streams the same file instead of needing the consumed row iterator.
  */
object ClickHouseHttp {

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** Write one row as a ClickHouse `TabSeparated` line directly as bytes
    * (tab/newline/CR/backslash escaped; timestamps in ClickHouse's
    * `YYYY-MM-DD hh:mm:ss` form, UTC; binary passes through raw-escaped —
    * possible at all only because this writes bytes, not a String).
    */
  def writeTsvRow(row: Row, out: OutputStream): Unit = {
    var i = 0
    while (i < row.length) {
      if (i > 0) out.write('\t')
      row.get(i) match {
        case null => out.write('\\'); out.write('N')
        case b: Array[Byte] => writeEscaped(b, out)
        case ts: java.sql.Timestamp =>
          out.write(tsFmt.format(ts.toInstant).getBytes(StandardCharsets.UTF_8))
        case ts: java.time.Instant => // spark.sql.datetime.java8API.enabled
          out.write(tsFmt.format(ts).getBytes(StandardCharsets.UTF_8))
        case d: java.sql.Date => // both render ISO yyyy-MM-dd, what CH expects
          out.write(d.toString.getBytes(StandardCharsets.UTF_8))
        case d: java.time.LocalDate =>
          out.write(d.toString.getBytes(StandardCharsets.UTF_8))
        case s: String => writeEscaped(s.getBytes(StandardCharsets.UTF_8), out)
        case other => out.write(other.toString.getBytes(StandardCharsets.UTF_8))
      }
      i += 1
    }
    out.write('\n')
  }

  private def writeEscaped(bs: Array[Byte], out: OutputStream): Unit = {
    var j = 0
    while (j < bs.length) {
      val b = bs(j)
      if (b == '\t') { out.write('\\'); out.write('t') }
      else if (b == '\n') { out.write('\\'); out.write('n') }
      else if (b == '\r') { out.write('\\'); out.write('r') }
      else if (b == '\\') { out.write('\\'); out.write('\\') }
      else out.write(b)
      j += 1
    }
  }

  /** Fixed-delay retry, reference `async_retry` semantics: run `f`; on
    * RETRYABLE failure (IO-class: connection refused/reset, non-2xx) sleep
    * and retry while attempts remain; rethrow the final error. Interruption
    * — Spark cancelling the task (job abort, speculation) — is never
    * swallowed: the task must stop POSTing, not keep hammering ClickHouse
    * after the job gave up on it. Other non-IO exceptions (serialization
    * bugs, OOM wrappers) are programming errors and rethrow immediately.
    */
  def retry[T](tries: Int, delayMs: Long, sleep: Long => Unit = Thread.sleep)
              (f: => T): T = {
    var remaining = tries
    while (true) {
      try return f
      catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); throw e
        case e: IOException =>
          // a task-kill interrupt can surface as an IOException subclass
          // (InterruptedIOException / ClosedByInterruptException) — the
          // interrupt FLAG, not the exception type, is the reliable signal,
          // and a plain SocketTimeoutException (also InterruptedIOException)
          // must still retry
          if (Thread.currentThread().isInterrupted || remaining <= 0) throw e
          remaining -= 1
          sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** POST the file at `body` to `endpoint/?query=<query>` with chunked
    * transfer encoding (bounded buffering regardless of body size); non-2xx →
    * IOException carrying the server's error text (the reference surfaces
    * ClickHouse's exception body the same way).
    */
  def post(endpoint: String, query: String, body: Path): Unit = {
    val url = URI.create(
      endpoint + "/?query=" + URLEncoder.encode(query, StandardCharsets.UTF_8)).toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      conn.setChunkedStreamingMode(1 << 16) // 64 KiB chunks, never whole-body
      val out = conn.getOutputStream
      try { Files.copy(body, out); out.flush() } finally out.close()
      val code = conn.getResponseCode
      if (code / 100 != 2) {
        val err = Option(conn.getErrorStream)
          .map(s => new String(s.readAllBytes(), StandardCharsets.UTF_8))
          .getOrElse("")
        throw new IOException(s"insert failed: HTTP $code $err")
      }
      // drain so the connection is reusable
      val in = conn.getInputStream
      try in.readAllBytes() finally in.close()
    } finally conn.disconnect()
  }

  /** `foreachBatch` sink: every partition posts its rows as one
    * `INSERT INTO … FORMAT TabSeparated` with retry. Any partition that
    * exhausts its retries fails the Spark task → the micro-batch fails → the
    * checkpoint does not advance → the batch replays (at-least-once). The
    * partition is written once to a local temp file (executor-local disk,
    * like shuffle spill); retries re-stream the file.
    */
  def insertSink(endpoint: String, table: String, schema: StructType,
                 tries: Int = 3, delayMs: Long = 100): (DataFrame, Long) => Unit = {
    val query = ClickHouseDdl.insertDdl(table, schema) + " FORMAT TabSeparated"
    (batch: DataFrame, _: Long) =>
      batch.foreachPartition { (rows: Iterator[Row]) =>
        if (rows.hasNext) {
          val tmp = Files.createTempFile("graft-ch-insert-", ".tsv")
          try {
            val out = new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)
            try rows.foreach(writeTsvRow(_, out)) finally out.close()
            retry(tries, delayMs)(post(endpoint, query, tmp))
          } finally Files.deleteIfExists(tmp)
        }
      }
  }

  /** [[insertSink]] with the reference sink's BATCHING contract
    * (`sink.rs:94-170`: rows buffer into blocks of `CH__MAX_BLOCK_SIZE`,
    * and an insert is dispatched when the rate-limit window elapses): a
    * partition's rows are split into blocks of at most `maxRows`, and a
    * block also flushes once it has been open for `maxDelayMs` — so one
    * POST is never unboundedly large (the reference's `413 Payload Too
    * Large` concern, sink.rs:326) and a slow, trickling upstream iterator
    * still flushes its open block within `maxDelayMs` OF THE NEXT ROW
    * ARRIVING. The delay bound is pull-model: the clock is checked as each
    * row arrives, so an upstream that STALLS entirely (hasNext blocking
    * indefinitely) keeps its open block unflushed until the next row or
    * iterator end — a wall-clock bound under a stall would need a flush
    * thread, which foreachPartition's single-threaded iterator contract
    * doesn't justify here (a stalled micro-batch is already a failed/
    * retried task at the streaming layer).
    *
    * Delivery semantics are UNCHANGED from [[insertSink]]: each block
    * retries with fixed delay; an exhausted block fails the task, the
    * micro-batch replays, and earlier already-posted blocks of that
    * partition duplicate — at-least-once, collapsed to exactly-once by the
    * ReplacingMergeTree DDL. `nanoTime` is injectable so specs can drive
    * the delay flush deterministically.
    */
  def insertSinkBatched(endpoint: String, table: String, schema: StructType,
                        maxRows: Int = 4096, maxDelayMs: Long = 10000,
                        tries: Int = 3, delayMs: Long = 100,
                        nanoTime: () => Long = () => System.nanoTime())
                       : (DataFrame, Long) => Unit = {
    require(maxRows > 0, "maxRows must be positive")
    val query = ClickHouseDdl.insertDdl(table, schema) + " FORMAT TabSeparated"
    (batch: DataFrame, _: Long) =>
      batch.foreachPartition { (rows: Iterator[Row]) =>
        var tmp: Path = null
        var out: BufferedOutputStream = null
        var n = 0
        var openedAt = 0L
        def open(): Unit = {
          tmp = Files.createTempFile("graft-ch-insert-", ".tsv")
          out = new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)
          n = 0
          openedAt = nanoTime()
        }
        def flush(): Unit = {
          out.close(); out = null
          try retry(tries, delayMs)(post(endpoint, query, tmp))
          finally { Files.deleteIfExists(tmp); tmp = null }
        }
        try {
          while (rows.hasNext) {
            if (out == null) open()
            writeTsvRow(rows.next(), out)
            n += 1
            if (n >= maxRows || (nanoTime() - openedAt) / 1000000L >= maxDelayMs)
              flush()
          }
          if (out != null) flush()
        } finally {
          if (out != null) out.close()
          if (tmp != null) Files.deleteIfExists(tmp)
        }
      }
  }
}
