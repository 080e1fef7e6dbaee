package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Formats

class FormatsSpec extends AnyFunSuite with SparkTestBase {

  private lazy val src = graft.operators.HttpLog.view(Tables.events(spark, sfDir))
    .select("log_id", "resource_id", "response_status", "cache_status", "remote_addr", "url")

  private def roundTrip(name: String)(write: (DataFrame, String) => Unit,
                                      read: String => DataFrame): Unit = {
    withTempDir(s"graft_fmt_$name") { tmp =>
      write(src, tmp)
      val back = read(tmp)
      assert(back.count() == src.count())
      val a = src.orderBy("log_id").collect()
      val b = back.orderBy("log_id").collect()
      assert(a.sameElements(b), s"$name round trip altered rows")
    }
  }

  test("orc round trip") {
    roundTrip("orc")(Formats.writeOrc, p => Formats.readOrc(spark, p))
  }

  test("csv round trip") {
    roundTrip("csv")(Formats.writeCsv, p => Formats.readCsv(spark, p, src))
  }

  test("json lines round trip") {
    roundTrip("json")(Formats.writeJsonLines, p => Formats.readJsonLines(spark, p, src))
  }

  test("jsonl dead-letter split keeps good rows exact and corrupt lines traceable") {
    import spark.implicits._
    withTempDir("graft_jsonl_dlq") { tmp =>
      val lines = Seq(
        """{"doc_id": 1, "text": "alpha"}""",
        """{"doc_id": 2, "text": "beta"}""",
        """{"doc_id": 3, "text": "gamma" INVALID}""", // broken JSON
        """not json at all""",
        """{"doc_id": 5, "text": "epsilon"}""")
      lines.toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
      val schemaFrom = Seq((0L, "")).toDF("doc_id", "text")
      val (good, dead) = Formats.readJsonLinesWithDlq(spark, tmp, schemaFrom)
      assert(good.count() == 3)
      assert(good.columns.toSeq == Seq("doc_id", "text"), "no corrupt col leaks")
      assert(good.orderBy("doc_id").collect().map(_.getString(1)).toSeq ==
        Seq("alpha", "beta", "epsilon"))
      val deadLines = dead.collect().map(_.getString(0)).toSet
      assert(deadLines.size == 2, s"got $deadLines")
      assert(deadLines.exists(_.contains("INVALID")) &&
        deadLines.contains("not json at all"),
        "dead lines must carry the raw text for the failure bucket")
    }
  }

  test("approximate sketches stay within error bounds of exact values") {
    val hl = graft.operators.HttpLog.view(Tables.events(spark, sfDir))
    val row = hl.agg(
      countDistinct("remote_addr").as("exact_d"),
      approx_count_distinct("remote_addr", 0.02).as("approx_d"),
      expr("percentile(bytes_sent, 0.95)").as("exact_p95"),
      expr("approx_percentile(bytes_sent, 0.95, 1000)").as("approx_p95")).head()
    val (ed, ad) = (row.getLong(0), row.getLong(1))
    assert(math.abs(ad - ed).toDouble / ed < 0.1, s"HLL off: exact=$ed approx=$ad")
    val (ep, ap) = (row.getDouble(2), row.getLong(3).toDouble)
    assert(math.abs(ap - ep) / math.max(ep, 1.0) < 0.1, s"quantile off: $ep vs $ap")
  }
}
