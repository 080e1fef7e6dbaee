package graft

import java.nio.file.{Files, Paths}

import org.json4s.{DefaultFormats, Formats, JValue}
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

import graft.telemetry.ActionTrace

class ActionTraceSpec extends AnyFunSuite with SparkTestBase {
  private implicit val formats: Formats = DefaultFormats

  /** (listeners on the context's bus, the session's execution listeners),
    * read through Spark's package-private accessors.
    */
  private def registered(): (Int, Int) = {
    val (sc, lm) = (spark.sparkContext, spark.listenerManager)
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    (bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size,
      lm.getClass.getMethod("listListeners").invoke(lm).asInstanceOf[Array[_]].length)
  }

  test("a body that throws leaves the recorder unregistered") {
    // the session's execution-listener bus joins the context's bus for good
    // at the first registration, so count after one
    ActionTrace.during(spark)(())
    val before = registered()
    var inside = (0, 0)
    val e = intercept[IllegalStateException](ActionTrace.during(spark) {
      spark.range(10).count()
      inside = registered()
      throw new IllegalStateException("body failed")
    })
    assert(e.getMessage == "body failed")
    assert(inside == ((before._1 + 1, before._2 + 1)), s"registered inside the body: $inside vs $before")
    assert(registered() == before, "listeners left registered after a throwing body")
  }

  test("Bench writes the record of each query's reported pass, its totals summing its stage rows") {
    val names = Set("b01_pricing_summary", "c06_clean_corpus")
    val qs = Queries.all.filter(q => q.bench && names(q.name))
    qs.foreach(q => Bench.timedPass(spark)(q.fn(spark, sfDir))) // warm
    val best = collection.mutable.Map.empty[String, Bench.QueryRecord]
    val samples = (for (_ <- 1 to 2; q <- qs) yield q.name -> Bench.recordedPass(spark, sfDir, q, best))
      .groupMap(_._1)(_._2)
    withTempDir("graft_bench_record") { dir =>
      val path = Paths.get(dir, "target", "bench_record.json")
      Bench.writeRecord(path, sfDir, qs.map(q => best(q.name)))
      val json = parse(Files.readString(path))
      assert((json \ "sf").extract[String] == sfDir)
      val records = (json \ "queries").children
      assert(records.map(r => (r \ "query").extract[String]).toSet == names)
      records.foreach { r =>
        def int(f: String, in: JValue = r) = (in \ f).extract[Int]
        val (q, rows) = ((r \ "query").extract[String], (r \ "stageRows").children)
        assert((r \ "seconds").extract[Double] == samples(q).min, s"$q: not the reported pass")
        assert(rows.nonEmpty && int("stages") == rows.size, s"$q: stages")
        assert(int("tasks") == rows.map(int("tasks", _)).sum, s"$q: tasks")
        assert(int("jobs") == rows.map(int("job", _)).distinct.size, s"$q: jobs")
        val executions = (r \ "executions").children
        assert(executions.nonEmpty && int("sqlExecutions") >= executions.size, s"$q: executions")
        executions.foreach { e =>
          val phases = (e \ "phasesMs").extract[Map[String, Long]]
          assert(Set("analysis", "optimization", "planning").subsetOf(phases.keySet),
            s"$q: tracker phases $phases")
          assert((e \ "plan").extract[String].nonEmpty, s"$q: no plan")
        }
      }
    }
  }
}
