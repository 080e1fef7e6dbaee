package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe's argument resolution against its mode table. No session is
  * ever started: resolving (and building every probe list) must not touch
  * Spark, so a mistyped name fails before any inflation or probe runs.
  */
class ScaleProbeSpec extends AnyFunSuite {

  private def noSession: SparkSession = fail("argument resolution started a session")

  private def resolve(args: String*) = ScaleProbe.resolve(args, "/nonexistent", noSession)

  private def probeNames(args: String*): Seq[String] =
    resolve(args: _*).fold(why => fail(why), _.probes.list.map(_._1))

  test("every table mode resolves with its full probe list and no session") {
    val modes = ScaleProbe.modes
    assert(modes.map(_.name).distinct.size == modes.size)
    modes.filter(_.trailing == ScaleProbe.ProbeNames).foreach { m =>
      val run = resolve("2", m.name).fold(why => fail(why), identity)
      assert(run.label == m.name)
      assert(run.ctx.out == s"/tmp/graft_scale_${m.name}_2x")
      assert(run.probes.list.nonEmpty, m.name)
    }
    assert(resolve("2", "bucketed").isRight)
    assert(resolve().fold(why => fail(why), _.label) == "etl")
    assert(resolve().fold(why => fail(why), _.ctx.mult) == 100)
  }

  test("trailing probe names narrow every probe-list mode, in table order") {
    assert(probeNames("2", "dedup", "d03_ivf_ann_50q", "c02_minhash") ==
      Seq("c02_minhash", "d03_ivf_ann_50q"))
    assert(probeNames("2", "etl", "a04_traffic_totals") == Seq("a04_traffic_totals"))
    assert(probeNames("2", "stream", "g07_retention") == Seq("g07_retention"))
    assert(probeNames("2", "recovery", "g13_crash_recover") == Seq("g13_crash_recover"))
    assert(probeNames("2", "ann", "d08_pq") == Seq("d08_pq"))
    assert(probeNames("2", "layout", "zorder_res_point") == Seq("zorder_res_point"))
  }

  test("query-list modes take registered query names; bare names run on events") {
    assert(probeNames("2", "textq", "e22_repeated_ngrams") == Seq("e22_repeated_ngrams"))
    assert(probeNames("2", "graph", "b43_pagerank") == Seq("b43_pagerank"))
    val bare = resolve("2", "a04_traffic_totals", "a03_dedup_replacing")
      .fold(why => fail(why), identity)
    assert(bare.label == "a04_traffic_totals")
    assert(bare.mode.rows == "events")
    assert(bare.probes.list.map(_._1) == Seq("a03_dedup_replacing", "a04_traffic_totals"))
  }

  test("a name that matches nothing is rejected, not run as an empty probe") {
    Seq(
      Seq("2", "dedpu"),                                 // mistyped mode
      Seq("2", "textq", "e22_repeated_ngrams", "e22x"),  // unknown query after textq
      Seq("2", "graph", "b43_pagerannk"),                // unknown query after graph
      Seq("2", "graph"),                                 // query-list mode without queries
      Seq("2", "dedup", "c02_minhash", "c02_minhsh"),    // unknown probe after a mode
      Seq("2", "etl", "a00_pipeline_e2e", "dedup"),      // a mode is not a probe
      Seq("2", "a03_dedup_replacing", "nope"),           // unknown query after a bare name
      Seq("2", "bucketed", "many"),                      // bucket count not a number
      Seq("2", "bucketed", "0"),
      Seq("2", "bucketed", "64", "shuffle_join"),        // bucketed takes no probe names
      Seq("two", "dedup"),                               // multiplier not a number
      Seq("0", "dedup")
    ).foreach(args => assert(resolve(args: _*).isLeft, args.mkString(" ")))
    assert(resolve("2", "bucketed", "64").isRight)
  }

  test("the usage line is generated from the table") {
    val u = ScaleProbe.usage
    ScaleProbe.modes.foreach(m => assert(u.contains(s"  ${m.name} "), m.name))
    assert(u.linesIterator.size == ScaleProbe.modes.size + 2)
  }
}
