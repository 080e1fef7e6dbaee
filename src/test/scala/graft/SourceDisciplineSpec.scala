package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Mechanical enforcement of SURVEY §4's "no driver loops" claim (§4.1
  * appendix row): `.collect()` in operator code is allowed ONLY at the
  * documented bounded-routing sites — probe cell ids (≤ |queries|·nProbe),
  * frozen quantizer centroids (kc·m rows), band bucket routing
  * (≤ |batch|·bands ints), and the 1-row BPE argmax. A new collect
  * anywhere else is, by default, a corpus-sized driver materialization and
  * must either be redesigned or added here WITH its boundedness argument.
  * Harness mains (Bench/Verify/ScaleProbe/Explain/PlanScan) are exempt:
  * they materialize results by design.
  */
class SourceDisciplineSpec extends AnyFunSuite {

  private val harness = Set("Bench.scala", "Verify.scala", "ScaleProbe.scala",
    "Explain.scala", "PlanScan.scala", "SparkEntry.scala")

  // file → max allowed `.collect()` sites, each individually justified in
  // that file's scaladoc (bounded routing/model scalars, never data)
  private val allowed = Map(
    "Similarity.scala" -> 6,   // probed cells ×3, probed groups (≤ probed
                               // cells rows via _cellmap), frozen centroids,
                               // codebooks
    "NearDupScreen.scala" -> 1, // pb routing set (|batch|·bands ints)
    "Multimodal.scala" -> 1,   // pb routing set (|batch|·nBands ints)
    "Bpe.scala" -> 1,          // per-round 1-row argmax (the documented seam)
    "Graph.scala" -> 1)        // the shared rank loop's convergence scalar,
                               // run only with pageRankUntil's tolerance:
                               // ONE row (max |Δr| reduced distributedly;
                               // only the Long crosses to the driver per round)

  test("operator code collects only at the documented bounded-routing sites") {
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    val offenders = try {
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(p => harness(p.getFileName.toString))
        .flatMap { p =>
          val n = countCollects(p)
          val cap = allowed.getOrElse(p.getFileName.toString, 0)
          if (n > cap) Some(s"$p: $n .collect() sites (allowed $cap)") else None
        }.toList
    } finally walk.close()
    assert(offenders.isEmpty,
      "undocumented driver-side collect():\n" + offenders.mkString("\n"))
  }

  private def countCollects(p: Path): Int = {
    val src = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    // skip comment lines so a commented-out example doesn't count
    src.linesIterator.filterNot(l => l.trim.startsWith("//") || l.trim.startsWith("*"))
      .map { l =>
        var n = 0; var i = l.indexOf(".collect()")
        while (i >= 0) { n += 1; i = l.indexOf(".collect()", i + 1) }
        n
      }.sum
  }
}
