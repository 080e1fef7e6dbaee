package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** No JVM-global system property may steer engine code: a `sys.props` read
  * at plan time leaks between sessions in one JVM and keeps a second plan
  * shape alive behind a switch nobody benchmarks. Plan alternatives are
  * compared across commits instead. The only reads allowed are the ones
  * that carry no plan choice: the temp dir and user name for scratch paths,
  * and the output dir Verify hands to the a23 forensic sidecar. The same
  * holds for set/restore windows on the shared session's conf: only the
  * allowlisted sites below write it.
  */
class PlanGlobalsSpec extends AnyFunSuite {

  private val allowedKeys = Set("java.io.tmpdir", "user.name", "graft.verify.out")

  private val propAccess = """(?:sys\.props|System\.getProperty)""".r
  private val literalKey =
    """(?:sys\.props(?:\.(?:get|getOrElse|contains|remove))?|System\.getProperty)\s*\(\s*"([^"]*)"""".r

  /** File name → session-conf writes allowed. A set/restore window on the
    * shared session changes the plan of every query built while it is open,
    * so engine code gets its plan properties from the plan instead.
    */
  private val allowedConfWrites = Map(
    "SparkEntry.scala" -> 4, // configures the host's session once, at entry
    "AbProbe.scala" -> 2,    // the A/B flip is the probe's whole purpose
    "Queries.scala" -> 3)    // b54: its three confs must hold while it materializes

  private val confWrite = """\.conf\.(?:set|unset)\(""".r

  /** Each system-property access on a non-comment line, as the literal key
    * it names, or `None` when the key is not a string literal.
    */
  private def propKeys(src: String): Seq[Option[String]] =
    codeLines(src).flatMap { l =>
      val keys = literalKey.findAllMatchIn(l).map(m => Some(m.group(1))).toSeq
      keys ++ Seq.fill(propAccess.findAllMatchIn(l).size - keys.size)(None)
    }

  /** Session-conf writes (`.conf.set(` / `.conf.unset(`) on non-comment lines. */
  private def confWrites(src: String): Int =
    codeLines(src).map(confWrite.findAllMatchIn(_).size).sum

  private def codeLines(src: String): Seq[String] =
    src.linesIterator
      .filterNot(l => l.trim.startsWith("//") || l.trim.startsWith("*")).toSeq

  test("the scanner sees literal, get/getOrElse and non-literal reads") {
    val src = Seq(
      """val a = sys.props("java.io.tmpdir")""",
      """val b = sys.props.get("graft.bandjoin").contains("off")""",
      """val c = sys.props.getOrElse("user.name", "u")""",
      """val d = sys.props.get(key)""",
      """// sys.props.get("graft.commented") is not code""",
      """val e = System.getProperty("graft.x")""",
      """try s.conf.set(k, "-1") finally { s.conf.unset(k); s.conf.set(k, v) }""",
      """// spark.conf.set("commented", "x") is not code""").mkString("\n")
    assert(propKeys(src) == Seq(Some("java.io.tmpdir"), Some("graft.bandjoin"),
      Some("user.name"), None, Some("graft.x")))
    assert(confWrites(src) == 3)
  }

  /** (path, source) of every engine source file. */
  private def engineSources(): List[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
    finally walk.close()
  }

  test("engine code reads no system property outside the allowlist") {
    val offenders = engineSources().flatMap { case (p, src) =>
      propKeys(src).filterNot(_.exists(allowedKeys)).map(k =>
        s"$p: ${k.getOrElse("<non-literal key>")}")
    }
    assert(offenders.isEmpty, "system-property reads outside the allowlist:\n" +
      offenders.mkString("\n"))
  }

  test("engine code writes the session conf only at the allowlisted sites") {
    val offenders = engineSources().flatMap { case (p, src) =>
      val n = confWrites(src)
      val cap = allowedConfWrites.getOrElse(p.getFileName.toString, 0)
      if (n > cap) Some(s"$p: $n session-conf writes (allowed $cap)") else None
    }
    assert(offenders.isEmpty, "session-conf writes outside the allowlist:\n" +
      offenders.mkString("\n"))
  }
}
