package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** No JVM-global system property may steer engine code: a `sys.props` read
  * at plan time leaks between sessions in one JVM and keeps a second plan
  * shape alive behind a switch nobody benchmarks. Plan alternatives are
  * compared across commits instead. The only reads allowed are the ones
  * that carry no plan choice: the temp dir and user name for scratch paths,
  * and the output dir Verify hands to the a23 forensic sidecar.
  */
class PlanGlobalsSpec extends AnyFunSuite {

  private val allowedKeys = Set("java.io.tmpdir", "user.name", "graft.verify.out")

  private val propAccess = """(?:sys\.props|System\.getProperty)""".r
  private val literalKey =
    """(?:sys\.props(?:\.(?:get|getOrElse|contains|remove))?|System\.getProperty)\s*\(\s*"([^"]*)"""".r

  /** Each system-property access on a non-comment line, as the literal key
    * it names, or `None` when the key is not a string literal.
    */
  private def propKeys(src: String): Seq[Option[String]] =
    src.linesIterator
      .filterNot(l => l.trim.startsWith("//") || l.trim.startsWith("*"))
      .flatMap { l =>
        val keys = literalKey.findAllMatchIn(l).map(m => Some(m.group(1))).toSeq
        keys ++ Seq.fill(propAccess.findAllMatchIn(l).size - keys.size)(None)
      }.toSeq

  test("the scanner sees literal, get/getOrElse and non-literal reads") {
    val src = Seq(
      """val a = sys.props("java.io.tmpdir")""",
      """val b = sys.props.get("graft.bandjoin").contains("off")""",
      """val c = sys.props.getOrElse("user.name", "u")""",
      """val d = sys.props.get(key)""",
      """// sys.props.get("graft.commented") is not code""",
      """val e = System.getProperty("graft.x")""").mkString("\n")
    assert(propKeys(src) == Seq(Some("java.io.tmpdir"), Some("graft.bandjoin"),
      Some("user.name"), None, Some("graft.x")))
  }

  test("engine code reads no system property outside the allowlist") {
    val root = Paths.get("src/main/scala")
    assert(Files.exists(root), s"run from the repo root (cwd=${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    val offenders = try {
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { p: Path =>
          val src = new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
          propKeys(src).filterNot(_.exists(allowedKeys)).map(k =>
            s"$p: ${k.getOrElse("<non-literal key>")}")
        }
    } finally walk.close()
    assert(offenders.isEmpty, "system-property reads outside the allowlist:\n" +
      offenders.mkString("\n"))
  }
}
