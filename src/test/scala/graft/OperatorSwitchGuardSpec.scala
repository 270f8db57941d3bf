package graft

import org.scalatest.funsuite.AnyFunSuite

/** An operator's plan is chosen by its inputs alone: no code under
  * `operators/` or `functions/` reads a JVM property or an environment
  * variable, except the deployment setting listed here (the enrichment
  * service address). */
class OperatorSwitchGuardSpec extends AnyFunSuite {

  private val roots = Seq("operators", "functions")
    .map(d => new java.io.File(s"src/main/scala/graft/$d"))

  private val read = """sys\.props|sys\.env|System\.getProperty|System\.getenv""".r

  /** (file name, trimmed source line) of every permitted read. */
  private val allowed = Seq(
    "LlmEnrich.scala" ->
      """def transportFromEnv(env: Map[String, String] = sys.env): Transport =""")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    }

  test("operators and functions read no process-global switch") {
    val files = roots.flatMap(scalaFiles)
    assert(files.exists(_.getName == "Similarity.scala"),
      s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    val found = for {
      f <- files
      src = scala.io.Source.fromFile(f, "UTF-8")
      line <- try src.getLines().toList finally src.close()
      _ <- read.findAllIn(line)
    } yield f.getName -> line.trim
    val unexpected = found.diff(allowed)
    val missing = allowed.diff(found)
    if (unexpected.nonEmpty || missing.nonEmpty)
      fail("unexpected reads:" + unexpected.mkString("\n  ", "\n  ", "") +
        "\nallowed reads not found:" + missing.mkString("\n  ", "\n  ", ""))
  }
}
