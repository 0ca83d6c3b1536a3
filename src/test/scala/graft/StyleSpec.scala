package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-hygiene gate — the reference repo runs black/ruff as a CI
  * formatting gate (tests/test_formatting.py); scalafmt can't resolve
  * in this offline environment, so the invariants that matter are
  * asserted directly:
  *
  *  - layout: no tabs, no trailing whitespace, bounded line length;
  *  - scale discipline: library code never calls `.collect()` — an
  *    operator that collects isn't distributed. Driver-side output is
  *    confined to the CLI mains;
  *  - `println` only in CLI mains (library code must stay silent);
  *  - one transport for the GitHub connector: under `graft/source`
  *    only `GithubHttp.scala` opens connections;
  *  - one session recipe per tree: `GraftSession.scala` in main,
  *    `GraftSuite.scala` in test.
  */
class StyleSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, Seq[String])] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
      .toSeq
  }

  private lazy val mainSources = sources("src/main/scala")
  private lazy val testSources = sources("src/test/scala")

  /** CLI mains + job entry points: the only places allowed to print
    * or collect (Bench/Verify force execution by design).
    */
  private val cliFiles = Set(
    "Bench.scala", "Verify.scala", "Explain.scala", "Scale.scala",
    "EtlJob.scala", "RunStream.scala", "RunTransform.scala", "ChunkedEtl.scala",
    "QueryProbe.scala")

  private def isCli(p: Path): Boolean = cliFiles.contains(p.getFileName.toString)

  test("no tab characters anywhere") {
    for ((p, lines) <- mainSources ++ testSources; (l, i) <- lines.zipWithIndex)
      assert(!l.contains("\t"), s"$p:${i + 1} contains a tab")
  }

  test("no trailing whitespace") {
    for ((p, lines) <- mainSources ++ testSources; (l, i) <- lines.zipWithIndex)
      assert(l == l.replaceAll("\\s+$", ""), s"$p:${i + 1} has trailing whitespace")
  }

  /** Files whose long lines are single-line JSON golden fixtures —
    * reflowing them would churn the goldens for no readability gain.
    */
  private val fixtureFiles = Set("MockGithubServer.scala", "GithubTransformSpec.scala")

  test("line length bounded (100 main / 120 test)") {
    for ((p, lines) <- mainSources; (l, i) <- lines.zipWithIndex)
      assert(l.length <= 100, s"$p:${i + 1} is ${l.length} chars")
    for ((p, lines) <- testSources
         if !fixtureFiles.contains(p.getFileName.toString);
         (l, i) <- lines.zipWithIndex)
      assert(l.length <= 120, s"$p:${i + 1} is ${l.length} chars")
  }

  test("library code never collects to the driver") {
    for ((p, lines) <- mainSources if !isCli(p); (l, i) <- lines.zipWithIndex)
      assert(!l.contains(".collect()") && !l.contains("collectAsList"),
        s"$p:${i + 1} collects in library code")
  }

  test("println confined to CLI mains") {
    for ((p, lines) <- mainSources if !isCli(p); (l, i) <- lines.zipWithIndex)
      assert(!l.contains("println("), s"$p:${i + 1} prints in library code")
  }

  test("only GithubHttp opens connections in the source connector") {
    val source = Paths.get("src/main/scala/graft/source")
    for ((p, lines) <- mainSources
         if p.startsWith(source) && p.getFileName.toString != "GithubHttp.scala";
         (l, i) <- lines.zipWithIndex)
      assert(!l.contains("openConnection") && !l.contains("java.net.http"),
        s"$p:${i + 1} opens its own connection")
  }

  test("one session recipe per tree") {
    val recipe = "(SparkSession|GraftSession)\\s*\\.\\s*builder".r
    def code(l: String): String =
      if (l.trim.startsWith("*") || l.trim.startsWith("/*")) "" else l.split("//", 2).head
    for ((files, home) <- Seq(mainSources -> "GraftSession.scala", testSources -> "GraftSuite.scala");
         (p, lines) <- files if p.getFileName.toString != home;
         (l, i) <- lines.zipWithIndex)
      assert(recipe.findFirstIn(code(l)).isEmpty, s"$p:${i + 1} builds its own session")
  }
}
