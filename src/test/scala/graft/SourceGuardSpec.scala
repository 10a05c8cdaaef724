package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine jar carries no measurement tooling and no undocumented knobs:
  * probe mains and variant switches belong in a scratch checkout, and a
  * knob the README does not explain is one nobody can set on purpose. And
  * every keyed write publishes through one of KeyedTable's two tails, so a
  * change to the commit protocol is made once, not per write path.
  */
class SourceGuardSpec extends AnyFunSuite {

  private lazy val sources: Map[String, String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => p.toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def filesMatching(pattern: String): Set[String] =
    sources.collect {
      case (path, text) if pattern.r.findFirstIn(text).isDefined =>
        Paths.get(path).getFileName.toString.stripSuffix(".scala")
    }.toSet

  /** The method enclosing each call site of `call` (the nearest `def`
    * above it), over every main source file, sorted.
    */
  private def callers(call: String): Seq[String] = {
    val site = ("(?<!def )" + java.util.regex.Pattern.quote(call)).r
    val defn = raw"\bdef\s+(\w+)".r
    sources.values.toSeq.flatMap { text =>
      site.findAllMatchIn(text).map(m =>
        defn.findAllMatchIn(text.substring(0, m.start)).toSeq.last.group(1))
    }.sorted
  }

  test("only Main, Bench and Verify define a main") {
    assert(filesMatching(raw"def main\(") === Set("Main", "Bench", "Verify"))
  }

  test("only Bench registers a SparkListener") {
    assert(filesMatching("SparkListener") === Set("Bench"))
  }

  test("the env/property names the engine reads equal README's knob table") {
    val read = raw"(sys\.env|sys\.props|System\.getProperty|System\.getenv)"
    val named = (read + raw"""(\.getOrElse|\.get|\.contains)?\(\s*"([^"]+)"""").r
    val reads = sources.values.toSeq.map(read.r.findAllIn(_).size).sum
    val names = sources.values.toSeq.flatMap(named.findAllMatchIn(_).map(_.group(3)))
    assert(names.size === reads,
      "every sys.env/sys.props/System.getProperty read must name its knob as a literal")

    val readme = Files.readString(Paths.get("README.md"))
    val start = readme.indexOf("### Environment knobs")
    assert(start >= 0, "README.md lost its '### Environment knobs' table")
    val end = readme.indexOf("\n#", start + 1)
    val table = readme.substring(start, if (end < 0) readme.length else end)
    val documented = raw"(?m)^\| `([^`]+)` \|".r.findAllMatchIn(table).map(_.group(1)).toSet
    assert(names.toSet === documented,
      "README's knob table and the names read in src/main/scala differ")
  }

  test("every keyed table write lands its delta batch through one method") {
    assert(callers("Deltas.write(") === Seq("writeDeltaCounted"))
  }

  test("every partition swap runs in the rewrite tail or a named own tail") {
    // reclaim decides its ddl between the swap and the publish, and
    // materialize publishes zero counts: the two commits that keep their
    // own tail instead of KeyedTable.rewriteCommit
    assert(callers("stageAndSwap(") === Seq("materialize", "reclaim", "rewriteCommit"))
  }
}
