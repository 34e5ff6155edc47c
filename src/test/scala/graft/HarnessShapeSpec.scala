package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the harness collapsed: one session builder ([[Sessions]]), four
  * mains (and one test-side probe), one session-memo implementation
  * ([[SessionMemo]]). A new diagnostic is a `Diag` mode and a new
  * session cache is a `SessionMemo`, not another copy. */
class HarnessShapeSpec extends AnyFunSuite {

  private def scalaSources(root: Path): Seq[(Path, String)] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => (p, new String(Files.readAllBytes(p), "UTF-8")))
    finally walk.close()
  }

  private lazy val sources = scalaSources(Paths.get("src", "main", "scala"))

  private def filesMatching(pattern: String): Seq[String] =
    sources.collect { case (p, text) if pattern.r.findFirstIn(text).isDefined =>
      p.getFileName.toString }.sorted

  test("SparkSession.builder appears only in Sessions") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""") == Seq("Sessions.scala"))
  }

  test("mains are exactly Bench, Verify, Join and Diag") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = sources.flatMap { case (_, text) =>
      val objects = objectDecl.findAllMatchIn(text).map(m => (m.start, m.group(1))).toList
      def enclosing(at: Int): String =
        objects.takeWhile(_._1 < at).lastOption.map(_._2).getOrElse("?")
      """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map(m => enclosing(m.start)) ++
        """\bobject\s+(\w+)[^{]*\bextends\s+App\b""".r.findAllMatchIn(text).map(_.group(1))
    }
    assert(mains.sorted == Seq("Bench", "Diag", "Join", "Verify"))
  }

  test("the only main under src/test is SessionMemoProbe") {
    // SessionMemoSpec runs the probe in a child JVM; a measurement
    // belongs in a spec or a Diag mode, where it runs and cannot rot
    val withMain = scalaSources(Paths.get("src", "test", "scala")).collect {
      case (p, text) if """\bdef\s+main\s*\(""".r.findFirstIn(text).isDefined =>
        p.getFileName.toString
    }
    assert(withMain == Seq("SessionMemoProbe.scala"))
  }

  test("session eviction lives only in SessionMemo") {
    assert(filesMatching("""\bclass\s+SessionMemo\b""") == Seq("SessionMemo.scala"))
    assert(filesMatching("""\bisStopped\b""") == Seq("SessionMemo.scala"))
    assert(filesMatching("""\bfilterInPlace\b""").isEmpty)
  }
}
