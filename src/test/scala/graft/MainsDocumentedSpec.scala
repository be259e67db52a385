package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `main` under src/main/scala is named, with a way to run it
  * (`runMain <main>` or a `-cp <classpath> <main>` command line), by
  * README.md or a file under docs/ — so a dev-loop main cannot stay in
  * the tree with nobody told how to run it. */
class MainsDocumentedSpec extends AnyFunSuite {
  private def files(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  /** Fully qualified name of every object that declares `def main`. */
  private val mains: Seq[String] = files("src/main/scala").filter(_.toString.endsWith(".scala"))
    .flatMap { f =>
      val src = Files.readString(f)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".")
        .getOrElse("")
      val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src).toList
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        pkg + objects.filter(_.start < m.start).last.group(1)
      }
    }.distinct.sorted

  private val docs: String =
    (Paths.get("README.md") +: files("docs")).map(Files.readString).mkString("\n")

  test("the scan finds the Bench and Verify entry points") {
    assert(Seq("graft.Bench", "graft.Verify").forall(mains.contains), mains)
  }

  test("README.md or docs/ gives a way to run every main") {
    val undocumented = mains.filterNot { m =>
      ("""(runMain|-cp\s+\S+)\s+""" + java.util.regex.Pattern.quote(m) + """(?![\w.])""").r
        .findFirstIn(docs).isDefined
    }
    assert(undocumented.isEmpty, s"no run instructions in README.md or docs/ for: $undocumented")
  }
}
