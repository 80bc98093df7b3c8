package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A scaladoc attaches to the definition that follows it, so a doc
  * block followed (blank lines apart) by another doc block documents
  * nothing: its text is lost from the generated docs and reads as the
  * next definition's. No Spark session.
  */
class ScaladocLintSpec extends AnyFunSuite {

  /** `file:line->line` for every doc block directly followed by another. */
  private def stackedDocs(sources: Seq[(String, String)]): Seq[String] =
    sources.flatMap { case (name, text) =>
      val lines = text.split("\n", -1).toIndexedSeq
      def next(from: Int): Int = {
        var j = from
        while (j < lines.length && lines(j).trim.isEmpty) j += 1
        j
      }
      var i = 0
      val found = Seq.newBuilder[String]
      while (i < lines.length) {
        if (lines(i).trim.startsWith("/**")) {
          val start = i
          while (i < lines.length && !lines(i).contains("*/")) i += 1
          val j = next(i + 1)
          if (j < lines.length && lines(j).trim.startsWith("/**"))
            found += s"$name:${start + 1}->${j + 1}"
        }
        i += 1
      }
      found.result()
    }

  test("the lint finds a doc stacked on another doc, and only that") {
    val src = Seq(
      "  /** Orphan. */", "", "  /** Owner,", "    * two lines.", "    */",
      "  def a = 1", "", "  /** One. */", "  def b = 2", "", "  // heading",
      "  /** Two. */", "  def c = 3").mkString("\n")
    assert(stackedDocs(Seq("A.scala" -> src)) == Seq("A.scala:1->3"))
  }

  test("no scaladoc under src/main is stacked on another") {
    val root = Paths.get("src/main")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty)
    val stacked = stackedDocs(files.map((p: Path) =>
      p.toString -> new String(Files.readAllBytes(p), "UTF-8")))
    assert(stacked.isEmpty,
      s"${stacked.size} scaladocs document nothing; move each to its " +
        s"definition, merge the halves, or make a heading a // line:\n" +
        stacked.mkString("\n"))
  }
}
