package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  private val body: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  test("a registry that declares an id twice fails, naming the id") {
    val e = intercept[IllegalArgumentException](Registry.unique(Seq(
      Case("q1_twice", body, Some("SELECT 1")),
      Case("q2_once", body, None),
      Case("q1_twice", body, Some("SELECT 2")))))
    assert(e.getMessage.contains("q1_twice"))
    assert(!e.getMessage.contains("q2_once"))
  }

  private val Run = 10

  /** The non-blank lines of every `"""` literal of `text`, trimmed, each
    * with its place `name:line`.
    */
  private def literalLines(name: String, text: String): Seq[Seq[(String, String)]] = {
    val q = "\"\"\""
    val out = Seq.newBuilder[Seq[(String, String)]]
    var open = text.indexOf(q)
    while (open >= 0) {
      var close = text.indexOf(q, open + 3)
      while (text.startsWith("\"", close + 3)) close += 1
      val first = text.substring(0, open).count(_ == '\n') + 1
      out += text.substring(open + 3, close).split("\n", -1).toSeq.zipWithIndex
        .collect { case (l, i) if l.trim.nonEmpty => (l.trim, s"$name:${first + i}") }
      open = text.indexOf(q, close + 3)
    }
    out.result()
  }

  /** One message per stretch of literal lines that copies an earlier
    * run of [[Run]] consecutive lines, naming both places.
    */
  private def repeatedRuns(sources: Seq[(String, String)]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[Seq[String], String]
    for {
      (name, text) <- sources
      lit <- literalLines(name, text)
      runs = lit.sliding(Run).filter(_.size == Run).toSeq
      repeats = runs.map { run =>
        val first = seen.get(run.map(_._1))
        if (first.isEmpty) seen(run.map(_._1)) = run.head._2
        first
      }
      (first, i) <- repeats.zipWithIndex
      if first.isDefined && (i == 0 || repeats(i - 1).isEmpty)
    } yield s"${runs(i).head._2} repeats ${first.get}"
  }

  test("the lint finds a run repeated across two literals and within one") {
    val lines = (1 to Run).map(i => s"  c$i AS (SELECT $i),")
    val q = "\"\"\""
    val twice = s"val a = $q\n${lines.mkString("\n")}\n$q\nval b = $q\n\n" +
      s"${lines.map("    " + _).mkString("\n")}\n$q\n"
    assert(repeatedRuns(Seq("A.scala" -> twice)) == Seq("A.scala:15 repeats A.scala:2"))
    val within = s"val c = $q\n${(lines ++ lines).mkString("\n")}$q"
    assert(repeatedRuns(Seq("B.scala" -> within)) == Seq("B.scala:12 repeats B.scala:2"))
    assert(repeatedRuns(Seq("C.scala" -> s"val d = $q\n${lines.init.mkString("\n")}$q",
      "D.scala" -> s"val e = $q\n${lines.init.mkString("\n")}$q")).isEmpty)
  }

  test("no run of oracle SQL lines is written twice in the query registry") {
    val dir = new File("src/main/scala/graft/queries")
    val sources = dir.listFiles().filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(sources.length >= Registry.families.size)
    val repeats = repeatedRuns(sources.toSeq)
    assert(repeats.isEmpty,
      s"${repeats.size} runs of $Run literal lines are copies; name the chain once " +
        s"as a fragment beside its queries (or in Shared):\n${repeats.mkString("\n")}")
  }
}
