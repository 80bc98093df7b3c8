package graft

import org.scalatest.funsuite.AnyFunSuite

/** OPERATORS.md is GENERATED — this golden spec is what keeps it honest:
  * re-render from the current sources and diff against the checked-in
  * page, so a new query or a moved operator fails the suite until
  * `runMain graft.OperatorIndex` is re-run. Completeness (every declared
  * `SparkEntry.queries` id appears) is enforced inside the renderer
  * itself (`render` throws on a missing id); the golden equality makes
  * that check reach the committed artifact too.
  */
class OperatorIndexSpec extends AnyFunSuite {

  test("OPERATORS.md is current: regenerated == checked in, all query ids present") {
    val rendered = OperatorIndex.generate(".")
    val checkedIn = new String(
      java.nio.file.Files.readAllBytes(new java.io.File("OPERATORS.md").toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(rendered == checkedIn,
      "OPERATORS.md is stale — run `sbt \"runMain graft.OperatorIndex\"`")
    // belt and braces: every declared query id appears as a table row
    SparkEntry.queries.keySet.foreach { q =>
      assert(checkedIn.contains(s"| $q |"), s"missing index row for $q")
    }
  }

  test("operators called through apply are indexed as Obj.apply at the apply def") {
    val rows = OperatorIndex.generate(".").linesIterator.toSeq
    assert(rows.contains("| q14_matchmerge_inner | `MatchMerge.apply` | See the query body |"))
    assert(rows.contains("| q19_locf | `NaLocfPlusOne.apply` | See the query body |"))
    val applyDef = raw"\| `MatchMerge\.apply` \| src/main/scala/graft/ops/MatchMerge\.scala:(\d+) \|.*".r
    val line = rows.collectFirst { case applyDef(l) => l.toInt }
    assert(line.nonEmpty, "no operator row for MatchMerge.apply")
    val src = scala.io.Source.fromFile("src/main/scala/graft/ops/MatchMerge.scala", "UTF-8")
    try assert(src.getLines().drop(line.get - 1).next().trim.startsWith("def apply("))
    finally src.close()
  }
}
