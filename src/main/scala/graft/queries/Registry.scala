package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its DataFrame body and, where the semantics are
  * ANSI-SQL-expressible, the DuckDB SQL that must return the same rows.
  * `oracle = None` marks a designed no-oracle twin (the production
  * variant of a portable, oracled query).
  */
final case class Case(
    id: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** A family of driver queries: one object, declared in the file of the
  * same name in this package (`OperatorIndex` reads the bodies there).
  */
trait Family {
  def cases: Seq[Case]
}

/** Every driver query, each declared once in its family. `SparkEntry`'s
  * `queries` and `oracleSql` and the `OPERATORS.md` index derive from it.
  */
object Registry {

  val families: Seq[Family] = Seq(
    SqlQueries, ReferenceQueries, ProfileQueries, EventQueries, DedupQueries,
    SimilarityQueries, TextQueries, TokenQueries, CurationQueries)

  val cases: Seq[Case] = unique(families.flatMap(_.cases))

  /** `cases` unchanged, after checking that no id is declared twice: a
    * repeated id would otherwise silently drop a query from the maps.
    */
  def unique(cases: Seq[Case]): Seq[Case] = {
    val repeated = cases.groupBy(_.id).collect { case (id, cs) if cs.size > 1 => id }
    require(repeated.isEmpty,
      s"query id(s) declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    cases
  }
}
