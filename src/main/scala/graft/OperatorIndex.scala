package graft

/** Generator for `OPERATORS.md` — the human index mapping every driver
  * query id to the public operator it exercises, the operator's
  * definition site, and a one-line purpose (r14 verdict #6).
  *
  * The ids and the file each query is declared in come from
  * [[graft.queries.Registry]]; each body (its leading comments and first
  * public-operator call) is read from that file, and definition sites
  * from a `def`-site scan of `src/main`. So the index cannot drift from
  * the code: the golden spec re-renders it and fails on any difference,
  * and a registry id whose body cannot be found fails the render itself.
  *
  * Usage: `runMain graft.OperatorIndex` (writes `OPERATORS.md` at the
  * repo root; pass an argument to write elsewhere).
  */
object OperatorIndex {

  final case class Entry(
      query: String, operator: String, where: String, purpose: String)

  // a case's body runs from the line after `Case("<id>", (s, d) =>` up
  // to the line that starts its `oracle =` argument
  private val caseStart = """^\s*Case\("(q\w+)", \(s, d\) =>(?: \{)?\s*$""".r
  private val oracleArg = """^\s*(\}, )?oracle = .*$"""
  // the first public operator invocation inside a query body: an
  // object (or qualified object) dot lower-case method call, or an
  // object called through its `apply` (`MatchMerge(...)`). graft's
  // function bags `text`/`vectors` are lower-case objects — matched by
  // the qualified alternative.
  private val opCall =
    ("""(?:graft\.functions\.|\b)(text|vectors)\.(\w+)\(|""" +
      // (?<![\w.]) left boundary: without it "sameLabel.groupBy(" parses
      // as a phantom operator "Label.groupBy" (round-17 review finding)
      """(?<![\w.])((?:graft\.)?(?:[a-z][a-z0-9]*\.)*[A-Z][A-Za-z0-9]*)\.([a-z]\w*)\(|""" +
      """(?<![\w.])((?:graft\.)?(?:[a-z][a-z0-9]*\.)*[A-Z][A-Za-z0-9]*)\(""").r

  /** Strip a query block's leading `//` comment run into one purpose
    * line (first sentence, capped).
    */
  private def purposeOf(body: Seq[String]): String = {
    val comment = body.takeWhile(_.trim.startsWith("//"))
      .map(_.trim.stripPrefix("//").trim).mkString(" ")
    val txt = if (comment.nonEmpty) comment else "see the query body"
    val cut = txt.indexOf(". ") match {
      case -1 => txt
      case i => txt.take(i + 1)
    }
    val t = cut.trim
    (if (t.length > 160) t.take(157) + "..." else t).capitalize
  }

  /** `appliers`: the objects whose own file under src/main defines an
    * `apply`, so `Obj(` is an operator call and not a constructor or a
    * collection literal.
    */
  private def operatorOf(body: Seq[String], appliers: Set[String]): String = {
    val noComments = body.map { l =>
      val i = l.indexOf("//")
      if (i >= 0) l.take(i) else l
    }
    // JVM/stdlib plumbing that can precede the real operator call in a
    // body (fixture building, stream-name counters) — skip past it
    val deny = Set("Array", "Counter", "Seq", "Option", "Some", "Math",
      "String", "File", "Files")
    noComments.iterator.flatMap(opCall.findAllMatchIn).collectFirst {
      case m if m.group(1) != null => s"${m.group(1)}.${m.group(2)}"
      case m if m.group(3) != null && !deny(m.group(3).split('.').last) =>
        val obj = m.group(3).stripPrefix("graft.")
        s"$obj.${m.group(4)}"
      case m if m.group(5) != null && appliers(m.group(5).split('.').last) =>
        s"${m.group(5).stripPrefix("graft.")}.apply"
    }.getOrElse("DataFrame/SQL composition")
  }

  /** `file:line` of `def <method>` under src/main (first hit, searched
    * with the object's file as a tie-break); the composition rows point
    * at the file that declares the query.
    */
  private def defSites(srcRoot: java.io.File): Map[String, Seq[(String, Int)]] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // an override (`Strategy.apply` inside GroupTopK) is never the operator
    val defRe = """^\s*(?:private\S* )?def (\w+)[\[(:]""".r
    walk(srcRoot).flatMap { f =>
      val rel = f.getPath.replaceFirst("^.*?src/main/scala/", "src/main/scala/")
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.flatMap {
        case (line, i) => defRe.findFirstMatchIn(line).map(m =>
          (m.group(1), (rel, i + 1)))
      }.toList
      finally src.close()
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** The body of case `id` in `source`, the lines of the file declaring it. */
  private def bodyOf(id: String, file: String, source: Seq[String]): Seq[String] = {
    val start = source.indexWhere {
      case caseStart(q) => q == id
      case _ => false
    }
    require(start >= 0, s"query $id is not declared in $file")
    source.drop(start + 1).takeWhile(!_.matches(oracleArg))
  }

  /** Index entries for `(id, declaring file, body)` triples. */
  def entries(bodies: Seq[(String, String, Seq[String])], srcRoot: java.io.File): Seq[Entry] = {
    val sites = defSites(srcRoot)
    val appliers = sites.getOrElse("apply", Nil).map { case (f, _) =>
      f.split('/').last.stripSuffix(".scala") }.toSet
    bodies.map { case (q, file, body) =>
      val op = operatorOf(body, appliers)
      val where = op match {
        case "DataFrame/SQL composition" => file
        case o =>
          val m = o.split('.').last
          val hits = sites.getOrElse(m, Nil)
          // case-INSENSITIVE file match: the function bags are lowercase
          // objects in lowercase files (text.scala), where capitalize
          // could never match and the alphabetically-first definition
          // (a different object's) won the citation
          val objFile = o.split('.').dropRight(1).lastOption.map(_.toLowerCase)
          hits.sortBy { case (f, _) =>
            (if (objFile.exists(of =>
              f.toLowerCase.endsWith(s"/$of.scala"))) 0 else 1, f)
          }.headOption.map { case (f, l) => s"$f:$l" }
            .getOrElse(file)
      }
      Entry(q, op, where, purposeOf(body))
    }.sortBy(e => (e.query.drop(1).takeWhile(_.isDigit).toInt, e.query))
  }

  def render(es: Seq[Entry]): String = {
    val sb = new StringBuilder
    sb ++= "# Operator index\n\n"
    sb ++= "GENERATED by `runMain graft.OperatorIndex` — do not edit by hand\n"
    sb ++= "(the golden spec re-renders and diffs this file). Two views of\n"
    sb ++= "the same mapping: public operator -> queries, then the full\n"
    sb ++= "per-query table with definition sites and one-line purposes.\n\n"
    sb ++= "## Operators\n\n"
    sb ++= "| operator | defined at | driver queries |\n|---|---|---|\n"
    es.groupBy(e => (e.operator, e.where)).toSeq
      .sortBy { case ((op, _), _) => op.toLowerCase }
      .foreach { case ((op, where), qs) =>
        sb ++= s"| `$op` | $where | ${qs.map(_.query).sorted.mkString(", ")} |\n"
      }
    sb ++= "\n## Queries\n\n"
    sb ++= "| query | operator | purpose |\n|---|---|---|\n"
    es.foreach { e =>
      sb ++= s"| ${e.query} | `${e.operator}` | ${e.purpose} |\n"
    }
    sb.toString
  }

  def generate(repoRoot: String): String = {
    val bodies = graft.queries.Registry.families.flatMap { family =>
      val file = "src/main/scala/graft/queries/" +
        family.getClass.getSimpleName.stripSuffix("$") + ".scala"
      val f = scala.io.Source.fromFile(s"$repoRoot/$file", "UTF-8")
      val source = try f.getLines().toSeq finally f.close()
      family.cases.map(c => (c.id, file, bodyOf(c.id, file, source)))
    }
    render(entries(bodies, new java.io.File(s"$repoRoot/src/main/scala")))
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("OPERATORS.md")
    java.nio.file.Files.write(new java.io.File(out).toPath,
      generate(".").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"wrote $out")
  }
}
