package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.GraftSession

/** Runs one workload: set-up (timed as a whole), warm-up ops, then timed
  * ops for a fixed number of seconds. Prints a run stamp, a readable
  * summary and, as the last line, one JSON result.
  *
  * Untraced (`--trace 0`) the result carries the end-to-end metrics. Traced
  * (`--trace 1`) it alternates plain and traced ops and carries the
  * per-layer ledger, medians over the traced ops.
  *
  *   graftbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *
  * Scratch lives under the directory named by `-Dgraftbench.work`.
  */
object Main {
  /** Set-up is repeated this many times; `setup_s` takes the median. */
  val SetupReps = 3
  /** Timed ops stop after this long even below the workload's minimum. */
  val MaxTimedSeconds = 100.0
  val MaxThreads = 2

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workload.Names.contains(w), s"unknown workload $w; one of ${Workload.Names.mkString(", ")}")
    Opts(w, need("--seed").toLong, need("--seconds").toDouble, need("--trace") == "1")
  }

  def main(args: Array[String]): Unit = sys.exit(run(parse(args)))

  final case class OpResult(wallMs: Double, traced: Boolean, error: Option[String],
      layers: Map[String, Double])

  def run(o: Opts): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = Host.load1m
    val nproc = Runtime.getRuntime.availableProcessors
    val k = math.min(MaxThreads, nproc)
    val spark = GraftSession.local(k, "etlbench")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis - jvmStart) / 1000.0
    val work = Paths.get(sys.props.getOrElse("graftbench.work",
      throw new IllegalStateException("-Dgraftbench.work must name the scratch directory")))
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    Files.createDirectories(work)
    val tracer = new Tracer(spark)
    val w = Workload(o.workload, Env(spark, k, o.seed, work, tracer))

    def seconds[T](body: => T): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val prepS = (0 until SetupReps).map(r => seconds(w.prepare(r)))
    val expectS = seconds(w.expect())
    val ledger = if (o.trace) Some(new Ledger(spark)) else None

    val failures = ArrayBuffer.empty[String]
    var baseline: Option[(Long, Long)] = None
    var betweenNs = 0L

    def runOp(i: Int, traced: Boolean): OpResult = {
      ledger.foreach(_.reset())
      tracer.begin(traced)
      val tag = s"op$i"
      sc.setLocalProperty(Tracer.OpKey, tag)
      val gc0 = Ledger.gcMs
      val t0 = System.currentTimeMillis
      val n0 = System.nanoTime()
      val err =
        try { w.op(i); None }
        catch { case NonFatal(e) => Some(s"op failed: $e") }
      val wallMs = (System.nanoTime() - n0) / 1e6
      val t1 = System.currentTimeMillis
      sc.setLocalProperty(Tracer.OpKey, null)
      val jvm = Map("jvm.gc_ms" -> (Ledger.gcMs - gc0).toDouble,
        "jvm.heap_after_op_mb" -> Ledger.heapUsedMb)
      val layers = ledger.map { l =>
        Layers.of(l.opRecord(tag, t0, t1), tracer, w, wallMs, k) ++ jvm
      }.getOrElse(Map.empty)
      val b0 = System.nanoTime()
      tracer.end()
      val wrong = err.orElse {
        try w.check(i) catch { case NonFatal(e) => Some(s"check failed: $e") }
      }
      w.restore()
      // scratch hygiene: nothing an op leaves behind may survive restore
      val now = (Workload.entries(work), Workload.entries(tmp))
      val grew = baseline.filter(b => now._1 > b._1 || now._2 > b._2).map(b =>
        s"scratch grew across ops: work ${b._1} -> ${now._1}, tmp ${b._2} -> ${now._2}")
      if (baseline.isEmpty) baseline = Some(now)
      betweenNs += System.nanoTime() - b0
      val bad = wrong.orElse(grew)
      bad.foreach(b => failures += s"op $i: $b")
      OpResult(wallMs, traced, bad, layers)
    }

    // warm-up: untimed ops, both kinds when tracing, counted in setup_s
    val warm = ArrayBuffer.empty[OpResult]
    val warmS = seconds {
      while (warm.size < w.warmupOps) warm += runOp(warm.size, o.trace && warm.size % 2 == 1)
    }
    val setupS = sessionS + Stats.median(prepS) + expectS + warmS

    val timed = ArrayBuffer.empty[OpResult]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var i = warm.size
    while (elapsed < o.seconds || (timed.size < w.minTimedOps && elapsed < MaxTimedSeconds)) {
      timed += runOp(i, o.trace && i % 2 == 1)
      i += 1
    }

    val loadAfter = Host.load1m
    ledger.foreach(_.close())
    w.close()
    spark.stop()

    val attempted = warm.size + timed.size
    val failed = (warm ++ timed).count(_.error.nonEmpty)
    val plain = timed.filterNot(_.traced)
    val walls = plain.map(_.wallMs).toSeq
    val tail = Stats.tail(walls)

    val stamp = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> nproc, "k" -> k,
      "xmx" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("-Xmx")).mkString(" "),
      "jdk" -> sys.props("java.version"), "spark" -> spark.version,
      "warmup_ops" -> warm.size, "timed_ops" -> timed.size,
      "plain_ops" -> plain.size, "traced_ops" -> (timed.size - plain.size),
      "items_per_op" -> w.items,
      "loadavg_1m_before" -> loadBefore, "loadavg_1m_after" -> loadAfter,
      "setup_parts_s" -> Json.obj("session" -> sessionS, "prepare_median" -> Stats.median(prepS),
        "prepare_reps" -> prepS, "expect" -> expectS, "warmup" -> warmS),
      "check_restore_s" -> betweenNs / 1e9,
      "error_rate" -> failed.toDouble / attempted,
      "warmup_op_ms" -> warm.map(r => math.round(r.wallMs)),
      "op_ms" -> timed.map(r => math.round(r.wallMs)))
    println(s"# run stamp: $stamp")
    failures.take(20).foreach(f => println(s"# FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        // the tail percentile (ten ops beyond it) is printed, not gated:
        // at the op counts a run affords it is near the median
        val tailNote = tail.map { case (p, v) => f"p$p%.1f = $v%.1f ms" }.getOrElse("n/a")
        println(s"# op_p50_ms over ${walls.size} ops; tail (${Stats.TailMinBeyond} ops beyond it): $tailNote")
        Seq(
          ("setup_s", setupS, "s"),
          ("items_per_s", w.items * walls.size / (walls.sum / 1000.0), "1/s"),
          ("op_p50_ms", Stats.median(walls), "ms"),
          ("peak_rss_mb", Host.peakRssMb, "MB"))
      } else Layers.summarize(timed.toSeq)
    metrics.foreach { case (n, v, u) => println(f"# $n%-34s $v%14.4f $u") }

    val result = Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }))
    println(result)
    if (failures.isEmpty) 0 else 1
  }
}

/** Host facts for the run stamp. */
object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)))) catch { case NonFatal(_) => None }

  def load1m: Double = read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** VmHWM of this JVM: its peak resident set, in MB. */
  def peakRssMb: Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(-1.0)
}
