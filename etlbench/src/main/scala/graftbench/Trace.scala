package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Spans around the library calls an op makes, plus the boundary
  * materialization that makes a span cover its layer's work. Disabled, a
  * span only runs its body and a boundary hands its frame back untouched.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Stats.Span]
  private val persisted = ArrayBuffer.empty[DataFrame]
  private val counted = scala.collection.mutable.Map.empty[String, Long]
  private var on = false

  /** Starts an op: spans and boundaries are live only when `traced`. */
  def begin(traced: Boolean): Unit = {
    spans.clear(); counted.clear(); on = traced
  }

  /** Ends an op and releases its boundary frames. */
  def end(): Unit = {
    on = false
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val outer = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Stats.Span(name, t0, System.nanoTime())
        sc.setLocalProperty(SpanKey, outer)
      }
    }

  /** In a traced op, persists and counts `df` and records the count under
    * `key`; otherwise returns `df` as is.
    */
  def boundary(key: String, df: DataFrame): DataFrame =
    if (!on) df
    else {
      val p = df.persist(StorageLevel.MEMORY_ONLY)
      persisted += p
      counted(key) = p.count()
      p
    }

  def spanList: Seq[Stats.Span] = spans.toSeq
  def counts: Map[String, Long] = counted.toMap
}

object Tracer {
  /** Local property naming the span a Spark job was submitted from. */
  val SpanKey = "graftbench.span"
  /** Local property naming the op a Spark job belongs to. */
  val OpKey = "graftbench.op"
}

/** Everything Spark's public listener interfaces report during an op:
  * jobs, stages and tasks (SparkListener), Catalyst phase times
  * (QueryExecutionListener) and micro-batch progress
  * (StreamingQueryListener). Events are buffered as they arrive and read
  * once the bus has drained.
  */
final class Ledger(spark: SparkSession) {
  import Ledger._
  private val sc = spark.sparkContext
  private val lock = new Object
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val queries = ArrayBuffer.empty[QueryRec]
  private val batches = ArrayBuffer.empty[Map[String, Long]]

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs += JobRec(e.jobId, prop(Tracer.OpKey), prop(Tracer.SpanKey), e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        stages += StageRec(i.stageId, i.rddInfos.exists(_.name == "JDBCRDD"))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        val run = m.executorRunTime
        val delay = math.max(0L, info.duration - run -
          m.executorDeserializeTime - m.resultSerializationTime)
        tasks += TaskRec(e.stageId, run, m.executorCpuTime / 1e6, delay,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      lock.synchronized {
        queries += QueryRec(start, d("analysis"), d("optimization"), d("planning"))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      lock.synchronized { batches += d }
    }
  }

  sc.addSparkListener(sched)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(streams)

  /** Drains the bus and forgets everything seen so far. */
  def reset(): Unit = {
    Bus.drain(sc)
    lock.synchronized {
      jobs.clear(); jobEnds.clear(); stageJob.clear(); stages.clear()
      tasks.clear(); queries.clear(); batches.clear()
    }
  }

  /** The record of op `op`, which ran from `t0` to `t1` (epoch ms), after
    * draining the bus. Spans are attributed through the job properties,
    * Catalyst phases by time, micro-batches by the reset that preceded
    * the op.
    */
  def opRecord(op: String, t0: Long, t1: Long): OpRecord = {
    Bus.drain(sc)
    lock.synchronized {
      val mine = jobs.filter(_.op.contains(op)).toSeq
      val ids = mine.map(_.id).toSet
      val myStages = stages.filter(s => stageJob.get(s.id).exists(ids)).toSeq
      val stageIds = myStages.map(_.id).toSet
      val myTasks = tasks.filter(t => stageIds(t.stageId)).toSeq
      val intervals = mine.map(j => (j.start, jobEnds.getOrElse(j.id, t1)))
      OpRecord(
        window = (t0, t1),
        jobs = mine,
        jobIntervals = intervals,
        stages = myStages,
        tasks = myTasks,
        queries = queries.filter(q => q.start >= t0 && q.start <= t1).toSeq,
        batches = batches.toSeq)
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(sched)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streams)
  }
}

object Ledger {
  final case class JobRec(id: Int, op: Option[String], span: Option[String], start: Long)
  final case class StageRec(id: Int, readsJdbc: Boolean)
  final case class TaskRec(stageId: Int, runMs: Long, cpuMs: Double, delayMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class QueryRec(start: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)
  final case class OpRecord(window: (Long, Long), jobs: Seq[JobRec], jobIntervals: Seq[(Long, Long)],
      stages: Seq[StageRec], tasks: Seq[TaskRec], queries: Seq[QueryRec],
      batches: Seq[Map[String, Long]])

  /** Total collection time of every garbage collector so far, in ms. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}
