package org.apache.spark.graftspec

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code starts, and the stages of those
  * jobs that ran (a stage skipped because its shuffle files exist is not
  * among them). Jobs are told apart from any other work in the session by a
  * local property set on the calling thread, which the threads Spark starts
  * for it (broadcasts, AQE stages) inherit. The listener bus is private to
  * Spark's own packages, hence this package.
  */
object JobLog {
  final case class Record(jobs: Int, stages: Seq[StageInfo]) {
    /** Stages that ran a JDBC scan: passes over the JDBC source. */
    def jdbcScans: Int = stages.count(_.rddInfos.exists(_.name == "JDBCRDD"))
  }

  private val TagKey = "graft.spec.joblog"

  def of[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val jobStages = ArrayBuffer.empty[Int]
    val ran = ArrayBuffer.empty[StageInfo]
    var jobs = 0
    val lock = new Object
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag))
          lock.synchronized { jobs += 1; jobStages ++= e.stageIds }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        lock.synchronized { ran += e.stageInfo }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    val out =
      try body
      finally {
        sc.setLocalProperty(TagKey, prior)
        sc.listenerBus.waitUntilEmpty()
        sc.removeSparkListener(listener)
      }
    lock.synchronized {
      val mine = jobStages.toSet
      (out, Record(jobs, ran.filter(s => mine(s.stageId)).toSeq))
    }
  }
}
