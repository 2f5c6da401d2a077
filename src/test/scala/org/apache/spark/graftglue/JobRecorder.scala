package org.apache.spark.graftglue

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted}

/** Records the jobs and submitted stages of the code run inside `during`
  * (in the spark package tree only to read `StageInfo.shuffleDepId`).
  * Listener events arrive asynchronously, so `during` ends with a marker
  * job and waits for its end event: the bus delivers events in order, so
  * every event of the measured code has been seen by then.
  */
final class JobRecorder private (sc: SparkContext) extends SparkListener {
  private val Marker = "job-recorder-marker"
  private val jobs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
  private val submitted = scala.collection.mutable.ArrayBuffer.empty[Option[Int]]
  private var markerJob = -1
  @volatile private var markerDone = false

  /** Stage names of each job started, in start order (the marker excluded). */
  def jobStages: Seq[Seq[String]] = synchronized(jobs.toList)

  /** `shuffleDepId` of every submitted (not skipped) map stage; the
    * marker job has none. */
  def submittedShuffleDeps: Seq[Int] = synchronized(submitted.flatten.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).map(_.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))
    if (desc.contains(Marker)) markerJob = e.jobId
    else jobs += e.stageInfos.map(_.name)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.shuffleDepId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == markerJob) markerDone = true
  }

  private def drain(): Unit = {
    sc.setJobDescription(Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
    assert(markerDone, "listener bus did not drain")
  }
}

object JobRecorder {
  def during[T](sc: SparkContext)(body: => T): (T, JobRecorder) = {
    val rec = new JobRecorder(sc)
    sc.addSparkListener(rec)
    try {
      val out = body
      rec.drain()
      (out, rec)
    } finally sc.removeSparkListener(rec)
  }
}
