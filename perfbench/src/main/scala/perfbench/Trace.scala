package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans around the benchmark's calls into the engine, plus the Spark work
  * each span caused. Every span sets its own job group while it runs; a
  * listener files each job's stages under that group and sums the task
  * metrics of those stages. Spans and counters stay in memory until
  * `write` is called at the end of the run.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Stats.Span]
  private val counters = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Double]]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val listener = new WorkListener
  sc.addSparkListener(listener)

  /** Runs `f` as a span named `name`, nested under the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val group = s"perfbench-$runId-$id"
    val outer = Option(sc.getLocalProperty(JobGroupKey))
    sc.setJobGroup(group, name)
    stack = id :: stack
    counters(id) = mutable.LinkedHashMap.empty
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      outer match {
        case Some(g) => sc.setJobGroup(g, "")
        case None => sc.clearJobGroup()
      }
      spans += Stats.Span(id, parent, name, t0, t1)
      listener.awaitJobs(sc.statusTracker.getJobIdsForGroup(group).toSeq)
      counters(id) ++= listener.work(group).asMap
    }
  }

  def spansNamed(name: String): Seq[Stats.Span] = spans.filter(_.name == name).toSeq
  def countersOf(s: Stats.Span): Map[String, Double] = counters(s.id).toMap
  def selfSeconds(s: Stats.Span): Double = Stats.selfTimeNs(s, spans.toSeq) / 1e9

  def close(): Unit = sc.removeSparkListener(listener)

  /** Span records as JSON lines: name, start, end, parent, run id, self time, counters. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val c = counters(s.id).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${Json.num(selfSeconds(s))},""" +
        s""""counters":{$c}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  final class Work {
    var jobs = 0
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var gcMs = 0L
    var outputBytes = 0L
    def asMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "task_cpu_s" -> cpuNs / 1e9,
      "shuffle_read_bytes" -> shuffleRead.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spill_bytes" -> spill.toDouble, "gc_s" -> gcMs / 1e3,
      "output_bytes" -> outputBytes.toDouble)
  }

  /** Sums task metrics per job group. Task-end events of a job reach the
    * listener before its job-end event, so once every job of a group has
    * ended here, that group's sums are complete.
    */
  final class WorkListener extends SparkListener {
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val byGroup = mutable.HashMap.empty[String, Work]
    private val ended = mutable.HashSet.empty[Int]

    private def workOf(g: String) = byGroup.getOrElseUpdate(g, new Work)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(JobGroupKey))).getOrElse("")
      val w = workOf(g)
      w.jobs += 1
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += e.jobId
      notifyAll()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageGroup.getOrElse(e.stageId, ""))
        w.cpuNs += m.executorCpuTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.outputBytes += m.outputMetrics.bytesWritten
      }
    }

    def awaitJobs(ids: Seq[Int], timeoutMs: Long = 30000L): Unit = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!ids.forall(ended) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
    }

    def work(group: String): Work = synchronized(workOf(group))
  }
}
