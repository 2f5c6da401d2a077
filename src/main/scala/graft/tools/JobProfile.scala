package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Warm per-Spark-job breakdown of one SparkEntry query: runs the query
  * `reps` times under the Bench session config with a listener that prints
  * every job's wall duration and call site — the numbers BenchExtra's
  * per-action capture cannot see once a query is warm. Diagnostic only.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <reps> <query> [query ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val known = graft.SparkEntry.queries.keySet
    val unknown = names.filterNot(known)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query: ${unknown.mkString(", ")}; known: " +
        known.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Bench.mkSession(cpus, cpus)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var live = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // a job's identity = its stages' RDD call sites (callSite.short is
        // absent from local job properties)
        val sites = js.stageInfos.map(si => si.name.takeWhile(_ != ':'))
          .groupBy(identity).map { case (k, v) => s"$k×${v.size}" }
          .toSeq.sorted.mkString(",")
        starts.put(js.jobId, (System.nanoTime(), sites))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.remove(je.jobId)
        if (live && s != null) {
          val dt = (System.nanoTime() - s._1) / 1e6
          println(f"  JOB ${je.jobId}%4d ${dt}%8.0f ms  ${s._2}")
        }
      }
    })

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      for (r <- 1 to reps) {
        spark.sparkContext.setJobDescription(s"$name rep$r")
        live = r == reps // print only the last (warmest) rep
        if (live) println(s"== $name rep$r jobs ==")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val n = df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (live) Thread.sleep(300) // drain listener before the job lines end
        println(f"TIME $name rep$r $dt%.3f s rows=$n")
      }
    }
    spark.stop()
  }
}
