package graft.tools

import org.apache.spark.sql.SparkSession
import graft.pipeline.DedupPipeline

/** One warmed, timed end-to-end dedup run in THIS JVM — forked by
  * `graft.Bench` under `taskset -c 0-(N-1)` so a "local[N]" measurement
  * actually has N cores of silicon: in an unpinned JVM the 8 task threads'
  * GC, shuffle-netty and JIT work spills onto the host's other 24 cores,
  * flattering the narrow level and understating scaling. Prints one line:
  * `RESULT <docs> <seconds> <clusters>`.
  */
object DedupRunOne {

  /** warm-up + timed run; returns (docs, seconds, clusters). */
  def timedRun(spark: SparkSession, corpusPath: String, warmupPath: String): (Long, Double, Long) = {
    val warm = spark.read.parquet(warmupPath)
    new DedupPipeline(spark).run(warm, fromHtml = true)
      .select("cluster_id").distinct().count()
    val corpus = spark.read.parquet(corpusPath)
    val t0 = System.nanoTime()
    val out = new DedupPipeline(spark).run(corpus, fromHtml = true)
    val nClusters = out.select("cluster_id").distinct().count()
    val nDocs = corpus.count()
    val secs = (System.nanoTime() - t0) / 1e9
    (nDocs, secs, nClusters)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: DedupRunOne <corpus> <warmup> <cores> <shuffleParts>")
    val Array(corpusPath, warmupPath, cores, parts) = args
    val spark = graft.Bench.mkSession(cores.toInt, parts.toInt)
    try {
      val (docs, secs, clusters) = timedRun(spark, corpusPath, warmupPath)
      println(f"RESULT $docs $secs%.3f $clusters")
    } finally spark.stop()
  }
}
