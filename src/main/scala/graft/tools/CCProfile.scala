package graft.tools

import org.apache.spark.sql.functions._
import graft.cluster.ConnectedComponents
import graft.pipeline.DedupPipeline

/** Profile the DISTRIBUTED connected-components path at bench scale — the
  * star loop never runs in the recorded bench because the 288k-doc corpus'
  * edge count sits under the driver union-find cutover. This tool forces
  * `driverThreshold = 0` on (a) the real bench-corpus edge set and (b)
  * synthetic adversarial graphs (a long chain = maximal diameter; a
  * hub-heavy star forest = the giant-dup-cluster shape), times both paths,
  * reports star-loop iteration counts, and asserts the outputs identical.
  * Numbers land in BENCH.md's "distributed CC" table.
  *
  * Usage: runMain graft.tools.CCProfile [corpusSf]   (default 2.5, the
  * sf0.1 bench corpus — ~290k docs)
  */
object CCProfile {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val corpusSf = if (args.nonEmpty) args(0).toDouble else 2.5
    val corpusPath = graft.Bench.ensureCorpus(corpusSf)
    val spark = graft.Bench.mkSession(32, 32)
    import spark.implicits._
    try {
      // ---- real bench-corpus edges (exact ∪ verified-LSH, what run() clusters) ----
      val corpus = spark.read.parquet(corpusPath)
      val edges = new DedupPipeline(spark).dupPairs(corpus)
        .select(col("src"), col("dst")).localCheckpoint(eager = true)
      val nEdges = edges.count()
      println(s"CC_CORPUS edges=$nEdges (corpusSf=$corpusSf)")

      def profile(tag: String, e: org.apache.spark.sql.DataFrame,
          alsoDriver: Boolean): Unit = {
        val (dist, tS) = time {
          val d = ConnectedComponents.run(e, maxIterations = 40, driverThreshold = 0)
          d.count(); d
        }
        val iters = ConnectedComponents.lastRunIterations
        val nComp = dist.select("component").distinct().count()
        println(f"CC_DISTRIBUTED $tag sec=$tS%.2f iters=$iters components=$nComp")
        if (alsoDriver) {
          val (drv, tD) = time {
            val d = ConnectedComponents.run(e) // default: driver union-find under cap
            d.count(); d
          }
          println(f"CC_DRIVER $tag sec=$tD%.2f")
          val diff = dist.exceptAll(drv).limit(1).count() +
            drv.exceptAll(dist).limit(1).count()
          println(s"CC_IDENTICAL $tag ${diff == 0}")
          require(diff == 0, s"$tag: forced star loop diverged from driver union-find")
        }
      }

      profile("corpus", edges, alsoDriver = true)

      // ---- long chain: path graph, maximal diameter — the worst case for
      // iterative contraction (a naive label-propagation CC needs diameter
      // rounds; large/small-star must close it in O(log n)) ----
      val chainN = 2000000L
      // non-contiguous ids (×31 + salt) so min-id contraction can't ride a
      // sorted-id shortcut
      val chain = spark.range(chainN - 1)
        .select((col("id") * 31 + 7).as("src"), ((col("id") + 1) * 31 + 7).as("dst"))
      profile(s"chain_${chainN}", chain, alsoDriver = false)

      // ---- hub-heavy star forest: 2000 hubs × 1000 leaves — the shape of
      // giant duplicate clusters (boilerplate pages); stresses the groupBy
      // skew the pure-aggregation form is designed to survive ----
      val hubs = 2000L
      val leavesPerHub = 1000L
      val stars = spark.range(hubs * leavesPerHub)
        .select((col("id") % hubs).as("src"),
          (col("id") + lit(hubs)).as("dst"))
      profile(s"stars_${hubs}x${leavesPerHub}", stars, alsoDriver = false)
    } finally spark.stop()
  }
}
