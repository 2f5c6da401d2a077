package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative DataFrame connected components via alternating large-star /
  * small-star (Kiveris et al., "Connected Components in MapReduce and
  * Beyond"), the scale-out replacement for the reference's driver-side DFS
  * clustering (/root/reference/mcrit/storage/MatchingResult.py:484-551,
  * /root/reference/mcrit/libs/graph.py:3-25).
  *
  * Pure aggregation form — no per-node neighbor collection, so hub nodes
  * (giant dup clusters) never materialize an adjacency list: each round is
  * two groupBy-min + join passes, which partial-aggregate map-side and let
  * AQE split skewed reduce partitions. Converges in O(log n) rounds;
  * lineage is cut every round with localCheckpoint.
  *
  * Input: edge DataFrame with long columns (src, dst). Output: (id, component)
  * where component = min node id of the component. Nodes only appear if they
  * occur in an edge — callers union isolated nodes themselves.
  */
object ConnectedComponents {

  /** Size-adaptive cutover: below this many (deduped) edges the component
    * computation runs as a driver-side union-find versus ~30 scheduled
    * shuffle stages for the star loop, which at small edge counts is pure
    * stage-latency (the reference's clustering is driver-side DFS for the
    * same reason). Above it, the distributed star-contraction loop runs.
    * Identical output either way (asserted by test on both paths).
    *
    * Driver memory cost is REAL, not a handful of MB: collected boxed
    * (Long,Long) tuples plus two HashMaps cost roughly 200–400 bytes per
    * edge, so 3M edges occupy several hundred MB of driver heap. The
    * ceiling below is therefore gated on the actual driver heap via
    * `effectiveDriverThreshold` (≈ heap/4 ÷ 512 B/edge): a default-1g
    * cluster driver cuts over at ~500k edges, an 8g bench driver keeps the
    * full 3M.
    */
  val DriverEdgeThreshold: Long = 3000000L

  /** min(cap, quarter of driver heap at a conservative 512 bytes/edge). */
  def effectiveDriverThreshold(cap: Long = DriverEdgeThreshold): Long =
    math.min(cap, Runtime.getRuntime.maxMemory() / 4 / 512)

  /** Diagnostic only (read after a `run` by tools/CCProfile and by the
    * benchmark's `cluster.cc.iterations` layer): star-loop iterations of the
    * last distributed run in this JVM, 0 when the last run took the driver
    * union-find path. Not part of the API contract.
    */
  @volatile var lastRunIterations: Int = -1

  def run(edgesIn: DataFrame, maxIterations: Int = 25,
      driverThreshold: Long = -1L): DataFrame = {
    val driverEdgeCap =
      if (driverThreshold >= 0) driverThreshold
      else effectiveDriverThreshold()
    val spark = edgesIn.sparkSession
    // canonical undirected edges, self-loops dropped. NOT deduped yet: the
    // driver path's union-find dedupes for free, so the distinct shuffle is
    // only paid on the distributed path.
    val canonical = edgesIn
      .select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .where(col("lo") =!= col("hi"))
      .cache() // materialize upstream (verify etc.) exactly once

    val nEdges = canonical.count()
    if (nEdges <= driverEdgeCap) {
      val result = runDriver(spark, canonical)
      canonical.unpersist()
      lastRunIterations = 0
      return result
    }
    var edges = canonical.distinct().localCheckpoint(eager = true)
    canonical.unpersist()

    // fixpoint detection by edge-set checksum: one single-row aggregation per
    // iteration instead of a count + a full shuffle-compare (except()); the
    // star rounds only rewrite edges toward component minima, so an unchanged
    // (count, xor/sum of hashes) pair means fixpoint whp — and a missed
    // detection only costs one extra cheap iteration
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)).as("c"),
        // mod before summing: ANSI mode overflows on raw 64-bit hash sums
        coalesce(sum(pmod(xxhash64(col("lo"), col("hi")), lit(1000000007L))), lit(0L)).as("h"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var converged = false
    var iter = 0
    var prev = checksum(edges)
    var prevDf = edges
    while (!converged && iter < maxIterations) {
      // lazy checkpoint: the checksum action below materializes it — one
      // Spark job per iteration instead of two
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      prevDf = edges
      edges = next
      iter += 1
    }
    // the checksum fixpoint is probabilistic — back it with ONE exact
    // SYMMETRIC compare at the claimed fixpoint (cheap: two excepts at the
    // end, not per round); silently-wrong labels are never acceptable.
    // (Counts are already exactly equal at convergence — count(*) is part of
    // the checksum tuple — so one direction plus equal counts implies
    // multiset equality; the second except makes the confirmation robust to
    // future checksum changes rather than relying on that reasoning.)
    if (converged && (edges.exceptAll(prevDf).limit(1).count() > 0 ||
        prevDf.exceptAll(edges).limit(1).count() > 0))
      throw new IllegalStateException(
        "connected components: checksum fixpoint was a collision (edge sets differ)")
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxIterations iterations")
    lastRunIterations = iter

    // at fixpoint every node points directly at its component minimum
    val asChild = edges.select(col("hi").as("id"), col("lo").as("component"))
    val comp = asChild.groupBy("id").agg(min("component").as("component"))
    // roots: appear only as lo
    val roots = edges.select(col("lo").as("id")).distinct()
      .join(comp, Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    comp.unionByName(roots)
  }

  /** Driver-side union-find with path compression + union-by-rank, then a
    * relabel to the component-minimum id so the output is bit-identical to
    * the distributed path's (component = min node id).
    *
    * Node bookkeeping runs on an open-addressed PRIMITIVE long map
    * (node → dense index) and flat int/long arrays: the earlier
    * java.util.HashMap[Long, Long] form boxed every node and every rank
    * update (~200–400 B/edge of driver garbage — the reason the cutover
    * threshold is heap-gated), and at the bench corpus (~880k collected
    * edges) spent a measurable fraction of the CC stage in autoboxing +
    * rehash. Same union-find, same relabel contract, same output rows.
    */
  private def runDriver(spark: org.apache.spark.sql.SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val pairs = edges.select(col("lo"), col("hi")).as[(Long, Long)].collect()
    // node id → dense index (insertion order preserved for output stability)
    val capWant = math.max(16, pairs.length * 4)
    val tableCap = Integer.highestOneBit(capWant - 1) * 2
    val keys = new Array[Long](tableCap)
    val slotIdx = new Array[Int](tableCap)
    java.util.Arrays.fill(slotIdx, -1)
    var n = 0
    var nodeIds = new Array[Long](math.max(16, pairs.length))
    def indexOf(k: Long): Int = {
      var i = (graft.hash.SimHash.mix64(k) & (tableCap - 1)).toInt
      while (slotIdx(i) != -1) {
        if (keys(i) == k) return slotIdx(i)
        i = (i + 1) & (tableCap - 1)
      }
      keys(i) = k
      slotIdx(i) = n
      if (n >= nodeIds.length) nodeIds = java.util.Arrays.copyOf(nodeIds, nodeIds.length * 2)
      nodeIds(n) = k
      n += 1
      n - 1
    }
    val parent = new Array[Int](math.max(16, pairs.length * 2))
    val rank = new Array[Byte](parent.length)
    var m = 0 // nodes materialized in parent so far
    def ensure(i: Int): Unit = while (m <= i) { parent(m) = m; m += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    var e = 0
    while (e < pairs.length) {
      val (a, b) = pairs(e)
      val ia = indexOf(a); val ib = indexOf(b)
      ensure(math.max(ia, ib))
      val ra = find(ia); val rb = find(ib)
      if (ra != rb) {
        val ka = rank(ra); val kb = rank(rb)
        if (ka < kb) parent(ra) = rb
        else if (ka > kb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (ka + 1).toByte }
      }
      e += 1
    }
    // relabel roots to the minimum member id (the distributed contract)
    val minOfRoot = new Array[Long](n)
    java.util.Arrays.fill(minOfRoot, Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (nodeIds(i) < minOfRoot(r)) minOfRoot(r) = nodeIds(i)
      i += 1
    }
    val rows = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { rows(i) = (nodeIds(i), minOfRoot(find(i))); i += 1 }
    spark.createDataset(rows.toSeq).toDF("id", "component")
  }

  /** large-star: connect every strictly-larger neighbor of u to
    * m(u) = min(Γ(u) ∪ {u}).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = symmetric(edges)
    val m = sym.groupBy("u")
      .agg(min("v").as("minv"))
      .select(col("u"), least(col("u"), col("minv")).as("m"))
    // no distinct here: smallStar dedupes the round's output once — saves a
    // full shuffle per iteration
    sym.join(m, "u")
      .where(col("v") > col("u"))
      .select(least(col("v"), col("m")).as("lo"), greatest(col("v"), col("m")).as("hi"))
      .where(col("lo") =!= col("hi"))
  }

  /** small-star: connect every smaller neighbor of u (and u itself) to
    * m(u) = min over those neighbors.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    // edges already canonical (lo < hi): "down" neighbors of hi are the lo's
    val down = edges.select(col("hi").as("u"), col("lo").as("v"))
    val m = down.groupBy("u").agg(min("v").as("m"))
    val nbrEdges = down.join(m, "u")
      .select(least(col("v"), col("m")).as("lo"), greatest(col("v"), col("m")).as("hi"))
    val selfEdges = m.select(col("m").as("lo"), col("u").as("hi"))
    nbrEdges.unionByName(selfEdges)
      .where(col("lo") =!= col("hi"))
      .distinct()
  }

  private def symmetric(edges: DataFrame): DataFrame =
    edges.select(col("lo").as("u"), col("hi").as("v"))
      .unionByName(edges.select(col("hi").as("u"), col("lo").as("v")))
}
