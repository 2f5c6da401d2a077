package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
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
  * Small graphs never reach the loop: `run` takes the edges in ONE action,
  * a collect bounded per partition at ⌈cap / numPartitions⌉ edges into
  * flat `long` arrays, and runs a driver union-find when every partition
  * fits — no cache, no count, no second pass over the producer. An
  * overflowing partition sends the same edge RDD into the loop.
  *
  * Input: edge DataFrame with long columns (src, dst). Output: (id, component)
  * where component = min node id of the component. Nodes only appear if they
  * occur in an edge — callers union isolated nodes themselves.
  */
object ConnectedComponents {

  /** Size-adaptive cutover: up to about this many edges the component
    * computation runs as a driver-side union-find versus ~30 scheduled
    * shuffle stages for the star loop, which at small edge counts is pure
    * stage-latency (the reference's clustering is driver-side DFS for the
    * same reason). Above it, the distributed star-contraction loop runs.
    * Identical output either way (asserted by test on both paths).
    *
    * The bound is enforced per partition while the edges are collected
    * (`cap / numPartitions` edges each, see `run`), so the driver never
    * holds much more than `cap` edges even when the graph is far larger.
    * Collected edges land in flat `long` arrays (16 B/edge) and the
    * union-find keeps an open-addressed primitive node table plus flat
    * int/byte arrays, roughly 100 B/edge in all. The ceiling below is
    * still gated on the actual driver heap via `effectiveDriverThreshold`
    * at a conservative 512 B/edge: a default-1g cluster driver cuts over at
    * ~500k edges, an 8g bench driver keeps the full 3M.
    */
  val DriverEdgeThreshold: Long = 3000000L

  /** min(cap, quarter of driver heap at a conservative 512 bytes/edge):
    * the total edge budget `run` splits evenly over the edge partitions. */
  def effectiveDriverThreshold(cap: Long = DriverEdgeThreshold): Long =
    math.min(cap, Runtime.getRuntime.maxMemory() / 4 / 512)

  /** Diagnostic only (read after a `run` by tools/CCProfile and by the
    * benchmark's `cluster.cc.iterations` layer): star-loop iterations of the
    * last distributed run in this JVM, 0 when the last run took the driver
    * union-find path. Not part of the API contract.
    */
  @volatile var lastRunIterations: Int = -1

  /** One action over the edges: the canonical edge RDD is taken once (under
    * AQE that runs the producer's shuffle map stages) and collected with a
    * per-partition bound of ⌈cap / numPartitions⌉ edges. If every partition
    * fits, union-find runs on the collected arrays. Otherwise the star loop
    * starts from that same RDD: its shuffle outputs are already
    * materialized, so only its final stage re-runs and the producer is
    * never recomputed. `driverThreshold = 0` forces the star loop.
    */
  def run(edgesIn: DataFrame, maxIterations: Int = 25,
      driverThreshold: Long = -1L): DataFrame = {
    val driverEdgeCap =
      if (driverThreshold >= 0) driverThreshold
      else effectiveDriverThreshold()
    val spark = edgesIn.sparkSession
    import spark.implicits._
    // canonical undirected edges, self-loops dropped. NOT deduped yet: the
    // driver path's union-find dedupes for free, so the distinct shuffle is
    // only paid on the distributed path.
    val qe = edgesIn
      .select(
        least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .where(col("lo") =!= col("hi"))
      .queryExecution
    // one SQL execution, named like an action, so the plan and its metrics
    // still reach SQL and query-execution listeners
    val (canonical, collected) = SQLExecution.withNewExecutionId(qe, Some("connectedComponents")) {
      val rdd = qe.toRdd
      val nParts = math.max(1, rdd.getNumPartitions)
      (rdd, rdd.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => collectBounded(it, (driverEdgeCap + nParts - 1) / nParts)))
    }
    if (collected.forall(_ != null)) { lastRunIterations = 0; return runDriver(spark, collected) }
    var edges = canonical.map(r => (r.getLong(0), r.getLong(1))).toDF("lo", "hi")
      .distinct().localCheckpoint(eager = true)

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

  /** One partition's edges as flat (lo, hi) longs, or null once it holds
    * more than `maxEdges` (the rest of the partition is not read). */
  private def collectBounded(it: Iterator[InternalRow], maxEdges: Long): Array[Long] = {
    val buf = new scala.collection.mutable.ArrayBuilder.ofLong
    var n = 0L
    while (it.hasNext) {
      if (n >= maxEdges) return null
      val r = it.next()
      buf.addOne(r.getLong(0)).addOne(r.getLong(1))
      n += 1
    }
    buf.result()
  }

  /** Driver-side union-find with path compression + union-by-rank; each
    * root carries its component's minimum id, so the output is
    * bit-identical to the distributed path's (component = min node id).
    *
    * Input is the per-partition flat (lo, hi) arrays of the bounded
    * collect, read in place: no boxed tuple per edge. Node bookkeeping runs
    * on an open-addressed PRIMITIVE long map (node → dense index) and flat
    * int/byte/long arrays.
    */
  private def runDriver(spark: SparkSession, parts: Array[Array[Long]]): DataFrame = {
    import spark.implicits._
    val maxNodes = math.max(16, parts.map(_.length).sum) // ≤ 2 nodes per edge
    // node id → dense index (insertion order preserved for output stability)
    val tableCap = Integer.highestOneBit(maxNodes * 2 - 1) * 2
    val keys = new Array[Long](tableCap)
    val slotIdx = new Array[Int](tableCap)
    java.util.Arrays.fill(slotIdx, -1)
    val nodeIds = new Array[Long](maxNodes)
    val parent = new Array[Int](maxNodes)
    val rank = new Array[Byte](maxNodes)
    val minId = new Array[Long](maxNodes) // per root: the component-minimum id
    var n = 0
    def indexOf(k: Long): Int = {
      var i = (graft.hash.SimHash.mix64(k) & (tableCap - 1)).toInt
      while (slotIdx(i) != -1) {
        if (keys(i) == k) return slotIdx(i)
        i = (i + 1) & (tableCap - 1)
      }
      keys(i) = k; slotIdx(i) = n; nodeIds(n) = k; parent(n) = n; minId(n) = k
      n += 1
      n - 1
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    for (edges <- parts) {
      var e = 0
      while (e < edges.length) {
        val ra = find(indexOf(edges(e))); val rb = find(indexOf(edges(e + 1)))
        if (ra != rb) {
          val ka = rank(ra); val kb = rank(rb)
          val root = if (ka < kb) rb else ra
          val child = ra + rb - root
          parent(child) = root
          if (ka == kb) rank(root) = (ka + 1).toByte
          if (minId(child) < minId(root)) minId(root) = minId(child)
        }
        e += 2
      }
    }
    // every node labelled with its root's minimum member id (the
    // distributed contract)
    spark.createDataset((0 until n).map(j => (nodeIds(j), minId(find(j)))))
      .toDF("id", "component")
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
