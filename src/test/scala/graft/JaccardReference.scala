package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.DedupOps

/** Test-side reference for `DedupOps.ngramJaccardPairs`: the PLAIN postings
  * self-join. Every sub-cap shingle generates candidates (no canonical
  * ordering, no prefix slicing), with the same stop-shingle cap, the same
  * exact-preserving length filter and the same exact verification on the
  * full arrays — so the prefix-filtered operator must return exactly these
  * rows (the prefix filter is lossless given verification).
  */
object JaccardReference {
  def ngramJaccardPairsPlain(spark: SparkSession, docs: DataFrame,
      k: Int = 3, threshold: Double = 0.7, maxPostings: Int = 1000): DataFrame = {
    val sets = DedupOps.shingleSets(spark, docs, k).cache()
    val postings = sets.select(col("doc_id"), col("set_size"), explode(col("shingles")).as("sh"))
    val dfTab = postings.groupBy("sh").agg(count(lit(1)).as("df"))
    // hashed join key under proven vocabulary injectivity, as in the operator
    val hashed = DedupOps.hashInjectiveOnVocab(dfTab)
    val keep = postings.join(dfTab.where(col("df") <= maxPostings).select("sh"), Seq("sh"))
      .select(col("doc_id"), col("set_size"),
        (if (hashed) xxhash64(col("sh")) else col("sh")).as("sh"))
    val cand = keep.as("x").join(keep.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
          col("x.set_size") * lit(threshold) <= col("y.set_size") &&
          col("y.set_size") * lit(threshold) <= col("x.set_size"))
      .select(col("x.doc_id").as("doc_id_a"), col("y.doc_id").as("doc_id_b"))
      .distinct()
    val result = DedupOps.verifyJaccard(cand, sets, threshold, hashed = hashed)
      .localCheckpoint(true)
    sets.unpersist()
    result
  }
}
