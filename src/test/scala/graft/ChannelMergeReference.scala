package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.DedupPipeline

/** Test-side reference for `DedupPipeline.unionDisjointChannels`: the full
  * per-pair merge of the fuzzy and exact channels — best score wins, lowest
  * hamming wins, channel flags OR together (≅ mcrit's `_craftResultDict`
  * per-key max merge). On disjoint channels the production union must
  * return exactly these rows.
  */
object ChannelMergeReference {
  def mergeChannels(lsh: DataFrame, exactEdges: DataFrame): DataFrame = {
    val l = lsh.select(col("src"), col("dst"), col("score"), col("hamming"),
      lit(DedupPipeline.FlagMinhash).as("flags"))
    val e = exactEdges.select(col("src"), col("dst"),
      lit(100.0).as("score"), lit(0).as("hamming"), lit(DedupPipeline.FlagExact).as("flags"))
    l.unionByName(e).groupBy("src", "dst")
      .agg(max("score").as("score"), min("hamming").as("hamming"),
        bit_or(col("flags")).cast("int").as("flags"))
  }
}
