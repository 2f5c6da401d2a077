package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.hash.SimHash
import graft.pipeline.{DedupPipeline, PipelineOptions}

/** Test-side reference for `DedupPipeline.bandsOf`: the MinHash band table
  * (`bandStage`) unioned with a separately exploded SimHash chunk-pair table
  * (band_id 100+), the two-pass form `bandsOf` replaced with one explode. */
object BandReference {
  def simhashBandStage(repSigs: DataFrame, simHashMaxHamming: Int): DataFrame = {
    val blocks = simHashMaxHamming + 2
    val combosUdf = udf((v: Long) => SimHash.chunkCombos(v, blocks, 2))
    repSigs.select(col("doc_id"),
        posexplode(combosUdf(col("simhash"))).as(Seq("band_id", "band_hash")))
      .select(col("doc_id"), (col("band_id") + lit(100)).as("band_id"), col("band_hash"))
  }

  def bands(pipe: DedupPipeline, opts: PipelineOptions, sigs: DataFrame): DataFrame = {
    val mh = pipe.bandStage(sigs)
    if (opts.simHashChannel) mh.unionByName(simhashBandStage(sigs, opts.simHashMaxHamming))
    else mh
  }
}
