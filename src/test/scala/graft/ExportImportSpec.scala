package graft

import org.apache.spark.sql.functions._
import graft.ops.ExportImport

class ExportImportSpec extends SparkTestBase {
  import spark.implicits._

  test("export/import round trip: skip existing, add new, config gate") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-export").toString
    val a = Seq(("u1", "text one"), ("u2", "text two")).toDF("url", "text")
    val b = Seq(("u2", "text two"), ("u3", "text three")).toDF("url", "text")
    ExportImport.exportSnapshot(spark, b, s"$tmp/snap")
    val (merged, stats) = ExportImport.importSnapshot(spark, a, s"$tmp/snap")
    assert(stats.added == 1 && stats.skippedExisting == 1)
    assert(merged.select("url").as[String].collect().sorted.toSeq == Seq("u1", "u2", "u3"))

    // config mismatch refuses
    val otherCfg = graft.kernel.GraftConfig.default.copy(bandSeed = 1L)
    val ex = intercept[IllegalArgumentException] {
      ExportImport.importSnapshot(spark, a, s"$tmp/snap", cfg = otherCfg)
    }
    assert(ex.getMessage.contains("config hash mismatch"))

    // a parquet dir that is NOT a graft export (no meta) refuses — an
    // absent meta must not silently skip the provenance guard
    b.write.parquet(s"$tmp/naked")
    val ex2 = intercept[IllegalArgumentException] {
      ExportImport.importSnapshot(spark, a, s"$tmp/naked")
    }
    assert(ex2.getMessage.contains("no _graft_meta.json"))
  }

  test("compactIds: dense 0..n-1, deterministic by order column") {
    val df = (1 to 97).map(i => (s"k${1000 - i}", i)).toDF("k", "v")
    val entries = cachedEntries
    val withIds = ExportImport.compactIds(df, "k")
    assert(cachedEntries == entries, "compactIds leaves nothing in the CacheManager")
    val ids = withIds.select("compact_id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 97L))
    // id order follows sort order of the key
    val byId = withIds.orderBy("compact_id").select("k").as[String].collect()
    assert(byId.toSeq == byId.sorted.toSeq)
    // two separate actions on the output see one id assignment
    def idOf: Map[String, Long] =
      withIds.select("k", "compact_id").as[(String, Long)].collect().toMap
    val first = idOf
    assert(idOf == first && first.values.toSeq.sorted == (0L until 97L))
  }

  test("mega skew clusters flow through the exact channel and cluster correctly") {
    val corpus = graft.corpus.CorpusGen.generate(spark, 0.003, 42L).cache()
    val mega = corpus.where(col("url").startsWith("https://mega-")).cache()
    assert(mega.count() >= 100)
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val out = pipe.run(corpus, fromHtml = true)
      .join(corpus.select("url", "cluster_gold"), "url")
      .where(col("url").startsWith("https://mega-"))
    val grouped = out.groupBy("cluster_gold")
      .agg(countDistinct("cluster_id").as("n")).collect()
    assert(grouped.length == 2)
    assert(grouped.forall(_.getLong(1) == 1L), "each mega cluster must be one component")
  }
}
