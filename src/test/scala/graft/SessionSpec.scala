package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.corpus.CorpusGen
import graft.ledger.Ledger
import graft.pipeline.DedupPipeline
import graft.storage.TableStore

/** One materialization rule (`DedupPipeline.withCached`): whatever a
  * surface caches it releases before it returns, on the exception path
  * too, so a long session holds only the checkpoints its callers kept.
  */
class SessionSpec extends SparkTestBase {

  /** The timed operator leaves of the benchmark's `ops_suite`, in its order. */
  private val Leaves = Seq("q_exact_dedup_groups", "q_token_count", "q_agg_rollup",
    "q_top_per_group", "q_argmax", "q_minhash_pairs", "q_minhash_clusters",
    "q_ngram_jaccard", "q_ann_lsh", "q_semdedup", "q_simhash", "q_event_window",
    "q_para_dedup", "q_gopher_quality", "q_dedup_spans", "q_decontam", "q_subword",
    "q_url_canon", "q_pii_redact", "q_url_filter", "q_split_assign", "q_repetition",
    "q_c4_rules")

  test("withCached releases its frames when the body throws") {
    val df = spark.range(1000).toDF("id").where(col("id") % 7 === 3)
    val entries = cachedEntries
    val before = persistedIds
    val ex = intercept[IllegalStateException] {
      DedupPipeline.withCached(df) {
        assert(df.storageLevel != StorageLevel.NONE && df.count() == 143)
        throw new IllegalStateException("body failed")
      }
    }
    assert(ex.getMessage == "body failed")
    assert(df.storageLevel == StorageLevel.NONE, "the frame is no longer cached")
    assert(cachedEntries == entries, "no CacheManager entry survives the throw")
    assert((persistedIds -- before).isEmpty, "no cached block survives the throw")
  }

  test("a failing metrics append leaks no cache, and the stage still commits") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ledger-fail").toString
    // a store whose appends run their job and then fail
    val failing = new TableStore {
      private val base = TableStore.parquet
      def read(s: org.apache.spark.sql.SparkSession, table: String): DataFrame = base.read(s, table)
      def exists(s: org.apache.spark.sql.SparkSession, table: String): Boolean = base.exists(s, table)
      def write(df: DataFrame, table: String): Unit = base.write(df, table)
      def append(df: DataFrame, table: String): Unit = {
        df.count()
        throw new java.io.IOException(s"append to $table failed")
      }
    }
    val ledger = new Ledger(spark, tmp, "cfg", failing)
    val desc = ledger.descriptor("numbers", "", Nil)
    val entries = cachedEntries
    val before = persistedIds
    val out = ledger.stage("numbers", desc)(spark.range(500).toDF("id").repartition(3))
    assert(ledger.isDone("numbers", desc), "the stage commits although its metrics failed")
    assert(out.count() == 500 && out.agg(sum("id")).head().getLong(0) == 124750L)
    assert(ledger.metrics().isEmpty, "no metrics row was written")
    assert(cachedEntries == entries, "the per-partition lineage cache is released")
    assert((persistedIds -- before).isEmpty, "no cached block survives the failed append")
  }

  test("the benchmark's operator leaves run in one session without pinning caches") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Leaves) {
      val entries = cachedEntries
      val before = persistedIds
      val out = SparkEntry.queries(q)(spark, dir)
      out.count()
      assert(cachedEntries == entries, s"$q left a CacheManager entry")
      val added = persistedIds -- before
      assert(added.size <= 1 && added.subsetOf(checkpointIds(out)),
        s"$q pinned ${added.size} RDDs beyond its returned checkpoint")
      checkpointIds(out).foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    }
    // run() on two distinct corpora: neither signature table stays cached
    val pipe = new DedupPipeline(spark)
    for (seed <- Seq(31L, 32L)) {
      val entries = cachedEntries
      val clusters = pipe.run(CorpusGen.generate(spark, sf = 0.001, seed = seed))
      assert(clusters.count() > 0)
      assert(cachedEntries == entries, s"run() on corpus $seed left its signature table cached")
    }
  }
}
