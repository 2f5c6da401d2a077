package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index maintenance operators: incremental signature sweep (M7 analog),
  * row-level deletes cascading through derived tables (L5/J6 analog), and
  * per-paragraph content hashing (P2 picblockhash analog).
  */
object MaintenanceOps {

  /** M7 analog — missing-hash sweep: docs in `input` with no row in the
    * signature checkpoint are the only ones signed (anti-join; incremental,
    * resumable). Returns the rows still needing signatures.
    */
  def newDocs(input: DataFrame, signatures: DataFrame, keyCol: String = "url"): DataFrame =
    input.join(signatures.select(keyCol), Seq(keyCol), "left_anti")

  /** Build — or resume from the checkpoint ledger — the persisted
    * signature + rep-only band index a probe-style incremental run needs
    * for its old side (`DedupPipeline.probeParts`): the FULL DocSig table
    * (incl. non-hashable rows — the exact channel needs them) and the
    * `rebuildBandIndex` table over it. Descriptors fold in the kernel
    * fingerprint, so a kernel change rebuilds instead of silently serving
    * stale postings. `docs` is by-name: a committed index never evaluates
    * it (asserted by the poisoned-corpus test).
    */
  def buildOrLoadDedupIndex(spark: SparkSession, docs: => DataFrame,
      ledger: graft.ledger.Ledger, corpusTag: String,
      cfg: graft.kernel.GraftConfig = graft.kernel.GraftConfig.default,
      opts: graft.pipeline.PipelineOptions = graft.pipeline.PipelineOptions(),
      fromHtml: Boolean = false)
      : (DataFrame, DataFrame) = {
    // band-only knobs (shmax/bandsv) are scoped to the BANDS descriptor so
    // toggling them rebuilds the band table from the signature checkpoint
    // instead of re-signing the corpus (the dominant CPU cost); sigv is the
    // signature-stage semantics version (v2: S1 url key-dedup)
    val sigParams = s"kernel=${graft.pipeline.DocSig.kernelFingerprint(cfg)}," +
      s"corpus=$corpusTag,sigv=2"
    val bandParams = sigParams + s",sh=${opts.simHashChannel}," +
      s"shmax=${opts.simHashMaxHamming},bandsv=2"
    val pipe = new graft.pipeline.DedupPipeline(spark, cfg, opts)
    val sigDesc = ledger.descriptor("dedup_sigs", sigParams, Nil)
    val sigs = ledger.stage("dedup_sigs", sigDesc) {
      pipe.signatureStage(pipe.extractStage(docs, fromHtml)).toDF()
    }
    val bands = ledger.stage("dedup_bands",
        ledger.descriptor("dedup_bands", bandParams, Seq(sigDesc))) {
      rebuildBandIndex(spark, sigs, cfg, opts)
    }
    (sigs, bands)
  }

  /** The re-election paths re-band via `repBandTable` under the CALLER's
    * opts — which must match how the input band table was built, or the
    * appended postings are inconsistent (simhash rows into a minhash-only
    * table, or wrong-radius chunk keys). The simhash channel is cheaply
    * observable (chunk tables live at band_id ≥ 100; limit-1 scan), so
    * that mismatch fails loudly instead of silently diverging.
    */
  private def requireChannelConsistency(bands: DataFrame,
      opts: graft.pipeline.PipelineOptions): Unit = {
    // a legitimately simhash-on index whose band table is EMPTY (no
    // hashable docs yet) carries no channel evidence either way — don't
    // fail a valid delete/rename on it
    if (bands.limit(1).count() == 0) return
    val tableHasSimhash =
      bands.where(col("band_id") >= 100).limit(1).count() > 0
    require(tableHasSimhash == opts.simHashChannel,
      s"band table simhash channel (present=$tableHasSimhash) does not match " +
        s"opts.simHashChannel=${opts.simHashChannel} — pass the opts the index was built with")
  }

  /** J6 second half — MODIFY/RENAME cascade (≅ the reference's family/
    * sample renames cascading through functions and the pichash index,
    * /root/reference/mcrit/storage/MemoryStorage.py:183-328,
    * MongoDbStorage.py:423-571): renaming a url re-keys its doc_id (the id
    * is derived from the url) and rewrites the signature AND band tables
    * consistently in one pass each. Content-derived columns (sig, simhash,
    * exact hashes) are untouched — the content didn't change — so the
    * renamed tables are bit-identical to re-running the pipeline on the
    * renamed corpus (asserted by test). `renames` is a small driver-side
    * map (an admin operation, like the reference's); new urls must not
    * collide with existing urls (that would be a merge, not a rename).
    */
  def renameDocs(spark: SparkSession, sigs: DataFrame, bands: DataFrame,
      renames: Map[String, String],
      cfg: graft.kernel.GraftConfig = graft.kernel.GraftConfig.default,
      opts: graft.pipeline.PipelineOptions = graft.pipeline.PipelineOptions())
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    require(renames.values.toSet.size == renames.size, "rename targets must be distinct")
    val clashes = sigs.where(col("url").isInCollection(renames.values.toSet))
      .limit(1).count()
    require(clashes == 0, "rename target url already exists (merge, not rename)")
    val newIdUdf = udf((u: String) => graft.pipeline.DocSig.idOf(u))
    val m = renames.toSeq.toDF("url", "new_url")
    // doc_id rekey map for the derived tables, from the ORIGINAL sigs —
    // rename-sized (≤ |renames|, a driver-side admin map), so it lives as a
    // driver-side array rather than a cached DataFrame (a cache here would
    // stay pinned for the session: the outputs are returned lazily, so no
    // point exists at which to release it)
    val idMapRows = sigs.join(broadcast(m), Seq("url"))
      .select(col("doc_id"), newIdUdf(col("new_url")).as("new_doc_id"))
      .as[(Long, Long)].collect()
    val idMap = idMapRows.toSeq.toDF("doc_id", "new_doc_id")
    // id-collision guard (the birthday event signatureStage re-keys in the
    // pipeline): a renamed id colliding with a RETAINED doc's id — or
    // with another renamed id — would silently merge two documents through
    // every derived table. Admin operation → fail loudly; pick another name.
    require(idMapRows.map(_._2).distinct.length == idMapRows.length,
      "renamed doc_ids collide with each other (1-in-2^64 event) — pick another name")
    val idClash = sigs
      .join(broadcast(idMap.select(col("new_doc_id").as("doc_id"))), Seq("doc_id"), "left_semi")
      .join(broadcast(idMap.select("doc_id")), Seq("doc_id"), "left_anti")
      .limit(1).count()
    require(idClash == 0,
      "renamed doc_id collides with an existing doc (1-in-2^64 event) — pick another name")
    val sigs2 = sigs.join(broadcast(m), Seq("url"), "left")
      .withColumn("doc_id",
        when(col("new_url").isNotNull, newIdUdf(col("new_url"))).otherwise(col("doc_id")))
      .withColumn("url", coalesce(col("new_url"), col("url")))
      .drop("new_url")
    val bands2 = bands.join(broadcast(idMap), Seq("doc_id"), "left")
      .withColumn("doc_id", coalesce(col("new_doc_id"), col("doc_id")))
      .drop("new_doc_id")
    requireChannelConsistency(bands, opts)

    // REP RE-ELECTION for the rep-only band table (every band table the
    // engine persists is rep-only): the banded representative of an
    // exact group is its MIN doc_id, and re-keying a member can change the
    // minimum — a pure posting re-key would leave the WRONG member banded
    // and break the probe-vs-fresh-run equivalence. For every exact group
    // containing a renamed doc, compare the (re-keyed) old rep with the
    // fresh minimum over the renamed table: where they differ, drop the old
    // rep's postings and band the new rep via the shared repBandTable
    // recipe. All affected-group tables are rename-sized → broadcast.
    val affected = sigs.join(broadcast(m), Seq("url"))
      .where(col("has_exact")).select("exact_hash", "exact_hash2").distinct()
    val oldReps = sigs.where(col("has_exact"))
      .join(broadcast(affected), Seq("exact_hash", "exact_hash2"))
      .groupBy("exact_hash", "exact_hash2").agg(min("doc_id").as("old_rep"))
    val oldRepsNow = oldReps
      .join(broadcast(idMap), oldReps("old_rep") === idMap("doc_id"), "left")
      .select(col("exact_hash"), col("exact_hash2"),
        coalesce(col("new_doc_id"), col("old_rep")).as("old_rep_now"))
    val newReps = sigs2.where(col("has_exact"))
      .join(broadcast(affected), Seq("exact_hash", "exact_hash2"))
      .groupBy("exact_hash", "exact_hash2").agg(min("doc_id").as("new_rep"))
    // rename-sized like idMap: collect to the driver instead of caching
    val repChangeRows = oldRepsNow.join(newReps, Seq("exact_hash", "exact_hash2"))
      .where(col("old_rep_now") =!= col("new_rep"))
      .select(col("old_rep_now"), col("new_rep"))
      .as[(Long, Long)].collect()
    val repChanges = repChangeRows.toSeq.toDF("old_rep_now", "new_rep")
    val dropIds = repChanges.select(col("old_rep_now").as("doc_id"))
    val pipe = new graft.pipeline.DedupPipeline(spark, cfg, opts)
    // restrict sigs2 to the new reps' rows and reuse the ONE rep-band recipe
    // (the reps of these groups are exactly the new_rep ids by construction)
    val addSigs = sigs2
      .join(broadcast(repChanges.select(col("new_rep").as("doc_id"))), Seq("doc_id"), "left_semi")
    val added = pipe.repBandTable(addSigs)
    val bands3 = bands2.join(broadcast(dropIds), Seq("doc_id"), "left_anti")
      .unionByName(added)
    (sigs2, bands3)
  }

  /** L5/J6 analog — delete docs: cascade the removal through the signature
    * and rep-only band tables (with Iceberg this is `DELETE FROM ... WHERE`;
    * on parquet stand-ins it is a filtering rewrite).
    */
  def deleteDocs(signatures: DataFrame, bands: DataFrame, docIds: Seq[Long],
      cfg: graft.kernel.GraftConfig = graft.kernel.GraftConfig.default,
      opts: graft.pipeline.PipelineOptions = graft.pipeline.PipelineOptions())
      : (DataFrame, DataFrame) = {
    val spark = signatures.sparkSession
    val condemned = docIds.toSet
    val sigs2 = signatures.where(!col("doc_id").isInCollection(condemned))
    val bands2 = bands.where(!col("doc_id").isInCollection(condemned))
    requireChannelConsistency(bands, opts)
    // REP RE-ELECTION (same invariant as renameDocs): deleting an exact
    // group's banded representative must hand its postings to the new
    // min-id survivor, or the survivors silently stop matching probes.
    val affected = signatures.where(col("has_exact") &&
        col("doc_id").isInCollection(condemned))
      .select("exact_hash", "exact_hash2").distinct()
    val newReps = sigs2.where(col("has_exact"))
      .join(broadcast(affected), Seq("exact_hash", "exact_hash2"))
      .groupBy("exact_hash", "exact_hash2").agg(min("doc_id").as("new_rep"))
    // survivors' new reps that were NOT already banded (i.e. the deleted
    // doc was the rep): semi-filter the band table by the rename-sized rep
    // set FIRST — a full-table distinct here would shuffle every posting
    // (~10^13 rows at the design point) to answer a broadcast-sized question
    val bandedNewReps = bands2
      .join(broadcast(newReps.select(col("new_rep").as("doc_id"))), Seq("doc_id"), "left_semi")
      .select("doc_id").distinct()
    val addSigs = sigs2
      .join(broadcast(newReps.select(col("new_rep").as("doc_id"))), Seq("doc_id"), "left_semi")
      .join(broadcast(bandedNewReps), Seq("doc_id"), "left_anti")
    val pipe = new graft.pipeline.DedupPipeline(spark, cfg, opts)
    (sigs2, bands2.unionByName(pipe.repBandTable(addSigs)))
  }

  /** L6 analog — full band-index rebuild from the signature checkpoint
    * (≅ rebuildMinhashBandIndex, MemoryStorage.py:853-878, which drops all
    * band collections and re-adds in packs): one explode over the persisted
    * signature table, co-located on the band key for the probe layout
    * (`TableStore.bandLayout`). THE definition of the persisted probe-flavor
    * table: `buildOrLoadDedupIndex` persists it. Used after a band-config
    * change; the Ledger descriptor then differs, so stale candidate/verify
    * checkpoints invalidate automatically.
    */
  def rebuildBandIndex(spark: SparkSession, signatures: DataFrame,
      cfg: graft.kernel.GraftConfig = graft.kernel.GraftConfig.default,
      opts: graft.pipeline.PipelineOptions = graft.pipeline.PipelineOptions()): DataFrame = {
    val pipe = new graft.pipeline.DedupPipeline(spark, cfg, opts)
    // THE probe flavor (rep-only + simhash chunk tables when on): feeding a
    // minhash-only all-docs table to probeParts would silently miss the
    // simhash channel and inflate group sizes past the stop-band cap
    graft.storage.TableStore.bandLayout(pipe.repBandTable(signatures))
  }

  /** THE paragraph identity: non-empty paragraphs of each doc with their
    * whitespace/case-normalized MD5 — (doc_id, para_idx, para, para_hash).
    * Single definition shared by the P2 hash index, batch paragraph dedup
    * (`DedupOps.paragraphDedupFlags`), and the streaming first-seen
    * election (`StreamingIndex`): stream/batch verdict parity depends on
    * these never drifting, so there is exactly one copy of the expression.
    */
  def paragraphRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n{2,}")).as(Seq("para_idx", "para")))
      .where(length(trim(col("para"))) > 0)
      .withColumn("para_hash",
        md5(regexp_replace(lower(trim(col("para"))), "\\s+", " ")))

  /** P2 analog — per-paragraph position-independent content hash:
    * (doc_id, para_idx, para_hash). The sub-document exact index that feeds
    * unique-block isolation and pair diffing.
    */
  def paragraphHashes(docs: DataFrame): DataFrame =
    paragraphRows(docs).select("doc_id", "para_idx", "para_hash")

  /** G1/G2 analog — pair diff: which paragraphs two docs share (exact,
    * position-independent), plus G3's fuzzy fallback — best Levenshtein
    * match among unshared paragraphs (built-in levenshtein, bounded by the
    * pair's paragraph counts). Lazy and uncached: both sides re-read the
    * two-doc filter, which is cheaper than a cache nothing could release.
    */
  def pairDiff(spark: SparkSession, docs: DataFrame, idA: Long, idB: Long,
      maxDistance: Int = 10): DataFrame = {
    val paras = docs.where(col("doc_id").isin(idA, idB))
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n{2,}")).as(Seq("para_idx", "para")))
      .withColumn("norm", regexp_replace(lower(trim(col("para"))), "\\s+", " "))
      .where(length(col("norm")) > 0)
    val a = paras.where(col("doc_id") === idA)
      .select(col("para_idx").as("idx_a"), col("norm").as("norm_a"))
    val b = paras.where(col("doc_id") === idB)
      .select(col("para_idx").as("idx_b"), col("norm").as("norm_b"))
    a.crossJoin(b)
      .withColumn("exact", col("norm_a") === col("norm_b"))
      .withColumn("lev", when(col("exact"), 0)
        .otherwise(levenshtein(col("norm_a"), col("norm_b"), maxDistance)))
      .where(col("lev") >= 0 && col("lev") <= maxDistance)
      .select("idx_a", "idx_b", "exact", "lev")
  }
}
