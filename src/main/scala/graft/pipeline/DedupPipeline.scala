package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel._
import graft.hash.SimHash
import graft.cluster.ConnectedComponents
import graft.ledger.Ledger

/** End-to-end near-duplicate detection + clustering over a Common-Crawl-style
  * table (url, warc_ts, html, text, lang) — the Spark-native rebuild of the
  * reference's match pipeline (/root/reference/mcrit/matchers/MatcherInterface.py:150-236):
  *
  *   extract → shingle → MinHash(64×8-bit segmented) + SimHash64 →
  *   S1 key collapse on doc_id (duplicate urls merge, colliding ids
  *   re-key) → exact-hash channel (pichash analog, implies-match pruning) →
  *   LSH band explode {4:20} → skew-capped candidate generation (one lazy
  *   plan: map-side local cap, one key shuffle, stop-band groups) →
  *   signature verification (positional equality > 50) [+ exact k-gram
  *   Jaccard] →
  *   large-star/small-star connected components → (url, cluster_id).
  *
  * One pair producer (`pairGraph`) owns the middle of that chain, from a
  * signature table to exact edges ∪ verified LSH pairs. `run()` is
  * audit → producer → CC → assign, `dupPairs`/`dupPairsFromSigs` return the
  * producer's pairs, and the incremental probe reuses its candidate →
  * verify → union tail (`pairTail`) over the probed band subset, so batch
  * and probe pair sets come from one body of code.
  *
  * Scale design notes (100 TB / 10^12 docs):
  *  - One typed mapPartitions computes signature+simhash+exact hash per doc;
  *    everything downstream is DataFrame/Catalyst (pruned, codegen'd).
  *  - doc_id birthday collisions (~27k expected at 10^12 docs) are repaired
  *    inside the S1 shuffle, which already groups on doc_id, for every
  *    signature-table caller; `run()`'s audit adds one scan of the cached
  *    table, no shuffle, and repairs only a second-order collision.
  *  - Exact-dup docs collapse to one representative BEFORE banding
  *    (≅ PICHASH_IMPLIES_MINHASH_MATCH, MinHashConfig.py:35) — verbatim dups
  *    (a large share of web text) never enter the quadratic path.
  *  - Candidate generation: per-(band_id, band_hash) groups in ONE lazy
  *    plan with no cache, detection pass or checkpoint of its own; a
  *    map-side local cap ships at most cap+1 postings per key per map
  *    partition, groups above `maxBandGroupSize` are dropped as stop-bands
  *    at the reducer (boilerplate collisions would be quadratic; other
  *    bands + the exact channel keep recall), remaining pairs are emitted
  *    per sorted group and counted per (a, b). The table fuses into the
  *    first action that consumes it.
  *  - Verification joins pick broadcast vs sort-merge via Catalyst/AQE stats.
  *  - From the signature cache to cluster ids, `run()` without a ledger
  *    plans ONE action for the producer and CC: both channels in one plan
  *    (no rep checkpoint), each banded doc exploded once (`bandsOf`), and
  *    CC collecting its edges once with a per-partition bound
  *    (`ConnectedComponents.run`).
  */
final case class PipelineOptions(
    maxBandGroupSize: Int = 500,
    simHashChannel: Boolean = true,
    // the banding below GUARANTEES this radius (chunk tables are derived
    // from it): maxHamming+2 blocks, all C(blocks,2) chunk-pair tables.
    // Default 2, the widest radius whose ~32-bit keys keep average bucket
    // size under the stop-band cap at the 10^12-doc design point (radius 3
    // needs 5 blocks → ~25.6-bit keys → every bucket over cap at 10^12;
    // settable for smaller corpora, and hamming-3 near-identicals are
    // covered by the MinHash channel regardless)
    simHashMaxHamming: Int = 2,
    // simhash-rescued pairs (hamming ≤ max but minhash score ≤ threshold)
    // must still clear this signature-score floor — guards precision when a
    // corpus is boilerplate-heavy and simhash bit-majorities collapse
    simHashScoreFloor: Double = 30.0,
    jaccardVerify: Boolean = false,
    jaccardThreshold: Double = 0.3
)

/** Per-doc computed features (one row per input url). The exact-dup identity
  * is 128-bit (exact_hash, exact_hash2): a single 64-bit content hash at the
  * 10^12-doc design scale expects ~27k birthday collisions = silent false
  * exact merges. doc_id stays a 64-bit join/shuffle key (narrow hot-path
  * rows): `DocSig.idOf(url)`, re-keyed to `DocSig.rekeyedId(url, round)`
  * where it collides (`DedupPipeline.collapseById`, `resolveIdCollisions`).
  */
final case class DocSig(
    doc_id: Long,
    url: String,
    n_tokens: Int,
    hashable: Boolean,
    exact_hash: Long,
    exact_hash2: Long,
    has_exact: Boolean,
    sig: Array[Byte],
    simhash: Long)

object DocSig {
  /** Per-executor signature kernel: generates each shingle set once, hashes
    * it once, and feeds the same hashed k-gram set to BOTH the MinHash
    * signature and the SimHash channel (the naive form re-shingled the doc
    * twice — measured ~35% of the dominant stage).
    */
  final class Kernel(c: GraftConfig) extends Serializable {
    private val hasher = new MinHasher(c)
    private val kgram = new KGramShingler(c, 1)
    private val fuzzy = new FuzzyStatShingler(c, 1)
    private val HashMax = 0xffffffffL

    private var normScratch = new Array[Byte](1024)

    /** UTF-8 bytes of `paraTokens.map(_.mkString(" ")).mkString("\n")`
      * assembled directly from token bytes into a reusable scratch (UTF-8
      * is concatenative per code point, and ' '/'\n' are single-byte) —
      * the exact-hash path otherwise materializes the full normalized
      * String and converts it to bytes TWICE (once per hash seed pair).
      * Returns the byte length in scratch.
      */
    private def normalizedBytes(paraTokens: Array[Array[String]]): Int = {
      var total = if (paraTokens.length > 0) paraTokens.length - 1 else 0
      var p = 0
      while (p < paraTokens.length) {
        val toks = paraTokens(p)
        if (toks.length > 0) total += toks.length - 1
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          // ASCII fast path: tokens are overwhelmingly ASCII post-normalize
          var ascii = true
          var j = 0
          while (ascii && j < t.length) { if (t.charAt(j) >= 0x80) ascii = false; j += 1 }
          total += (if (ascii) t.length
            else t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
          i += 1
        }
        p += 1
      }
      if (normScratch.length < total)
        normScratch = new Array[Byte](math.max(total, normScratch.length * 2))
      var pos = 0
      p = 0
      while (p < paraTokens.length) {
        if (p > 0) { normScratch(pos) = '\n'; pos += 1 }
        val toks = paraTokens(p)
        var i = 0
        while (i < toks.length) {
          if (i > 0) { normScratch(pos) = ' '; pos += 1 }
          val t = toks(i)
          var ascii = true
          var j = 0
          while (ascii && j < t.length) { if (t.charAt(j) >= 0x80) ascii = false; j += 1 }
          if (ascii) {
            j = 0
            while (j < t.length) { normScratch(pos) = t.charAt(j).toByte; pos += 1; j += 1 }
          } else {
            val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            System.arraycopy(b, 0, normScratch, pos, b.length)
            pos += b.length
          }
          i += 1
        }
        p += 1
      }
      pos
    }

    def compute(url: String, text: String): DocSig = {
      val tok = TextNorm.tokenize(if (text == null) "" else text)
      val n = tok.numTokens
      val hashable = n > c.minTokens
      val docId = idOf(url)
      val hasExact = n >= c.exactHashMinTokens
      val normLen = if (hasExact) normalizedBytes(tok.paraTokens) else 0
      val exactHash = if (hasExact) SimHash.hash64Bytes(normScratch, normLen) else 0L
      val exactHash2 = if (hasExact) SimHash.hash64bBytes(normScratch, normLen) else 0L
      if (!hashable)
        return DocSig(docId, url, n, hashable = false, exactHash, exactHash2,
          hasExact, Array.emptyByteArray, 0L)
      // one shingling pass, zero per-window allocation (≅ process(seed=0,
      // weights off) incl. the empty→0xFFFFFFFF sentinel)
      val kgHashes = kgram.hashedShingles(tok)
      val fzHashes = fuzzy.process(tok, 0, useWeights = false)(0)
      val sigInts = hasher.signatureFromShingles(
        Map(kgram.name -> kgHashes, fuzzy.name -> fzHashes))
      // hashable docs always have ≥1 token ⇒ ≥1 real k-gram shingle
      val sh = SimHash.ofHashes(kgHashes)
      DocSig(docId, url, n, hashable = true, exactHash, exactHash2, hasExact,
        hasher.pack(sigInts), sh)
    }
  }

  /** The doc_id of `url`: a 64-bit hash, unique up to birthday collisions. */
  def idOf(url: String): Long = SimHash.hash64("doc:" + url)

  /** The id `url` takes in collision-repair round `round` (≥ 1): a salted
    * re-hash, so every url of a collided id moves to its own fresh id. */
  def rekeyedId(url: String, round: Int): Long = SimHash.hash64(s"doc:$round:$url")

  /** Deterministic total order on same-url rows for the S1 key-dedup
    * (compare content fields; the winner is the lexicographically largest —
    * any fixed rule works, it just must not depend on partitioning).
    */
  def rowOrder(a: DocSig, b: DocSig): Int = {
    if (a.exact_hash != b.exact_hash) return java.lang.Long.compare(a.exact_hash, b.exact_hash)
    if (a.exact_hash2 != b.exact_hash2) return java.lang.Long.compare(a.exact_hash2, b.exact_hash2)
    if (a.simhash != b.simhash) return java.lang.Long.compare(a.simhash, b.simhash)
    if (a.n_tokens != b.n_tokens) return Integer.compare(a.n_tokens, b.n_tokens)
    java.util.Arrays.compareUnsigned(a.sig, b.sig)
  }

  /** Deterministic fingerprint of the kernel's OUTPUT behavior under `c`:
    * one fixed probe document signed with the live kernel, hashed. Any
    * change to tokenization, shingling, MinHash, SimHash or exact hashing
    * that alters outputs changes this stamp — persisted-index descriptors
    * fold it in so a kernel change forces a rebuild without a hand-bumped
    * version (see QueryMatch.buildOrLoadIndex).
    */
  def kernelFingerprint(c: GraftConfig): String = {
    val probe =
      """the quick brown fox jumps over the lazy dog while seventeen green
        |bottles hang quietly on the old stone wall near the harbor
        |
        |every kernel change that alters tokenization shingling minhash or
        |simhash output must move this fingerprint to invalidate indexes""".stripMargin
    val d = new Kernel(c).compute("kernel-fingerprint-probe", probe)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(d.sig)
    val buf = java.nio.ByteBuffer.allocate(24)
    buf.putLong(d.simhash).putLong(d.exact_hash).putLong(d.exact_hash2)
    md.update(buf.array())
    md.digest().map("%02x".format(_)).mkString.take(12)
  }
}

final class DedupPipeline(
    spark: SparkSession,
    cfg: GraftConfig = GraftConfig.default,
    opts: PipelineOptions = PipelineOptions(),
    ledger: Option[Ledger] = None) {

  import spark.implicits._

  /** Extraction: html → normalized text (deterministic, byte-stable per url).
    * When `fromHtml` is false the `text` column is trusted as pre-extracted.
    */
  def extractStage(input: DataFrame, fromHtml: Boolean): DataFrame = {
    if (fromHtml) {
      val extractUdf = udf((html: Array[Byte]) => TextNorm.extract(html))
      input.withColumn("text", extractUdf(col("html"))).select("url", "text")
    } else input.select("url", "text")
  }

  /** One typed pass per doc: tokenize, shingle, sign (MinHash + SimHash),
    * exact hash, then the S1 key collapse (`collapseById`) in one
    * narrow-row shuffle (~100 B/doc) on doc_id: re-crawled duplicate urls
    * COLLAPSE to one deterministic row (≅ the reference inserting by sha256
    * key, MemoryStorage.py:369), and distinct urls sharing a 64-bit doc_id
    * are re-keyed apart. Without the collapse a duplicate url ships its
    * doc_id twice into every band group, emitting (x, x) self-pairs and
    * duplicate output rows. Only the batch path pays the shuffle (the
    * streaming path dedups in state).
    */
  def signatureStage(docs: DataFrame): Dataset[DocSig] = collapseById(signRows(docs))

  /** The S1 collapse, grouped on doc_id (one url always maps to one
    * `DocSig.idOf`, so a doc_id group holds every row of its urls):
    * same-url rows collapse to their `DocSig.rowOrder` maximum (any fixed
    * rule works, it just must not depend on partitioning); when more than
    * one distinct url remains, the id is a birthday collision and each url
    * takes `DocSig.rekeyedId(url, 1)` — round 1 of `resolveIdCollisions`,
    * paid inside the shuffle the collapse needs anyway. A re-keyed id that
    * hits another doc's id (a second-order collision) is left to `run()`'s
    * audit.
    */
  private[graft] def collapseById(rows: Dataset[DocSig]): Dataset[DocSig] =
    rows.groupByKey(_.doc_id).flatMapGroups { (_, group) =>
      val byUrl = scala.collection.mutable.HashMap.empty[String, DocSig]
      for (d <- group) byUrl.get(d.url) match {
        case Some(kept) if DocSig.rowOrder(kept, d) >= 0 =>
        case _ => byUrl(d.url) = d
      }
      if (byUrl.size == 1) byUrl.valuesIterator
      else byUrl.valuesIterator.map(d => d.copy(doc_id = DocSig.rekeyedId(d.url, 1)))
    }

  /** The per-doc kernel pass alone: (url, text) → one `DocSig` per input
    * row, no url collapse. Stateless, so it also signs a streaming
    * DataFrame (the cascade head `StreamingIndex.sigVerdictStream`).
    */
  private[graft] def signRows(docs: DataFrame): Dataset[DocSig] = {
    val bcCfg = spark.sparkContext.broadcast(cfg)
    docs.select("url", "text").as[(String, String)].mapPartitions { it =>
      val k = new DocSig.Kernel(bcCfg.value)
      it.map { case (url, text) => k.compute(url, text) }
    }
  }

  // ---- exact channel (pichash analog) ---------------------------------

  /** Representative per exact-hash group + member→rep edges, keyed by the
    * 128-bit (exact_hash, exact_hash2) identity.
    * ≅ V6/V7: exact dups match at score 100 and are pruned from the fuzzy
    * path (MatcherInterface.py:137-148,273-308). Feed this the UNFILTERED
    * signature table: docs in the [exactHashMinTokens, minTokens] gap are
    * not minhashable but byte-identical short docs must still exact-dedup.
    */
  def exactGroups(sigs: DataFrame,
      precomputedReps: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val withExact = sigs.where(col("has_exact"))
    // precomputedReps: callers whose reps table feeds SEVERAL
    // separately-materialized jobs pass a checkpointed/cached copy so the
    // 128-bit groupBy runs once, not once per consuming job
    val reps = precomputedReps.getOrElse(
      withExact.groupBy("exact_hash", "exact_hash2")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("group_size")))
    val exactEdges = withExact.select("exact_hash", "exact_hash2", "doc_id")
      .join(reps.select("exact_hash", "exact_hash2", "rep_id"),
        Seq("exact_hash", "exact_hash2"))
      .where(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("src"), col("doc_id").as("dst"))
    (reps, exactEdges)
  }

  /** Repair loop for doc_id collisions in a url-unique signature table
    * (S1 output): every id claimed by more than one row is re-keyed with
    * `DocSig.rekeyedId`, iterating until clean (collision sets are tiny —
    * ~27k at 10^12 docs — so the fix-up join broadcasts). `collapseById`
    * already applies round 1 to first-order collisions, so `run()` reaches
    * this loop only for a second-order one (a re-keyed id hitting another
    * doc's id). Duplicate urls break the url-unique premise loudly: they
    * rehash to the SAME id every round, so the loop cannot converge and
    * throws.
    */
  def resolveIdCollisions(sigs0: DataFrame): DataFrame = {
    val rehash = udf((url: String, round: Int) => DocSig.rekeyedId(url, round))
    var cur = sigs0
    var round = 1
    var clean = false
    while (!clean && round <= 5) {
      // a pure long-key count shuffle (map-side combined)
      val collided = cur.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .where(col("n") > 1).select("doc_id")
      if (collided.isEmpty) clean = true
      else {
        cur = cur.join(broadcast(collided.withColumn("_hit", lit(true))), Seq("doc_id"), "left")
          .withColumn("doc_id",
            when(col("_hit"), rehash(col("url"), lit(round))).otherwise(col("doc_id")))
          .drop("_hit")
        round += 1
      }
    }
    if (!clean) throw new IllegalStateException(
      "doc_id collision repair did not converge after 5 rounds")
    cur
  }

  // ---- LSH banding ----------------------------------------------------

  /** Explode band hashes for the representative signatures:
    * (band_id, band_hash, doc_id). ≅ L2/L3 band table
    * (StorageInterface.py:731-746, MongoDbStorage.py:868-895).
    */
  def bandStage(repSigs: DataFrame): DataFrame =
    repSigs.select(col("doc_id"), posexplode(bandHashes(col("sig"))).as(Seq("band_id", "band_hash")))

  /** Per-band hashes of a packed signature column, one array element per
    * configured band — the band kernel every band table is built from
    * (batch, probe and the streaming near-dup state). */
  private[graft] def bandHashes(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val bandsUdf = udf((sig: Array[Byte]) => {
      val c = bcCfg.value
      new Bands(c).bandHashes(new MinHasher(c).unpack(sig))
    })
    bandsUdf(sig)
  }

  /** THE rep-only band table recipe — the single definition of what the
    * persisted/probed band table contains: one banded signature per exact
    * group (the min-doc_id representative, V7 exact-implies-match pruning),
    * non-exact hashable docs banded individually, simhash chunk tables
    * unioned when that channel is on. `run()`, the persisted dedup index,
    * the probe fallback and the rename cascade ALL call this — the probe-vs-
    * batch equivalence of incremental mode depends on there being exactly
    * one copy of this invariant. Pass `precomputedReps` when `exactGroups`
    * was already evaluated to avoid a second aggregation.
    */
  def repBandTable(sigs0: DataFrame, precomputedReps: Option[DataFrame] = None): DataFrame = {
    val reps = precomputedReps.getOrElse(exactGroups(sigs0)._1)
    bandsOf(repSigs(sigs0.where(col("hashable")), reps))
  }

  /** The hashable rows that band: each exact group's rep (`reps.rep_id`)
    * plus every doc without an exact hash. */
  private def repSigs(hashable: DataFrame, reps: DataFrame): DataFrame =
    hashable
      .join(reps.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .unionByName(hashable.where(!col("has_exact")))

  /** Band postings of `sigs`: (doc_id, band_id, band_hash), the MinHash
    * bands as band_id 0…n−1 plus, when that channel is on, the SimHash
    * chunk-pair tables as band_id 100+ (a disjoint id space). One projection
    * computes both hash arrays and one `posexplode` emits them, so a banded
    * doc is read once.
    *
    * SimHash banding: chunk-pair tables DERIVED from the configured Hamming
    * radius, so the structural guarantee always matches the verify gate:
    * blocks = simHashMaxHamming + 2 equal-ish chunks, one table per
    * C(blocks, 2) chunk pair — ≤ maxHamming flips leave ≥ 2 chunks intact,
    * hence some intact pair (the same derivation `phashDupPairs` uses).
    * At the default radius 2 that is C(4,2)=6 tables of paired 16-bit
    * chunks: single-chunk keys collide randomly at ~n²/2^17 pairs (measured
    * as millions of junk candidates at 300k docs), chunk PAIRS at ~n²/2^33.
    * Raising the radius buys guarantee at the price of key entropy
    * (radius 3 → 5 blocks → ~25.6-bit keys), which the stop-band cap then
    * bounds — see the PipelineOptions note.
    */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame = {
    val blocks = opts.simHashMaxHamming + 2
    val combos = udf((v: Long) => SimHash.chunkCombos(v, blocks, 2))
    val hashes =
      if (opts.simHashChannel) concat(bandHashes(col("sig")), combos(col("simhash")))
      else bandHashes(col("sig"))
    val nMinhash = cfg.numBands
    sigs.select(col("doc_id"), posexplode(hashes).as(Seq("pos", "band_hash")))
      .select(col("doc_id"),
        when(col("pos") < nMinhash, col("pos")).otherwise(col("pos") - nMinhash + 100)
          .as("band_id"), col("band_hash"))
  }

  // ---- candidate generation (the load-bearing shuffle) ----------------

  /** Per-band-group pair emission with stop-band capping; pair kept when it
    * collides in ≥ bandMatchesRequired bands (≅ L4,
    * MongoDbStorage.py:897-930 with BAND_MATCHES_REQUIRED=2).
    *
    * Group sizes are bounded by `maxBandGroupSize`: a hotter group is
    * boilerplate-degenerate (cf. the reference's unbounded Mongo
    * function_ids arrays, a non-issue at 10^5 but quadratic death at 10^12)
    * and is dropped; its members still pair through their other 19 bands or
    * the exact channel.
    */
  def candidateStage(bands: DataFrame, bandMatchesRequired: Int): DataFrame =
    DedupPipeline.pairsFromBands(spark, bands, opts.maxBandGroupSize, bandMatchesRequired)

  // ---- verification ---------------------------------------------------

  /** Join candidates back to signatures and keep pairs above the matching
    * threshold (strict >, ≅ MINHASH_MATCHING_THRESHOLD=50 at
    * MinHasher.py:108-124). Broadcast-vs-SMJ picked by Catalyst/AQE stats.
    */
  def verifyStage(candidates: DataFrame, sigs: DataFrame): DataFrame = {
    val sigCols = sigs.select(col("doc_id"), col("sig"), col("simhash"))
    val joined = candidates
      .join(sigCols.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("sig", "sig_a").withColumnRenamed("simhash", "sh_a"), "a")
      .join(sigCols.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("sig", "sig_b").withColumnRenamed("simhash", "sh_b"), "b")
    // native expressions → the scoring stays inside whole-stage codegen
    // (a Scala UDF here would fence the span around the verify join)
    val scored = joined
      .withColumn("score", graft.expr.SignatureScore.sigScore(col("sig_a"), col("sig_b")))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int"))
    // a pair survives via the minhash threshold OR the simhash hamming ball
    val minhashOk = col("score") > lit(cfg.matchingThreshold)
    val simhashOk =
      if (opts.simHashChannel)
        col("hamming") <= lit(opts.simHashMaxHamming) &&
          col("score") > lit(opts.simHashScoreFloor)
      else lit(false)
    scored.where(minhashOk || simhashOk)
      .select(col("a"), col("b"), col("score"), col("hamming"), col("n_bands"))
  }

  /** Optional exact k-gram Jaccard verification for surviving pairs
    * (north_rule upgrade over the reference's signature-only check).
    */
  def jaccardStage(pairs: DataFrame, docs: DataFrame, sigs: DataFrame): DataFrame = {
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val shingleSetUdf = udf((text: String) => {
      val c = bcCfg.value
      val kg = new KGramShingler(c, 1)
      kg.generateSequences(TextNorm.tokenize(text)).distinct.toArray
    })
    val texts = docs.join(sigs.select("doc_id", "url"), "url")
      .select(col("doc_id"), shingleSetUdf(col("text")).as("shingles"))
    val j = pairs
      .join(texts.withColumnRenamed("doc_id", "a").withColumnRenamed("shingles", "sh_set_a"), "a")
      .join(texts.withColumnRenamed("doc_id", "b").withColumnRenamed("shingles", "sh_set_b"), "b")
      .withColumn("jaccard",
        when(size(array_union(col("sh_set_a"), col("sh_set_b"))) === 0, lit(1.0))
          .otherwise(size(array_intersect(col("sh_set_a"), col("sh_set_b"))).cast("double") /
            size(array_union(col("sh_set_a"), col("sh_set_b")))))
    j.where(col("jaccard") >= lit(opts.jaccardThreshold))
      .select("a", "b", "score", "hamming", "n_bands", "jaccard")
  }

  // ---- the pair producer ----------------------------------------------

  /** What one producer call yields: the exact channel's edges (src, dst)
    * and the LSH channel's verified pairs (a, b, score, hamming, n_bands,
    * jaccard — the stored schema of the "verified" ledger stage; jaccard is
    * null unless the caller passed text). Both tables are lazy and pin
    * nothing: unstaged they are plans over the caller's signature table,
    * staged they read the ledger's committed stage tables.
    */
  private[graft] final class PairGraph(val exactEdges: DataFrame, val verified: DataFrame) {
    /** Both channels in one (src, dst, score, hamming, flags) table. */
    def pairs: DataFrame = DedupPipeline.unionDisjointChannels(
      verified.select(col("a").as("src"), col("b").as("dst"), col("score"), col("hamming")),
      exactEdges)
  }

  /** `f` as ledger stage `name` when `stages` is set, plain otherwise. */
  private def stage(stages: Option[Ledger], name: String, params: String,
      upstream: Seq[String])(f: => DataFrame): DataFrame =
    stages match {
      case Some(l) => l.stage(name, l.descriptor(name, params, upstream))(f)
      case None => f
    }

  /** THE pair producer: signature table → exact edges ∪ verified LSH pairs
    * (≅ the reference matcher's band collision → verification →
    * aggregation flow, MatcherInterface.py:150-236).
    *
    *  - The exact channel groups ALL has_exact docs, including the short
    *    non-minhashable gap, so byte-identical short docs still dedup.
    *  - The rep table feeds the exact edges and the band table. Unstaged
    *    (`run()` without a ledger, `dupPairs`, `dupPairsFromSigs`,
    *    `minhashPairs`) both channels are consumed in ONE plan, so the rep
    *    table is not cached. Each channel then plans its own narrow
    *    rep aggregate (doc_id and the two hashes of the has_exact rows):
    *    AQE does not reuse an exchange that sits above a cached-table stage
    *    (without AQE the two are one `ReusedExchange`). The benchmark got
    *    faster with the second map stage than with the checkpoint's extra
    *    job and stored blocks (BENCH.md, round 8).
    *  - Staged, the ledger writes `exact_edges` and `bands` in separate
    *    actions, so the rep table is cached (`withCached`) across all four
    *    stage writes, which all happen inside this call: the first write
    *    fills it, the second reuses it, and it is released before return.
    *  - `stages` wraps each step in its ledger stage (names, descriptors
    *    and stored schemas are the resume contract) and co-locates the
    *    persisted band table by band key (`TableStore.bandLayout`, the
    *    layout probes rely on). Unstaged, candidateStage shuffles on the
    *    packed band key anyway, so that exchange would be pure waste.
    *  - `text` (url, text), when given, adds exact k-gram Jaccard
    *    verification of the LSH pairs.
    */
  private[graft] def pairGraph(sigs0: DataFrame, stages: Option[Ledger] = None,
      text: Option[DataFrame] = None): PairGraph = {
    val reps = exactGroups(sigs0)._1
    def graph: PairGraph = {
      val exactEdges = stage(stages, "exact_edges", "", Seq("signatures")) {
        exactGroups(sigs0, Some(reps))._2
      }
      val bandTable = stage(stages, "bands",
          s"bands=${cfg.bands},sh=${opts.simHashChannel},shmax=${opts.simHashMaxHamming},bandsv=2",
          Seq("signatures")) {
        val all = repBandTable(sigs0, Some(reps))
        if (stages.isEmpty) all else graft.storage.TableStore.bandLayout(all)
      }
      new PairGraph(exactEdges,
        pairTail(bandTable, sigs0.where(col("hashable")), stages, text, identity))
    }
    if (stages.isEmpty) graph else DedupPipeline.withCached(reps)(graph)
  }

  /** The producer's candidate → verify tail over a band table: the
    * verified LSH pairs, lazy. `keep` filters the candidate pairs before
    * verification (the probe keeps only pairs touching its new batch);
    * `sigs` holds the hashable signatures of every doc the band table names.
    */
  private def pairTail(bands: DataFrame, sigs: DataFrame, stages: Option[Ledger],
      text: Option[DataFrame], keep: DataFrame => DataFrame): DataFrame = {
    val candidates = stage(stages, "candidates",
        s"cap=${opts.maxBandGroupSize},r=${cfg.bandMatchesRequired}", Seq("bands")) {
      candidateStage(bands, cfg.bandMatchesRequired)
    }
    val verified0 = verifyStage(keep(candidates), sigs)
    stage(stages, "verified",
        s"thr=${cfg.matchingThreshold},jac=${opts.jaccardVerify}," +
          s"jthr=${opts.jaccardThreshold},shfloor=${opts.simHashScoreFloor}," +
          s"shmax=${opts.simHashMaxHamming}",
        Seq("candidates")) {
      text match {
        case Some(docs) => jaccardStage(verified0, docs, sigs)
        case None => verified0.withColumn("jaccard", lit(null).cast("double"))
      }
    }
  }

  /** Text for the producer's Jaccard verification, when it is on. */
  private def jaccardText(docs: DataFrame): Option[DataFrame] =
    if (opts.jaccardVerify) Some(docs) else None

  // ---- full run -------------------------------------------------------

  /** Returns (url, doc_id, cluster_id): cluster_id is the min doc_id of the
    * near-duplicate component (singletons cluster with themselves).
    */
  def run(input: DataFrame, fromHtml: Boolean = true): DataFrame = {
    val docs = extractStage(input, fromHtml)
    // the FULL signature table feeds the audit, banding, verification and
    // the final assignment join. ids=2: the stored table carries
    // collapseById's re-keyed ids (a table stored without them would pass
    // the audit unrepaired).
    val sigs = stage(ledger, "signatures", s"fromHtml=$fromHtml,ids=2", Nil) {
      signatureStage(docs).toDF()
    }
    DedupPipeline.withCached(sigs) {
      val sigs0 = auditedIds(sigs)
      val graph = pairGraph(sigs0, ledger, jaccardText(docs))
      val edges = graph.exactEdges.select("src", "dst")
        .unionByName(graph.verified.select(col("a").as("src"), col("b").as("dst")))
      val components = stage(ledger, "components", "", Seq("verified")) {
        ConnectedComponents.run(edges)
      }
      // every doc: component if present, else itself
      sigs0.select("url", "doc_id")
        .join(components.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
        .select("url", "doc_id", "cluster_id")
        .localCheckpoint(true)
    }
  }

  /** `run()`'s doc_id audit of a url-unique signature table (S1 output).
    * `collapseById` re-keyed every first-order collision, so a collision
    * left in the table involves a re-keyed row (doc_id ≠ `DocSig.idOf(url)`).
    * One full-parallel count of those rows, the action that also fills the
    * caller's signature cache, decides: none (every real corpus) returns
    * the table as is; otherwise the `resolveIdCollisions` loop repairs it.
    */
  private[graft] def auditedIds(sigs: DataFrame): DataFrame = {
    val idOf = udf((url: String) => DocSig.idOf(url))
    if (sigs.where(col("doc_id") =!= idOf(col("url"))).count() == 0) sigs
    else resolveIdCollisions(sigs)
  }

  /** Verified duplicate pairs only (no clustering): the producer's pairs,
    * Jaccard-verified under `opts.jaccardVerify` exactly as in `run()`. */
  def dupPairs(input: DataFrame, fromHtml: Boolean = true): DataFrame = {
    val docs = extractStage(input, fromHtml)
    val sigs0 = signatureStage(docs).toDF()
    DedupPipeline.withCached(sigs0) {
      pairGraph(sigs0, text = jaccardText(docs)).pairs.localCheckpoint(true)
    }
  }

  /** As `dupPairs` (without Jaccard verification), over a precomputed
    * (ideally cached) signature table — callers that already materialized
    * `signatureStage` (the dominant CPU cost of the whole pipeline) must not
    * pay it a second time.
    */
  def dupPairsFromSigs(sigs0: DataFrame): DataFrame = pairGraph(sigs0).pairs

  // ---- probe-only incremental pairs ------------------------------------

  /** Rows of `pairs` whose `x` or `y` endpoint is in `ids` (doc_id), each
    * row once. */
  private def touching(pairs: DataFrame, ids: DataFrame, x: String, y: String): DataFrame =
    pairs
      .join(broadcast(ids).withColumnRenamed("doc_id", x), Seq(x), "left_semi")
      .unionByName(pairs
        .join(broadcast(ids).withColumnRenamed("doc_id", y), Seq(y), "left_semi")
        .join(broadcast(ids).withColumnRenamed("doc_id", x), Seq(x), "left_anti"))

  /** PROBE-ONLY incremental pair production — the scale-correct shape for
    * "a small new batch lands on a 10^12-doc corpus" (≅ the reference's
    * addBinarySample → matchSample flow, which probes ONLY the new sample's
    * band hashes against the stored band index,
    * /root/reference/mcrit/storage/MongoDbStorage.py:897-930; it never
    * re-runs candidate generation over the resident corpus).
    *
    * Output contract (tested batch-equivalent): EXACTLY
    * `dupPairsFromSigs(oldSigs0 ∪ newSigs0)` restricted to pairs touching
    * ≥1 new doc — same caps, same channels, same scores. Candidate work is
    * ∝ the new batch, never the corpus:
    *
    *  - Exact channel: old signatures are probed on the new batch's 128-bit
    *    exact hashes (a broadcast semi-join ≡ point lookups on an
    *    Iceberg bloom/zorder layout); group reps are re-elected over the
    *    touched groups only.
    *  - LSH channel: only NEW reps band. The persisted old band table is
    *    semi-joined on the new reps' band keys (broadcast: ~26 keys per new
    *    rep), so every candidate group contains a new doc by construction;
    *    the group membership for a probed key equals the full-batch group
    *    (old postings + new reps), hence stop-band cap and ≥2-band semantics
    *    are bit-identical.
    *  - Rep re-election across the old/new boundary (a new doc with a
    *    smaller doc_id joins an old exact group): the replaced old rep's
    *    postings are anti-joined out and the new rep's are emitted fresh —
    *    the signatures are identical (same content), so this is a pure
    *    doc_id rekey, exactly what the full batch would have banded.
    *
    * `oldBands` must be the rep-only band table of `oldSigs0` under the
    * same cfg/opts (minhash bands plus the simhash chunk tables when
    * `simHashChannel` is on) — i.e. what `run()`'s "bands" ledger stage or
    * `MaintenanceOps.buildOrLoadDedupIndex` persists. Passing it in keeps
    * the probe off exactGroups' corpus-wide groupBy: only the batch-touched
    * exact groups of the old side are aggregated.
    *
    * The result carries the lazy pair output (`ProbeParts.pairs`: the
    * producer's candidate → verify tail with a touching-new filter, unioned
    * with the touched exact edges) and the state deltas a rolling index
    * appends (`newBands`) and tombstones (`replacedReps`) — one plan serves
    * both, so `DedupJob`'s rolling mode never builds the probe twice.
    *
    * Assumes `newSigs0` doc_ids are disjoint from the old corpus (re-sent
    * urls should be excluded first via `MaintenanceOps.newDocs`).
    */
  private[graft] def probeParts(oldSigs0: DataFrame, newSigs0: DataFrame,
      oldBands: DataFrame): DedupPipeline.ProbeParts = {
    // ---- exact channel, touched groups only ----
    val newExact = newSigs0.where(col("has_exact"))
    val touchedHashes = newExact.select("exact_hash", "exact_hash2").distinct()
    val oldTouched = oldSigs0.where(col("has_exact"))
      .join(broadcast(touchedHashes), Seq("exact_hash", "exact_hash2"), "left_semi")
    val (touchedReps, exactEdgesAll) = exactGroups(oldTouched.unionByName(newExact))
    val exactEdges = touching(exactEdgesAll, newSigs0.select("doc_id"), "src", "dst")

    // ---- rep re-election bookkeeping ----
    // old-state rep per touched group (what the old band table banded)
    val oldReps = oldTouched.groupBy("exact_hash", "exact_hash2")
      .agg(min("doc_id").as("old_rep"))
    // groups whose union rep differs from their old rep: the union rep is a
    // new doc; the old rep's postings must be rekeyed (drop + fresh emit)
    val replacedOldReps = touchedReps
      .join(oldReps, Seq("exact_hash", "exact_hash2"))
      .where(col("rep_id") =!= col("old_rep"))
      .select(col("old_rep").as("doc_id"))

    // ---- new-side banding: ONLY new docs that are union reps (or have no
    // exact hash) band, mirroring the batch rep-only banding ----
    val newBands = bandsOf(repSigs(newSigs0.where(col("hashable")), touchedReps))

    // ---- probe the old band table on the new batch's band keys ----
    def packKey(df: DataFrame): DataFrame = df.select(
      DedupPipeline.packedBandKey(col("band_id"), col("band_hash")).as("band_key"),
      col("band_id"), col("band_hash"), col("doc_id"))
    val probeKeys = packKey(newBands).select("band_key").distinct()
    val oldProbe = packKey(oldBands)
      .join(broadcast(probeKeys), Seq("band_key"), "left_semi")
      .join(broadcast(replacedOldReps), Seq("doc_id"), "left_anti")
      .select("band_id", "band_hash", "doc_id")
    val candInput = oldProbe.unionByName(newBands.select("band_id", "band_hash", "doc_id"))

    // ---- the producer's tail over the probed bands, new-touching pairs only
    val allHashable = oldSigs0.where(col("hashable")).unionByName(newSigs0.where(col("hashable")))
    val verified = pairTail(candInput, allHashable, None, None,
      touching(_, newSigs0.select("doc_id"), "a", "b"))

    DedupPipeline.ProbeParts(
      candInput,
      exactEdges,
      newBands.select("doc_id", "band_id", "band_hash"),
      replacedOldReps,
      new PairGraph(exactEdges, verified).pairs)
  }
}

object DedupPipeline {
  /** What a probe-style incremental step computes: `candInput` feeds
    * candidate generation; `exactEdges` are the exact-channel pairs touching
    * new docs; `newBands` are the NEW reps' band postings (what a rolling
    * index must append); `replacedReps` are old rep doc_ids whose groups
    * re-elected a new rep (what a rolling index must tombstone so the stored
    * band table stays rep-only); `pairs` is the lazy merged-channel pair
    * output (src, dst, score, hamming, flags) touching new docs.
    */
  final case class ProbeParts(candInput: DataFrame, exactEdges: DataFrame,
      newBands: DataFrame, replacedReps: DataFrame, pairs: DataFrame)

  /** Single-long shuffle key for a (band_id, band_hash) posting — xxhash64
    * over both columns, preserving the FULL 64-bit band-hash entropy. The
    * old `band_id << 32 | low32(band_hash)` packing truncated the hash to
    * 32 bits: fatal at the 10^12-doc design point (≈250 unrelated postings
    * per bucket of pure junk) and, for the structured low bits of the
    * simhash chunk-combo fold, an ~150× aliasing even at bench scale. An
    * xxhash64 key collision merges two buckets — junk candidates that
    * exact verification removes — at a ~2^-64 birthday rate.
    */
  def packedBandKey(bandId: org.apache.spark.sql.Column,
      bandHash: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.xxhash64(bandId, bandHash)

  /** Channel flags bitmask, ≅ MatcherFlags
    * (/root/reference/mcrit/matchers/MatcherFlags.py:4-6). */
  val FlagMinhash = 1
  val FlagExact = 2

  /** Minimal open-addressed long→int counter for the map-side local cap:
    * a java.util.HashMap would box a Long key and Integer value per
    * posting on the hottest shuffle-input path. Power-of-two capacity,
    * linear probing, mixed keys, no deletion.
    */
  private[graft] final class LongCounter(initialCapacity: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCapacity)) * 2
    private var keys = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var counts = new Array[Int](cap)
    private var n = 0
    def size: Int = n

    private def slot(k: Long, c: Int): Int =
      (graft.hash.SimHash.mix64(k) & (c - 1)).toInt

    /** Increment `k` and return its new count — unless the map already
      * tracks `maxTracked` distinct keys and `k` is new, in which case
      * return -1 and track nothing (the caller's reducer-side cap remains
      * the backstop for untracked keys).
      */
    def incrBounded(k: Long, maxTracked: Int): Int = {
      var i = slot(k, cap)
      while (used(i)) {
        if (keys(i) == k) { counts(i) += 1; return counts(i) }
        i = (i + 1) & (cap - 1)
      }
      if (n >= maxTracked) return -1
      if ((n + 1) * 4 >= cap * 3) { grow(); return incrBounded(k, maxTracked) }
      used(i) = true; keys(i) = k; counts(i) = 1; n += 1
      1
    }

    private def grow(): Unit = {
      val oldKeys = keys; val oldUsed = used; val oldCounts = counts
      cap *= 2
      keys = new Array[Long](cap)
      used = new Array[Boolean](cap)
      counts = new Array[Int](cap)
      var i = 0
      while (i < oldKeys.length) {
        if (oldUsed(i)) {
          var j = slot(oldKeys(i), cap)
          while (used(j)) j = (j + 1) & (cap - 1)
          used(j) = true; keys(j) = oldKeys(i); counts(j) = oldCounts(i)
        }
        i += 1
      }
    }
  }

  /** Shared skew-capped pair emission from a band table
    * (band_id, band_hash, doc_id) — used by the LSH candidate stage, the
    * phash Hamming channel and the ANN bucket channel.
    *
    * One lazy plan: band key → map-side local cap → one key shuffle →
    * streamed pair emission → groupBy(a, b) count. Hot groups are dropped at
    * `cap` while streaming (stop-band policy — boilerplate bands would be
    * quadratic), so no group ever materializes unbounded. No cache, no
    * extra detection pass and no checkpoint: the table fuses into the first
    * action that consumes it, and the stop-band policy stays exact through
    * the local cap alone. Measured faster than both the sort-scan variant
    * and a fully-declarative self-join (the SMJ buffers massive equal-key
    * runs and sorts the band table twice). The (band_id, band_hash) key
    * packs into one long (`packedBandKey`) — narrower shuffle rows,
    * single-long grouping key.
    */
  def pairsFromBands(spark: SparkSession, bands: DataFrame,
      cap: Int, bandMatchesRequired: Int): DataFrame = {
    import spark.implicits._
    val keyed = bands
      .select(DedupPipeline.packedBandKey(col("band_id"), col("band_hash")).as("band_key"),
        col("doc_id"))
      .as[(Long, Long)]
    cappedKeyPairs(spark, keyed, cap).groupBy("a", "b").agg(count(lit(1)).as("n_bands"))
      .where(col("n_bands") >= bandMatchesRequired)
  }

  /** Skew-capped pair emission over (key, doc_id) postings: every pair
    * (a < b) of docs sharing a key, with keys holding more than `cap` docs
    * dropped as stop-keys. Shared by `pairsFromBands` (band keys) and
    * `SubstringStage.candidatePairs` (winnowed anchors); a pair sharing
    * several keys emits once per key.
    */
  private[graft] def cappedKeyPairs(spark: SparkSession, keyed: Dataset[(Long, Long)],
      cap: Int): DataFrame = {
    import spark.implicits._
    val maxTracked = 4 << 20
    // map-side stop-band combiner, ALWAYS on and exactly output-preserving:
    // a key whose LOCAL count exceeds `cap` is globally over cap, and cap+1
    // delivered rows are already enough to make the reducer drop the group —
    // so suppress everything past cap+1 per key per map partition. A
    // boilerplate band ships ≤ (cap+1)·numMapPartitions postings instead of
    // its full volume. Equivalence: a group is dropped iff its reducer-side
    // count exceeds cap — if any partition crossed cap it alone delivers
    // cap+1 (> cap ⇒ dropped, same as before); if none crossed, delivery is
    // complete and the reducer count is the true count. Tracking map is
    // size-bounded; on overflow new keys pass through untracked (the
    // reducer-side cap stays the backstop).
    val localCapped = keyed.mapPartitions { it =>
      val counts = new DedupPipeline.LongCounter(1 << 16)
      it.filter { case (k, _) =>
        val c = counts.incrBounded(k, maxTracked)
        c == -1 || c <= cap + 1
      }
    }
    localCapped
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, rows: Iterator[(Long, Long)]) =>
        // stream with early overflow — never materialize an over-cap group
        val ids = new scala.collection.mutable.ArrayBuffer[Long](64)
        var overflow = false
        while (rows.hasNext) {
          val id = rows.next()._2
          if (!overflow) {
            ids += id
            if (ids.length > cap) overflow = true
          }
        }
        if (overflow || ids.length < 2) Iterator.empty
        else {
          val arr = ids.toArray
          java.util.Arrays.sort(arr)
          arr.indices.iterator.flatMap(i =>
            ((i + 1) until arr.length).iterator.map(j => (arr(i), arr(j))))
        }
      }
      .toDF("a", "b")
  }

  /** A4 analog — the channel merge of the pair producer: LSH pairs carry
    * flag minhash=1, exact edges flag exact=2 at score 100, hamming 0
    * (≅ _craftResultDict's per-key max(score, is_pic, is_min) merge,
    * mcrit/matchers/MatcherInterface.py:558-600). A plain union, because
    * the two channels are DISJOINT by construction and the per-pair merge
    * aggregate would be the identity (guide §2.4: a distinct/merge over
    * data that is already unique). The rep-only banding
    * invariant guarantees it: an LSH pair's BOTH endpoints sit in the band
    * table = {exact-group reps} ∪ {hashable docs with no exact hash}, while
    * an exact edge's dst is a NON-rep member of an exact group — a doc that,
    * having an exact hash and not being its group's rep, is excluded from
    * the band table. No (src, dst) can therefore appear in both inputs, and
    * within each channel pairs are already unique (verifyStage's candidates
    * arrive grouped on (a, b); exactGroups emits one edge per member); a
    * test asserts (src, dst) uniqueness on batch and probe output. (A 64-bit
    * doc_id birthday collision could break the premise; `signatureStage`
    * re-keys those ids before pairing for every caller, and `run()` also
    * repairs the second-order ones.)
    */
  def unionDisjointChannels(lsh: DataFrame, exactEdges: DataFrame): DataFrame = {
    val l = lsh.select(col("src"), col("dst"), col("score"), col("hamming"),
      lit(FlagMinhash).as("flags"))
    val e = exactEdges.select(col("src"), col("dst"),
      lit(100.0).as("score"), lit(0).as("hamming"), lit(FlagExact).as("flags"))
    l.unionByName(e)
  }

  /** The one materialization rule. A surface that reads an intermediate in
    * more than one action caches it only here: each frame is cached (the
    * default MEMORY_AND_DISK, in argument order, so a later frame's cache
    * reads an earlier one's), `body` runs, and every frame is unpersisted
    * in a `finally`, whether `body` returns or throws. So nothing `body`
    * returns may read the frames lazily: it returns a plain value or an
    * eager `localCheckpoint`, whose blocks are the caller's. A surface that
    * caches nothing returns a lazy plan for its caller to materialize once
    * (`dupPairsFromSigs`, `probeParts`, `pairsFromBands`).
    */
  def withCached[T](frames: DataFrame*)(body: => T): T = {
    frames.foreach(_.cache())
    try body finally frames.foreach(_.unpersist())
  }
}
