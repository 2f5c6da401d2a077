package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel._
import graft.hash.SimHash
import graft.pipeline.{DedupPipeline, PipelineOptions}

/** Deduplication operator family over the `documents` table
  * (doc_id, text, lang, source, n_chars): exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. The fuzzy variants run the same kernel/pipeline stages as
  * the web-corpus dedup job, keyed by doc_id instead of url.
  */
object DedupOps {

  /** Exact duplicate groups by normalized-text fingerprint (hash-groupBy). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(TextOps.fingerprint(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("keep_id"))

  /** Per-doc exact-dup flag: 0 for the kept representative, 1 for dups. */
  def exactDupFlags(docs: DataFrame): DataFrame = {
    val reps = exactDupGroups(docs).select(col("h"), col("keep_id"))
    docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("h"))
      .join(reps, "h")
      .select(col("doc_id"),
        when(col("doc_id") === col("keep_id"), lit(0)).otherwise(lit(1)).as("is_dup"))
  }

  private def asCorpus(docs: DataFrame): DataFrame =
    docs.select(concat(lit("id-"), col("doc_id").cast("string")).as("url"), col("text"))

  /** MinHash+LSH near-dup clusters: (doc_id, cluster_id) with cluster_id
    * being the min doc_id of each near-duplicate component.
    */
  def minhashClusters(spark: SparkSession, docs: DataFrame,
      cfg: GraftConfig = GraftConfig.default,
      opts: PipelineOptions = PipelineOptions()): DataFrame = {
    val pipe = new DedupPipeline(spark, cfg, opts)
    val out = pipe.run(asCorpus(docs), fromHtml = false)
    // map synthetic internal ids back to doc ids via the url key, then
    // relabel each cluster with its min ORIGINAL doc id. One window over
    // cluster_id: the earlier groupBy(cluster)+join form referenced `out`
    // twice, so the pipeline's whole assignment plan (exact edges + final
    // join) executed twice per call — the window reads it once and replaces
    // the aggregate exchange + broadcast build with a single exchange
    // (guide §2.4; same rows: every row belongs to exactly one cluster)
    out.withColumn("doc_id", expr("cast(substring(url, 4) as long)"))
      .select(col("doc_id"),
        min("doc_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")).as("cluster_doc_id"))
  }

  /** Verified near-dup pairs (doc_id_a < doc_id_b, score). */
  def minhashPairs(spark: SparkSession, docs: DataFrame,
      cfg: GraftConfig = GraftConfig.default,
      opts: PipelineOptions = PipelineOptions()): DataFrame = {
    val pipe = new DedupPipeline(spark, cfg, opts)
    // ONE signature pass: the cached table feeds both the id map and the
    // pair pipeline (the earlier form recomputed signatureStage inside
    // dupPairs — paying the dominant CPU cost twice)
    val sigs0 = pipe.signatureStage(pipe.extractStage(asCorpus(docs), fromHtml = false))
      .toDF()
      .withColumn("orig_id", expr("cast(substring(url, 4) as long)"))
    val idMap = sigs0.select("doc_id", "orig_id")
    val out = pipe.pairGraph(sigs0.drop("orig_id")).pairs
      .join(idMap.withColumnRenamed("doc_id", "src").withColumnRenamed("orig_id", "ida"), "src")
      .join(idMap.withColumnRenamed("doc_id", "dst").withColumnRenamed("orig_id", "idb"), "dst")
      .select(least(col("ida"), col("idb")).as("doc_id_a"),
        greatest(col("ida"), col("idb")).as("doc_id_b"), col("score"))
      .distinct()
    DedupPipeline.withCached(sigs0)(out.localCheckpoint(true))
  }

  /** 64-bit SimHash per doc (k-gram shingles, Charikar bit-voting). */
  def simhash(spark: SparkSession, docs: DataFrame,
      cfg: GraftConfig = GraftConfig.default): DataFrame = {
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val shUdf = udf((text: String) => {
      val c = bcCfg.value
      val kg = new KGramShingler(c, 1)
      SimHash.of(kg.generateSequences(TextNorm.tokenize(if (text == null) "" else text)))
    })
    docs.select(col("doc_id"), shUdf(col("text")).as("simhash"))
  }

  /** Exact n-gram Jaccard near-dup pairs via AllPairs-style PREFIX
    * FILTERING (Bayardo–Ma–Srikant "Scaling Up All Pairs Similarity
    * Search"; Chaudhuri et al. prefix filtering): each doc's distinct
    * string shingles are put in the global canonical order (ascending
    * document frequency, then gram), and only the PREFIX — the rarest
    * p(n) = n − ⌈t·n⌉ + 1 shingles — generates candidate postings (the
    * AllPairs/PPJoin probing prefix).
    *
    * Soundness of p(n): J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), so
    * |A∩B| ≥ ⌈t·|A|⌉ and ≥ ⌈t·|B|⌉. Take the first shared shingle w in the
    * canonical order: every shared shingle sorts at or after w, so if w
    * lay in A's suffix, all |A∩B| shared shingles would fit in that suffix
    * of ⌈t·|A|⌉ − 1 elements — impossible; likewise for B. So w lies in
    * BOTH prefixes. (A 1e-9 slack under the ceiling keeps double rounding
    * from ever shortening a prefix.)
    * Candidates are then verified EXACTLY on the full shingle arrays
    * (array_intersect), so the output equals the naive all-postings join
    * — but the quadratic collision volume collapses to rare-shingle
    * co-occurrences: a df-1000 boilerplate gram sorts last within every
    * doc and almost never reaches a prefix (r4 pinned same-window A/B:
    * 2× faster than the plain join at sf0.1, see BENCH.md §r4; the plain
    * join is kept as the test-side reference this variant must equal).
    *
    * Scale: shingles with df > maxPostings (corpus boilerplate) never
    * generate candidates (stop-shingle cap, same policy as LSH
    * stop-bands); verification still counts them exactly via the full
    * arrays. Residual by design: a qualifying pair whose every
    * prefix-shared shingle is capped is not discovered — such overlap is
    * corpus-wide boilerplate, and scoring it would need the quadratic
    * join the cap exists to prevent. The prefix length does not change
    * this residual: capped shingles (df > maxPostings) sort after every
    * uncapped one, so when the first shared shingle w is capped, every
    * shared shingle is capped and no prefix of any length finds the pair;
    * when w is uncapped, it lies in both prefixes and the pair is found.
    */
  def ngramJaccardPairs(spark: SparkSession, docs: DataFrame,
      k: Int = 3, threshold: Double = 0.7, maxPostings: Int = 1000): DataFrame =
    ngramJaccardPairsFromSets(shingleSets(spark, docs, k), threshold, maxPostings)

  private def ngramJaccardPairsFromSets(sets: DataFrame,
      threshold: Double, maxPostings: Int): DataFrame = {
    // shingle the corpus ONCE (`sets` is cached below): the posting explode
    // feeds both the df table and the ordered-array build, and without the
    // cache each branch re-ran the shingling UDF over the full corpus (the
    // r7 executed-plan capture showed THREE scan+shingle passes per call:
    // postings, the df table, and a full df-table recompute for the
    // stop-cap join below)
    val postings = sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val dfTab = postings.groupBy("sh").agg(count(lit(1)).as("df"))
    // canonical order = (df asc, gram asc): global, deterministic, and it
    // pushes boilerplate to the suffixes where it can't generate candidates.
    // df is carried INSIDE the per-doc ordered struct array so the prefix
    // explode below reads the stop-cap predicate off the carried field
    // instead of re-aggregating + re-broadcasting the df table (guide §2.4:
    // one exchange + one broadcast build removed, plan-identical output)
    val ordered = postings.join(dfTab, "sh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("o"))
      .withColumn("set_size", size(col("o")))
    DedupPipeline.withCached(sets, ordered) {
      // one scalar aggregate decides hashed-vs-string evaluation for BOTH the
      // candidate join key and the verification arrays (see
      // hashInjectiveOnVocab): under proven injectivity xxhash64(sh) equality
      // ⟺ sh equality on this corpus' vocabulary, so the self-join below can
      // exchange and compare 8-byte longs instead of ~20-byte strings —
      // identical candidates, narrower shuffle (guide §2.3). (Running the
      // check over the cached ordered arrays instead — prepaying the ordered
      // build in the check's action — A/B'd as a wash: best-of-3 2.30 vs
      // 2.32 s and 2.71 vs 2.55 s across two alternating rounds; kept the
      // simpler df-table form.)
      val hashed = hashInjectiveOnVocab(dfTab)
      val prefixPostings = ordered.select(col("doc_id"), col("set_size"),
          posexplode(expr(
            s"slice(o, 1, set_size - CAST(CEIL(set_size * $threshold - 1e-9) AS INT) + 1)"
          )).as(Seq("pos", "x")))
        // stop-shingle cap: boilerplate grams never generate candidates
        .where(col("x.df") <= maxPostings)
        .select(col("doc_id"), col("set_size"), col("pos"),
          (if (hashed) xxhash64(col("x.sh")) else col("x.sh")).as("sh"))
      // length filter (exact-preserving): J ≥ t ⇒ |A∩B| ≥ t·max(n_a,n_b) and
      // |A∩B| ≤ min(n_a,n_b) ⇒ min ≥ t·max — prune size-mismatched pairs
      // inside the join, before the distinct. (On corpora with a dense
      // shingle vocabulary — like the synthetic tables, where avg df ≈ 50 —
      // the prefix filter alone prunes less than on power-law web text, and
      // this second filter carries more of the load.)
      //
      // POSITIONAL filter (PPJoin, Xiao et al. "Efficient Similarity Joins
      // for Near Duplicate Detection"): a shared prefix gram at 0-based
      // positions (i, j) of the two canonically-ordered arrays bounds the
      // achievable overlap by min(i,j) before it + 1 + min(remaining suffix
      // lengths) after it. J ≥ t ⇒ |A∩B| ≥ t/(1+t)·(n_a+n_b), and for a
      // QUALIFYING pair the bound holds at EVERY shared position pair, so
      // every join row of a qualifying pair passes — dropping rows below the
      // bound loses no true pair (verification below stays string-exact).
      // The 1e-9 slack keeps double rounding from ever exceeding the exact
      // rational threshold. Measured r7: candidate pairs 2.23M → the exact
      // verify's input collapses, the dominant cost of this query.
      val cand = prefixPostings.as("x").join(prefixPostings.as("y"),
          col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
            col("x.set_size") * lit(threshold) <= col("y.set_size") &&
            col("y.set_size") * lit(threshold) <= col("x.set_size") &&
            (lit(1) + least(col("x.pos"), col("y.pos")) +
              least(col("x.set_size") - col("x.pos") - 1,
                col("y.set_size") - col("y.pos") - 1)).cast("double") >=
              (col("x.set_size") + col("y.set_size")) * lit(threshold / (1 + threshold)) - lit(1e-9))
        .select(col("x.doc_id").as("doc_id_a"), col("y.doc_id").as("doc_id_b"))
        .distinct()
      verifyJaccard(cand, ordered.select(col("doc_id"),
        expr("transform(o, x -> x.sh)").as("shingles"), col("set_size")), threshold,
        hashed = hashed).localCheckpoint(true)
    }
  }

  /** One shingle-set row per doc: (doc_id, shingles: distinct STRING
    * k-grams, set_size > 0). Strings, not hashes, deliberately: the
    * verification contract is then Jaccard over the true k-gram sets,
    * exact by construction — a 32-bit hash here let a gram collision
    * inflate the computed Jaccard relative to the string-set value an
    * independent oracle computes, and only threshold margin kept the two
    * in agreement. The join/shuffle keys downstream are these strings;
    * Spark hashes them for exchange anyway, and the stop-shingle cap
    * bounds the posting volume that actually shuffles.
    */
  private[graft] def shingleSets(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    val cfg = GraftConfig.default.copy(kGram = k)
    val bcCfg = spark.sparkContext.broadcast(cfg)
    val shUdf = udf((text: String) => {
      val c = bcCfg.value
      val kg = new KGramShingler(c, 1)
      kg.generateSequences(TextNorm.tokenize(if (text == null) "" else text))
        .distinct.toArray
    })
    docs.select(col("doc_id"), shUdf(col("text")).as("shingles"))
      .withColumn("set_size", size(col("shingles")))
      .where(col("set_size") > 0)
  }

  /** True iff xxhash64 is injective on the corpus' distinct-gram
    * vocabulary — checked EXACTLY (distinct grams vs their distinct
    * hashes, one scalar aggregate over the already-needed df table).
    * Under injectivity |h(A)∩h(B)| = |A∩B| for EVERY doc pair, so Jaccard
    * over hashed shingle arrays is bit-identical to Jaccard over the
    * string arrays while intersecting 8-byte longs instead of ~20-byte
    * strings (r7 measured: exact verification was 2.8 s of the 4.0 s
    * ngram query at sf0.1 — 2.2M candidate pairs × ~50-gram arrays). A
    * 64-bit collision inside a ≥~2^32-gram web vocabulary flips the check
    * and verification falls back to the string intersect — same output,
    * original cost, no silent wrong answer either way.
    */
  private[graft] def hashInjectiveOnVocab(dfTab: DataFrame): Boolean = {
    val r = dfTab.agg(count(lit(1)).as("n"),
      countDistinct(xxhash64(col("sh"))).as("nh")).collect()(0)
    r.getLong(0) == r.getLong(1)
  }

  /** Exact full-array verification shared by both candidate generators:
    * `sets` must carry (doc_id, shingles: array<string>, set_size). With
    * `hashed` (caller proved vocabulary injectivity via
    * `hashInjectiveOnVocab`) the intersect runs on per-doc xxhash64 arrays
    * — the hashing is a per-DOC projection before the build-side
    * broadcast, so candidate rows intersect narrow long arrays. */
  private[graft] def verifyJaccard(cand: DataFrame, sets: DataFrame, threshold: Double,
      hashed: Boolean): DataFrame = {
    val v =
      if (hashed) sets.withColumn("shingles", transform(col("shingles"), x => xxhash64(x)))
      else sets
    cand
      .join(v.select(col("doc_id").as("doc_id_a"), col("shingles").as("ord_a"),
        col("set_size").as("size_a")), "doc_id_a")
      .join(v.select(col("doc_id").as("doc_id_b"), col("shingles").as("ord_b"),
        col("set_size").as("size_b")), "doc_id_b")
      .withColumn("inter", size(array_intersect(col("ord_a"), col("ord_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  // ---- benchmark decontamination --------------------------------------

  /** Ordered (not sorted) whitespace n-grams of a words array; empty when
    * the doc is shorter than n. */
  private def orderedGrams(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => array_join(slice(words, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  // the repo-wide word-split convention (\s-trim then \s+ split — plain
  // trim strips only spaces and would leave phantom empty tokens around
  // newline/tab edges; see TextOps.wsWords)
  private def wordsCol: Column = TextOps.wsWords(col("text"))

  /** Benchmark decontamination (the GPT-3 Appendix-C / PaLM procedure):
    * flag every training doc sharing at least one length-`n` ordered token
    * gram with the benchmark/eval set. Returns one row per training doc:
    * (doc_id, n_hits = distinct contaminated grams, is_contaminated 0/1).
    *
    * Scale shape: eval sets are tiny next to the corpus, so the benchmark
    * side reduces to a distinct-gram table that BROADCASTS — the corpus'
    * exploded grams filter map-side against it (no corpus-wide shuffle;
    * the only exchange is the per-doc hit-count partial aggregate). The
    * canonical n = 13 makes false-positive gram collisions essentially
    * impossible while catching verbatim inclusions.
    *
    * The broadcast is SIZE-GATED: the production `--decontaminate` CLI
    * accepts an arbitrary parquet, and a union of dozens of benchmarks can
    * hold millions of 13-grams (~100 B each) — an unconditional hint would
    * blow the broadcast/driver limit and FAIL instead of degrade. One
    * cheap count of the distinct bench grams decides: ≤ `maxBroadcastGrams`
    * (default 2M ≈ 200 MB, inside Spark's 8 GB hard cap with wide margin)
    * keeps the map-side plan; above it the join runs as a plain shuffle
    * join on the gram key — same output (asserted by test), corpus grams
    * exchange once.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 13,
      maxBroadcastGrams: Long = 2000000L): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        explode(array_distinct(orderedGrams(wordsCol, n))).as("gram"))
    // the gate needs the distinct-gram count before the join plan is
    // chosen; the join's action re-derives the gram set with one extra scan
    // of the SMALL bench side
    val benchGrams = grams(benchmark).select("gram").distinct()
    val nBench = benchGrams.count()
    val benchSide =
      if (nBench <= maxBroadcastGrams) broadcast(benchGrams)
      else {
        System.err.println(
          s"[graft] decontaminate: $nBench distinct benchmark ${n}-grams exceed " +
            s"the broadcast gate ($maxBroadcastGrams); falling back to a shuffle join")
        benchGrams
      }
    val hits = grams(docs)
      .join(benchSide, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    val out = docs.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) > 0, lit(1)).otherwise(lit(0))
          .as("is_contaminated"))
    out
  }

  // ---- sub-document (paragraph) dedup --------------------------------

  /** Paragraph rows with the corpus-wide first-seen keep verdict:
    * (doc_id, para_idx, para, keep). A paragraph (identified by its
    * whitespace/case-normalized MD5, same identity as
    * `MaintenanceOps.paragraphHashes`) is kept only at its FIRST occurrence
    * in (doc_id, para_idx) order; every later copy anywhere in the corpus
    * is marked drop. This is the web-corpus boilerplate remover
    * (nav bars, footers, licence blocks repeat across pages verbatim while
    * the pages themselves are not near-duplicates).
    *
    * Scale shape: the keep election is a groupBy(para_hash) with a
    * struct-min aggregate — partial aggregation collapses a 10^9-copy
    * boilerplate paragraph to one row per map partition, so the hot key
    * ships O(maps) rows, never its copy count (a window row_number over
    * para_hash would sort the full copy list in one task — rejected).
    * The verdict join back is keyed on para_hash with a unique build side
    * (one row per distinct paragraph); AQE splits the skewed probe side.
    */
  def paragraphDedupFlags(docs: DataFrame): DataFrame = {
    val paras = MaintenanceOps.paragraphRows(docs)
    val first = paras.groupBy("para_hash")
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("f"))
      .select(col("para_hash"), col("f.doc_id").as("keep_doc"),
        col("f.para_idx").as("keep_idx"))
    paras.join(first, "para_hash")
      .select(col("doc_id"), col("para_idx"), col("para"),
        (col("doc_id") === col("keep_doc") &&
          col("para_idx") === col("keep_idx")).as("keep"))
  }

  /** Corpus rewrite after paragraph dedup: each doc's surviving paragraphs
    * (original bytes, original order) re-joined with a blank line, plus
    * kept/total counts. Docs whose every paragraph was dropped (or that
    * had none) come back with empty text — the caller decides whether to
    * filter them. Second application is the identity (all survivors are
    * corpus-unique by construction).
    */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val flags = paragraphDedupFlags(docs)
    // ONE groupBy(doc_id) over the flags: totals, kept count, and the
    // rewrite all aggregate together (collect_list skips the nulls the
    // unmatched `when` leaves for dropped paragraphs) — a separate
    // totals/kept pair would execute the whole election plan twice
    val agg = flags.groupBy("doc_id").agg(
      count(lit(1)).as("n_paras"),
      count(when(col("keep"), lit(1))).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(when(col("keep"), struct(col("para_idx"), col("para"))))),
          x => x.getField("para")),
        "\n\n").as("text_dedup"))
    docs.select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"))
  }
}
