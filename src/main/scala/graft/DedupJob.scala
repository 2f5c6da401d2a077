package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.{DedupPipeline, PipelineOptions}
import graft.ledger.Ledger
import graft.kernel.GraftConfig

/** The spark-submit entry point for the end-to-end dedup job (the
  * north_rule's production surface):
  *
  *   spark-submit --class graft.DedupJob <jar> \
  *     --input  <parquet path of (url, warc_ts, html, text, lang)> \
  *     --output <parquet dir for (url, doc_id, cluster_id)> \
  *     [--checkpoint <ledger dir>]   resumable stage checkpoints + lineage
  *     [--incremental <parquet>]     ROLLING incremental batch (see below)
  *     [--compact-every N]           incremental: fold deltas after N (default 16)
  *     [--stream]                    Structured-Streaming ingest (see runStream)
  *     [--trigger-once]              stream mode: drain available input, stop
  *     [--state-store rocksdb|hdfs]  stream state backend (default rocksdb)
  *     [--max-files-per-trigger N]   stream micro-batch bound (0 = source default)
  *     [--trigger-interval D]        continuous-mode trigger (default "30 seconds")
  *     [--rewrite paragraphs|spans]  corpus REWRITE mode (see runRewrite)
  *     [--decontaminate <parquet>]   benchmark decontamination mode
  *     [--decontam-n N]              gram length for it (default 13)
  *     [--text-only]                 trust the text column (skip extraction)
  *     [--jaccard-verify]            exact k-gram Jaccard after signature verify
  *                                   (not with --incremental: the probe stores no text)
  *     [--max-band-group <n>]        stop-band cap (default 500)
  *
  * Master/executors/shuffle-partitions come from spark-submit / cluster
  * conf as usual (`getOrCreate` — no hardcoded master). With --checkpoint
  * the run resumes mid-pipeline after a kill: completed stages are read
  * back from their committed parquet, and per-partition lineage + metrics
  * accumulate under `<checkpoint>/_lineage` and `_metrics`.
  *
  * INCREMENTAL MODE (`--incremental <batch parquet>`, requires
  * --checkpoint): the --input corpus is signed/banded AT MOST ONCE into
  * the ledger (`MaintenanceOps.buildOrLoadDedupIndex`; later runs never
  * touch --input), the batch is probe-matched against the stored index
  * (`DedupPipeline.probeParts` — candidate work ∝ batch, never corpus),
  * the output is the merged-channel dup pairs touching the batch, and the
  * index state ROLLS FORWARD: new signatures and new reps' band postings
  * land in per-batch dirs under `<checkpoint>/inc_sigs` / `inc_bands`,
  * re-elected reps' stale postings are tombstoned under `inc_replaced`
  * (keeping the stored band table rep-only), all made visible atomically
  * by a commit marker written last (see `runIncremental`'s crash-
  * consistency note), and re-sent urls are dropped by the M7 anti-join
  * sweep. Repeated batches therefore keep matching the full-batch answer
  * on the growing union (asserted by test). Once `--compact-every` (16)
  * deltas accumulate they FOLD into a numbered base generation
  * (`inc_base/<v>/gen=<k>` + marker listing the folded batch ids, written
  * last) — the probe then reads one base + at most compactEvery-1 delta
  * dirs no matter how many batches the state has absorbed, the analog of
  * the reference's periodic pack-based band rebuild
  * (/root/reference/mcrit/storage/MongoDbStorage.py:1150+).
  */
object DedupJob {

  /** Rolling-state layout version — bump when signature/band semantics
    * change such that OLD delta rows can no longer interoperate with new
    * probe keys (v2: 64-bit band hashes + xxhash64 packed keys). */
  val IncStateVersion = 2

  final case class Args(input: String = null, output: String = null,
      checkpoint: Option[String] = None, fromHtml: Boolean = true,
      incremental: Option[String] = None, compactEvery: Int = 16,
      stream: Boolean = false, triggerOnce: Boolean = false,
      stateStore: String = "rocksdb", maxFilesPerTrigger: Int = 0,
      triggerInterval: String = "30 seconds",
      rewrite: Option[String] = None,
      decontaminate: Option[String] = None, decontamN: Int = 13,
      opts: PipelineOptions = PipelineOptions())

  private[graft] def parse(argv: Array[String]): Args = {
    var a = Args()
    var i = 0
    // the value after flag argv(i); a missing or non-integer one names the flag
    def value(): String = {
      if (i + 1 >= argv.length)
        throw new IllegalArgumentException(s"${argv(i)} needs a value")
      argv(i + 1)
    }
    def intValue(): Int = {
      val v = value()
      v.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"${argv(i)} needs an integer, got: $v"))
    }
    while (i < argv.length) {
      argv(i) match {
        case "--input" => a = a.copy(input = value()); i += 2
        case "--output" => a = a.copy(output = value()); i += 2
        case "--checkpoint" => a = a.copy(checkpoint = Some(value())); i += 2
        case "--incremental" => a = a.copy(incremental = Some(value())); i += 2
        case "--compact-every" => a = a.copy(compactEvery = intValue()); i += 2
        case "--stream" => a = a.copy(stream = true); i += 1
        case "--trigger-once" => a = a.copy(triggerOnce = true); i += 1
        case "--state-store" => a = a.copy(stateStore = value()); i += 2
        case "--max-files-per-trigger" => a = a.copy(maxFilesPerTrigger = intValue()); i += 2
        case "--trigger-interval" => a = a.copy(triggerInterval = value()); i += 2
        case "--rewrite" => a = a.copy(rewrite = Some(value())); i += 2
        case "--decontaminate" => a = a.copy(decontaminate = Some(value())); i += 2
        case "--decontam-n" => a = a.copy(decontamN = intValue()); i += 2
        case "--text-only" => a = a.copy(fromHtml = false); i += 1
        case "--jaccard-verify" =>
          a = a.copy(opts = a.opts.copy(jaccardVerify = true)); i += 1
        case "--max-band-group" =>
          a = a.copy(opts = a.opts.copy(maxBandGroupSize = intValue())); i += 2
        case other =>
          throw new IllegalArgumentException(s"unknown argument: $other")
      }
    }
    require(a.input != null && a.output != null,
      "usage: DedupJob --input <parquet> --output <dir> [--checkpoint <dir>] " +
        "[--incremental <parquet>] [--compact-every N] [--stream] " +
        "[--trigger-once] [--state-store rocksdb|hdfs] " +
        "[--max-files-per-trigger N] [--trigger-interval D] " +
        "[--rewrite paragraphs|spans] [--decontaminate <parquet>] " +
        "[--decontam-n N] [--text-only] " +
        "[--jaccard-verify] [--max-band-group N]")
    require(a.rewrite.forall(Set("paragraphs", "spans")),
      s"--rewrite must be paragraphs or spans, got: ${a.rewrite.orNull}")
    require(a.rewrite.isEmpty || (!a.stream && a.incremental.isEmpty),
      "--rewrite is a standalone corpus-rewrite mode (no --stream/--incremental)")
    require(a.decontaminate.isEmpty ||
      (!a.stream && a.incremental.isEmpty && a.rewrite.isEmpty),
      "--decontaminate is a standalone filter mode (no --stream/--incremental/--rewrite)")
    require(a.decontamN >= 2, s"--decontam-n must be >= 2, got: ${a.decontamN}")
    require(a.incremental.isEmpty || a.checkpoint.nonEmpty,
      "--incremental requires --checkpoint (the persisted index lives there)")
    require(!a.opts.jaccardVerify || a.incremental.isEmpty,
      "--jaccard-verify needs document text, which the --incremental probe does not store")
    require(!a.stream || a.checkpoint.nonEmpty,
      "--stream requires --checkpoint (streaming state + source progress live there)")
    require(!a.stream || a.incremental.isEmpty,
      "--stream and --incremental are mutually exclusive ingest modes")
    require(Set("rocksdb", "hdfs")(a.stateStore),
      s"--state-store must be rocksdb or hdfs, got: ${a.stateStore}")
    require(a.compactEvery > 0,
      s"--compact-every must be positive, got: ${a.compactEvery}")
    require(a.opts.maxBandGroupSize >= 2,
      "--max-band-group must be >= 2 (a smaller cap drops every band group, " +
        s"so the LSH channel emits nothing), got: ${a.opts.maxBandGroupSize}")
    require(a.maxFilesPerTrigger >= 0,
      s"--max-files-per-trigger must be >= 0 (0 = source default), got: ${a.maxFilesPerTrigger}")
    a
  }

  /** Shared corpus head for the standalone rewrite/decontaminate modes:
    * extract text (unless --text-only), collapse re-crawled urls to their
    * FIRST-crawled text, and assign dense doc ids in (warc_ts, url) order —
    * so "first occurrence keeps" means the earliest crawl, consistently
    * across modes (chaining --rewrite then --decontaminate sees the same
    * per-url text selection).
    *
    * Crawl order = instant order: epoch millis zero-padded to a fixed
    * width so the string key sorts numerically (a wall-clock date_format
    * can invert instants across a DST fold). Null timestamps sort LAST —
    * an undated re-crawl never outranks a dated one. Pre-1970 instants
    * would break the padding; web crawls don't have them.
    */
  private def collapsedCorpus(spark: SparkSession, a: Args)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val input = spark.read.parquet(a.input)
    val withText =
      if (a.fromHtml) {
        val ex = udf((h: Array[Byte]) => graft.kernel.TextNorm.extract(h))
        input.withColumn("text", ex(col("html")))
      } else input
    val ord =
      if (withText.columns.contains("warc_ts"))
        concat(lpad(coalesce(unix_millis(col("warc_ts")), lit(999999999999999L))
          .cast("string"), 15, "0"), lit("|"), col("url"))
      else col("url")
    // S1 url collapse first — a re-crawl of the same page must not
    // tombstone its own paragraphs/spans as "later copies"
    val docs0 = withText.select(col("url"), ord.as("ord"), col("text"))
      .groupBy("url").agg(min(struct(col("ord"), col("text"))).as("f"))
      .select(col("url"), col("f.ord").as("ord"), col("f.text").as("text"))
    graft.ops.ExportImport.compactIds(docs0, "ord", "doc_id")
      .select(col("doc_id"), col("url"), col("text"))
  }

  /** Corpus REWRITE mode (`--rewrite paragraphs|spans`): reads the same
    * input shape as the dedup job, collapses re-crawled urls to their
    * first-crawled text (`collapsedCorpus`), and writes the rewritten
    * corpus:
    *   paragraphs → `DedupOps.paragraphDedup`  (url, text, n_kept, n_paras)
    *   spans      → `SpanDedup.removeDuplicateSpans` (url, text, n_tokens, n_removed)
    * Returns (docs written, docs actually rewritten).
    *
    * OUTPUT NORMALIZATION: the rewritten `text` of EVERY doc is in the
    * mode's normalized form — paragraphs mode re-joins surviving paragraphs
    * with exactly one blank line (runs of >2 newlines collapse to \n\n);
    * spans mode re-emits TextNorm-tokenized text joined by single spaces.
    * The `rewritten` count reports docs that LOST content (paragraphs or
    * span tokens); docs counted as not-rewritten can still differ byte-wise
    * from their input by this normalization alone.
    */
  def runRewrite(spark: SparkSession, a: Args,
      cfg: GraftConfig = GraftConfig.default): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val docs = collapsedCorpus(spark, a)
    val urls = docs.select("doc_id", "url")
    val out = a.rewrite.get match {
      case "paragraphs" =>
        graft.ops.DedupOps.paragraphDedup(docs)
          .join(urls, "doc_id")
          .select(col("url"), col("text_dedup").as("text"),
            col("n_kept"), col("n_paras"))
      case "spans" =>
        graft.substring.SpanDedup.removeDuplicateSpans(spark, docs)
          .join(urls, "doc_id")
          .select(col("url"), col("text_clean").as("text"),
            col("n_tokens"), col("n_removed"))
    }
    out.write.mode("overwrite").parquet(a.output)
    val written = spark.read.parquet(a.output)
    val rewritten =
      if (a.rewrite.get == "paragraphs") written.where(col("n_kept") < col("n_paras"))
      else written.where(col("n_removed") > 0)
    (written.count(), rewritten.count())
  }

  /** Decontamination mode (`--decontaminate <benchmark parquet>`): the
    * corpus (same input shape, url-collapsed and extracted like
    * runRewrite) is checked for ordered `--decontam-n`-gram overlap with
    * the benchmark docs (any column named text; html extracted when
    * present) and written WITHOUT the contaminated docs; the flagged docs
    * land next to the output under `<output>_contaminated` with their hit
    * counts for audit. Returns (clean docs written, contaminated docs).
    */
  def runDecontaminate(spark: SparkSession, a: Args): (Long, Long) = {
    import org.apache.spark.sql.functions._
    // same warc_ts-ordered earliest-crawl collapse as runRewrite:
    // contamination verdicts are content-based either way, and a consistent
    // per-url text selection means --rewrite → --decontaminate chains see
    // the same corpus
    val docs = collapsedCorpus(spark, a)
    val benchRaw = spark.read.parquet(a.decontaminate.get)
    val bench =
      if (benchRaw.columns.contains("text"))
        benchRaw.select(monotonically_increasing_id().as("doc_id"), col("text"))
      else {
        val ex = udf((h: Array[Byte]) => graft.kernel.TextNorm.extract(h))
        benchRaw.select(monotonically_increasing_id().as("doc_id"),
          ex(col("html")).as("text"))
      }
    val verdicts = graft.ops.DedupOps.decontaminate(docs, bench, a.decontamN)
    val joined = docs.join(verdicts, "doc_id")
    joined.where(col("is_contaminated") === 0)
      .select("url", "text")
      .write.mode("overwrite").parquet(a.output)
    joined.where(col("is_contaminated") === 1)
      .select("url", "text", "n_hits")
      .write.mode("overwrite").parquet(s"${a.output}_contaminated")
    (spark.read.parquet(a.output).count(),
      spark.read.parquet(s"${a.output}_contaminated").count())
  }

  def run(spark: SparkSession, a: Args,
      cfg: GraftConfig = GraftConfig.default): (Long, Long) = {
    val ledger = a.checkpoint.map(dir => new Ledger(spark, dir, cfg.configHash))
    val pipe = new DedupPipeline(spark, cfg, a.opts, ledger)
    val input = spark.read.parquet(a.input)
    val out = pipe.run(input, fromHtml = a.fromHtml)
    out.write.mode("overwrite").parquet(a.output)
    val written = spark.read.parquet(a.output)
    (written.count(), written.select("cluster_id").distinct().count())
  }

  private[graft] val sigColNames = Seq("doc_id", "url", "n_tokens", "hashable",
    "exact_hash", "exact_hash2", "has_exact", "sig", "simhash")
  private[graft] val bandColNames = Seq("doc_id", "band_id", "band_hash")

  /** The config identity a compacted base generation was built under — the
    * same facts the ledger descriptors pin for the per-batch path
    * (`MaintenanceOps.buildOrLoadDedupIndex`). Stored in the gen dir and
    * REQUIRED to match at probe time: without this check a config/kernel
    * change after a fold would silently probe new-kernel signatures against
    * old-kernel base state (incomparable band hashes → near-zero pairs)
    * because the gen short-circuit never consults the ledger.
    */
  private[graft] def stateStamp(cfg: GraftConfig, opts: PipelineOptions): String =
    s"kernel=${graft.pipeline.DocSig.kernelFingerprint(cfg)}," +
      s"cfg=${cfg.configHash},sh=${opts.simHashChannel}," +
      s"shmax=${opts.simHashMaxHamming},sigv=2,bandsv=2"

  /** One rolling incremental step; returns (pair rows written, fresh docs
    * signed). See the object doc.
    *
    * CRASH CONSISTENCY: the three state deltas (band postings, rep
    * tombstones, signatures) land in per-batch subdirectories
    * (`inc_<table>/batch=<id>`) and become visible only when the batch's commit
    * marker (`inc_commits/<id>`) is written LAST — readers union only
    * COMMITTED batch dirs, so a crash between delta writes leaves orphan
    * directories that the next run ignores and overwrites. The batch id is
    * derived from the batch parquet's path + file listing, so a retry of
    * the same batch lands in the same dirs (idempotent), an
    * already-committed batch skips its state writes entirely (its urls are
    * swept by the M7 anti-join anyway), and the same path with NEW content
    * gets a fresh id.
    */
  def runIncremental(spark: SparkSession, a: Args,
      cfg: GraftConfig = GraftConfig.default): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val chk = a.checkpoint.get
    val pipe = new DedupPipeline(spark, cfg, a.opts)

    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def fsOf(p: String) = new org.apache.hadoop.fs.Path(p).getFileSystem(hadoopConf)
    val fs = fsOf(chk)

    // deterministic batch identity: path + sorted (name, length) listing —
    // stable across retries of the same files, different for new content
    val batchId = {
      val bp = new org.apache.hadoop.fs.Path(a.incremental.get)
      val listing = fsOf(a.incremental.get).listStatus(bp)
        .map(st => s"${st.getPath.getName}:${st.getLen}").sorted.mkString(",")
      java.lang.Long.toHexString(
        graft.hash.SimHash.hash64(s"batch:${a.incremental.get}:$listing"))
    }
    // versioned state layout: a band-semantics change (64-bit keys, v2)
    // makes pre-upgrade delta rows unmatchable by new probe keys, so the
    // rolling state is namespaced by version — old dirs become invisible
    // orphans instead of silently poisoning the union (their batches
    // re-ingest correctly if re-sent)
    val sv = s"v${DedupJob.IncStateVersion}"
    val commitsPath = new org.apache.hadoop.fs.Path(s"$chk/inc_commits/$sv")
    val committed: Seq[String] =
      if (!fs.exists(commitsPath)) Seq.empty
      else fs.listStatus(commitsPath).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSeq.sorted

    // base = latest COMMITTED compacted generation when one exists (then
    // the raw --input and the build ledger are never touched at all);
    // otherwise the ledger-persisted index built from --input at most once
    val gen = latestGen(fs, chk, sv)
    val (baseSigs, baseBands, foldedIds) = gen match {
      case Some((g, folded)) =>
        // the gen short-circuit never consults the ledger — enforce the
        // config identity the generation was folded under here instead
        val stampPath = new org.apache.hadoop.fs.Path(
          s"$chk/inc_base/$sv/gen=$g/stamp")
        val stored =
          if (!fs.exists(stampPath)) "(missing stamp — pre-stamp state)"
          else {
            val in = fs.open(stampPath)
            try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
          }
        val cur = stateStamp(cfg, a.opts)
        require(stored == cur,
          s"compacted incremental state gen=$g was built under a different " +
            s"config/kernel (stored: $stored; current: $cur) — signatures " +
            "are incomparable; rebuild the state (fresh --checkpoint) or " +
            "restore the original config")
        val store = graft.storage.TableStore.parquet
        (store.read(spark, s"$chk/inc_base/$sv/gen=$g/sigs"),
          store.read(spark, s"$chk/inc_base/$sv/gen=$g/bands"), folded)
      case None =>
        val ledger = new Ledger(spark, chk, cfg.configHash)
        val (s, b) = graft.ops.MaintenanceOps.buildOrLoadDedupIndex(
          spark, spark.read.parquet(a.input), ledger, corpusTag = a.input, cfg,
          a.opts, fromHtml = a.fromHtml)
        (s, b, Set.empty[String])
    }
    // only deltas NOT yet folded into the base generation are probed —
    // compaction keeps this list short (≤ compactEvery) regardless of how
    // many batches the state has absorbed over its lifetime
    val unfolded = committed.filterNot(foldedIds)
    // state read = union of COMMITTED, UNFOLDED per-batch delta dirs only
    // (orphans from a crashed run are invisible; folded dirs are already in
    // the base generation)
    val (oldSigs, oldBands) =
      rollingState(spark, fs, chk, sv, baseSigs, baseBands, unfolded)

    // M7 sweep: re-sent urls are already indexed — only genuinely new rows sign
    val batch = pipe.extractStage(spark.read.parquet(a.incremental.get), a.fromHtml)
    val fresh = graft.ops.MaintenanceOps.newDocs(batch, oldSigs)
    val newSigs = pipe.signatureStage(fresh).toDF()
    val newlyCommitted = !committed.contains(batchId)
    val (pairCount, freshCount) = DedupPipeline.withCached(newSigs) {
      // fill the cache up front; a cache-partition loss later recomputes
      // against the same COMMITTED state (this batch's deltas are not yet
      // visible), so recomputation is identical
      val freshCount = newSigs.count()
      // ONE probe plan serves both the pair output and the state deltas
      val parts = pipe.probeParts(oldSigs, newSigs, oldBands)
      parts.pairs.write.mode("overwrite").parquet(a.output)
      val pairCount = spark.read.parquet(a.output).count()
      if (newlyCommitted) {
        val store = graft.storage.TableStore.parquet
        store.write(parts.newBands.select(bandColNames.map(col): _*),
          s"$chk/inc_bands/$sv/batch=$batchId")
        store.write(parts.replacedReps.select("doc_id"),
          s"$chk/inc_replaced/$sv/batch=$batchId")
        store.write(newSigs.select(sigColNames.map(col): _*),
          s"$chk/inc_sigs/$sv/batch=$batchId")
        // commit LAST: the deltas become visible atomically with this marker
        fs.mkdirs(commitsPath)
        fs.create(new org.apache.hadoop.fs.Path(commitsPath, batchId), true).close()
      }
      (pairCount, freshCount)
    }

    // ---- delta compaction (the reference's pack-based band rebuild analog,
    // /root/reference/mcrit/storage/MongoDbStorage.py:1150+): once enough
    // deltas accumulate, fold them into a new base generation so the probe
    // stays one-base + few-deltas instead of unioning an ever-growing dir
    // list and re-applying an ever-growing tombstone anti-join ----
    val unfoldedAfter = if (newlyCommitted) unfolded :+ batchId else unfolded
    if (unfoldedAfter.size >= a.compactEvery)
      compactIncrementalState(spark, chk, baseSigs, baseBands,
        gen.map(_._1).getOrElse(0), foldedIds, unfoldedAfter,
        stateStamp(cfg, a.opts))
    (pairCount, freshCount)
  }

  /** (latest committed base generation, batch ids folded into it). The gen
    * commit marker is written LAST (after both parquet dirs) and carries the
    * cumulative folded-id list as its content — an orphan gen dir from a
    * crashed fold has no marker and is invisible, exactly like delta dirs.
    */
  private def latestGen(fs: org.apache.hadoop.fs.FileSystem, chk: String,
      sv: String): Option[(Int, Set[String])] = {
    val p = new org.apache.hadoop.fs.Path(s"$chk/inc_base_commits/$sv")
    if (!fs.exists(p)) return None
    val gens = fs.listStatus(p).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).flatMap(_.toIntOption)
    if (gens.isEmpty) return None
    val g = gens.max
    val in = fs.open(new org.apache.hadoop.fs.Path(p, g.toString))
    val folded = try new String(in.readAllBytes(), "UTF-8").linesIterator
      .filter(_.nonEmpty).toSet
    finally in.close()
    Some((g, folded))
  }

  private def readDeltaDirs(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, chk: String, sv: String,
      sub: String, ids: Seq[String],
      like: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dirs = ids.map(id => s"$chk/$sub/$sv/batch=$id").filter(d =>
      fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (dirs.isEmpty) like.limit(0) else spark.read.parquet(dirs: _*)
  }

  /** The rolling index state over a base and the committed delta batches
    * `ids`: (base ∪ delta signatures, (base ∪ delta band postings) minus
    * the delta tombstones). The probe reads it; compaction persists it. */
  private def rollingState(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      chk: String, sv: String, baseSigs: org.apache.spark.sql.DataFrame,
      baseBands: org.apache.spark.sql.DataFrame, ids: Seq[String])
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.col
    val sigCols = sigColNames.map(col)
    val bandCols = bandColNames.map(col)
    def readDeltas(sub: String, like: org.apache.spark.sql.DataFrame) =
      readDeltaDirs(spark, fs, chk, sv, sub, ids, like)
    val sigs = baseSigs.select(sigCols: _*)
      .unionByName(readDeltas("inc_sigs", baseSigs).select(sigCols: _*))
    val replaced = readDeltas("inc_replaced", baseSigs.select("doc_id"))
    val bands = baseBands.select(bandCols: _*)
      .unionByName(readDeltas("inc_bands", baseBands.select(bandCols: _*)))
      .join(replaced.select("doc_id"), Seq("doc_id"), "left_anti")
    (sigs, bands)
  }

  /** Fold the given committed deltas into a new base generation:
    * sigs = base ∪ delta sigs; bands = (base ∪ delta bands) minus delta
    * tombstones, re-co-located on the band key (the probe layout). Crash
    * consistency mirrors the per-batch scheme: both parquet dirs land
    * first, the gen marker (content = cumulative folded batch ids) last;
    * folded delta dirs are then deleted best-effort — a crash between
    * marker and cleanup leaves dirs that every later reader already
    * excludes via the marker's folded list.
    */
  private[graft] def compactIncrementalState(spark: SparkSession, chk: String,
      baseSigs: org.apache.spark.sql.DataFrame,
      baseBands: org.apache.spark.sql.DataFrame,
      curGen: Int, alreadyFolded: Set[String], foldIds: Seq[String],
      stamp: String): Unit = {
    val sv = s"v${DedupJob.IncStateVersion}"
    val fs = new org.apache.hadoop.fs.Path(chk)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g2 = curGen + 1
    val (sigs2, bands2) = rollingState(spark, fs, chk, sv, baseSigs, baseBands, foldIds)
    val store = graft.storage.TableStore.parquet
    store.write(sigs2, s"$chk/inc_base/$sv/gen=$g2/sigs")
    // the folded band table lands in the probe layout
    store.write(graft.storage.TableStore.bandLayout(bands2),
      s"$chk/inc_base/$sv/gen=$g2/bands")
    val stampOut = fs.create(new org.apache.hadoop.fs.Path(
      s"$chk/inc_base/$sv/gen=$g2/stamp"), true)
    try stampOut.write(stamp.getBytes("UTF-8")) finally stampOut.close()
    // the marker's CORRECTNESS depends on its content (the folded-id list),
    // unlike the empty per-batch markers whose existence alone commits —
    // write to a temp name and rename so a crash mid-write cannot leave a
    // truncated list that double-counts folded batches (latestGen ignores
    // non-integer names, so the temp file is invisible)
    val marker = new org.apache.hadoop.fs.Path(s"$chk/inc_base_commits/$sv/$g2")
    val tmp = new org.apache.hadoop.fs.Path(s"$chk/inc_base_commits/$sv/$g2.tmp")
    fs.mkdirs(marker.getParent)
    val out = fs.create(tmp, true)
    try out.write((alreadyFolded ++ foldIds).toSeq.sorted.mkString("\n")
      .getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, marker))
      throw new IllegalStateException(s"could not commit gen marker $marker")
    // best-effort cleanup: markers in inc_commits stay (they are how a
    // re-sent identical batch is recognized); only the bulky delta parquet
    // dirs go
    for (sub <- Seq("inc_sigs", "inc_bands", "inc_replaced"); id <- foldIds)
      try fs.delete(new org.apache.hadoop.fs.Path(s"$chk/$sub/$sv/batch=$id"), true)
      catch { case scala.util.control.NonFatal(_) => }
  }

  /** STREAMING ingest mode (`--stream`, requires `--checkpoint`): `--input`
    * is watched as a parquet FILE STREAM (new files = new micro-batches —
    * the crawl-drop ingest shape; the schema is taken from the files
    * already present). The queries form a SIGN-ONCE CASCADE — each with
    * its own checkpoint subdir and recoverable state:
    *
    *   - HEAD `<output>/verdicts`: every doc's full signature annotated
    *     with its exact-dup verdict and first-seen flag
    *     (`sigVerdictStream` — ONE signing pass, ONE first-seen election)
    *   - TAIL `<output>/bands`: band-index postings for first-seen reps,
    *     read from the verdicts SINK as a stream (no re-signing; a
    *     duplicate burst appends one doc's postings, the batch V7
    *     semantics)
    *   - TAIL `<output>/pairs`: at-most-once near-dup pairs over the same
    *     first-seen rows
    *
    * Both tails consume the head's sink rather than signing `--input`
    * themselves: every doc is signed once (signing is the dominant per-doc
    * CPU), and there is ONE first-seen state, so every output references
    * the SAME elected representative per content — independent first-seen
    * states per query could elect different reps after a mid-drain restart.
    *
    * `--trigger-once` processes everything available and stops
    * (Trigger.AvailableNow — the cron-shaped deployment and the testable
    * path); the cascade then runs head-to-completion before the tails
    * start (AvailableNow snapshots available sink files at query start).
    * Without it all queries run continuously and the tails lag the head
    * by one trigger. A killed job restarts from the checkpoint with all
    * state recovered — re-sent content stays deduped across restarts
    * (asserted by test).
    *
    * Scale: state is bounded by DISTINCT content (first-seen rows) and the
    * rep-only band table (≤ cap residents/key), not by stream length; all
    * three queries shuffle only on their state keys. Per-query lineage =
    * the streaming checkpoint's offset log (the batch ledger's analog).
    *
    * State backend: `--state-store rocksdb` (the default) uses
    * RocksDBStateStoreProvider with changelog checkpointing — state lives
    * on executor local disk with only per-batch changelogs shipped to the
    * checkpoint, so a web-scale corpus' first-seen state (one row per
    * distinct content — billions of rows at crawl scale) never has to fit
    * in executor heap, unlike the HDFS-backed provider's in-memory maps.
    * `--state-store hdfs` keeps the all-in-memory provider for small
    * streams. Spark persists the provider class in the checkpoint's offset
    * log, so a restart keeps whichever backend the checkpoint was born
    * with regardless of the flag.
    */
  def runStream(spark: SparkSession, a: Args,
      cfg: GraftConfig = GraftConfig.default): (Long, Long, Long) = {
    import graft.streaming.StreamingIndex
    val chk = a.checkpoint.get
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    // the provider conf is read at query START (and pinned into the
    // checkpoint's offset log from then on), so setting it here scopes it
    // to the queries below; restored after a --trigger-once drain so a
    // shared session (tests) keeps its own default
    val saved = Seq(providerKey, changelogKey).map(k => k -> spark.conf.getOption(k))
    if (a.stateStore == "rocksdb") {
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(changelogKey, "true")
    }
    def restoreConf(): Unit = saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val pipe = new DedupPipeline(spark, cfg, a.opts)
    val schema = spark.read.parquet(a.input).schema
    // --max-files-per-trigger bounds the micro-batch (honored by
    // Trigger.AvailableNow too): a 10^12-doc backfill drains as many
    // bounded state commits instead of one giant batch
    val reader = spark.readStream.schema(schema)
    val raw = (if (a.maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", a.maxFilesPerTrigger)
      else reader).parquet(a.input)
    val docs = pipe.extractStage(raw, a.fromHtml)

    val trigger =
      if (a.triggerOnce) org.apache.spark.sql.streaming.Trigger.AvailableNow()
      else org.apache.spark.sql.streaming.Trigger.ProcessingTime(a.triggerInterval)
    def start(df: org.apache.spark.sql.DataFrame, name: String) =
      df.writeStream.format("parquet").outputMode("append")
        .option("path", s"${a.output}/$name")
        .option("checkpointLocation", s"$chk/stream/$name")
        .trigger(trigger).queryName(s"graft-stream-$name").start()

    import org.apache.spark.sql.functions.col
    val head = StreamingIndex.sigVerdictStream(spark, docs, cfg).toDF()
    def repsSource(): org.apache.spark.sql.DataFrame = {
      // the tail sources list the head's sink dir — ensure it exists
      // before the first start (continuous mode starts all at once)
      val p = new org.apache.hadoop.fs.Path(s"${a.output}/verdicts")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
      spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[StreamingIndex.SigVerdict].schema)
        .parquet(s"${a.output}/verdicts")
        .where(col("first_seen") && col("hashable"))
    }
    def startTails(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
      val reps = repsSource()
      Seq(
        start(StreamingIndex.bandPostingsFromSignedStream(spark, reps, cfg,
          a.opts.simHashChannel, a.opts.simHashMaxHamming), "bands"),
        start(StreamingIndex.nearDupPairsDistinctFromSignedStream(spark, reps,
          cfg, cap = a.opts.maxBandGroupSize), "pairs"))
    }
    if (a.triggerOnce) {
      try {
        start(head, "verdicts").awaitTermination()
        startTails().foreach(_.awaitTermination())
      } finally restoreConf()
      // a sink can legitimately be absent/empty (zero rows of that kind
      // appended → AnalysisException on read); any OTHER failure is a real
      // error and propagates instead of masquerading as an empty drain
      def n(sub: String) =
        try spark.read.parquet(s"${a.output}/$sub").count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      (n("verdicts"), n("bands"), n("pairs"))
    } else {
      // a failure starting a later query must not leak the already-running
      // ones (or the provider conf) on a shared session
      val started = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.streaming.StreamingQuery]
      try {
        started += start(head, "verdicts")
        started ++= startTails()
      } catch { case scala.util.control.NonFatal(e) =>
        started.foreach(q => try q.stop() catch { case _: Exception => })
        restoreConf()
        throw e
      }
      // returns when any query stops/fails; the provider conf is pinned in
      // the running checkpoints, so restoring the session conf here is safe
      try spark.streams.awaitAnyTermination() finally restoreConf()
      (-1L, -1L, -1L)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder().appName("graft-dedup").getOrCreate()
    try {
      if (a.decontaminate.nonEmpty) {
        val (clean, contaminated) = runDecontaminate(spark, a)
        println(s"DEDUP_DECONTAM_DONE clean=$clean contaminated=$contaminated output=${a.output}")
      } else if (a.rewrite.nonEmpty) {
        val (docs, rewritten) = runRewrite(spark, a)
        println(s"DEDUP_REWRITE_DONE mode=${a.rewrite.get} docs=$docs rewritten=$rewritten output=${a.output}")
      } else if (a.stream) {
        val (verdicts, bands, pairs) = runStream(spark, a)
        println(s"DEDUP_STREAM_DONE verdicts=$verdicts band_postings=$bands pairs=$pairs output=${a.output}")
      } else a.incremental match {
        case Some(_) =>
          val (pairRows, freshDocs) = runIncremental(spark, a)
          println(s"DEDUP_INCREMENTAL_DONE pairs=$pairRows new_docs=$freshDocs output=${a.output}")
        case None =>
          val (docs, clusters) = run(spark, a)
          println(s"DEDUP_DONE docs=$docs clusters=$clusters output=${a.output}")
      }
    } finally spark.stop()
  }
}
