package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{GraftConfig, MinHasher}
import graft.pipeline.{DedupPipeline, DocSig, PipelineOptions}

/** Structured-Streaming incremental indexing — the streaming form of the
  * reference's missing-hash sweep (M7, /root/reference/mcrit/Worker.py:281-312):
  * each new document is signed ONCE, with the identical per-doc feature
  * computation as the batch pipeline, and probes one band index.
  *
  * The near-dup path is one SIGN-ONCE CASCADE, the shape `DedupJob --stream`
  * runs:
  *   - HEAD `sigVerdictStream`: one signing pass + one stateful first-seen
  *     election annotate every doc with its exact-dup verdict;
  *   - band TAIL `bandPostingsFromSignedStream`: band-table postings for
  *     the head's first-seen rows (the batch band recipe, stateless);
  *   - pair TAIL `nearDupPairsDistinctFromSignedStream`: in-state verified
  *     near-dup pairs over the same rows, delivered once under the batch
  *     `bandMatchesRequired` rule (`bandCountedPairs`).
  * The tails read already-signed rows (in production the head's parquet
  * sink read back as a stream), so nothing re-signs and every output
  * references the same elected representative.
  *
  * Also provides the streaming paragraph dedup.
  */
object StreamingIndex {

  /** One row per streamed doc from the cascade head (`sigVerdictStream`):
    * the FULL signature plus the exact-dup verdict and the first-arrival
    * flag. `first_seen` is true exactly once per distinct content (the
    * state-creating arrival — re-delivery of the representative itself is
    * is_dup=false but NOT first_seen) and always true for docs without an
    * exact identity (stateless pass-through).
    */
  final case class SigVerdict(doc_id: Long, url: String, n_tokens: Int,
      hashable: Boolean, exact_hash: Long, exact_hash2: Long,
      has_exact: Boolean, sig: Array[Byte], simhash: Long,
      is_dup: Boolean, first_url: String, first_seen: Boolean)

  /** Per-exact-hash state: the first url/doc_id that claimed this content. */
  final case class FirstSeen(url: String, doc_id: Long)

  /** The sign-once cascade HEAD over a streaming (url, text) DataFrame (file
    * source, Kafka value parse, MemoryStream): one signing pass
    * (`DedupPipeline.signRows`, the batch kernel step) + ONE stateful
    * operator annotate every doc with its exact-dup verdict and first-seen
    * flag. Each 128-bit content keeps one `FirstSeen` state row; the first
    * arrival wins and every later arrival is flagged as its duplicate — the
    * streaming analog of the batch exact channel (V6/V7), with state ∝
    * DISTINCT content, not documents. The election happens exactly once,
    * so every consumer of this stream sees the same representative by
    * construction — even after a mid-drain restart.
    *
    * The `first_seen` rows are the streaming composition of the batch V7
    * rep-only collapse (the reference always dedups by sha256 before
    * indexing, mcrit/storage/MemoryStorage.py:356-384):
    * each distinct content's FIRST arrival plus every doc without an exact
    * hash, as in the batch rep band table. Representative election is
    * first-arrival (min (doc_id, url) within a micro-batch), not global min
    * doc_id as in batch — a stream cannot see the future; probes stay
    * correct because every member of an exact group carries identical band
    * keys.
    *
    * Docs without an exact identity flow through the same grouped pass
    * under a per-doc key whose state is never written (no state row), so
    * the single pass costs one shuffle on the state key and state stays
    * ∝ distinct exact content.
    */
  def sigVerdictStream(spark: SparkSession, docs: DataFrame,
      cfg: GraftConfig = GraftConfig.default): Dataset[SigVerdict] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    new DedupPipeline(spark, cfg).signRows(docs)
      .groupByKey(d =>
        if (d.has_exact) (d.exact_hash, d.exact_hash2, true)
        else (d.doc_id, graft.hash.SimHash.hash64(d.url), false))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: (Long, Long, Boolean), rows: Iterator[DocSig],
            state: GroupState[FirstSeen]) => {
          def out(d: DocSig, dup: Boolean, firstUrl: String, firstSeen: Boolean) =
            SigVerdict(d.doc_id, d.url, d.n_tokens, d.hashable, d.exact_hash,
              d.exact_hash2, d.has_exact, d.sig, d.simhash, dup, firstUrl,
              firstSeen)
          if (!key._3) rows.map(d => out(d, dup = false, d.url, firstSeen = true))
          else {
            val res = scala.collection.mutable.ArrayBuffer.empty[SigVerdict]
            // deterministic within a batch: first-seen = min (doc_id, url)
            val batch = rows.toArray.sortBy(d => (d.doc_id, d.url))
            var first = state.getOption
            batch.foreach { d =>
              first match {
                case None =>
                  first = Some(FirstSeen(d.url, d.doc_id))
                  res += out(d, dup = false, d.url, firstSeen = true)
                case Some(f) =>
                  res += out(d, dup = !(f.doc_id == d.doc_id && f.url == d.url),
                    f.url, firstSeen = false)
              }
            }
            first.foreach(state.update)
            res.iterator
          }
        })
  }

  /** Cascade band TAIL: band postings (band_id, band_hash, doc_id) over an
    * ALREADY-SIGNED stream (the `sigVerdictStream` rows, pre-filtered to
    * first-seen by the caller) — append-mode sink rows for the band table,
    * built by the batch band recipe (`DedupPipeline.bandsOf`), including the
    * simhash chunk tables when that channel is on (band_id 100+), so the
    * appended rows probe identically. Stateless, so it runs per micro-batch; a duplicate burst
    * appends one doc's postings, the batch rep-only table.
    */
  def bandPostingsFromSignedStream(spark: SparkSession, sigs: DataFrame,
      cfg: GraftConfig = GraftConfig.default,
      simHashChannel: Boolean = true, simHashMaxHamming: Int = 2): DataFrame =
    new DedupPipeline(spark, cfg, PipelineOptions(simHashChannel = simHashChannel,
      simHashMaxHamming = simHashMaxHamming)).bandsOf(sigs.where(col("hashable")))

  /** Per-band-key resident docs for the streaming near-dup channel: up to
    * `cap` (doc_id, packed signature) entries; an overflowed key is a
    * stop-band and retains nothing further.
    */
  final case class BandResidents(ids: Array[Long], sigs: Array[Array[Byte]],
      overflowed: Boolean)

  /** A streamed near-dup pair. */
  final case class StreamPair(a: Long, b: Long, score: Double)

  /** Cascade pair TAIL: at-most-once near-dup pairs over an ALREADY-SIGNED
    * stream (the caller pre-filters to first-seen rows, so exact copies
    * generate no near-dup pairs — they are the head's verdicts — and the
    * band state matches the batch rep-only table).
    *
    * First a per-band stateful pass: each doc's band postings carry its
    * packed MinHash signature, group by the packed band key, and the state
    * keeps ≤ `cap` resident (doc_id, sig) per key — so an arriving doc is
    * verified against its band's residents IN-STATE (the signature is in
    * hand; no separate verify join) and pairs above the matching threshold
    * emit immediately, including across micro-batches. Stop-band policy
    * carries over: a key exceeding `cap` residents is tombstoned and emits
    * nothing further (boilerplate). That pass emits a pair once per
    * colliding band (an N-band collision = N rows); `bandCountedPairs` then
    * enforces the batch `bandMatchesRequired` rule cross-batch and delivers
    * each pair at most once. Band state is ∝ the band table (≤ cap entries
    * per distinct band key).
    *
    * Emission near the cap crossing: within each micro-batch, a key's rows
    * process in ascending doc_id order (Spark's group-iterator order is
    * otherwise execution-dependent; the sort makes per-batch output
    * deterministic). Pairs verified while the key held ≤ cap residents
    * always emit — including those of the doc whose insertion crosses the
    * cap (no retroactive drop) — and docs arriving after the tombstone
    * (same batch or later) emit nothing. Because processing order is
    * PER-BATCH doc_id order rather than a global arrival order, WHICH
    * docs precede the tombstone can depend on where batch boundaries fall
    * for a key straddling its cap: an id-ordered arrival stream is exactly
    * boundary-independent (asserted by test), while unordered arrivals
    * would need a caller-supplied total-order column carried into state —
    * which the (url, text) stream deliberately does not require.
    *
    * UPGRADE NOTE: the state key derivation changed with band-semantics v2
    * (xxhash64 packed 64-bit band keys). A streaming query restarted from
    * a PRE-v2 structured-streaming checkpoint would group new rows under
    * new keys while old `BandResidents` state sits under old keys —
    * silently missing duplicates across the restart boundary. Restart with
    * a fresh checkpoint after upgrading.
    */
  def nearDupPairsDistinctFromSignedStream(spark: SparkSession,
      sigs: DataFrame, cfg: GraftConfig = GraftConfig.default,
      cap: Int = 500): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val postings = sigs
      .where(col("hashable"))
      .select(col("doc_id"), col("sig"),
        posexplode(new DedupPipeline(spark, cfg).bandHashes(col("sig")))
          .as(Seq("band_id", "band_hash")))
      .select(DedupPipeline.packedBandKey(col("band_id"), col("band_hash")).as("band_key"),
        col("doc_id"), col("sig"))
      .as[(Long, Long, Array[Byte])]
    val threshold = cfg.matchingThreshold
    val bits = cfg.signatureBits
    val perBand = postings.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: Long, rows: Iterator[(Long, Long, Array[Byte])],
            state: GroupState[BandResidents]) => {
          var st = state.getOption.getOrElse(
            BandResidents(Array.empty, Array.empty, overflowed = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[StreamPair]
          // deterministic within a batch: ascending doc_id arrival
          val batch = rows.toArray.sortBy(_._2)
          var bi = 0
          while (bi < batch.length && !st.overflowed) {
            val (_, id, sig) = batch(bi)
            // re-delivery of a resident doc (duplicate url) is a no-op
            if (!st.ids.contains(id)) {
              var i = 0
              while (i < st.ids.length) {
                val s = MinHasher.score(st.sigs(i), sig, bits)
                if (s > threshold)
                  out += StreamPair(math.min(st.ids(i), id), math.max(st.ids(i), id), s)
                i += 1
              }
              if (st.ids.length + 1 > cap)
                st = BandResidents(Array.empty, Array.empty, overflowed = true)
              else
                st = BandResidents(st.ids :+ id, st.sigs :+ sig, overflowed = false)
            }
            bi += 1
          }
          state.update(st)
          // pairs accumulated BEFORE the overflow point always emit — a
          // retroactive drop here would make emission depend on where the
          // micro-batch boundary fell relative to the cap crossing
          out.iterator
        })
    bandCountedPairs(perBand, cfg.bandMatchesRequired).toDF()
  }

  /** Per-pair state for the cross-batch `bandMatchesRequired` rule: bands
    * collided so far and whether the pair already emitted. */
  final case class PairBands(n: Int, emitted: Boolean)

  /** Batch-parity band counting over the per-band pair stream
    * (≅ the batch `n_bands >= bandMatchesRequired` filter,
    * /root/reference/mcrit/storage/MongoDbStorage.py:897-930 with
    * BAND_MATCHES_REQUIRED=2): the band-state stage emits each (pair, band)
    * at most once by construction — once both docs are residents of a band
    * key neither re-verifies, and a tombstoned key never retains anything —
    * so counting a pair's ARRIVALS counts its distinct colliding bands.
    * A pair emits downstream exactly once, the moment its cumulative count
    * reaches `minBands`, including when the qualifying collisions land in
    * different micro-batches. Also subsumes at-most-once delivery (the
    * `emitted` flag), so no separate dropDuplicates stage is needed. State
    * is one `PairBands` row per colliding pair, kept for the query's life.
    *
    * UPGRADE NOTE (same hazard class as the band-key note above): this
    * stage replaced the earlier `dropDuplicatesWithinWatermark` sink
    * dedup, which changes the stateful-operator graph of any query built
    * on it (the `--stream` cascade pair tail) — a restart from a
    * checkpoint written BEFORE the change will fail or mis-map state.
    * Upgrading in place needs a fresh checkpoint dir (the RocksDB/band
    * state is rebuilt from the source on backfill).
    */
  def bandCountedPairs(pairs: Dataset[StreamPair], minBands: Int): Dataset[StreamPair] = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(minBands >= 1, s"minBands must be >= 1, got $minBands")
    pairs.groupByKey(p => (p.a, p.b))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: (Long, Long), rows: Iterator[StreamPair], state: GroupState[PairBands]) => {
          var st = state.getOption.getOrElse(PairBands(0, emitted = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[StreamPair]
          rows.foreach { p =>
            if (!st.emitted) {
              val n = st.n + 1
              st = PairBands(n, n >= minBands)
              if (st.emitted) out += p
            }
          }
          state.update(st)
          out.iterator
        })
  }

  /** State row for a seen paragraph: where it was first kept. */
  final case class ParaSeen(doc_id: Long, para_idx: Int)

  private def paraRows(docs: DataFrame) =
    graft.ops.MaintenanceOps.paragraphRows(docs)
      .select("doc_id", "para_idx", "para", "para_hash")

  /** Streaming paragraph-level first-seen dedup — the streaming form of
    * `DedupOps.paragraphDedupFlags` for a (doc_id, text) crawl stream.
    * Emits one verdict row per non-empty paragraph: (doc_id, para_idx,
    * para, keep), keep=true only on the corpus-lifetime FIRST arrival of
    * that normalized paragraph content. State: ONE `ParaSeen` row per
    * distinct paragraph (the same ∝-distinct-content bound as
    * `sigVerdictStream`). Within a micro-batch the keeper is
    * min (doc_id, para_idx), so replaying a corpus in ascending doc order
    * reproduces the batch verdicts exactly (asserted by test).
    *
    * Memory note: a key's FIRST batch buffers that batch's copies to find
    * the keeper before verdicts emit (later batches stream O(1) off the
    * existing state); a duplicate-heavy burst is bounded by the micro-batch
    * size (`--max-files-per-trigger` at the source). `paraFirstSeenStream`
    * below is the O(1)-per-group variant that emits only kept paragraphs.
    */
  def paraDedupFlagsStream(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    paraRows(docs).as[(Long, Int, String, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[(Long, Int, String, String)], state: GroupState[ParaSeen]) => {
          if (state.exists) rows.map(r => (r._1, r._2, r._3, false))
          else {
            val buf = rows.toArray
            val k = buf.minBy(r => (r._1, r._2))
            state.update(ParaSeen(k._1, k._2))
            buf.iterator.map(r =>
              (r._1, r._2, r._3, r._1 == k._1 && r._2 == k._2))
          }
        })
      .toDF("doc_id", "para_idx", "para", "keep")
  }

  /** Kept-paragraphs-only stream: each distinct paragraph's first arrival
    * passes, everything later is dropped in-flight — O(1) memory per group
    * (no verdict rows for dropped copies). The streaming boilerplate
    * filter for assembling a deduped corpus at the sink.
    */
  def paraFirstSeenStream(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    paraRows(docs).as[(Long, Int, String, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: String, rows: Iterator[(Long, Int, String, String)], state: GroupState[ParaSeen]) => {
          if (state.exists) { rows.foreach(_ => ()); Iterator.empty }
          else {
            val k = rows.minBy(r => (r._1, r._2))
            state.update(ParaSeen(k._1, k._2))
            Iterator.single((k._1, k._2, k._3))
          }
        })
      .toDF("doc_id", "para_idx", "para")
  }
}
