package graft.substring

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.TextNorm

/** Duplicated-SPAN removal — the rewrite counterpart of SubstringStage's
  * detection (Lee et al., "Deduplicating Training Data Makes Language
  * Models Better", ExactSubstr): every token run of ≥ `minRun` tokens that
  * also occurs in an EARLIER document (smaller doc_id) is cut from the
  * later one, so boilerplate/quoted passages survive exactly once
  * corpus-wide while both host documents survive. Complements
  * `DedupOps.paragraphDedup` (needs paragraph breaks + verbatim whole
  * paragraphs) and doc-level LSH (misses a long excerpt inside an
  * otherwise-different page).
  *
  * Shape at scale:
  *  - candidates: the winnowed-anchor stage shared with SubstringStage —
  *    one groupBy(anchor) with map-side + reducer stop-anchor caps, pair
  *    volume O(docs × mean-anchor-load), never O(n²);
  *  - per-doc partner lists are capped (`maxPartners`, smallest doc_ids
  *    kept, deterministic) so a doc quoted by everything cannot collect an
  *    unbounded array — residual copies past the cap are exactly the
  *    boilerplate the paragraph/exact channels remove anyway;
  *  - the rewrite joins each doc with its partner HASH sequences only
  *    (4 B/token × ≤ maxPartners), then removes covered intervals in one
  *    local pass per doc: matching statistics vs each partner via the
  *    generalized suffix array (O(n log n) per doc, memory O(doc+partner),
  *    never corpus-wide state).
  *
  * Output contract: `text_clean` is the surviving tokens of
  * `TextNorm.tokenize` joined by single spaces — the rewrite is defined in
  * the same normalized token space the matching runs in (byte-offset
  * mapping back into raw HTML-extracted text is not well-defined once
  * normalization collapses whitespace/case). Detection is whp-complete for
  * runs of ≥ window + winnow − 1 tokens (set `minRun` ≥ that); removal is
  * exact given the candidate pairs: a false candidate contributes zero
  * intervals, a true span is cut wherever matching statistics reach
  * `minRun`.
  */
object SpanDedup {

  /** Bounded smallest-k distinct aggregator for the partner cap: the
    * aggregation BUFFER never holds more than k ids (a sorted array trimmed
    * on every insert), so `maxPartners` bounds memory where it is spent —
    * the earlier `slice(sort_array(collect_set(a)), 1, k)` form computed
    * the same smallest-k-distinct answer but buffered a hot doc's FULL
    * partner set first (≈ anchors × maxAnchorGroup ids worst-case).
    * Semantics are identical by construction (asserted property-style by
    * test): binary-search insertion dedups like collect_set, keeps
    * ascending order like sort_array, and trimming above k ids can never
    * evict a smallest-k member. The buffer is a plain Array[Long] — a
    * NATIVE ExpressionEncoder on both sides (the obvious TreeSet buffer
    * needs kryo, which cannot roundtrip Scala's red-black tree through a
    * shuffle), and k is small (64 default) so O(k) insertion is noise.
    */
  private[graft] class SmallestKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    // invariant: buffer sorted ascending, distinct, length ≤ k
    def reduce(b: Array[Long], a: Long): Array[Long] = {
      val idx = java.util.Arrays.binarySearch(b, a)
      if (idx >= 0) return b                       // already present
      val ins = -idx - 1
      if (b.length >= k && ins >= k) return b      // ≥ current max of a full buffer
      val merged = new Array[Long](b.length + 1)
      System.arraycopy(b, 0, merged, 0, ins)
      merged(ins) = a
      System.arraycopy(b, ins, merged, ins + 1, b.length - ins)
      if (merged.length > k) java.util.Arrays.copyOf(merged, k) else merged
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var r = x
      var i = 0
      while (i < y.length) { r = reduce(r, y(i)); i += 1 }
      r
    }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Merged [start, end) token intervals of `own` covered by a common run
    * of ≥ minRun tokens with ANY partner sequence. Order-insensitive in
    * `partners`.
    */
  def duplicateIntervals(partners: Seq[Array[Int]], own: Array[Int],
      minRun: Int): Array[(Int, Int)] = {
    if (own.isEmpty || partners.isEmpty) return Array.empty
    // cover(i) = furthest end over qualifying runs starting at i
    val cover = new Array[Int](own.length)
    partners.foreach { pa =>
      val ms = SuffixArray.matchingStatistics(pa, own)
      var i = 0
      while (i < own.length) {
        if (ms(i) >= minRun && i + ms(i) > cover(i)) cover(i) = i + ms(i)
        i += 1
      }
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < own.length) {
      if (cover(i) > 0) {
        if (buf.nonEmpty && i <= buf.last._2)
          { if (cover(i) > buf.last._2) buf(buf.length - 1) = (buf.last._1, cover(i)) }
        else buf += ((i, cover(i)))
      }
      i += 1
    }
    buf.toArray
  }

  /** Corpus rewrite: (doc_id, text_clean, n_tokens, n_removed) for every
    * input doc. n_tokens is the pre-removal token count; text_clean the
    * post-removal normalized-token join (empty when the whole doc was a
    * duplicated span). Parameters mirror `SubstringStage.run`.
    */
  def removeDuplicateSpans(spark: SparkSession, docs: DataFrame,
      window: Int = 40, winnow: Int = 8, maxAnchorGroup: Int = 200,
      minRun: Int = 47, maxPartners: Int = 64): DataFrame = {
    import spark.implicits._

    val tok = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val t = TextNorm.tokenize(if (text == null) "" else text).allTokens.toArray
        val h = t.map(SubstringStage.tokenHash)
        (id, t, h)
      }
      .toDF("doc_id", "tokens", "hashes")

    val hashed = tok.select(col("doc_id"), col("hashes"))
      .where(size(col("hashes")) >= window)
    val pairs = SubstringStage.candidatePairs(spark, hashed, window, winnow, maxAnchorGroup)

    // first-occurrence-keeps: spans are removed from the LARGER doc_id of
    // each candidate pair, against the partner's ORIGINAL token sequence
    // (so a chain 1→2→3 removes the span from 2 and 3 even when (1,3) was
    // never a candidate). Partner cap keeps the smallest ids — the most
    // authoritative sources under this order.
    val smallestK = udaf(new SmallestKAgg(maxPartners), org.apache.spark.sql.Encoders.scalaLong)
    val partners = pairs
      .groupBy(col("b"))
      .agg(smallestK(col("a")).as("partner_ids"))
      .select(col("b").as("doc_id"), explode(col("partner_ids")).as("pid"))
      .join(hashed.select(col("doc_id").as("pid"), col("hashes").as("p_hashes")), "pid")
      .groupBy("doc_id")
      .agg(collect_list(col("p_hashes")).as("p_hash_list"))

    val mr = minRun
    val out = tok.join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tokens"), col("hashes"), col("p_hash_list"))
      .as[(Long, Array[String], Array[Int], Seq[Array[Int]])]
      .map { case (id, tokens, hashes, partnerHashes) =>
        val iv =
          if (partnerHashes == null) Array.empty[(Int, Int)]
          else duplicateIntervals(partnerHashes, hashes, mr)
        var removed = 0
        iv.foreach { case (s, e) => removed += e - s }
        val keep = new StringBuilder
        var i = 0
        var ivIdx = 0
        while (i < tokens.length) {
          while (ivIdx < iv.length && i >= iv(ivIdx)._2) ivIdx += 1
          val inCut = ivIdx < iv.length && i >= iv(ivIdx)._1 && i < iv(ivIdx)._2
          if (!inCut) {
            if (keep.nonEmpty) keep.append(' ')
            keep.append(tokens(i))
          }
          i += 1
        }
        (id, keep.toString, tokens.length.toLong, removed.toLong)
      }
      .toDF("doc_id", "text_clean", "n_tokens", "n_removed")
    graft.pipeline.DedupPipeline.withCached(tok)(out.localCheckpoint(true))
  }
}
