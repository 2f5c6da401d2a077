package graft.substring

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.TextNorm
import graft.hash.Murmur3

/** Near-verbatim excerpt detection — the scalable analog of the reference's
  * per-pair block matching (G1-G3, /root/reference/mcrit/matchers/FunctionCfgMatcher.py)
  * and the north_rule "suffix-array substring stage catches near-verbatim
  * excerpts LSH misses": long shared token runs between documents whose
  * overall similarity is below LSH thresholds (e.g. a quoted article inside
  * an otherwise-different page).
  *
  * Candidate generation: content-defined anchors (winnowing,
  * Schleimer–Wilkerson–Aiken "Winnowing: Local Algorithms for Document
  * Fingerprinting"): the rolling hash of EVERY `window`-token run is
  * computed, and within each `winnow` consecutive window positions the
  * (rightmost) minimum hash is selected. Because selection depends only on
  * the hash values inside the run, two documents sharing a verbatim run of
  * ≥ window + winnow − 1 tokens share at least one selected anchor
  * regardless of the run's byte offset in either document. (The earlier
  * stride-aligned variant only matched runs whose offsets were congruent
  * mod stride — a silent recall hole.) `groupBy(anchor)` is the shuffle;
  * hot anchors (boilerplate) capped exactly like LSH stop-bands.
  *
  * Verification: per candidate pair, the exact longest common token run via
  * a suffix array over the two token sequences (memory bounded per pair, not
  * per partition).
  */
object SubstringStage {

  /** THE 31-bit token hash space (separator-safe) — shared by detection
    * (`run`) and the rewrite (`SpanDedup`), which must match in exactly
    * this space to stay one channel. */
  def tokenHash(t: String): Int = (Murmur3.hashU(t, 0) & 0x7fffffffL).toInt

  /** token-hash sequence of a doc. */
  def tokenHashes(text: String): Array[Int] = {
    val tok = TextNorm.tokenize(text)
    tok.allTokens.map(tokenHash).toArray
  }

  /** Winnowed anchors: O(n) rolling hash of every `window`-token run + a
    * monotonic-deque minimum over each `winnow` consecutive positions
    * (rightmost minimum on ties — a content-defined, offset-independent
    * choice). Returns the distinct selected window hashes.
    */
  def anchors(hashes: Array[Int], window: Int, winnow: Int): Array[Long] = {
    val m = hashes.length - window + 1
    if (m <= 0) return Array.empty
    // rolling polynomial hash over Long (wrapping, seedless — the avalanche
    // mix below supplies diffusion): r(j+1) = (r(j) − x_j·31^(w−1))·31 + x_{j+w}
    var pow = 1L
    var k = 1
    while (k < window) { pow *= 31L; k += 1 }
    val wh = new Array[Long](m)
    var r = 0L
    var i = 0
    while (i < window) { r = r * 31L + hashes(i); i += 1 }
    wh(0) = mix(r)
    var j = 1
    while (j < m) {
      r = (r - hashes(j - 1) * pow) * 31L + hashes(j + window - 1)
      wh(j) = mix(r)
      j += 1
    }
    if (winnow <= 1) return wh.distinct
    // rightmost minimum of every `winnow` consecutive positions, via a
    // monotonic deque (O(n)); dedupe selections
    val selected = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](m) // window-start indices; live range [head, tail)
    var head = 0
    var tail = 0
    j = 0
    while (j < m) {
      // pop ≥ from the back: equal values yield to the newer (rightmost) one
      while (tail > head && wh(dq(tail - 1)) >= wh(j)) tail -= 1
      dq(tail) = j; tail += 1
      while (dq(head) <= j - winnow) head += 1 // expire out-of-window indices
      if (j >= winnow - 1) selected.add(wh(dq(head)))
      j += 1
    }
    val out = new Array[Long](selected.size)
    val it = selected.iterator()
    var t = 0
    while (it.hasNext) { out(t) = it.next(); t += 1 }
    out
  }

  /** splitmix-style avalanche so minima are taken over well-mixed values. */
  private def mix(x: Long): Long = graft.hash.SimHash.mix64(x ^ 1125899906842597L)

  /** Candidate pairs (a < b, distinct) from shared winnowed anchors over
    * `hashed` (doc_id, hashes), with the stop-anchor cap for boilerplate:
    * the capped pair emitter of the band candidate stage
    * (`DedupPipeline.cappedKeyPairs` — map-side local cap, one key shuffle,
    * sorted pair emission) over (anchor, doc_id) rows, so a mega-hot
    * boilerplate anchor ships ≤ (cap+1)·maps rows instead of its whole
    * posting list to one reducer. (anchor rows are distinct on
    * (anchor, doc_id), so group size IS the distinct-doc count.)
    * Shared by the detection (`run`) and rewrite (`SpanDedup`) surfaces.
    */
  private[substring] def candidatePairs(spark: SparkSession, hashed: DataFrame,
      window: Int, winnow: Int, maxAnchorGroup: Int): DataFrame = {
    import spark.implicits._
    val w = window; val wn = winnow
    // NO .distinct() here: `anchors` returns per-doc DISTINCT hashes and
    // doc_id is unique in `hashed`, so (anchor, doc_id) rows are distinct by
    // construction — the former distinct() was a full extra exchange of the
    // anchor table for nothing (guide §2.4: "a distinct on data that is
    // already unique")
    val anchorRows = hashed.select(col("doc_id"), col("hashes")).as[(Long, Array[Int])]
      .flatMap { case (id, hs) => anchors(hs, w, wn).map(a => (a, id)) }
      .toDF("anchor", "doc_id")
    graft.pipeline.DedupPipeline.cappedKeyPairs(spark, anchorRows.as[(Long, Long)],
      maxAnchorGroup).distinct()
  }

  /** Pairs of docs sharing a long verbatim token run, with the exact longest
    * common run length from suffix-array verification. Detection is
    * guaranteed (whp, modulo hash collisions) for shared runs of
    * ≥ window + winnow − 1 tokens; callers should set
    * minRun ≥ window + winnow − 1 so the filter matches the guarantee.
    * Input: (doc_id: Long, text: String).
    */
  def run(spark: SparkSession, docs: DataFrame,
      window: Int = 40, winnow: Int = 8,
      maxAnchorGroup: Int = 200, minRun: Int = 47): DataFrame = {
    import spark.implicits._

    val hashed = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, tokenHashes(text)) }
      .toDF("doc_id", "hashes")
      .where(size(col("hashes")) >= window)

    val pairs = candidatePairs(spark, hashed, window, winnow, maxAnchorGroup)

    // exact verification: suffix-array longest common run per pair
    val joined = pairs
      .join(hashed.withColumnRenamed("doc_id", "a").withColumnRenamed("hashes", "h_a"), "a")
      .join(hashed.withColumnRenamed("doc_id", "b").withColumnRenamed("hashes", "h_b"), "b")
    val mr = minRun
    val out = joined.select(col("a"), col("b"), col("h_a"), col("h_b"))
      .as[(Long, Long, Array[Int], Array[Int])]
      .map { case (a, b, ha, hb) =>
        val (len, pa, pb) = SuffixArray.longestCommonRun(ha, hb)
        (a, b, len, pa, pb)
      }
      .toDF("doc_id_a", "doc_id_b", "run_tokens", "offset_a", "offset_b")
      .where(col("run_tokens") >= mr)
    graft.pipeline.DedupPipeline.withCached(hashed)(out.localCheckpoint(true))
  }
}
