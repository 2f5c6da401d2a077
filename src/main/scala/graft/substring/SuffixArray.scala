package graft.substring

/** Suffix array (Manber–Myers prefix doubling, O(n log n)) + Kasai LCP
  * over int sequences — used to find the longest common token run between
  * two documents exactly (the per-pair verification of the substring
  * stage). Public textbook algorithms.
  */
object SuffixArray {

  /** Suffix array of `s` (values may be any ints; ranks are computed).
    * Each doubling round orders suffixes by the pair (rank(j), rank(j+k))
    * with two stable counting sorts — second key, then first — over
    * primitive int arrays, and re-ranks; it stops once every rank is
    * distinct. */
  def build(s: Array[Int]): Array[Int] = {
    val n = s.length
    // initial ranks: dense ranks of the values
    val uniq = s.clone()
    java.util.Arrays.sort(uniq)
    var m = 0
    var i = 0
    while (i < n) { if (m == 0 || uniq(i) != uniq(m - 1)) { uniq(m) = uniq(i); m += 1 }; i += 1 }
    var rank = new Array[Int](n)
    i = 0
    while (i < n) { rank(i) = java.util.Arrays.binarySearch(uniq, 0, m, s(i)); i += 1 }
    var next = new Array[Int](n)
    val sa = Array.range(0, n)
    val bySecond = new Array[Int](n)
    val counts = new Array[Int](n + 2)
    var classes = m
    var k = 1
    while (n > 0 && (classes < n || k == 1)) {
      countingSort(sa, bySecond, rank, k, classes, counts)
      countingSort(bySecond, sa, rank, 0, classes, counts)
      val r = rank
      def key(j: Int, shift: Int): Int = if (j + shift < n) r(j + shift) + 1 else 0
      next(sa(0)) = 0
      i = 1
      while (i < n) {
        val a = sa(i - 1); val b = sa(i)
        next(b) = next(a) + (if (r(a) != r(b) || key(a, k) != key(b, k)) 1 else 0)
        i += 1
      }
      classes = next(sa(n - 1)) + 1
      rank = next; next = r
      k <<= 1
    }
    sa
  }

  /** Stable counting sort of the suffixes in `in` into `out`, keyed by
    * rank(j + shift) + 1, or 0 when j + shift is past the end (ranks are
    * below `classes`). */
  private def countingSort(in: Array[Int], out: Array[Int], rank: Array[Int], shift: Int,
      classes: Int, counts: Array[Int]): Unit = {
    val n = in.length
    def key(j: Int): Int = if (j + shift < n) rank(j + shift) + 1 else 0
    java.util.Arrays.fill(counts, 0, classes + 2, 0)
    var i = 0
    while (i < n) { counts(key(in(i)) + 1) += 1; i += 1 }
    i = 1
    while (i <= classes + 1) { counts(i) += counts(i - 1); i += 1 }
    i = 0
    while (i < n) { val j = in(i); val c = key(j); out(counts(c)) = j; counts(c) += 1; i += 1 }
  }

  /** Kasai LCP: lcp(i) = common-prefix length of sa(i) and sa(i-1). */
  def lcp(s: Array[Int], sa: Array[Int]): Array[Int] = {
    val n = s.length
    val rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(sa(i)) = i; i += 1 }
    val out = new Array[Int](n)
    var h = 0
    i = 0
    while (i < n) {
      if (rank(i) > 0) {
        val j = sa(rank(i) - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        out(rank(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    out
  }

  /** a#b: `a` and `b` around one separator, Int.MinValue + 1, which cannot
    * occur in token hashes (they are masked to 31 bits). */
  private def separated(a: Array[Int], b: Array[Int]): Array[Int] = {
    val s = new Array[Int](a.length + 1 + b.length)
    System.arraycopy(a, 0, s, 0, a.length)
    s(a.length) = Int.MinValue + 1
    System.arraycopy(b, 0, s, a.length + 1, b.length)
    s
  }

  /** Matching statistics of `b` against `a` (Chang–Lawler): ms(i) = length
    * of the longest prefix of b's suffix starting at i that occurs ANYWHERE
    * in `a`. Computed from the generalized suffix array of a#b: for each
    * b-suffix, the best match is against the nearest a-suffix above or
    * below it in SA order, with match length = the min of the LCP values
    * between them — two linear sweeps. The unique separator can never be
    * part of a common prefix (it occurs once), so runs stop at it
    * naturally. O((|a|+|b|) log(|a|+|b|)).
    */
  def matchingStatistics(a: Array[Int], b: Array[Int]): Array[Int] = {
    val ms = new Array[Int](b.length)
    if (a.isEmpty || b.isEmpty) return ms
    val s = separated(a, b)
    val sa = build(s)
    val l = lcp(s, sa)
    val n = s.length
    // downward sweep: best = min LCP back to the nearest a-suffix above
    var best = -1 // -1 = no a-suffix seen yet
    var i = 0
    while (i < n) {
      if (i > 0 && best >= 0) best = math.min(best, l(i))
      if (sa(i) < a.length) best = Int.MaxValue
      else if (sa(i) > a.length && best >= 0) {
        val bi = sa(i) - a.length - 1
        if (best > ms(bi)) ms(bi) = best
      }
      i += 1
    }
    // upward sweep: nearest a-suffix below
    best = -1
    i = n - 1
    while (i >= 0) {
      if (sa(i) < a.length) best = Int.MaxValue
      else if (sa(i) > a.length && best >= 0) {
        val bi = sa(i) - a.length - 1
        if (best > ms(bi)) ms(bi) = best
      }
      if (i > 0 && best >= 0) best = math.min(best, l(i))
      i -= 1
    }
    // Int.MaxValue sentinels can only leak if min() was never applied,
    // which cannot happen for a b-suffix (an lcp step always sits between
    // it and any a-suffix); clamp defensively to the suffix length anyway.
    var j = 0
    while (j < b.length) {
      if (ms(j) > b.length - j) ms(j) = b.length - j
      j += 1
    }
    ms
  }

  /** Longest common substring (token run) between two int sequences:
    * suffix array over a#b with a unique separator, max LCP across the
    * boundary. Returns (length, startA, startB).
    */
  def longestCommonRun(a: Array[Int], b: Array[Int]): (Int, Int, Int) = {
    if (a.isEmpty || b.isEmpty) return (0, 0, 0)
    val s = separated(a, b)
    val sa = build(s)
    val l = lcp(s, sa)
    var best = 0
    var bestA = 0
    var bestB = 0
    var i = 1
    while (i < s.length) {
      val p = sa(i - 1)
      val q = sa(i)
      val fromA = p < a.length
      val fromB = q < a.length
      if (fromA != fromB && l(i) > best) {
        best = l(i)
        if (fromA) { bestA = p; bestB = q - a.length - 1 }
        else { bestA = q; bestB = p - a.length - 1 }
      }
      i += 1
    }
    (best, bestA, bestB)
  }
}
