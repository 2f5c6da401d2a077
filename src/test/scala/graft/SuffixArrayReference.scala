package graft

/** Test-side reference for `SuffixArray.build`: comparison-sort prefix
  * doubling, O(n log² n), over boxed indices — the form the counting-sort
  * kernel replaced. */
object SuffixArrayReference {
  def build(s: Array[Int]): Array[Int] = {
    val n = s.length
    if (n == 0) return Array.empty
    var sa = Array.range(0, n)
    var rank = new Array[Int](n)
    // initial ranks from element values
    val sorted = s.distinct.sorted
    val rankOf = sorted.zipWithIndex.toMap
    var i = 0
    while (i < n) { rank(i) = rankOf(s(i)); i += 1 }
    var tmp = new Array[Int](n)
    var k = 1
    while (k < n) {
      val ord = new Ordering[Int] {
        def compare(a: Int, b: Int): Int = {
          if (rank(a) != rank(b)) return rank(a) - rank(b)
          val ra = if (a + k < n) rank(a + k) else -1
          val rb = if (b + k < n) rank(b + k) else -1
          ra - rb
        }
      }
      sa = sa.sortWith((a, b) => ord.compare(a, b) < 0)
      tmp(sa(0)) = 0
      i = 1
      while (i < n) {
        tmp(sa(i)) = tmp(sa(i - 1)) + (if (ord.compare(sa(i - 1), sa(i)) < 0) 1 else 0)
        i += 1
      }
      // swap references — copying tmp into rank would alias the two arrays
      val t = rank; rank = tmp; tmp = t
      if (rank(sa(n - 1)) == n - 1) return sa
      k <<= 1
    }
    sa
  }
}
