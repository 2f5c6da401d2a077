package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.substring.{SuffixArray, SubstringStage}

class SuffixArraySpec extends AnyFunSuite {
  test("suffix array of banana-like sequence is correctly sorted") {
    // "banana" as ints: b=1,a=0,n=2
    val s = Array(1, 0, 2, 0, 2, 0)
    val sa = SuffixArray.build(s)
    assert(sa.toSeq == Seq(5, 3, 1, 0, 4, 2))
    val l = SuffixArray.lcp(s, sa)
    assert(l.toSeq == Seq(0, 1, 3, 0, 0, 2))
  }

  test("counting-sort suffix array equals the comparison-sort reference") {
    val r = new java.util.Random(17)
    val sep = Int.MinValue + 1
    def random(n: Int) = Array.fill(n)(r.nextInt())
    def lowAlphabet(n: Int) = Array.fill(n)(r.nextInt(1 + r.nextInt(3)))
    // a#b as the substring stage builds it: token hashes around one separator
    def withSeparator(n: Int) = {
      val a = Array.fill(n / 2)(r.nextInt(4) & 0x7fffffff)
      val b = Array.fill(n - n / 2)(r.nextInt(4) & 0x7fffffff)
      (a :+ sep) ++ b
    }
    for (gen <- Seq(random _, lowAlphabet _, withSeparator _); _ <- 0 until 1000) {
      val s = gen(r.nextInt(200))
      assert(SuffixArray.build(s).toSeq == SuffixArrayReference.build(s).toSeq, s.toSeq)
    }
  }

  test("longest common run finds shared span and offsets") {
    val a = Array(1, 2, 3, 4, 5, 6, 7, 8)
    val b = Array(9, 9, 4, 5, 6, 7, 9)
    val (len, pa, pb) = SuffixArray.longestCommonRun(a, b)
    assert(len == 4)
    assert(pa == 3 && pb == 2)
    assert(a.slice(pa, pa + len).toSeq == b.slice(pb, pb + len).toSeq)
  }

  test("no common run returns 0") {
    val (len, _, _) = SuffixArray.longestCommonRun(Array(1, 2, 3), Array(4, 5, 6))
    assert(len == 0)
  }
}

class SubstringStageSpec extends SparkTestBase {
  import spark.implicits._

  test("substring stage catches a long shared excerpt LSH would miss") {
    // docs A/B: mostly different, but share a 60-token verbatim excerpt
    val excerpt = (1 to 60).map(i => s"shared${('a' + i % 26).toChar}tok$i").mkString(" ")
    val a = (1 to 300).map(i => s"aw$i").mkString(" ") + " " + excerpt
    val b = excerpt + " " + (1 to 300).map(i => s"bw$i").mkString(" ")
    val c = (1 to 200).map(i => s"cw$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")

    val out = SubstringStage.run(spark, docs, window = 40, winnow = 8, minRun = 47)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getInt(2) >= 60, s"run length ${r.getInt(2)} should cover the excerpt")
  }

  test("shared excerpt is found at offsets NOT congruent mod any stride") {
    // the stride-aligned anchor scheme this replaced only matched runs whose
    // start offsets were congruent mod stride; winnowing must not care.
    // offsets: 307 in A (prime-ish), 0 in B
    val excerpt = (1 to 60).map(i => s"ex${('a' + i % 26).toChar}$i").mkString(" ")
    val a = (1 to 307).map(i => s"aw$i").mkString(" ") + " " + excerpt +
      " " + (1 to 50).map(i => s"az$i").mkString(" ")
    val b = excerpt + " " + (1 to 290).map(i => s"bw$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = SubstringStage.run(spark, docs, window = 40, winnow = 8, minRun = 47)
      .collect()
    assert(out.length == 1, "pair at incongruent offsets must be detected")
    assert(out.head.getInt(2) >= 60)
  }

  test("winnowed anchors are offset-independent and guarantee-dense") {
    val rnd = new scala.util.Random(7)
    val run = Array.fill(60)(rnd.nextInt(1 << 30))
    // same run embedded at arbitrary different offsets in different noise
    val docA = Array.fill(131)(rnd.nextInt(1 << 30)) ++ run ++ Array.fill(45)(rnd.nextInt(1 << 30))
    val docB = Array.fill(17)(rnd.nextInt(1 << 30)) ++ run ++ Array.fill(200)(rnd.nextInt(1 << 30))
    val aA = SubstringStage.anchors(docA, window = 40, winnow = 8).toSet
    val aB = SubstringStage.anchors(docB, window = 40, winnow = 8).toSet
    // guarantee: shared run of ≥ window + winnow − 1 = 47 tokens ⇒ ≥1 shared anchor
    assert(aA.intersect(aB).nonEmpty)
    // determinism
    assert(SubstringStage.anchors(docA.clone(), 40, 8).toSeq ==
      SubstringStage.anchors(docA, 40, 8).toSeq)
    // density sanity: winnowing selects ~2/(winnow+1) of positions, not all
    assert(aA.size < docA.length)
  }
}
