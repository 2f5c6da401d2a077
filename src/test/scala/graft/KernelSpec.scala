package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.hash.{Murmur3, PyRandom, SimHash}
import graft.kernel._

/** Golden parity tests for the pure kernel. Expected values were produced by
  * executing the reference's published semantics under Python 3.11
  * (mmh3/pymmh3, `random` MT19937 with seed 0xDEADBEEF, cf.
  * /root/reference/tests/testMinhashing.py and testShingling.py).
  */
class Murmur3Spec extends AnyFunSuite {
  test("mmh3 parity vectors") {
    assert(Murmur3.hashU("", 0) == 0L)
    assert(Murmur3.hashU("a", 0) == 1009084850L)
    assert(Murmur3.hashU("abc", 0) == 3017643002L)
    assert(Murmur3.hashU("hello world", 0) == 1586663183L)
    assert(Murmur3.hashU("abc", 0xdeadbeef) == 3523303279L)
    assert(Murmur3.hashU("the;quick;brown", 0) == 4160182872L)
    assert(Murmur3.hashU("1322971", 0) == 3046642888L)
    assert(Murmur3.hashU("2551120247", 42) == 2712923064L)
    assert(Murmur3.hashU("num_ins_C=1:4", 0) == 867217715L)
  }
}

class PyRandomSpec extends AnyFunSuite {
  test("randint sequence parity with random.seed(0xDEADBEEF)") {
    val r = new PyRandom(0xdeadbeefL)
    val expectedHead = Seq(82178386L, 2629337071L, 4146086384L, 1423889158L,
      2870942905L, 1149697563L, 4262541068L, 4177997269L)
    val got = Seq.fill(8)(r.randintU32())
    assert(got == expectedHead)
  }

  test("config minhash seeds match reference derivation (head+tail)") {
    val cfg = GraftConfig.default
    assert(cfg.minhashXorSeeds.length == 64)
    assert(cfg.minhashXorSeeds(0) == 82178386L)
    assert(cfg.minhashXorSeeds(8) == 1353584946L)
    assert(cfg.minhashXorSeeds(62) == 33608985L)
    assert(cfg.minhashXorSeeds(63) == 2118848326L)
  }

  test("shingler xor values parity") {
    val cfg = GraftConfig.default
    assert(cfg.shinglerXorValues.toSeq ==
      Seq(0L, 82178386L, 2629337071L, 4146086384L))
  }

  test("shuffle parity: band projection {4:20} seed 0xDEADBEEF over 64") {
    val proj = GraftConfig.default.bandProjection
    assert(proj.length == 20)
    assert(proj(0).toSeq == Seq(53, 14, 1, 63))
    assert(proj(1).toSeq == Seq(33, 32, 6, 36))
    assert(proj(19).toSeq == Seq(12, 40, 44, 13))
  }

  test("shuffle parity: bands {2:2,3:1} seed 0 over 10 (reference test config)") {
    val cfg = GraftConfig.default.copy(
      signatureLength = 10, bandSeed = 0L, bands = Seq(2 -> 2, 3 -> 1))
    val proj = cfg.bandProjection
    assert(proj.map(_.toSeq).toSeq == Seq(Seq(7, 8), Seq(9, 4), Seq(7, 0, 9)))
  }
}

class LogBucketSpec extends AnyFunSuite {
  test("golden log-bucket table (testShingling.py:22-40)") {
    val expected = Map[Long, (Long, Long, Long)](
      0L -> (0L, 0L, 1L), 2L -> (1L, 2L, 3L), 3L -> (2L, 3L, 4L),
      4L -> (3L, 4L, 6L), 5L -> (4L, 6L, 8L), 11L -> (10L, 12L, 14L),
      12L -> (10L, 12L, 14L), 16L -> (14L, 16L, 20L), 18L -> (16L, 20L, 24L),
      29L -> (28L, 32L, 36L), 32L -> (28L, 32L, 36L), 33L -> (32L, 36L, 40L),
      59L -> (56L, 60L, 64L), 89L -> (88L, 96L, 104L), 1197L -> (1184L, 1216L, 1248L))
    for ((v, exp) <- expected) assert(LogBucket.range(v) == exp, s"value $v")
  }
}

class ScoreSpec extends AnyFunSuite {
  test("positional score 60.0 for 6/10 equal (testMinhashing.py:61-71)") {
    val a = Array(0x30, 0x31, 0x32, 0x33, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39).map(_.toByte)
    val b = Array(0x30, 0x31, 0x30, 0x33, 0x30, 0x30, 0x30, 0x37, 0x38, 0x39).map(_.toByte)
    assert(MinHasher.score(a, b) == 60.0)
  }
}

class BandSpec extends AnyFunSuite {
  /** ≅ testBandingVariableSize: equal bands iff projected positions equal. */
  test("band collision semantics, variable sizes {2:2,3:1}, seed 0") {
    val cfg = GraftConfig.default.copy(
      signatureLength = 10, bandSeed = 0L, bands = Seq(2 -> 2, 3 -> 1))
    val bands = new Bands(cfg)
    val sigA = Array(0x30, 0x31, 0x32, 0x33, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39)
    val sigB = Array(0x30, 0x31, 0x30, 0x33, 0x30, 0x30, 0x30, 0x37, 0x38, 0x39)
    val ha = bands.bandHashes(sigA)
    val hb = bands.bandHashes(sigB)
    // projections: [7,8] equal, [9,4] differ (pos 4), [7,0,9] equal
    assert(ha(0) == hb(0))
    assert(ha(2) == hb(2))
    assert(ha(1) != hb(1))
  }

  test("wide bands of 32-bit values hash the full decimal band string") {
    // 100 ints of 11 decimal chars each = 1100 bytes per band string
    val cfg = GraftConfig.default.copy(
      signatureLength = 128, signatureBits = 32, bands = Seq(100 -> 1))
    val sig = Array.tabulate(128)(i => Int.MinValue + i)
    val got = new Bands(cfg).bandHashes(sig)
    val str = cfg.bandProjection(0).map(i => sig(i).toString).mkString
      .getBytes("US-ASCII")
    assert(str.length == 1100)
    assert(got.toSeq == Seq(Murmur3.hashU(str, 0) | (Murmur3.hashU(str, 1) << 32)))
  }

  test("linear banding strategy: strided index selection") {
    val cfg = GraftConfig.default.copy(bands = Seq(4 -> 16), bandStrategy = "linear")
    val proj = cfg.bandProjection
    assert(proj.length == 16)
    assert(proj(0).toSeq == Seq(0, 16, 32, 48))
    assert(proj(15).toSeq == Seq(15, 31, 47, 63))
  }
}

class SegmentsSpec extends AnyFunSuite {
  test("segmented sequence: 16 fuzzy + 48 kgram slots (3:1 weights)") {
    val seg = GraftConfig.default.segments
    assert(seg.length == 64)
    assert(seg.take(16).forall(_ == "FuzzyStatShingler"))
    assert(seg.drop(16).forall(_ == "KGramShingler"))
  }
}

class ShinglerSpec extends AnyFunSuite {
  private val cfg = GraftConfig.default

  test("kgram shingler: sliding sorted 3-grams per paragraph") {
    val doc = TextNorm.tokenize("the quick brown fox jumps")
    val s = new KGramShingler(cfg, 3)
    val seqs = s.generateSequences(doc)
    assert(seqs == Seq("brown;quick;the", "brown;fox;quick", "fox;jumps;brown".split(";").sorted.mkString(";")))
  }

  test("kgram shingler: short paragraph emits single sorted join") {
    val doc = TextNorm.tokenize("beta alpha")
    val s = new KGramShingler(cfg, 3)
    assert(s.generateSequences(doc) == Seq("alpha;beta"))
  }

  test("empty doc → sentinel shingle 0xFFFFFFFF") {
    val doc = TextNorm.tokenize("")
    val s = new KGramShingler(cfg, 3)
    val out = s.process(doc, 0, useWeights = false)
    assert(out.length == 1 && out(0).toSeq == Seq(0xffffffffL))
  }

  test("fuzzy bucketed values mirror centered counter semantics") {
    val s = new FuzzyStatShingler(cfg, 1)
    // value 5 → range (4, 6, 8): lo once, mid twice, hi once
    assert(s.bucketedValues("f", 5) ==
      Seq("f=1:4", "f=1:6", "f=2:6", "f=1:8"))
    // value 0 → range (0, 0, 1): counter accumulates on shared bucket 0
    assert(s.bucketedValues("f", 0) ==
      Seq("f=1:0", "f=2:0", "f=3:0", "f=1:1"))
  }

  test("hashedShingles fast path matches generateSequences + mmh3 exactly") {
    val s = new KGramShingler(cfg, 1)
    val r = new java.util.Random(11)
    for (_ <- 0 until 50) {
      val paras = (0 to r.nextInt(3)).map { _ =>
        (0 until r.nextInt(30)).map(_ => s"w${('a' + r.nextInt(26)).toChar}${('a' + r.nextInt(26)).toChar}").mkString(" ")
      }.mkString("\n\n")
      val doc = TextNorm.tokenize(paras)
      val slow = {
        val seqs = s.generateSequences(doc)
        if (seqs.isEmpty) Seq(0xffffffffL)
        else seqs.map(x => graft.hash.Murmur3.hashU(x, 0))
      }
      assert(s.hashedShingles(doc).toSeq == slow, s"drift for: ${paras.take(60)}")
    }
    // unicode tokens exercise the String-order vs UTF-8-order distinction
    val uni = TextNorm.tokenize("żółć abc ümlaut zz yy xx")
    val slowU = s.generateSequences(uni).map(x => graft.hash.Murmur3.hashU(x, 0))
    assert(s.hashedShingles(uni).toSeq == slowU)
  }

  test("weighted process appends XOR-remapped copies") {
    val doc = TextNorm.tokenize("alpha beta gamma delta")
    val s = new KGramShingler(cfg, 3)
    val groups = s.process(doc, 0, useWeights = true)
    assert(groups.length == 3)
    assert(groups(1).toSeq == groups(0).map(_ ^ cfg.shinglerXorValues(1)).toSeq)
    assert(groups(2).toSeq == groups(0).map(_ ^ cfg.shinglerXorValues(2)).toSeq)
  }
}

class MinHasherSpec extends AnyFunSuite {
  private val cfg = GraftConfig.default
  private val mh = new MinHasher(cfg)

  test("signature is deterministic, 64 bytes, 8-bit entries") {
    val doc = TextNorm.tokenize(
      "the quick brown fox jumps over the lazy dog again and again\n\nanother paragraph with more text here")
    val s1 = mh.signatureBytes(doc)
    val s2 = mh.signatureBytes(doc)
    assert(s1.length == 64)
    assert(s1.toSeq == s2.toSeq)
  }

  test("hashability gate: > 10 tokens (≅ MINHASH_FN_MIN_INS)") {
    assert(!mh.isHashable(TextNorm.tokenize("one two three")))
    assert(mh.isHashable(TextNorm.tokenize("a b c d e f g h i j k l")))
  }

  test("identical docs score 100; near dups score high; unrelated score low") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val mut = (1 to 60).map(i => if (i == 30) "CHANGED" else s"word$i").mkString(" ")
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val sb = mh.signatureBytes(TextNorm.tokenize(base))
    val sm = mh.signatureBytes(TextNorm.tokenize(mut))
    val so = mh.signatureBytes(TextNorm.tokenize(other))
    assert(MinHasher.score(sb, sb) == 100.0)
    assert(MinHasher.score(sb, sm) > 50.0)
    assert(MinHasher.score(sb, so) < 50.0)
  }

  test("segmented positions: fuzzy slots insensitive to word identity changes") {
    // two docs with identical stats but different words should agree on
    // (most of) the first 16 fuzzy-stat slots and disagree on k-gram slots
    val a = (1 to 40).map(i => s"aaa$i").mkString(" ")
    val b = (1 to 40).map(i => s"bbb$i").mkString(" ")
    val sa = mh.signature(TextNorm.tokenize(a))
    val sb = mh.signature(TextNorm.tokenize(b))
    val fuzzyAgree = (0 until 16).count(i => sa(i) == sb(i))
    assert(fuzzyAgree >= 12, s"fuzzy slots agree: $fuzzyAgree")
  }
}

class SimHashSpec extends AnyFunSuite {
  test("simhash of identical shingle sets equal; near sets near") {
    val base = (1 to 100).map(i => s"sh$i")
    val near = (1 to 100).map(i => if (i % 50 == 0) s"SH$i" else s"sh$i")
    val far = (1 to 100).map(i => s"other$i")
    val hb = SimHash.of(base)
    val hn = SimHash.of(near)
    val hf = SimHash.of(far)
    assert(SimHash.hammingDistance(hb, hb) == 0)
    assert(SimHash.hammingDistance(hb, hn) < 12)
    assert(SimHash.hammingDistance(hb, hf) > 12)
  }

  test("chunks16 round trip") {
    val v = 0x123456789abcdef0L
    assert(SimHash.chunks16(v).toSeq == Seq(0xdef0, 0x9abc, 0x5678, 0x1234))
  }

  test("kernel exact hashes equal hashes of the mkString-normalized text") {
    // the kernel assembles normalized UTF-8 bytes directly from token bytes
    // (no String materialization); this pins it to the reference form
    // paraTokens.map(_.mkString(" ")).mkString("\n") over adversarial
    // inputs: non-ASCII, CJK, surrogate pairs, multi-paragraph
    val c = graft.kernel.GraftConfig.default
    val kernel = new graft.pipeline.DocSig.Kernel(c)
    val texts = Seq(
      "ascii" -> (1 to 15).map(i => s"tok$i").mkString(" "),
      "unicode" -> ("naïve café 東京都 привет " +
        (1 to 12).map(i => s"слово$i").mkString(" ")),
      "multi-para" -> (1 to 8).map(i => s"para$i word$i thing$i other$i more$i")
        .mkString("\n\n"),
      "surrogates" -> (1 to 12).map(i => s"x𝕏$i plain$i").mkString(" "),
      "mixed" -> ("ascii start 日本語テキスト middle ώμέγα " +
        (1 to 10).map(i => s"end$i").mkString(" ") + "\n\nsecond πara 😀" +
        (1 to 10).map(i => s" tail$i").mkString))
    for ((name, text) <- texts) {
      val tok = graft.kernel.TextNorm.tokenize(text)
      val normalized = tok.paraTokens.map(_.mkString(" ")).mkString("\n")
      val sig = kernel.compute("u-" + name, text)
      assert(sig.has_exact, s"$name should clear the exact-hash token gate")
      assert(sig.exact_hash == SimHash.hash64(normalized), s"$name hash64")
      assert(sig.exact_hash2 == SimHash.hash64b(normalized), s"$name hash64b")
    }
  }

  test("SWAR ofHashes equals the per-bit ±1 vote reference") {
    // independent reference: the pre-SWAR branchless form
    def reference(hs: Array[Long]): Long = {
      if (hs.isEmpty) return 0L
      val votes = new Array[Int](64)
      for (h0 <- hs) {
        val h = SimHash.mix64(h0)
        var b = 0
        while (b < 64) { votes(b) += ((((h >>> b) & 1L) << 1) - 1L).toInt; b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    val rng = new java.util.Random(42)
    // random sizes bracketing the 255-flush boundary, plus adversarial
    // all-equal inputs (every lane saturating together) and ties
    val sizes = Seq(0, 1, 2, 3, 254, 255, 256, 257, 510, 511, 1000)
    for (sz <- sizes) {
      val hs = Array.fill(sz)(rng.nextLong() & 0xffffffffL)
      assert(SimHash.ofHashes(hs) == reference(hs), s"random size $sz")
      val same = Array.fill(sz)(0xdeadbeefL)
      assert(SimHash.ofHashes(same) == reference(same), s"constant size $sz")
    }
    // exact tie on every bit: two hashes with complementary mixed bits is
    // hard to construct directly, but even-count random inputs exercise
    // per-bit ties statistically across the 500 trials below
    for (t <- 1 to 500) {
      val hs = Array.fill(2 + rng.nextInt(6))(rng.nextLong() & 0xffffffffL)
      assert(SimHash.ofHashes(hs) == reference(hs), s"trial $t")
    }
  }
}

class BpeSpec extends AnyFunSuite {
  import graft.kernel.Bpe

  test("training merges the most frequent pair first (Sennrich worked example)") {
    // classic corpus: {low×5, lower×2, newest×6, widest×3} — the most
    // frequent pair is (e,s) with freq 9 (newest+widest), then (es,t) 9
    val freq = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val merges = Bpe.train(freq, 4)
    assert(merges.take(2) == Vector(("e", "s"), ("es", "t")), merges.toString)
    // with 'est' merged, (est, </w>) has freq 9 — next
    assert(merges(2) == ("est", Bpe.EndOfWord), merges.toString)
  }

  test("encode applies merges greedily and falls back to characters") {
    val bpe = new Bpe(Vector(("e", "s"), ("es", "t"), ("est", Bpe.EndOfWord)))
    assert(bpe.encode("newest") == Vector("n", "e", "w", "est</w>"))
    // unseen word: no merge applies — character tokens + end marker
    assert(bpe.encode("zzz") == Vector("z", "z", "z", Bpe.EndOfWord))
    assert(bpe.encode("") == Vector.empty)
  }

  test("countTokens is whitespace-robust and deterministic") {
    val bpe = new Bpe(Vector(("e", "s"), ("es", "t"), ("est", Bpe.EndOfWord)))
    val n = bpe.countTokens("Newest  newest\n NEWEST")
    assert(n == 12, s"3 × 4 subwords, case/whitespace-insensitive: $n")
    assert(bpe.countTokens("") == 0 && bpe.countTokens(null) == 0)
  }

  test("training is deterministic and the render/parse roundtrip is exact") {
    val a = Bpe.train(Map("alpha" -> 3L, "alpine" -> 2L, "beta" -> 4L), 16)
    val b = Bpe.train(Map("beta" -> 4L, "alpine" -> 2L, "alpha" -> 3L), 16)
    assert(a == b, "insertion order must not leak into the merge table")
    assert(Bpe.parse(Bpe.render(a)) == a)
  }

  test("the committed default tokenizer loads and compresses corpus words") {
    val bpe = Bpe.default
    assert(bpe.merges.length == Bpe.DefaultMerges)
    // a high-frequency corpus word must have merged well below characters
    val text = "the and for with from that this page site"
    assert(bpe.countTokens(text) < text.replace(" ", "").length + 9)
  }
}
