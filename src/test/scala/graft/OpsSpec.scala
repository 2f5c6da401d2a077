package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops._

class SearchQuerySpec extends SparkTestBase {
  import spark.implicits._
  import SearchQuery._

  test("parser: field ops, bools, parens, quoted, implicit AND") {
    assert(parse("lang:en") == Cond("lang", "=", "en"))
    assert(parse("n:>5") == Cond("n", ">", "5"))
    assert(parse("n:<=5") == Cond("n", "<=", "5"))
    assert(parse("f:!?foo") == Cond("f", "!?", "foo"))
    assert(parse("a:1 AND b:2") == And(List(Cond("a", "=", "1"), Cond("b", "=", "2"))))
    assert(parse("a:1 b:2") == And(List(Cond("a", "=", "1"), Cond("b", "=", "2"))))
    assert(parse("a:1 OR (b:2 AND NOT c:3)") ==
      Or(List(Cond("a", "=", "1"), And(List(Cond("b", "=", "2"), Not(Cond("c", "=", "3")))))))
    assert(parse("\"hello world\"") == Term("hello world"))
  }

  test("predicate filters a DataFrame like the equivalent SQL") {
    val df = Seq((1L, "alpha news", "en", 100L), (2L, "beta story", "de", 300L),
      (3L, "gamma alpha", "en", 500L)).toDF("doc_id", "text", "lang", "n_chars")
    val got = df.where(SearchQuery.predicate("lang:en AND n_chars:>200",
      Seq("text"), Set("n_chars"))).select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(3L))
    val bare = df.where(SearchQuery.predicate("alpha", Seq("text")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(bare == Seq(1L, 3L))
  }

  test("parser memoizes repeated queries (LRU 100, by reference)") {
    val q = "lang:en AND n_chars:>200 OR memoprobe"
    val a = parse(q)
    assert(parse(q) eq a, "second parse must return the cached AST instance")
    // 120 distinct queries evict the entry; the re-parse is a fresh but
    // structurally equal node
    (0 until 120).foreach(i => parse(s"evict$i"))
    val c = parse(q)
    assert(!(c eq a) && c == a)
  }

  test("bare terms starting with OR/AND/NOT letters parse as terms") {
    // regression: the implicit-AND lookahead treated 'orange' as OR + 'ange'
    assert(parse("lang:en orange") ==
      And(List(Cond("lang", "=", "en"), Term("orange"))))
    assert(parse("order android nothing") ==
      And(List(Term("order"), Term("android"), Term("nothing"))))
    assert(parse("a:1 OR orbit") == Or(List(Cond("a", "=", "1"), Term("orbit"))))
    // digits/underscore continue the word too (pyparsing Keyword semantics):
    // OR_bar and AND2 are terms, not operators
    assert(parse("foo OR_bar") == And(List(Term("foo"), Term("OR_bar"))))
    assert(parse("foo AND2 baz") == And(List(Term("foo"), Term("AND2"), Term("baz"))))
  }

  test("quoted values after colon/operator, both quote styles, escapes") {
    // field:"multi word" with NO space after the colon (reference:
    // condition_equal = identifier + (":" + search_term).leave_whitespace())
    assert(parse("name:\"foo bar\"") == Cond("name", "=", "foo bar"))
    assert(parse("name:'foo bar'") == Cond("name", "=", "foo bar"))
    // quoted value after a comparison operator
    assert(parse("f:>\"abc def\"") == Cond("f", ">", "abc def"))
    // backslash escapes inside quotes
    assert(parse("name:\"say \\\"hi\\\"\"") == Cond("name", "=", "say \"hi\""))
    // quoted bare term with single quotes
    assert(parse("'hello world'") == Term("hello world"))
    // adjacent terms still split correctly around the quoted value
    assert(parse("a:\"x y\" b:2") ==
      And(List(Cond("a", "=", "x y"), Cond("b", "=", "2"))))
    // quoted value after the EXPLICIT '=' operator: f:="a b" must be one
    // condition, not Cond(f,"=","") + a stray Term("a b")
    assert(parse("f:=\"a b\"") == Cond("f", "=", "a b"))
    assert(parse("f:='a b'") == Cond("f", "=", "a b"))
    // an EMPTY quoted value after the plain colon must not swallow a
    // following quoted term as its own value
    assert(parse("f:\"\" 'x y'") == And(List(Cond("f", "=", ""), Term("x y"))))
    // operator characters INSIDE a quoted value are literal (reference
    // grammar matches the operator before the quote): f:"<=x" is an
    // equality on the literal string "<=x"
    assert(parse("f:\"<=x\"") == Cond("f", "=", "<=x"))
    assert(parse("f:'!=a b'") == Cond("f", "=", "!=a b"))
  }

  test("conditional-field expansion and id/hex fast-paths") {
    val df = Seq(
      (1L, "alpha news", "ff00aa11bb22cc33"),
      (2L, "beta 42 story", "deadbeefdeadbeef"),
      (42L, "gamma", "0011223344556677")).toDF("doc_id", "text", "sha")
    val o = Options(
      fields = Seq(FieldSpec("text"), FieldSpec("sha", minLen = 3)),
      idField = Some("doc_id"), hexField = Some(("sha", 8)))
    // all-digits bare term → id point lookup (not a contains over text)
    val byId = df.where(SearchQuery.predicateWith("42", o))
      .select("doc_id").as[Long].collect().toSeq
    assert(byId == Seq(42L))
    // long hex term → sha equality
    val byHex = df.where(SearchQuery.predicateWith("DEADBEEFDEADBEEF", o))
      .select("doc_id").as[Long].collect().toSeq
    assert(byHex == Seq(2L))
    // short term skips the minLen=3 sha field but still hits text
    val short = df.where(SearchQuery.predicateWith("ff", o))
      .select("doc_id").as[Long].collect().toSeq
    assert(short.isEmpty) // "ff" not in any text; sha skipped (len < 3... no: len 2 < 3)
    val three = df.where(SearchQuery.predicateWith("f00", o))
      .select("doc_id").as[Long].collect().toSeq
    assert(three == Seq(1L)) // len-3 term now includes the sha field
  }
}

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("token count column matches manual counts incl. empty") {
    val df = Seq("a b  c", "", "  ", "single").toDF("text")
    val got = df.select(TextOps.tokenCount(col("text"))).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0, 1))
  }

  test("native fingerprint expression ≡ md5∘regexp_replace∘lower∘trim") {
    val texts = Seq(
      "plain ascii words", "  leading and trailing   ", "tabs\tand\nnewlines\r\nmixed",
      "MiXeD Case WORDS", "multiple    spaces\t\t\ttabs", "", " ", "\t\n",
      "unicode: Ünïcødé ÉTÉ straße 東京 café", "a", "0 1 2 3", "xvtab",
      "Ünïcødé\t\tSPÄCE   collapse") ++
      (0 until 50).map(i => scala.util.Random.alphanumeric.take(i * 3).mkString(" "))
    val df = texts.toDF("text")
    val both = df.select(
      TextOps.fingerprint(col("text")).as("native"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("composed")).collect()
    for (r <- both) assert(r.getString(0) == r.getString(1), s"mismatch: $r")
  }

  test("langid detects seeded languages deterministically") {
    assert(LangId.detect("the quick brown fox jumps over the lazy dog every day") == "en")
    assert(LangId.detect("der schnelle braune fuchs springt ueber den faulen hund") == "de")
    assert(LangId.detect("le renard brun rapide saute par dessus le chien paresseux") == "fr")
    assert(LangId.detect("") == "und")
    assert(LangId.detect(null) == "und")
    // zero-score inputs (non-Latin scripts, digits, symbols) are
    // UNDETERMINED, not the alphabetically-first profile
    assert(LangId.detect("你好世界 这是一个测试文档") == "und")
    assert(LangId.detect("Привет мир это тестовый документ") == "und")
    assert(LangId.detect("12345 67890 --- !!!") == "und")
  }
}

class DedupOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("capped n-gram Jaccard stays EXACT when hot shingles are excluded") {
    // 'boiler' appears in docs 1..5 → with maxPostings=2 all its internal
    // 3-gram windows are hot (df=5>2) and leave the postings join; the
    // per-doc hot sets must add their intersections back so scores equal
    // the uncapped exact Jaccard
    val boiler = "the quick brown fox jumps over"
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (2L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (3L, s"$boiler eta theta iota kappa lambda mu"),
      (4L, s"$boiler eta theta iota kappa lambda nu"),
      (5L, boiler),
      (6L, "completely different content about other things entirely here")
    ).toDF("doc_id", "text")
    def run(maxPostings: Int) =
      DedupOps.ngramJaccardPairs(spark, docs, threshold = 0.45, maxPostings = maxPostings)
        .as[(Long, Long, Double)].collect().toSet
    val capped = run(2)
    val exact = run(Int.MaxValue)
    assert(capped == exact,
      s"capped result must equal exact Jaccard: $capped vs $exact")
    // hand-computed values: (1,2) identical → 1.0; (3,4) differ in the last
    // token → 9 shared of 11 distinct windows
    assert(capped.contains((1L, 2L, 1.0)))
    assert(capped.contains((3L, 4L, 9.0 / 11.0)))
    // doc 5 overlaps others ONLY via hot boilerplate (J=0.4 < threshold
    // anyway) — absent from both sides
    assert(!capped.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("plain postings join ≡ prefix-filtered variant") {
    // boilerplate-heavy + near-dup corpus exercising cap, length filter and
    // prefix pruning together
    val boiler = "shared boilerplate words repeat across many documents here"
    val docs = ((1L to 8L).map(i =>
        (i, s"$boiler unique${i % 3} tail$i content block ${('a' + i).toChar} extra")) ++ Seq(
        (20L, "wholly unrelated text talking about nothing in common at all"),
        (21L, "wholly unrelated text talking about nothing in common at all")))
      .toDF("doc_id", "text")
    for (cap <- Seq(3, 1000)) {
      val pre = DedupOps.ngramJaccardPairs(spark, docs, threshold = 0.4, maxPostings = cap)
        .as[(Long, Long, Double)].collect().toSet
      val plain = JaccardReference.ngramJaccardPairsPlain(spark, docs, threshold = 0.4,
        maxPostings = cap).as[(Long, Long, Double)].collect().toSet
      assert(pre == plain, s"cap=$cap: prefix $pre vs plain $plain")
    }
  }

  test("prefix-filtered n-gram Jaccard equals the plain join at t = 0.7 and t = 0.9") {
    // near-dup families with 0–6 token edits: pairs straddle both thresholds
    val r = new java.util.Random(23)
    def words(n: Int) = (0 until n).map(_ => (0 until 6).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
    val vocab = words(300)
    val boiler = "shared boilerplate words repeat across many documents here"
    val families = (0 until 12).flatMap { f =>
      val base = Array.fill(40)(vocab(r.nextInt(vocab.size)))
      (0 until 5).map { v =>
        val t = base.clone()
        for (_ <- 0 until r.nextInt(7)) t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.size))
        ((f * 10 + v).toLong, (if (f % 3 == 0) s"$boiler " else "") + t.mkString(" "))
      }
    }
    // containment pairs at exactly J = t (10 grams vs their last 7, and vs
    // their last 9): the bigger doc's own grams (df 1) sort first, so the
    // first shared gram sits on the last slot of its sound prefix
    val (edge7, edge9) = (words(12), words(12))
    val boundary = Seq((900L, edge7.mkString(" ")), (901L, edge7.drop(3).mkString(" ")),
      (902L, edge9.mkString(" ")), (903L, edge9.drop(1).mkString(" ")))
    val docs = (families ++ boundary).toDF("doc_id", "text")
    // cap 6 drops the boilerplate grams (df 20) and keeps family grams (df ≤ 5)
    for (t <- Seq(0.7, 0.9); cap <- Seq(6, 1000)) {
      val pre = DedupOps.ngramJaccardPairs(spark, docs, threshold = t, maxPostings = cap)
        .as[(Long, Long, Double)].collect().toSet
      val plain = JaccardReference.ngramJaccardPairsPlain(spark, docs, threshold = t,
        maxPostings = cap).as[(Long, Long, Double)].collect().toSet
      assert(plain.nonEmpty, s"t=$t cap=$cap: the corpus must have qualifying pairs")
      assert(pre == plain, s"t=$t cap=$cap: prefix $pre vs plain $plain")
      assert(pre.map(p => (p._1, p._2)).filter(_._1 >= 900L) ==
        (if (t == 0.7) Set((900L, 901L), (902L, 903L)) else Set((902L, 903L))))
    }
  }
}

class AnnOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def vec(seed: Int): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(8)(r.nextFloat() - 0.5f)
  }

  test("brute-force topk: identical vector is rank-1 neighbor") {
    val base = vec(1)
    val rows = Seq((1L, base), (2L, base.map(x => x * 2.0f)), (3L, vec(3)), (4L, vec(4)))
      .toDF("vec_id", "embedding")
    val out = AnnOps.bruteForceTopK(rows.where(col("vec_id") === 1), rows, k = 2).collect()
    // vec 2 is colinear with vec 1 → cosine ~1 → rank 1
    assert(out.find(_.getInt(2) == 1).get.getLong(1) == 2L)
  }

  test("lsh topk: bucketed neighbors are scored and ranked") {
    val rows = (1 to 50).map(i => (i.toLong, vec(i / 4))).toDF("vec_id", "embedding")
    val out = AnnOps.lshTopK(rows, k = 3, tables = 4, planes = 4, dim = 8)
    assert(out.count() > 0)
    assert(out.where(col("rank") > 3).count() == 0)
  }

  test("lsh recall@k ≥ 0.9 vs brute force on planted near-dup clusters") {
    val dim = 16
    val rnd = new java.util.Random(11)
    def noisy(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.04f)
    // 30 clusters × 4 near-identical members + 60 random singletons
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var id = 0L
    for (_ <- 0 until 30) {
      val base = Array.fill(dim)(rnd.nextFloat() - 0.5f)
      for (_ <- 0 until 4) { rows += ((id, noisy(base))); id += 1 }
    }
    for (_ <- 0 until 60) { rows += ((id, Array.fill(dim)(rnd.nextFloat() - 0.5f))); id += 1 }
    val df = rows.toSeq.toDF("vec_id", "embedding").cache()

    val k = 3
    val truth = AnnOps.bruteForceTopK(df, df, k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = AnnOps.lshTopK(df, k, tables = 10, planes = 12, dim = dim)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // recall over the cluster members (singletons' "true" neighbors are
    // near-orthogonal noise — not the LSH contract)
    val clusterTruth = truth.filter(_._1 < 120L)
    val recall = clusterTruth.count(approx.contains).toDouble / clusterTruth.size
    assert(recall >= 0.9, s"lsh recall@$k = $recall < 0.9")

    // the IVF variant on the same planted data: cluster members land in the
    // same coarse cell whp, so probing 4 of 16 cells must recover them
    val ivf = AnnOps.ivfTopK(df, k, nlist = 16, nprobe = 4, dim = dim)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRecall = clusterTruth.count(ivf.contains).toDouble / clusterTruth.size
    assert(ivfRecall >= 0.9, s"ivf recall@$k = $ivfRecall < 0.9")
  }

  test("semDedup: one survivor per planted ε-similar group, least-central kept") {
    val dim = 16
    val rnd = new java.util.Random(23)
    def noisy(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    // 3 planted tight groups × 4 members (cos ≥ ~0.99 in-group) + 20
    // random singletons (random 16-dim directions are near-orthogonal)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    var id = 0L
    for (_ <- 0 until 3) {
      val base = Array.fill(dim)(rnd.nextFloat() - 0.5f)
      for (_ <- 0 until 4) { rows += ((id, noisy(base))); id += 1 }
    }
    for (_ <- 0 until 20) { rows += ((id, Array.fill(dim)(rnd.nextFloat() - 0.5f))); id += 1 }
    val df = rows.toSeq.toDF("vec_id", "embedding")

    val nlist = 4
    val out = AnnOps.semDedup(df, eps = 0.1, nlist = nlist, dim = dim)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size == rows.size, "one output row per input vector")

    for (g <- 0 until 3) {
      val members = (g * 4L) until (g * 4L + 4)
      // tight groups are one component under one cell: shared min-id group
      assert(members.map(out(_)._2).toSet == Set(g * 4L),
        s"group $g must be one component: ${members.map(out(_)._2)}")
      assert(members.count(out(_)._3) == 1,
        s"exactly one survivor in group $g")
      // the survivor is the member LEAST similar to its cell centroid
      // (recompute from the same deterministic quantizer), ties → min id
      val centroids = AnnOps.trainCentroids(df, nlist, dim)
      val byId = rows.toMap
      val expected = members.map { m =>
        val cell = out(m)._1
        (1.0 - AnnOps.cosineKernel(byId(m), centroids(cell)), m)
      }.maxBy { case (d, m) => (d, -m) }._2
      assert(out(expected)._3, s"group $g survivor must be least-central $expected")
    }
    // singletons: own group, kept
    for (s <- 12L until 32L)
      assert(out(s)._2 == s && out(s)._3, s"singleton $s kept in own group")
  }

  test("cosineKernel is bitwise-identical to the Catalyst HOF cosine") {
    // three independent routes to the same number must agree BITWISE (float
    // products, double accumulation in index order): the declarative HOF
    // form, the native codegen expression (the shipped `AnnOps.cosine`) and
    // the JVM kernel — fixtures and rank ties depend on bit equality
    val r = new java.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)((r.nextFloat() - 0.5f) * (1 + r.nextInt(5))),
        Array.fill(64)((r.nextFloat() - 0.5f) * (1 + r.nextInt(5))))
    }.toDF("id", "a", "b")
    val hof = rows.select(col("id"), AnnOps.cosineHof(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    val native = rows.select(col("id"), AnnOps.cosine(col("a"), col("b")).as("c"))
      .as[(Long, Double)].collect().toMap
    val kern = rows.as[(Long, Array[Float], Array[Float])].collect()
      .map { case (id, a, b) => id -> AnnOps.cosineKernel(a, b) }.toMap
    for ((id, c) <- hof) {
      assert(java.lang.Double.doubleToRawLongBits(c) ==
        java.lang.Double.doubleToRawLongBits(kern(id)), s"id=$id $c vs kernel ${kern(id)}")
      assert(java.lang.Double.doubleToRawLongBits(c) ==
        java.lang.Double.doubleToRawLongBits(native(id)), s"id=$id $c vs native ${native(id)}")
    }
  }

  test("mapPartitions band kernel matches the declarative literal-plane construction") {
    // independent re-derivation of the banding math in Catalyst HOF form —
    // guards the kernel against drift in plane values or sign handling
    val (tables, planes, dim) = (3, 5, 8)
    val rows = (1 to 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val tensor = AnnOps.planeTensor(tables, planes, dim)
    val tableCols = (0 until tables).map { t =>
      val bits = (0 until planes).map { p =>
        val comps = array((0 until dim).map(i => lit(tensor(t)(p)(i))): _*)
        val dot = aggregate(zip_with(col("embedding"), comps, (x, y) => x * y),
          lit(0.0d), (acc, v) => acc + v)
        when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      bits.reduce(_ + _)
    }
    val declarative = rows.select(col("vec_id").as("doc_id"),
        posexplode(array(tableCols: _*)).as(Seq("band_id", "band_hash")))
      .as[(Long, Int, Long)].collect().toSet
    val kernel = AnnOps.bandTable(rows, tables, planes, dim)
      .as[(Long, Int, Long)].collect().toSet
    assert(kernel == declarative)
  }
}

class MultimodalSpec extends SparkTestBase {
  test("media pipeline: synthesize → features → frames, deterministic") {
    val media = MultimodalOps.syntheticMedia(spark, 200, seed = 7L).cache()
    val feats = MultimodalOps.extractFeatures(media).cache()
    assert(feats.count() == 200)
    val f = feats.toDF().orderBy("media_id").collect()
    val f2 = MultimodalOps.extractFeatures(media).toDF().orderBy("media_id").collect()
    assert(f.map(_.getLong(5)).toSeq == f2.map(_.getLong(5)).toSeq, "phash deterministic")
    // histogram masses sum to the decoded sample count
    assert(f.forall(r => r.getSeq[Long](4).sum > 0))

    val frames = MultimodalOps.sampleFrames(media).cache()
    assert(frames.count() > 0)
    assert(frames.toDF().where(col("frame_idx") < 0).count() == 0)
    // images produce no frames
    val imgIds = media.filter(_.kind == "image").toDF().select("media_id")
    assert(frames.toDF().join(imgIds, "media_id").count() == 0)
  }

  test("phash dup pairs: identical payload ⇒ hamming 0 pair") {
    import spark.implicits._
    val m = MultimodalOps.syntheticMedia(spark, 20, seed = 9L).collect()
    val dup = m(0).copy(media_id = 999L)
    val all = spark.createDataset(m :+ dup)(org.apache.spark.sql.Encoders.product[MultimodalOps.MediaRow])
    val feats = MultimodalOps.extractFeatures(all).toDF()
    val pairs = MultimodalOps.phashDupPairs(feats, maxHamming = 0).collect()
    assert(pairs.exists(r => r.getLong(0) == m(0).media_id && r.getLong(1) == 999L))
  }

  test("phash banding guarantee: 4 flips spread across 4 chunks still found") {
    import spark.implicits._
    // the old single-16-bit-chunk banding had NO intact band for flips
    // touching all 4 chunks — the C(6,2) combo tables must cover hamming ≤ 4
    val base = 0x0123456789abcdefL
    val flipped = base ^ (1L << 3) ^ (1L << 19) ^ (1L << 37) ^ (1L << 55)
    assert(java.lang.Long.bitCount(base ^ flipped) == 4)
    val feats = Seq((1L, base), (2L, flipped), (3L, ~base))
      .toDF("media_id", "phash")
    val pairs = MultimodalOps.phashDupPairs(feats, maxHamming = 4).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L &&
      pairs.head.getInt(2) == 4)
  }
}

class ReportOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "unique alpha words only here " + (1 to 30).map(i => s"ta$i").mkString(" ")),
    (2L, "unique alpha words only here " + (1 to 30).map(i => s"tb$i").mkString(" ")),
    (3L, "other content entirely " + (1 to 30).map(i => s"oc$i").mkString(" ")))
    .toDF("doc_id", "text")

  test("unique ngrams: only grams absent from non-targets survive") {
    val u = ReportOps.uniqueNgrams(spark, docs, Seq(1L, 2L)).cache()
    assert(u.count() > 0)
    // shared prefix "unique alpha words only here" grams appear in both
    // targets but no non-target → allowed; nothing from doc 3 may leak
    val postings = u.select(explode(col("target_docs")).as("d")).distinct()
      .as[Long].collect().toSet
    assert(postings.subsetOf(Set(1L, 2L)))
  }

  test("greedy cover picks ngrams until targets covered") {
    val picked = ReportOps.greedyCover(spark, docs, Seq(1L, 2L), minCover = 2)
    assert(picked.nonEmpty)
    val coverage = picked.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    assert(coverage.getOrElse(1L, 0) >= 2 && coverage.getOrElse(2L, 0) >= 2)
  }

  test("cross compare: self-similar docs score higher than unrelated") {
    val long = Seq(
      (10L, (1 to 60).map(i => s"xx$i").mkString(" ")),
      (11L, (1 to 60).map(i => if (i == 5) "CHANGED" else s"xx$i").mkString(" ")),
      (12L, (1 to 60).map(i => s"yy$i").mkString(" "))).toDF("doc_id", "text")
    val m = ReportOps.crossCompare(spark, long, Seq(10L, 11L, 12L)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((10L, 11L)) > m((10L, 12L)))
    assert(m((10L, 11L)) == m((11L, 10L)))
  }

  test("seriation orders similar items adjacently") {
    // distances: 1-2 close, 3-4 close, groups far apart
    val d = Map((1L, 2L) -> 1.0, (3L, 4L) -> 1.0).withDefaultValue(10.0)
    def dist(a: Long, b: Long) = if (a == b) 0.0 else d((math.min(a, b), math.max(a, b)))
    val order = ReportOps.seriation(Seq(1L, 3L, 2L, 4L), dist)
    val pos = order.zipWithIndex.toMap
    assert(math.abs(pos(1L) - pos(2L)) == 1)
    assert(math.abs(pos(3L) - pos(4L)) == 1)
  }

  test("ward seriation groups planted clusters contiguously and deterministically") {
    // 1-D geometry: {0,1} and {10,11} are tight pairs, 30 is an outlier;
    // ward must keep each pair adjacent and the outlier at an end
    val coord = Map(1L -> 0.0, 2L -> 1.0, 3L -> 10.0, 4L -> 11.0, 5L -> 30.0)
    def dist(a: Long, b: Long) = math.abs(coord(a) - coord(b))
    val order = ReportOps.seriation(Seq(5L, 3L, 1L, 4L, 2L), dist, method = "ward")
    val pos = order.zipWithIndex.toMap
    assert(math.abs(pos(1L) - pos(2L)) == 1)
    assert(math.abs(pos(3L) - pos(4L)) == 1)
    assert(pos(5L) == 0 || pos(5L) == 4, s"outlier must sit at an end: $order")
    // deterministic across invocations and input orderings
    assert(order == ReportOps.seriation(Seq(1L, 2L, 3L, 4L, 5L), dist, method = "ward"))
    // complete linkage on the same geometry agrees on the cluster structure
    val comp = ReportOps.seriation(Seq(5L, 3L, 1L, 4L, 2L), dist)
    val cpos = comp.zipWithIndex.toMap
    assert(math.abs(cpos(1L) - cpos(2L)) == 1 && math.abs(cpos(3L) - cpos(4L)) == 1)
  }

  test("rule rendering: deterministic golden output from a greedy cover") {
    val picked = Seq(("alpha;beta;gamma", Seq(1L, 2L)), ("say \"hi\"", Seq(1L)))
    val got = ReportOps.renderRule(picked, numTargets = 3, conditionRequired = 7,
      date = "2026-01-01")
    val expected =
      """rule graft_4d1deeeecdd1c5e7 {
        |    meta:
        |        author = "GRAFT rule generator"
        |        description = "Text rule composed from characteristic n-grams for the selected document set."
        |        date = "2026-01-01"
        |    strings:
        |        // Rule generation selected 2 n-grams, covering 2/3 input document(s).
        |        /* ngram coverage: 2/2 document(s). */
        |        $gram_0 = "alpha;beta;gamma"
        |        /* ngram coverage: 1/2 document(s). */
        |        $gram_1 = "say \"hi\""
        |    condition:
        |        2 of them
        |}
        |""".stripMargin
    if (got != expected) {
      // self-describing failure: print the actual rule id line for repair
      assert(got == expected, s"rendered rule drifted:\n$got")
    }
    // the rule id is the sha256 of the picked-gram list — stable contract
    assert(got.startsWith("rule graft_"))
  }

  test("link hunt: frequency penalty suppresses promiscuous matchers") {
    val pairs = (
      Seq((1L, 2L, 90.0, 100)) ++ (1 to 10).map(i => (5L, 100L + i, 90.0, 100))
    ).toDF("doc_id_a", "doc_id_b", "score", "size_b")
    val out = ReportOps.linkHuntScores(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(out((1L, 2L)) > out((5L, 101L)), "10-way matcher must be penalized")
  }
}

class StreamingSpec extends SparkTestBase {
  import spark.implicits._
  import graft.pipeline.DocSig

  /** Event-time tumbling-window aggregation with watermark over a stream of
    * (ts: timestamp, event_type: string, value: double). */
  private def eventWindowStream(events: org.apache.spark.sql.DataFrame,
      windowDur: String, watermark: String): org.apache.spark.sql.DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("cnt"), max("value").as("max_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"), col("max_value"))

  /** A doc signed by the batch kernel — the row shape the cascade tails
    * read from the head's sink. */
  private def signed(url: String, text: String): DocSig =
    new DocSig.Kernel(graft.kernel.GraftConfig.default).compute(url, text)

  /** The production cascade in one query: head → first-seen hashable
    * rows → band tail (`DedupJob.runStream` runs the same chain through
    * the head's parquet sink). */
  private def firstSeenReps(docs: org.apache.spark.sql.DataFrame) =
    graft.streaming.StreamingIndex.sigVerdictStream(spark, docs).toDF()
      .where(col("first_seen") && col("hashable"))

  test("streaming signature stage matches the batch computation") {
    val cfg = graft.kernel.GraftConfig.default
    val text = (1 to 40).map(i => s"tok$i word$i").mkString(" ")
    for (((simHashChannel, maxHamming), i) <-
        Seq((true, 2), (false, 2), (true, 3)).zipWithIndex) {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, String)]
      val docsStream = mem.toDF().toDF("url", "text")
      val sigStream = graft.streaming.StreamingIndex.bandPostingsFromSignedStream(spark,
        firstSeenReps(docsStream), cfg, simHashChannel, maxHamming)
      val q = sigStream.writeStream.format("memory").queryName(s"bands_stream_$i")
        .outputMode("append").start()
      mem.addData(("u1", text), ("u2", "short"))
      q.processAllAvailable()
      val got = spark.sql(s"select * from bands_stream_$i").collect()
      q.stop()

      // batch equivalent: the batch band recipe under the same channel
      // settings (minhash bands, plus the simhash chunk tables when that
      // channel is on — what the batch probe expects)
      val opts = graft.pipeline.PipelineOptions(simHashChannel = simHashChannel,
        simHashMaxHamming = maxHamming)
      val batch = new graft.pipeline.DedupPipeline(spark, cfg, opts)
      val sigs = batch.signatureStage(Seq(("u1", text)).toDF("url", "text")).toDF()
      val hashable = sigs.where(col("hashable"))
      val batchBands = batch.bandsOf(hashable).collect()
      assert(got.length == batchBands.length) // u2 is unhashable → only u1 banded
      assert(got.map(r => (r.getInt(1), r.getLong(2))).toSet ==
        batchBands.map(r => (r.getInt(1), r.getLong(2))).toSet)
    }
  }

  test("stateful streaming exact dedup: state survives across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("url", "text")
    val verdicts = graft.streaming.StreamingIndex.sigVerdictStream(spark, stream)
      .where(col("has_exact"))
    val q = verdicts.toDF().writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    val textA = (1 to 20).map(i => s"alpha$i beta$i").mkString(" ")
    val textB = (1 to 20).map(i => s"gamma$i delta$i").mkString(" ")
    // batch 1: A original + in-batch dup of A; B original
    mem.addData(("a1", textA), ("a2", textA), ("b1", textB))
    q.processAllAvailable()
    // batch 2: late dup of A (state must remember batch 1), new content C
    val textC = (1 to 20).map(i => s"eps$i zeta$i").mkString(" ")
    mem.addData(("a3", textA), ("c1", textC))
    q.processAllAvailable()
    val rows = spark.sql("select url, is_dup, first_url from dedup_stream").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    q.stop()
    val firstA = rows.filter(_._2._2.startsWith("a")).values.head._2
    assert(!rows("b1")._1 && !rows("c1")._1, "originals are not dups")
    assert(rows.count { case (u, (d, _)) => u.startsWith("a") && !d } == 1,
      "exactly one of the a-docs is the original")
    assert(rows("a3")._1 && rows("a3")._2 == firstA,
      "late duplicate must be flagged against batch-1 state")
  }

  test("streaming near-dup pairs: in-state verification finds cross-batch pairs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocSig]
    val pairs = graft.streaming.StreamingIndex.nearDupPairsDistinctFromSignedStream(
      spark, mem.toDF())
    val q = pairs.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()

    def fam(tag: String, tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    // batch 1: u1/u2 near-dups, u3 unrelated
    mem.addData(signed("u1", fam("x", -1)), signed("u2", fam("x", 5)),
      signed("u3", fam("zz", -1)))
    q.processAllAvailable()
    // batch 2: u4 is another near-dup of the x-family — the pairs
    // (u1,u4) and (u2,u4) must come from batch-1 STATE
    mem.addData(signed("u4", fam("x", 30)))
    q.processAllAvailable()
    val got = spark.sql("select a, b, max(score) as s from neardup_stream group by a, b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    q.stop()

    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    def key(x: String, y: String) =
      (math.min(id(x), id(y)), math.max(id(x), id(y)))
    assert(got.contains(key("u1", "u2")), s"in-batch pair missing: $got")
    assert(got.contains(key("u1", "u4")) && got.contains(key("u2", "u4")),
      s"cross-batch pairs missing: $got")
    assert(got.keySet == Set(key("u1", "u2"), key("u1", "u4"), key("u2", "u4")),
      s"unrelated doc must not pair: $got")
    assert(got.values.forall(_ > 50.0))
  }

  test("wrapped near-dup sink delivers each pair at most once") {
    implicit val sqlCtx = spark.sqlContext
    // already-signed rows, as the tail reads them from the head's sink:
    // w1/w2 are distinct docs with identical signatures
    val mem = MemoryStream[DocSig]
    // near-identical docs collide in ~all 20 bands → the raw stream emits
    // the same pair many times; the wrapper must collapse to one row
    val pairs = graft.streaming.StreamingIndex.nearDupPairsDistinctFromSignedStream(
      spark, mem.toDF())
    val q = pairs.writeStream.format("memory").queryName("neardup_once")
      .outputMode("append").start()
    def fam(tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"on${('a' + w % 26).toChar}$w")
        .mkString(" ")
    mem.addData(signed("w1", fam(-1)), signed("w2", fam(-1)))
    q.processAllAvailable()
    mem.addData(signed("w3", fam(5)))
    q.processAllAvailable()
    val rows = spark.sql("select a, b from neardup_once").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    assert(rows.length == rows.distinct.length, s"duplicate pair rows at the sink: ${rows.toSeq}")
    assert(rows.length == 3, s"expected the 3 pairs exactly once: ${rows.toSeq}")
  }

  test("bandCountedPairs enforces the ≥2-band rule cross-batch and emits once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingIndex.StreamPair
    val mem = MemoryStream[StreamPair]
    val out = graft.streaming.StreamingIndex.bandCountedPairs(mem.toDS(), minBands = 2)
    val q = out.toDF().writeStream.format("memory").queryName("band_counted")
      .outputMode("append").start()
    // batch 1: pair (1,2) collides in ONE band; (3,4) too
    mem.addData(StreamPair(1, 2, 90.0), StreamPair(3, 4, 80.0))
    q.processAllAvailable()
    assert(spark.sql("select * from band_counted").isEmpty,
      "no pair may emit below bandMatchesRequired")
    // batch 2: (1,2) collides in a SECOND band → emits now (cross-batch
    // count); (3,4) stays at one band → never emits
    mem.addData(StreamPair(1, 2, 90.0))
    q.processAllAvailable()
    // batch 3: a third collision of an already-emitted pair is silent
    mem.addData(StreamPair(1, 2, 90.0))
    q.processAllAvailable()
    val rows = spark.sql("select a, b from band_counted").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    q.stop()
    assert(rows == Seq((1L, 2L)), s"exactly one (1,2) row, no (3,4): $rows")
  }

  test("distinct near-dup sink withholds a 1-band-only colliding pair end-to-end") {
    // construct real variants whose SIGNATURES collide in exactly 1 vs ≥2
    // of the 20 bands while both score above the matching threshold — the
    // batch pipeline drops the first and keeps the second; the streaming
    // public surface must agree
    val cfg = graft.kernel.GraftConfig.default
    val kernel = new graft.pipeline.DocSig.Kernel(cfg)
    val mh = new graft.kernel.MinHasher(cfg)
    val bands = new graft.kernel.Bands(cfg)
    val baseToks = (1 to 40).map(w => s"eb${('a' + w % 26).toChar}$w")
    val base = baseToks.mkString(" ")
    def sigOf(text: String) = kernel.compute("probe", text).sig
    def bandsOf(sig: Array[Byte]) = bands.bandHashes(mh.unpack(sig))
    val baseSig = sigOf(base)
    val baseBands = bandsOf(baseSig)
    // seeded search over random replacement sets: moderate similarity puts
    // the per-band collision count in the 0-5 range with scores straddling
    // the threshold — enough trials deterministically yield both flavors
    def probe(trial: Int): (String, Int, Double) = {
      val rng = new scala.util.Random(trial)
      val m = 4 + rng.nextInt(4)
      val repl = rng.shuffle((0 until 40).toList).take(m).toSet
      val text = baseToks.zipWithIndex
        .map { case (t, i) => if (repl(i)) s"sw${i}_$trial" else t }.mkString(" ")
      val sig = sigOf(text)
      val shared = bandsOf(sig).zip(baseBands).count { case (x, y) => x == y }
      (text, shared, graft.kernel.MinHasher.score(baseSig, sig, cfg.signatureBits))
    }
    val candidates = (0 until 400).iterator.map(probe)
      .scanLeft((Option.empty[String], Option.empty[String])) { case ((o, t), c) =>
        (o.orElse(if (c._2 == 1 && c._3 > cfg.matchingThreshold) Some(c._1) else None),
          t.orElse(if (c._2 >= 2 && c._3 > cfg.matchingThreshold) Some(c._1) else None))
      }
      .find { case (o, t) => o.nonEmpty && t.nonEmpty }
    assert(candidates.nonEmpty, "search must find both flavors within 400 trials")
    val oneText = candidates.get._1.get
    val twoText = candidates.get._2.get

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocSig]
    val q = graft.streaming.StreamingIndex
      .nearDupPairsDistinctFromSignedStream(spark, mem.toDF())
      .writeStream.format("memory").queryName("neardup_minbands")
      .outputMode("append").start()
    mem.addData(kernel.compute("base", base))
    q.processAllAvailable()
    mem.addData(kernel.compute("oneband", oneText), kernel.compute("twoband", twoText))
    q.processAllAvailable()
    val got = spark.sql("select a, b from neardup_minbands").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    def key(x: String, y: String) = (math.min(id(x), id(y)), math.max(id(x), id(y)))
    assert(got.contains(key("base", "twoband")), s"≥2-band pair must deliver: $got")
    assert(!got.contains(key("base", "oneband")),
      s"1-band-only pair must be withheld by the batch rule: $got")
  }

  test("deduped band stream: a 100-copy burst bands one representative, cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("url", "text")
    val bands = graft.streaming.StreamingIndex.bandPostingsFromSignedStream(spark,
      firstSeenReps(stream))
    val q = bands.writeStream.format("memory").queryName("bands_dedup")
      .outputMode("append").start()
    val burst = (1 to 40).map(i => s"burst$i copy$i").mkString(" ")
    val other = (1 to 40).map(i => s"other$i text$i").mkString(" ")
    // batch 1: 60 byte-identical copies + 1 distinct doc
    mem.addData(((1 to 60).map(i => (s"dup$i", burst)) :+ (("solo", other))): _*)
    q.processAllAvailable()
    // batch 2: 40 MORE copies of the same content — state must remember
    // batch 1 and emit nothing (including a re-send of the rep itself)
    mem.addData((1 to 40).map(i => (s"late$i", burst)): _*)
    q.processAllAvailable()
    val gotIds = spark.sql("select distinct doc_id from bands_dedup").collect()
      .map(_.getLong(0)).toSet
    q.stop()
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    // first-seen rep = min (doc_id, url) among the batch-1 copies
    val rep = (1 to 60).map(i => s"dup$i").map(u => (id(u), u)).min._1
    assert(gotIds == Set(rep, id("solo")),
      s"expected exactly the first-seen rep + solo banded, got ${gotIds.size} ids")
    // and the rep's postings match the per-doc stream's for one doc: both
    // channels, no duplicate band rows
    val perBand = spark.sql(
      "select doc_id, band_id, band_hash, count(*) c from bands_dedup group by 1,2,3 having c > 1")
    assert(perBand.isEmpty, "no posting may appear twice")
  }

  test("deduped near-dup stream: exact copies pair zero times; variants pair the rep only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val stream = mem.toDF().toDF("url", "text")
    val pairs = graft.streaming.StreamingIndex.nearDupPairsDistinctFromSignedStream(spark,
      firstSeenReps(stream))
    val q = pairs.writeStream.format("memory").queryName("neardup_dedup")
      .outputMode("append").start()
    def fam(tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"nd${('a' + w % 26).toChar}$w")
        .mkString(" ")
    // batch 1: 50 exact copies of the family base — with per-doc banding
    // these would cap-fill every band key and pair ~quadratically; the
    // composed surface must emit ZERO pairs (exact copies are the exact
    // channel's job)
    mem.addData((1 to 50).map(i => (s"e$i", fam(-1))): _*)
    q.processAllAvailable()
    assert(spark.sql("select * from neardup_dedup").isEmpty,
      "a burst of exact copies must generate no near-dup pairs")
    // batch 2: a NEAR-dup variant — must pair against the batch-1
    // representative exactly once, not against all 50 copies
    mem.addData(("v1", fam(5)))
    q.processAllAvailable()
    val got = spark.sql("select distinct a, b from neardup_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    val rep = (1 to 50).map(i => s"e$i").map(u => (id(u), u)).min._1
    val v = id("v1")
    assert(got == Set((math.min(rep, v), math.max(rep, v))),
      s"variant must pair the first-seen rep exactly once: $got")
  }

  test("near-dup cap crossing is batch-boundary-independent for id-ordered arrivals") {
    def run(batches: Seq[Seq[(String, String)]]): Set[(Long, Long)] = {
      implicit val sqlCtx = spark.sqlContext
      // already-signed rows: c1…c4 are distinct docs with identical signatures
      val mem = MemoryStream[DocSig]
      val name = s"capcross_${batches.length}_${batches.head.length}"
      val q = graft.streaming.StreamingIndex
        .nearDupPairsDistinctFromSignedStream(spark, mem.toDF(), cap = 2)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      batches.foreach { b =>
        mem.addData(b.map { case (u, t) => signed(u, t) }: _*); q.processAllAvailable()
      }
      val got = spark.sql(s"select distinct a, b from $name").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      q.stop()
      got
    }
    val text = (1 to 40).map(w => s"cc${('a' + w % 26).toChar}$w").mkString(" ")
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    // the guarantee is boundary independence for ID-ORDERED arrivals
    // (per-batch processing is ascending doc_id, so an id-ordered stream's
    // processing order is the same however batches fall) — construct the
    // arrival order as ascending hashed id, NOT alphabetical url order
    val docs = Seq("c1", "c2", "c3", "c4").sortBy(id).map(u => (u, text))
    val oneBatch = run(Seq(docs))
    val split = run(Seq(docs.take(2), docs.drop(2)))
    val splitOdd = run(Seq(docs.take(3), docs.drop(3)))
    assert(oneBatch == split && oneBatch == splitOdd,
      s"boundary-dependent emission for id-ordered arrivals: $oneBatch vs $split vs $splitOdd")
    // cap=2: the three smallest ids pair before the cap crossing
    // tombstones the keys (no retroactive drop of the crossing doc's own
    // pairs); the 4th emits nothing
    val Seq(a, b, c) = Seq("c1", "c2", "c3", "c4").map(id).sorted.take(3)
    assert(oneBatch == Set((a, b), (a, c), (b, c)), s"$oneBatch")
  }

  test("sigVerdictStream: one election serves verdicts and first-seen, cross-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val sv = graft.streaming.StreamingIndex.sigVerdictStream(
      spark, mem.toDF().toDF("url", "text"))
    val q = sv.toDF().writeStream.format("memory").queryName("sigverdicts")
      .outputMode("append").start()
    def fam(tag: String): String =
      (1 to 40).map(w => s"$tag${('a' + w % 26).toChar}$w").mkString(" ")
    // batch 1: 3-copy burst + a distinct doc + an EMPTY doc (no exact id)
    mem.addData(("c1", fam("sv")), ("c2", fam("sv")), ("c3", fam("sv")),
      ("d1", fam("oo")), ("e1", ""))
    q.processAllAvailable()
    // batch 2: late copy + re-delivery of the representative itself
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    val repUrl = Seq("c1", "c2", "c3").map(u => (id(u), u)).min._2
    mem.addData(("c4", fam("sv")), ((repUrl, fam("sv"))))
    q.processAllAvailable()
    val rows = spark.sql("select url, is_dup, first_url, first_seen, has_exact " +
      "from sigverdicts").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2), r.getBoolean(3),
        r.getBoolean(4)))
    q.stop()
    val byUrl = rows.groupBy(_._1)
    // exactly ONE first_seen row per distinct exact content
    assert(rows.count(r => r._4 && r._5) == 2, s"$rows")
    assert(byUrl(repUrl).exists(r => !r._2 && r._4), "rep: non-dup, first_seen")
    // re-delivered rep: still non-dup but NOT first_seen (no re-banding)
    assert(byUrl(repUrl).exists(r => !r._2 && !r._4), "re-delivered rep row")
    assert(byUrl("c4").forall(r => r._2 && r._3 == repUrl && !r._4),
      "late copy is a dup of the batch-1 rep")
    // docs without an exact identity pass through as first-seen non-dups
    assert(byUrl("e1").forall(r => !r._2 && r._4 && !r._5), s"${byUrl("e1")}")
    // exactly one FIRST-SEEN non-dup among the burst (the re-delivered rep
    // is also non-dup but carries first_seen=false, counted above)
    assert(Seq("c1", "c2", "c3").flatMap(byUrl(_)).count(r => !r._2 && r._4) == 1)
  }

  test("DedupJob --stream: file-source micro-batches, state recovered across restart") {
    val root = java.nio.file.Files.createTempDirectory("graft-streamjob").toFile.getAbsolutePath
    val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
    def fam(tag: String, tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    val ta = fam("sj", -1); val tb = fam("oth", -1)
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)

    // micro-batch 1: a 3-copy exact burst + one distinct doc
    Seq(("a1", ta), ("a2", ta), ("a3", ta), ("b1", tb)).toDF("url", "text")
      .coalesce(1).write.mode("append").parquet(in)
    val args = DedupJob.Args(input = in, output = out, checkpoint = Some(chk),
      fromHtml = false, stream = true, triggerOnce = true)
    val (v1, _, p1) = DedupJob.runStream(spark, args)
    assert(v1 == 4 && p1 == 0, s"4 verdicts, no near-dup pairs yet: $v1/$p1")
    // the default backend is RocksDB + changelog checkpointing — assert the
    // provider actually ran (changelog files land under the state dirs) and
    // that the session conf was restored after the drain
    val changelogs = java.nio.file.Files.walk(java.nio.file.Paths.get(chk))
      .filter(p => p.toString.endsWith(".changelog")).count()
    assert(changelogs > 0, "RocksDB changelog checkpointing must be in effect")
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")),
      "session conf must be restored after --trigger-once drain")
    val repA = Seq("a1", "a2", "a3").map(u => (id(u), u)).min._1
    assert(spark.read.parquet(s"$out/bands").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(repA, id("b1")),
      "only the first-seen rep + the distinct doc may band")

    // micro-batch 2 lands; the job RESTARTS from its checkpoint (fresh
    // queries, same state dirs): a4 must be flagged against batch-1 state,
    // the near-dup variant must pair the batch-1 rep exactly once
    Seq(("a4", ta), ("n1", fam("sj", 5))).toDF("url", "text")
      .coalesce(1).write.mode("append").parquet(in)
    val (v2, _, p2) = DedupJob.runStream(spark, args)
    assert(v2 == 6, s"cumulative verdicts after restart: $v2")
    val verdicts = spark.read.parquet(s"$out/verdicts")
      .collect().map(r => r.getAs[String]("url") ->
        ((r.getAs[Boolean]("is_dup"), r.getAs[String]("first_url")))).toMap
    assert(verdicts("a4")._1, "late copy must be a dup of batch-1 state")
    assert(Seq("a1", "a2", "a3").count(u => !verdicts(u)._1) == 1)
    assert(!verdicts("n1")._1, "a near-dup variant is not an EXACT dup")
    assert(p2 == 1, s"exactly one near-dup pair: $p2")
    val pair = spark.read.parquet(s"$out/pairs").collect().map(r =>
      (r.getAs[Long]("a"), r.getAs[Long]("b"))).head
    assert(pair == (math.min(repA, id("n1")), math.max(repA, id("n1"))),
      s"variant pairs the batch-1 first-seen rep: $pair")
    assert(spark.read.parquet(s"$out/bands").select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet == Set(repA, id("b1"), id("n1")))
  }

  test("DedupJob --stream continuous: tails follow the head across live drops") {
    val root = java.nio.file.Files.createTempDirectory("graft-streamcont").toFile.getAbsolutePath
    val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
    def fam(tag: String, tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    Seq(("a1", fam("ct", -1)), ("a2", fam("ct", -1)), ("b1", fam("zz", -1)))
      .toDF("url", "text").coalesce(1).write.mode("append").parquet(in)

    val args = DedupJob.Args(input = in, output = out, checkpoint = Some(chk),
      fromHtml = false, stream = true, triggerOnce = false,
      triggerInterval = "1 second")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val job = Future(DedupJob.runStream(spark, args))
    def cnt(sub: String): Long =
      try spark.read.parquet(s"$out/$sub").count() catch { case _: Throwable => 0L }
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val t0 = System.nanoTime()
      while (!cond) {
        assert((System.nanoTime() - t0) / 1e9 < 120, s"timeout waiting for $what")
        Thread.sleep(500)
      }
    }
    try {
      waitFor("batch-1 verdicts")(cnt("verdicts") >= 3)
      waitFor("batch-1 bands")(cnt("bands") > 0)
      // a near-dup variant lands WHILE the job runs — the head verdicts it,
      // the pairs tail must pair it with the running job's first-seen rep
      Seq(("n1", fam("ct", 5))).toDF("url", "text")
        .coalesce(1).write.mode("append").parquet(in)
      waitFor("cross-drop near-dup pair")(cnt("pairs") >= 1)
    } finally {
      spark.streams.active
        .filter(q => q.name != null && q.name.startsWith("graft-stream-"))
        .foreach(_.stop())
    }
    assert(Await.result(job, scala.concurrent.duration.Duration(60, "s")) ==
      ((-1L, -1L, -1L)))
    val repA = Seq("a1", "a2").map(u => (id(u), u)).min._1
    val pair = spark.read.parquet(s"$out/pairs").collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).head
    assert(pair == (math.min(repA, id("n1")), math.max(repA, id("n1"))),
      s"live drop pairs the running job's first-seen rep: $pair")
  }

  test("event-time window aggregation with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val agg = eventWindowStream(stream, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("ev_win")
      .outputMode("complete").start()
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((ts(10, 5), "click", 1.0), (ts(10, 55), "click", 3.0), (ts(11, 5), "click", 2.0))
    q.processAllAvailable()
    val rows = spark.sql("select * from ev_win order by w_start").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getLong(2) == 2 && rows(0).getDouble(3) == 3.0)
    assert(rows(1).getLong(2) == 1 && rows(1).getDouble(3) == 2.0)
  }
}
