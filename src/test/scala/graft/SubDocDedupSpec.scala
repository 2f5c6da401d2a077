package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.DedupOps
import graft.substring.{SpanDedup, SuffixArray}
import graft.kernel.{GraftConfig, LshPlanner, TextNorm}

class MatchingStatisticsSpec extends AnyFunSuite {

  /** brute-force reference: ms(i) = longest common prefix of b[i..] with
    * any position of a. */
  private def bruteMs(a: Array[Int], b: Array[Int]): Array[Int] =
    Array.tabulate(b.length) { i =>
      var best = 0
      for (j <- a.indices) {
        var k = 0
        while (i + k < b.length && j + k < a.length && b(i + k) == a(j + k)) k += 1
        if (k > best) best = k
      }
      best
    }

  test("matching statistics match brute force on crafted sequences") {
    val a = Array(1, 2, 3, 4, 5, 6, 7, 8, 2, 3, 9)
    val b = Array(9, 2, 3, 4, 1, 2, 3, 4, 5, 9, 9, 8, 2, 3)
    assert(SuffixArray.matchingStatistics(a, b).toSeq == bruteMs(a, b).toSeq)
  }

  test("matching statistics match brute force on random sequences") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val a = Array.fill(rnd.nextInt(40) + 1)(rnd.nextInt(6))
      val b = Array.fill(rnd.nextInt(40) + 1)(rnd.nextInt(6))
      assert(SuffixArray.matchingStatistics(a, b).toSeq == bruteMs(a, b).toSeq,
        s"a=${a.toSeq} b=${b.toSeq}")
    }
  }

  test("matching statistics of empty inputs") {
    assert(SuffixArray.matchingStatistics(Array.empty, Array(1, 2)).toSeq == Seq(0, 0))
    assert(SuffixArray.matchingStatistics(Array(1, 2), Array.empty[Int]).isEmpty)
  }

  test("duplicateIntervals merges overlapping covered runs") {
    val a = Array(1, 2, 3, 4, 5, 6)
    // b: [1,2,3,4] at 1 and [3,4,5,6] at 3 overlap -> one merged interval
    val b = Array(9, 1, 2, 3, 4, 5, 6, 9)
    val iv = SpanDedup.duplicateIntervals(Seq(a), b, minRun = 4)
    assert(iv.toSeq == Seq((1, 7)))
    // a shorter threshold keeps the same merged cover
    val none = SpanDedup.duplicateIntervals(Seq(a), b, minRun = 7)
    assert(none.isEmpty)
  }

  test("duplicateIntervals unions coverage across partners") {
    val p1 = Array(1, 2, 3, 4)
    val p2 = Array(5, 6, 7, 8)
    val b = Array(1, 2, 3, 4, 0, 0, 5, 6, 7, 8)
    val iv = SpanDedup.duplicateIntervals(Seq(p1, p2), b, minRun = 4)
    assert(iv.toSeq == Seq((0, 4), (6, 10)))
  }
}

class LshPlannerSpec extends AnyFunSuite {

  /** The similarity at which P(collide) = 0.5 exactly — the S-curve
    * midpoint, (1 − 2^(−1/b))^(1/r) (the textbook (1/b)^(1/r) is the
    * steepest-slope approximation of the same point). */
  private def curveMidpoint(b: Int, r: Int): Double =
    math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r)

  test("collision probability S-curve basics") {
    assert(LshPlanner.collisionProb(0.0, 20, 4) == 0.0)
    assert(math.abs(LshPlanner.collisionProb(1.0, 20, 4) - 1.0) < 1e-12)
    val lo = LshPlanner.collisionProb(0.3, 20, 4)
    val hi = LshPlanner.collisionProb(0.8, 20, 4)
    assert(lo < hi)
    // midpoint: P(midpoint) = 0.5 by construction
    val mid = curveMidpoint(20, 4)
    assert(math.abs(LshPlanner.collisionProb(mid, 20, 4) - 0.5) < 1e-9)
  }

  test("plan is optimal over the exhaustive (b, r) grid") {
    for (t <- Seq(0.3, 0.5, 0.7, 0.9); n <- Seq(64, 128)) {
      val p = LshPlanner.plan(t, n)
      assert(p.bands * p.rows <= n)
      val bestCost = (for {
        r <- 1 to n
        b <- 1 to n / r
      } yield {
        val (fp, fn) = LshPlanner.areas(t, b, r)
        0.5 * fp + 0.5 * fn
      }).min
      assert(math.abs(p.cost(0.5, 0.5) - bestCost) < 1e-12)
    }
    // the non-maximal interior point a restricted b = n/r scan never visits
    val p = LshPlanner.plan(0.5, 64)
    assert(p.bands == 14 && p.rows == 4, s"expected (14, 4), got $p")
  }

  test("higher threshold plans wider bands (more rows per band)") {
    val loose = LshPlanner.plan(0.3, 64)
    val strict = LshPlanner.plan(0.9, 64)
    assert(strict.rows > loose.rows)
    // the chosen curve's midpoint lands near the target threshold
    for ((t, p) <- Seq(0.3 -> loose, 0.9 -> strict))
      assert(math.abs(curveMidpoint(p.bands, p.rows) - t) < 0.2)
  }

  test("weights steer the trade: FP-averse plan has smaller FP area") {
    val fpAverse = LshPlanner.plan(0.5, 64, fpWeight = 0.9, fnWeight = 0.1)
    val fnAverse = LshPlanner.plan(0.5, 64, fpWeight = 0.1, fnWeight = 0.9)
    assert(fpAverse.fpArea <= fnAverse.fpArea)
    assert(fpAverse.fnArea >= fnAverse.fnArea)
  }

  test("forThreshold rebands the config and changes its hash") {
    val cfg = GraftConfig.forThreshold(0.8)
    val Seq((rows, bands)) = cfg.bands
    assert(rows * bands <= cfg.signatureLength)
    assert(cfg.configHash != GraftConfig.default.configHash)
    // the planner models the >=1-band curve: the config must not demand 2
    // band matches (that squares the curve; fatal for a 1-band plan)
    assert(cfg.bandMatchesRequired == 1)
    // the derived band projection is well-formed for the new plan
    assert(cfg.bandProjection.length == bands)
    assert(cfg.bandProjection.forall(_.length == rows))
  }
}

class ParagraphDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val boiler = "Subscribe to our newsletter for updates"
  private val docs = Seq(
    (0L, s"alpha one two three\n\n$boiler\n\nunique tail zero"),
    (1L, s"$boiler\n\nbeta content here"),
    (2L, s"gamma text\n\n$boiler\n\n$boiler"),
    (3L, "   \n\n  "), // only blank paragraphs -> everything dropped
    (4L, "delta standalone")
  ).toDF("doc_id", "text")

  test("first corpus-wide occurrence keeps, all later copies drop") {
    val flags = DedupOps.paragraphDedupFlags(docs)
      .select("doc_id", "para_idx", "keep").as[(Long, Int, Boolean)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(flags((0L, 1)))   // first boilerplate occurrence
    assert(!flags((1L, 0)))  // later copy in doc 1
    assert(!flags((2L, 1)) && !flags((2L, 2))) // both copies in doc 2
    assert(flags((0L, 0)) && flags((0L, 2)) && flags((1L, 1)) && flags((2L, 0)))
    assert(!flags.contains((3L, 0))) // blank paragraphs never surface
  }

  test("rewrite keeps original bytes and order; empty docs come back empty") {
    val out = DedupOps.paragraphDedup(docs)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._2 == s"alpha one two three\n\n$boiler\n\nunique tail zero")
    assert(out(0L)._3 == 3 && out(0L)._4 == 3)
    assert(out(1L)._2 == "beta content here")
    assert(out(1L)._3 == 1 && out(1L)._4 == 2)
    assert(out(2L)._2 == "gamma text" && out(2L)._3 == 1 && out(2L)._4 == 3)
    assert(out(3L)._2 == "" && out(3L)._3 == 0 && out(3L)._4 == 0)
    assert(out(4L)._2 == "delta standalone")
    assert(out.size == 5)
  }

  test("second application is the identity") {
    val once = DedupOps.paragraphDedup(docs)
      .select(col("doc_id"), col("text_dedup").as("text"))
    val twice = DedupOps.paragraphDedup(once)
      .select(col("doc_id"), col("text_dedup").as("text"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }
}

class GopherQualitySpec extends SparkTestBase {
  import spark.implicits._

  private val good = (
    "the quick brown fox jumps over a lazy dog and then walks away to find " +
      "some food because it would have been hungry after that long run with " +
      "friends across wide fields of green grass under clear skies while birds " +
      "keep singing old songs about summer days gone past and warm light").trim

  test("metrics are exact on a hand-checked doc") {
    val docs = Seq((0L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = graft.ops.TextOps.gopherQuality(docs).collect()(0)
    assert(r.getAs[Long]("n_words") == 6)
    assert(r.getAs[Long]("mean_word_len_x1000") == 17000 / 6) // 17 chars / 6 words
    assert(r.getAs[Long]("alpha_ratio_x1000") == 1000)
    assert(r.getAs[Long]("stop_hits") == 2)     // the ×2 (occurrences)
    assert(r.getAs[Long]("stop_distinct") == 1) // only "the" present
    assert(r.getAs[Long]("dup_line_frac_x1000") == 0)
    // every bigram unique -> coverage 2/6
    assert(r.getAs[Long]("top_bigram_frac_x1000") == 2000 / 6)
    assert(r.getAs[Int]("pass") == 0) // under the 50-word floor
  }

  test("each rule fails the right doc and the clean doc passes") {
    val docs = Seq(
      (0L, good),                                     // passes all rules
      (1L, "too short to pass the word floor"),       // n_words < 50
      (2L, ("spam " * 60).trim),                      // top-bigram coverage 100%
      (3L, Array.fill(5)("the same line of text with that and have").mkString("\n")), // dup lines
      (4L, (1 to 60).map(_ => "12345").mkString(" ")), // no alphabetic words
      // ≥2 stopword OCCURRENCES but only ONE distinct ("the") — the A1.1
      // distinct reading must fail it (every other rule passes: 60 distinct
      // filler words, letters, unique lines/bigrams)
      (5L, ((1 to 58).map(i => s"word$i") ++ Seq("the", "the")).mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.ops.TextOps.gopherQuality(docs)
      .select("doc_id", "pass").as[(Long, Int)].collect().toMap
    assert(out(0L) == 1, "clean doc must pass")
    assert(out(1L) == 0 && out(2L) == 0 && out(3L) == 0 && out(4L) == 0)
    assert(out(5L) == 0, "one distinct stopword must fail the distinct rule")
  }
}

class CanonicalUrlSpec extends SparkTestBase {
  import spark.implicits._

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u").select(graft.ops.TextOps.canonicalUrl(col("u")).as("c"))
      .as[String].collect().toSeq

  test("mirror variants collapse to one key") {
    val out = canon(
      "http://WWW.A.com:80/x/?utm_campaign=1",
      "http://a.com/x",
      "HTTP://a.COM/x//",
      "http://a.com/x?utm_source=z&utm_medium=y#section")
    assert(out.distinct == Seq("http://a.com/x"))
  }

  test("real params survive, tracking params drop, separators re-normalize") {
    assert(canon("https://a.com/p?gclid=g&q=1&fbclid=f&r=2") ==
      Seq("https://a.com/p?q=1&r=2"))
    assert(canon("https://a.com/p?q=1&utm_x=2") == Seq("https://a.com/p?q=1"))
    assert(canon("https://a.com/p?utm_x=2") == Seq("https://a.com/p"))
  }

  test("ports, schemeless urls, root slash, case rules") {
    assert(canon("https://b.com:443/CaseKept/Q") == Seq("https://b.com/CaseKept/Q"))
    assert(canon("https://b.com:8080/x") == Seq("https://b.com:8080/x")) // non-default port kept
    // only the SCHEME'S default port strips — a cross-scheme port is a
    // genuinely different resource and must not merge
    assert(canon("http://b.com:443/x") == Seq("http://b.com:443/x"))
    assert(canon("https://b.com:80/x") == Seq("https://b.com:80/x"))
    assert(canon("b.com/path/") == Seq("b.com/path"))
    assert(canon("https://c.com/") == Seq("https://c.com"))
  }
}

class StratifiedSampleSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = (0L until 10000L)
    .map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
    .toDF("doc_id", "lang")

  test("each stratum realizes its configured rate within tolerance") {
    val out = graft.ops.TextOps.stratifiedSample(docs, "lang",
      Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.9)
    val kept = out.where(col("keep") === 1).groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    // ~3333 docs per stratum; multiplicative-hash buckets are near-uniform
    assert(math.abs(kept("en") - 3333 * 0.5) < 150, s"en kept ${kept("en")}")
    assert(math.abs(kept("de") - 3333 * 0.1) < 100, s"de kept ${kept("de")}")
    assert(math.abs(kept("xx") - 3334 * 0.9) < 150, s"xx kept ${kept("xx")}")
  }

  test("sampling is deterministic; the seed changes membership, not rates") {
    def keepSet(seed: Long) = graft.ops.TextOps.stratifiedSample(
      docs, "lang", Map("en" -> 0.5), defaultRate = 0.5, seed = seed)
      .where(col("keep") === 1).select("doc_id").as[Long].collect().toSet
    val a = keepSet(0L)
    assert(a == keepSet(0L))          // reproducible
    val b = keepSet(12345L)
    assert(a != b)                    // seed rotates the sample
    assert(math.abs(a.size - b.size) < 300) // same realized rate
  }

  test("rate 0 keeps nothing, rate 1 keeps everything") {
    val out = graft.ops.TextOps.stratifiedSample(docs, "lang",
      Map("en" -> 0.0, "de" -> 1.0), defaultRate = 0.0)
      .where(col("keep") === 1).groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(!out.contains("en") && !out.contains("xx"))
    assert(out("de") == docs.where(col("lang") === "de").count())
  }
}

class DecontaminationSpec extends SparkTestBase {
  import spark.implicits._

  test("training docs sharing an n-gram with the benchmark are flagged") {
    // 8-token passage -> exactly 4 distinct ordered 5-grams
    val passage = (1 to 8).map(i => s"p${('a' + i).toChar}").mkString(" ")
    val bench = Seq((1000L, s"eval question intro $passage answer choices"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, s"some page text then $passage and a tail"), // contaminated
      (2L, (1 to 30).map(i => s"c${('a' + i % 26).toChar}$i").mkString(" ")), // clean
      (3L, "too short"),                                  // under n tokens
      (4L, "")                                            // empty
    ).toDF("doc_id", "text")
    val out = graft.ops.DedupOps.decontaminate(train, bench, n = 5)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 4 && out(1L)._3 == 1)
    assert(out(2L)._2 == 0 && out(2L)._3 == 0)
    assert(out(3L)._2 == 0 && out(3L)._3 == 0)
    assert(out(4L)._2 == 0 && out(4L)._3 == 0)
    assert(out.size == 4) // every training doc gets a verdict row
  }

  test("benchmark side broadcasts (no corpus-wide shuffle for the filter)") {
    val bench = Seq((1000L, (1 to 20).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
    val train = Seq((1L, (1 to 20).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val plan = graft.ops.DedupOps.decontaminate(train, bench, n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark grams must broadcast:\n$plan")
  }

  test("oversized benchmark takes the shuffle-join fallback with identical output") {
    val passage = (1 to 8).map(i => s"p${('a' + i).toChar}").mkString(" ")
    val bench = Seq((1000L, s"eval question intro $passage answer choices"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, s"some page text then $passage and a tail"),
      (2L, (1 to 30).map(i => s"c${('a' + i % 26).toChar}$i").mkString(" ")),
      (3L, "")).toDF("doc_id", "text")
    // gate at 0 grams forces the fallback on the same tiny benchmark; with
    // the session auto-broadcast disabled, the ungated plan would otherwise
    // still broadcast via Catalyst stats and mask the path difference
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fallback = graft.ops.DedupOps.decontaminate(train, bench, n = 5,
        maxBroadcastGrams = 0L)
      assert(!fallback.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "over-gate benchmark must not broadcast")
      val hinted = graft.ops.DedupOps.decontaminate(train, bench, n = 5)
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
        "the sub-gate path keeps the broadcast hint even with auto-broadcast off")
      val a = fallback.orderBy("doc_id").as[(Long, Long, Int)].collect().toSeq
      val b = hinted.orderBy("doc_id").as[(Long, Long, Int)].collect().toSeq
      assert(a == b, s"fallback output must match the broadcast path: $a vs $b")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}

class ParaDedupStreamSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  private val boiler = "subscribe to our newsletter today"

  test("paragraph first-seen state survives across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingIndex
      .paraDedupFlagsStream(spark, mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("para_flags")
      .outputMode("append").start()
    mem.addData((0L, s"alpha text\n\n$boiler"), (1L, s"$boiler\n\nbeta text"))
    q.processAllAvailable()
    mem.addData((2L, s"$boiler\n\ngamma text"))
    q.processAllAvailable()
    val got = spark.sql("select doc_id, para_idx, keep from para_flags")
      .as[(Long, Int, Boolean)].collect().map(r => (r._1, r._2) -> r._3).toMap
    q.stop()
    assert(got((0L, 1)))                    // first arrival keeps
    assert(!got((1L, 0)) && !got((2L, 0)))  // same + later batch copies drop
    assert(got((0L, 0)) && got((1L, 1)) && got((2L, 1)))
  }

  test("in-order replay reproduces the batch verdicts exactly") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (0L, s"one two\n\n$boiler\n\nthree"),
      (1L, s"$boiler\n\n$boiler\n\nfour"),
      (2L, "five six"))
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingIndex
      .paraDedupFlagsStream(spark, mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("para_replay")
      .outputMode("append").start()
    mem.addData(docs: _*)
    q.processAllAvailable()
    val streamed = spark.sql("select doc_id, para_idx, keep from para_replay")
      .as[(Long, Int, Boolean)].collect().toSet
    q.stop()
    val batch = graft.ops.DedupOps.paragraphDedupFlags(docs.toDF("doc_id", "text"))
      .select("doc_id", "para_idx", "keep")
      .as[(Long, Int, Boolean)].collect().toSet
    assert(streamed == batch)
  }

  test("kept-only stream: a 100-copy burst yields one paragraph, re-delivery nothing") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingIndex
      .paraFirstSeenStream(spark, mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("para_kept")
      .outputMode("append").start()
    mem.addData((0L until 100L).map(i => (i, boiler)): _*)
    q.processAllAvailable()
    mem.addData((500L, boiler)) // re-delivery in a later batch
    q.processAllAvailable()
    val got = spark.sql("select doc_id, para_idx from para_kept")
      .as[(Long, Int)].collect().toSeq
    q.stop()
    assert(got == Seq((0L, 0)))
  }
}

class RewriteJobSpec extends SparkTestBase {
  import spark.implicits._

  private def toks(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")

  test("--rewrite paragraphs: earliest crawl keeps; re-crawled url collapses first") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rw").toString
    val boiler = "shared footer boilerplate text"
    // u2 crawled EARLIER than u1 -> u2's copy of the boilerplate survives
    val rows = Seq(
      ("u1", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), s"alpha body\n\n$boiler"),
      ("u2", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), s"beta body\n\n$boiler"),
      // re-crawl of u2: collapses to the first-crawled text — it must NOT
      // tombstone its own paragraphs as later copies
      ("u2", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), s"beta body vtwo\n\n$boiler")
    ).toDF("url", "warc_ts", "text")
    rows.write.mode("overwrite").parquet(s"$tmp/in")
    val a = DedupJob.parse(Array("--input", s"$tmp/in", "--output", s"$tmp/out",
      "--rewrite", "paragraphs", "--text-only"))
    val (docs, rewritten) = DedupJob.runRewrite(spark, a)
    assert(docs == 2 && rewritten == 1)
    val out = spark.read.parquet(s"$tmp/out").as[(String, String, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("u2")._2 == s"beta body\n\n$boiler" && out("u2")._3 == 2)
    assert(out("u1")._2 == "alpha body" && out("u1")._3 == 1 && out("u1")._4 == 2)
  }

  test("--rewrite spans cuts the duplicated excerpt from the later crawl") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rw2").toString
    val excerpt = toks("ex", 60).mkString(" ")
    val rows = Seq(
      ("early", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        excerpt + " " + toks("ea", 50).mkString(" ")),
      ("late", java.sql.Timestamp.valueOf("2024-06-01 00:00:00"),
        toks("la", 50).mkString(" ") + " " + excerpt)
    ).toDF("url", "warc_ts", "text")
    rows.write.mode("overwrite").parquet(s"$tmp/in")
    val a = DedupJob.parse(Array("--input", s"$tmp/in", "--output", s"$tmp/out",
      "--rewrite", "spans", "--text-only"))
    val (docs, rewritten) = DedupJob.runRewrite(spark, a)
    assert(docs == 2 && rewritten == 1)
    val out = spark.read.parquet(s"$tmp/out").as[(String, String, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("early")._4 == 0 && out("early")._2.contains(excerpt))
    assert(out("late")._4 == 60 && out("late")._2 == toks("la", 50).mkString(" "))
  }

  test("--decontaminate drops overlapping docs and audits them with hit counts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dc").toString
    val passage = toks("pz", 15).mkString(" ") // 15 tokens -> 3 distinct 13-grams
    Seq((s"benchmark question: $passage"))
      .toDF("text").write.mode("overwrite").parquet(s"$tmp/bench")
    Seq(
      ("u1", s"page start ${toks("fa", 10).mkString(" ")} $passage trailer"),
      ("u2", toks("fb", 40).mkString(" "))
    ).toDF("url", "text").write.mode("overwrite").parquet(s"$tmp/in")
    val a = DedupJob.parse(Array("--input", s"$tmp/in", "--output", s"$tmp/out",
      "--decontaminate", s"$tmp/bench", "--text-only"))
    val (clean, contaminated) = DedupJob.runDecontaminate(spark, a)
    assert(clean == 1 && contaminated == 1)
    assert(spark.read.parquet(s"$tmp/out").select("url").as[String].collect().toSeq == Seq("u2"))
    val audit = spark.read.parquet(s"$tmp/out_contaminated")
      .select("url", "n_hits").as[(String, Long)].collect().toSeq
    assert(audit == Seq(("u1", 3L)))
  }

  test("parse rejects invalid rewrite usage") {
    intercept[IllegalArgumentException](DedupJob.parse(
      Array("--input", "i", "--output", "o", "--rewrite", "nope")))
    intercept[IllegalArgumentException](DedupJob.parse(
      Array("--input", "i", "--output", "o", "--rewrite", "spans",
        "--stream", "--checkpoint", "c")))
    intercept[IllegalArgumentException](DedupJob.parse(
      Array("--input", "i", "--output", "o", "--rewrite", "paragraphs",
        "--incremental", "b", "--checkpoint", "c")))
  }
}

class SpanDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def norm(text: String): String =
    TextNorm.tokenize(text).allTokens.mkString(" ")

  /** letter-only tokens — digit runs normalize to '0' and would alias. */
  private def toks(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix${('a' + i / 26).toChar}${('a' + i % 26).toChar}")

  test("a shared excerpt is cut from the later doc only") {
    val excerpt = toks("sh", 30).mkString(" ")
    val a = toks("aw", 50).mkString(" ") + " " + excerpt
    val b = toks("bw", 50).mkString(" ") + " " + excerpt +
      " " + toks("bt", 50).mkString(" ")
    val c = toks("cw", 60).mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = SpanDedup.removeDuplicateSpans(spark, docs,
        window = 8, winnow = 4, minRun = 11)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == norm(a) && out(1L)._4 == 0) // first occurrence intact
    assert(out(2L)._2 == norm(b).replace(" " + excerpt, "")) // span cut, hosts kept
    assert(out(2L)._4 == 30)
    assert(out(3L)._2 == norm(c) && out(3L)._4 == 0) // untouched doc
    assert(out.size == 3)
  }

  test("chain 0->1->2: the shared span survives exactly once corpus-wide") {
    val excerpt = toks("run", 25).mkString(" ")
    val d0 = excerpt + " " + toks("x", 40).mkString(" ")
    val d1 = toks("y", 40).mkString(" ") + " " + excerpt
    val d2 = toks("z", 40).mkString(" ") + " " + excerpt
    val docs = Seq((0L, d0), (1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = SpanDedup.removeDuplicateSpans(spark, docs,
        window = 8, winnow = 4, minRun = 11)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._4 == 0)
    assert(out(1L)._4 == 25 && !out(1L)._2.contains(excerpt))
    assert(out(2L)._4 == 25 && !out(2L)._2.contains(excerpt))
    val totalCopies = Seq(out(0L), out(1L), out(2L))
      .count(_._2.contains(excerpt))
    assert(totalCopies == 1)
  }

  test("smallest-k aggregator ≡ slice(sort_array(collect_set)) on random pairs") {
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(3000)((rng.nextInt(5).toLong, rng.nextInt(400).toLong))
    val df = rows.toDF("b", "a")
    for (k <- Seq(1, 8, 64, 1000)) {
      val bounded = df.groupBy("b")
        .agg(udaf(new SpanDedup.SmallestKAgg(k),
          org.apache.spark.sql.Encoders.scalaLong)(col("a")).as("p"))
        .as[(Long, Array[Long])].collect().map { case (b, p) => b -> p.toSeq }.toMap
      val reference = df.groupBy("b")
        .agg(slice(sort_array(collect_set(col("a"))), 1, k).as("p"))
        .as[(Long, Array[Long])].collect().map { case (b, p) => b -> p.toSeq }.toMap
      assert(bounded == reference, s"k=$k")
    }
  }

  test("hot doc quoted by many: bounded buffer, identical rewrite") {
    // 120 early docs all containing the same excerpt + one LATE doc (max
    // id) quoting it: the late doc's candidate partner set is every early
    // doc, far above maxPartners=4 — the cap must bound the buffer while
    // the rewrite still cuts the span (any partner suffices semantically)
    val excerpt = toks("hot", 30).mkString(" ")
    // letter-only per-doc prefixes (digit runs normalize to '0' and would
    // alias every prefix into one giant duplicate)
    val docs = ((0 until 120).map { i =>
      val tag = s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
      (i.toLong, toks(s"u$tag", 40).mkString(" ") + " " + excerpt)
    } :+ (999L, toks("late", 40).mkString(" ") + " " + excerpt))
      .toDF("doc_id", "text")
    val out = SpanDedup.removeDuplicateSpans(spark, docs,
        window = 8, winnow = 4, minRun = 11, maxPartners = 4,
        maxAnchorGroup = 500)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._4 == 0, "first occurrence keeps the span")
    assert(out(999L)._4 == 30 && !out(999L)._2.contains(excerpt),
      "late hot doc loses the span under the partner cap")
    assert((1 until 120).forall(i => out(i.toLong)._4 == 30),
      s"every non-first copy is cut; offenders: ${(1 until 120)
        .filter(i => out(i.toLong)._4 != 30)
        .map(i => (i, out(i.toLong)._4)).take(12)}")
  }

  test("overlapping spans from different partners merge into one cut") {
    // partner 1 shares b's tokens [0,15), partner 2 shares [10,25)
    val seg = toks("ov", 25)
    val p1 = (toks("p", 30) ++ seg.slice(0, 15)).mkString(" ")
    val p2 = (seg.slice(10, 25) ++ toks("q", 30)).mkString(" ")
    val b = (seg ++ toks("r", 30)).mkString(" ")
    val docs = Seq((1L, p1), (2L, p2), (10L, b)).toDF("doc_id", "text")
    val out = SpanDedup.removeDuplicateSpans(spark, docs,
        window = 8, winnow = 4, minRun = 11)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._4 == 25)
    assert(out(10L)._2 == toks("r", 30).mkString(" "))
    assert(out(1L)._4 == 0 && out(2L)._4 == 0)
  }
}

class PiiRedactSpec extends SparkTestBase {
  import spark.implicits._

  private def redact(texts: String*) =
    graft.ops.TextOps.piiRedact(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"))
      .select("doc_id", "n_emails", "n_ips", "n_phones", "text_redacted")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq

  test("each PII class redacts and counts; clean text untouched") {
    val out = redact(
      "mail me at jane.doe+x@sub.example.co.uk today",
      "server at 192.168.0.1 and 10.0.0.255 responded",
      "call 555-123-4567 or 555.987.6543 now",
      "no pii here, just words and 12345 numbers")
    assert(out(0) == (0L, 1L, 0L, 0L, "mail me at <EMAIL> today"))
    assert(out(1) == (1L, 0L, 2L, 0L, "server at <IP> and <IP> responded"))
    assert(out(2) == (2L, 0L, 0L, 2L, "call <PHONE> or <PHONE> now"))
    assert(out(3) == (3L, 0L, 0L, 0L, "no pii here, just words and 12345 numbers"))
  }

  test("redaction is idempotent and digits inside words do not false-positive") {
    val once = redact("a@b.com 1.2.3.4 555-123-4567")(0)._5
    val twice = graft.ops.TextOps.piiRedact(Seq((0L, once)).toDF("doc_id", "text"))
      .select("n_emails", "n_ips", "n_phones", "text_redacted")
      .as[(Long, Long, Long, String)].collect()(0)
    assert(twice == (0L, 0L, 0L, once))
    // word-embedded digit runs carry no \b boundary → no phone/ip match
    val embedded = redact("part x555-123-4567y and v1.2.3.4beta")(0)
    assert(embedded._3 == 0L && embedded._4 == 0L)
  }
}

class UrlFilterSpec extends SparkTestBase {
  import spark.implicits._

  private val urls = Seq(
    (0L, "https://ads.badsite.com/track?x=1"),
    (1L, "https://badsite.com/page"),
    (2L, "https://notbadsite.com/page"),        // suffix rule: NOT a subdomain
    (3L, "https://example.com/casino/review"),  // keyword hit only
    (4L, "http://user:pw@EXAMPLE.com:8080/ok"), // userinfo + port + case
    (5L, "https://fine.org/article")).toDF("doc_id", "url")

  test("domain blocklist is a suffix rule; keywords score softly") {
    val out = graft.ops.TextOps.urlFilter(urls, "url",
        Seq("badsite.com"), Seq("casino", "poker"))
      .select("doc_id", "host", "domain_blocked", "kw_hits", "pass")
      .as[(Long, String, Int, Long, Int)].collect().sortBy(_._1).toSeq
    assert(out(0) == (0L, "ads.badsite.com", 1, 0L, 0))
    assert(out(1) == (1L, "badsite.com", 1, 0L, 0))
    assert(out(2) == (2L, "notbadsite.com", 0, 0L, 1))
    assert(out(3) == (3L, "example.com", 0, 1L, 0))
    assert(out(4) == (4L, "example.com", 0, 0L, 1))
    assert(out(5) == (5L, "fine.org", 0, 0L, 1))
  }

  test("scheme-relative urls resolve their host (no blocklist bypass)") {
    val rel = Seq((0L, "//ads.badsite.com/track?x=1"), (1L, "//fine.org/a"))
      .toDF("doc_id", "url")
    val out = graft.ops.TextOps.urlFilter(rel, "url", Seq("badsite.com"), Nil)
      .select("doc_id", "host", "domain_blocked")
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(out == Seq((0L, "ads.badsite.com", 1), (1L, "fine.org", 0)))
  }

  test("single-label and trailing-dot domains: table variant ≡ literal variant") {
    val tricky = Seq(
      (0L, "https://wiki.internal/page"),      // single-label blocked domain
      (1L, "https://internal/page"),           // exact single-label host
      (2L, "https://ads.badsite.com./x"),      // trailing-dot FQDN: NOT blocked by either
      (3L, "https://sub.wiki.internal/x")).toDF("doc_id", "url")
    val block = Seq("internal", "badsite.com").toDF("domain")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "domain_blocked").as[(Long, Int)].collect().sortBy(_._1).toSeq
    val lit0 = verdicts(graft.ops.TextOps.urlFilter(tricky, "url",
      Seq("internal", "badsite.com"), Nil))
    val tbl = verdicts(graft.ops.TextOps.urlFilterTable(tricky, "url", block, Nil))
    assert(lit0 == Seq((0L, 1), (1L, 1), (2L, 0), (3L, 1)))
    assert(tbl == lit0)
  }

  test("table-blocklist variant matches the literal variant exactly") {
    val block = Seq("badsite.com", "Evil.ORG").toDF("domain")
    val lit = graft.ops.TextOps.urlFilter(urls, "url",
        Seq("badsite.com", "evil.org"), Seq("casino"))
      .select("doc_id", "host", "domain_blocked", "kw_hits", "pass")
      .as[(Long, String, Int, Long, Int)].collect().sortBy(_._1).toSeq
    val tbl = graft.ops.TextOps.urlFilterTable(urls, "url", block, Seq("casino"))
      .select("doc_id", "host", "domain_blocked", "kw_hits", "pass")
      .as[(Long, String, Int, Long, Int)].collect().sortBy(_._1).toSeq
    assert(tbl == lit)
  }
}

class SplitAssignSpec extends SparkTestBase {
  import spark.implicits._

  private val keys = (0L until 20000L).toDF("doc_id")

  test("splits are content-stable, exhaustive, and near the requested rates") {
    val out = graft.ops.TextOps.splitAssign(keys, "doc_id",
        valFrac = 0.01, testFrac = 0.02)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    val n = 20000.0
    assert(math.abs(out.getOrElse("val", 0L) / n - 0.01) < 0.005, out.toString)
    assert(math.abs(out.getOrElse("test", 0L) / n - 0.02) < 0.005, out.toString)
    assert(out.values.sum == 20000L)
  }

  test("assignment is a pure function of the key — stable under corpus growth") {
    val small = graft.ops.TextOps.splitAssign((0L until 100L).toDF("doc_id"), "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val grown = graft.ops.TextOps.splitAssign(keys, "doc_id")
      .where(col("doc_id") < 100)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(small == grown)
  }

  test("whole-range fractions keep the fixed-width comparison honest") {
    // valFrac = 1.0 encodes a threshold ABOVE every 4-hex bucket ("10000"
    // would compare lexicographically below "8000" — the sentinel fix)
    val allVal = graft.ops.TextOps.splitAssign(keys, "doc_id", valFrac = 1.0, testFrac = 0.0)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(allVal == Map("val" -> 20000L))
    val noTrain = graft.ops.TextOps.splitAssign(keys, "doc_id", valFrac = 0.5, testFrac = 0.5)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(!noTrain.contains("train"), noTrain.toString)
  }

  test("boundary exactness: bucket strictly below the threshold only") {
    // thr(0.05)=0x0ccd: a bucket equal to the threshold goes to the NEXT tier
    val out = graft.ops.TextOps.splitAssign(keys, "doc_id",
        valFrac = 0.05, testFrac = 0.05)
      .select("bucket_hex", "split").as[(String, String)].collect()
    out.foreach { case (b, s) =>
      val expect = if (b < "0ccd") "val" else if (b < "199a") "test" else "train"
      assert(s == expect, s"bucket $b got $s")
    }
  }
}

class RepetitionSignalsSpec extends SparkTestBase {
  import spark.implicits._

  private def signals(texts: String*): Map[Long, Map[String, Long]] = {
    val df = graft.ops.TextOps.repetitionSignals(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
    val cols = df.columns.filter(_ != "doc_id")
    df.collect().map { r =>
      r.getLong(0) -> cols.map(c => c -> r.getAs[Number](c).longValue()).toMap
    }.toMap
  }

  test("n-gram fractions are exact on a hand-checked doc") {
    // "x y x y x y z": 7 words, joined length 13
    //  2-grams: "x y"x3 "y x"x2 "y z"x1 -> top 3*3=9   -> floor(9000/13)=692
    //  3-grams: "x y x"x2 "y x y"x2 "x y z"x1 -> 2*5=10 -> 769
    //  4-grams: "x y x y"x2, two singles -> 2*7=14      -> capped 1000
    //  5-grams: all three distinct -> dup5 = 0
    val m = signals("x y x y x y z")(0L)
    assert(m("top_2gram_char_frac_x1000") == 692L)
    assert(m("top_3gram_char_frac_x1000") == 769L)
    assert(m("top_4gram_char_frac_x1000") == 1000L)
    assert(m("dup_5gram_char_frac_x1000") == 0L)
    assert(m("pass") == 0L)
  }

  test("duplicate line and paragraph character fractions are exact") {
    // lines [aa, bb, aa, cc, cc dd]: 1 of 5 duplicated -> 200;
    // chars 13, dup chars 2 -> floor(2000/13)=153; paragraphs distinct -> 0
    val m = signals("aa\nbb\naa\ncc\n\ncc dd")(0L)
    assert(m("dup_line_frac_x1000") == 200L)
    assert(m("dup_line_char_frac_x1000") == 153L)
    assert(m("dup_para_frac_x1000") == 0L)
    assert(m("dup_para_char_frac_x1000") == 0L)
    // duplicated paragraphs: [p1, p2, p1] with p1 = "aa bb", p2 = "cc"
    val p = signals("aa bb\n\ncc\n\naa bb")(0L)
    assert(p("dup_para_frac_x1000") == 333L)
    // para chars 12 (5+2+5), dup chars 5 -> floor(5000/12)=416
    assert(p("dup_para_char_frac_x1000") == 416L)
  }

  test("dup n-gram fractions count every occurrence of repeated grams") {
    // "a b c a b c a b c" (9 words, joined 17): every 5..8-gram window of a
    // period-3 string repeats when W - n >= 3 -> for n=5: grams at 1..5,
    // shifts 1,2,3,4,5; gram(i)=gram(i+3) -> counts: two grams x2, one x1
    // dup5 = 4 * 9 = 36 -> min(1000, floor(36000/17)) = 1000
    val m = signals("a b c a b c a b c")(0L)
    assert(m("dup_5gram_char_frac_x1000") == 1000L)
    assert(m("dup_6gram_char_frac_x1000") == 1000L)  // n=6: gram x2 at shift 1..4? -> 1,4 & 2,5? W-n+1=4 starts, period 3: s1=s4 -> one pair x2 + 2 singles -> 2*11=22 -> 1000
    assert(m("dup_8gram_char_frac_x1000") == 0L)     // 2 starts, s1 != s2
    assert(m("dup_10gram_char_frac_x1000") == 0L)    // no 10-gram in 9 words
    // clean doc: all DUP signals zero (top-n-gram fractions are naturally
    // nonzero — the most frequent gram occurs once — but under threshold
    // for a realistically-long doc; a dozen-word doc legitimately fails
    // the top-3/4-gram rules because one occurrence is a big fraction)
    val words60 = (0 until 60).map(i => s"word${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val clean = signals(words60.mkString(" "))(0L)
    assert(clean.filter(_._1.startsWith("dup_")).values.forall(_ == 0L))
    assert(clean("pass") == 1L)
  }

  test("empty and sub-n docs yield zeros, not nulls or crashes") {
    val m = signals("", "one", "one two")
    assert(m(0L).filterNot(_._1 == "pass").values.forall(_ == 0L))
    assert(m(1L).filterNot(_._1 == "pass").values.forall(_ == 0L))
    // "one two": a single 2-gram occurring once -> top2 = 7/7 -> 1000
    assert(m(2L)("top_2gram_char_frac_x1000") == 1000L)
  }

  test("edge whitespace adds no phantom tokens (trailing newline, ws-only doc)") {
    // "\n\n" is NOT two empty words; "a b\n" is two words, not three
    val m = signals("\n\n", "a b\n", "\tx y x y x y z \n")
    assert(m(0L).filterNot(_._1 == "pass").values.forall(_ == 0L))
    assert(m(1L)("top_2gram_char_frac_x1000") == 1000L) // "a b" = 3/3
    assert(m(2L)("top_2gram_char_frac_x1000") == 692L)  // ≡ untrimmed hand-check above
    import org.apache.spark.sql.functions.col
    val toks = Seq((0L, "a b\n"), (1L, " \n "), (2L, "\tx\ty\n"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.ops.TextOps.tokenCount(col("text")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(toks == Map(0L -> 2, 1L -> 0, 2L -> 2))
  }
}

class C4RulesSpec extends SparkTestBase {
  import spark.implicits._

  private def run(texts: String*) =
    graft.ops.TextOps.c4Rules(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      Seq("badword"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  test("line rules: terminal punctuation, five words, javascript") {
    val m = run(
      "Good first sentence with five words.\nToo short.\nNo final punctuation here at all\n" +
        "Please enable javascript to continue reading now.\nAnother good line is here today!")
    // "Too short." ends in terminal punctuation — the >=5-word rule ALONE
    // must drop it
    val r = m(0L)
    assert(r.getAs[Long]("n_lines") == 5)
    assert(r.getAs[Long]("n_kept_lines") == 2)
    assert(r.getAs[String]("text_clean") ==
      "Good first sentence with five words.\nAnother good line is here today!")
    assert(r.getAs[Long]("n_sentences") == 2)
    assert(r.getAs[Int]("pass") == 0) // only 2 sentences
  }

  test("page rules: lorem ipsum, curly brace, bad word token, sentence floor") {
    val base = "One full sentence sits right here.\nA second sentence follows it closely.\nAnd a third one completes the page."
    val m = run(
      base,
      base + "\nSome Lorem IPSUM filler appears here today.",
      base + "\nA brace { lives in this line.",
      base + "\nthis page mentions badword once only.",
      base + "\nbadwording is not the bad word itself.")
    assert(m(0L).getAs[Int]("pass") == 1)
    assert(m(1L).getAs[Int]("has_lorem_ipsum") == 1 && m(1L).getAs[Int]("pass") == 0)
    assert(m(2L).getAs[Int]("has_curly_brace") == 1 && m(2L).getAs[Int]("pass") == 0)
    assert(m(3L).getAs[Int]("has_bad_word") == 1 && m(3L).getAs[Int]("pass") == 0)
    // token match, not substring: "badwording" must NOT trip the blocklist
    assert(m(4L).getAs[Int]("has_bad_word") == 0 && m(4L).getAs[Int]("pass") == 1)
  }

  test("punctuation-adjacent bad words and CRLF lines behave like real web text") {
    val base = "One full sentence sits right here.\nA second sentence follows it closely.\nAnd a third one completes the page."
    val m = run(
      base + "\nHe finally shouted badword!",    // sentence-final, boundary match
      // CRLF text: \r must not defeat the terminal-punctuation rule or
      // leak into text_clean, and \t must not create a phantom word
      "First good sentence lives right here.\r\nSecond good sentence also sits here.\r\n\tAnd a third one lands cleanly here.\r")
    assert(m(0L).getAs[Int]("has_bad_word") == 1 && m(0L).getAs[Int]("pass") == 0)
    val crlf = m(1L)
    assert(crlf.getAs[Long]("n_kept_lines") == 3, crlf.toString)
    assert(!crlf.getAs[String]("text_clean").contains("\r"))
    assert(!crlf.getAs[String]("text_clean").contains("\t"))
    assert(crlf.getAs[Int]("pass") == 1)
  }

  test("empty and punctuation-free docs clean to empty and fail the floor") {
    val m = run("", "no punctuation anywhere on this page at all")
    Seq(0L, 1L).foreach { id =>
      assert(m(id).getAs[String]("text_clean") == "")
      assert(m(id).getAs[Long]("n_sentences") == 0)
      assert(m(id).getAs[Int]("pass") == 0)
    }
  }
}
