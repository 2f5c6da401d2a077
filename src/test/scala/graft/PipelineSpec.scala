package graft

import org.apache.spark.sql.functions._
import graft.corpus.CorpusGen
import graft.pipeline.{DedupPipeline, PipelineOptions}
import graft.cluster.ConnectedComponents
import graft.kernel.TextNorm
import org.apache.spark.graftglue.JobRecorder

class CorpusSpec extends SparkTestBase {
  test("extraction is byte-identical to the source text for every url") {
    val corpus = CorpusGen.generate(spark, sf = 0.003, seed = 42L).cache()
    val rows = corpus.select("url", "html", "text").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val extracted = TextNorm.extract(r.getAs[Array[Byte]]("html"))
      assert(extracted == r.getAs[String]("text"), s"extraction drift for ${r.getString(0)}")
    }
  }

  test("corpus generation is deterministic") {
    val a = CorpusGen.generate(spark, 0.002, 42L).orderBy("url").collect()
    val b = CorpusGen.generate(spark, 0.002, 42L).orderBy("url").collect()
    assert(a.map(_.getString(0)).toSeq == b.map(_.getString(0)).toSeq)
    assert(a.map(_.getString(3)).toSeq == b.map(_.getString(3)).toSeq)
  }
}

class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  test("CC finds components of a known graph") {
    // components: {1,2,3,4}, {10,11}, {20,21,22}, isolated handled by caller
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("src", "dst")
    val comp = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(2L) == 1L && comp(3L) == 1L && comp(4L) == 1L && comp(1L) == 1L)
    assert(comp(11L) == 10L && comp(10L) == 10L)
    assert(comp(21L) == 20L && comp(22L) == 20L && comp(20L) == 20L)
  }

  test("CC handles a long chain (log-round convergence)") {
    val n = 200
    val edges = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges).collect()
    assert(comp.forall(_.getLong(1) == 0L))
    assert(comp.length == n + 1)
  }

  test("driver union-find and distributed star loop agree on a random graph") {
    val rnd = new scala.util.Random(3)
    // random graph: 400 nodes, 500 edges → many components of varied shape
    val es = (0 until 500).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    val df = es.toDF("src", "dst")
    val viaDriver = ConnectedComponents.run(df) // small → driver union-find
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaStars = ConnectedComponents.run(df, driverThreshold = 0) // force distributed
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaDriver == viaStars)
  }

  test("distributed star loop handles a long chain (log-round convergence)") {
    val n = 200
    val edges = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val comp = ConnectedComponents.run(edges, driverThreshold = 0).collect()
    assert(comp.forall(_.getLong(1) == 0L))
    assert(comp.length == n + 1)
  }

  test("CC's driver path takes its edges in one job: no count, no cache") {
    // a shuffle producer, as in run(): AQE runs its map stage as its own job
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (20L, 20L)).toDF("src", "dst")
      .repartition(3).groupBy("src", "dst").count()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (comp, rec) = JobRecorder.during(spark.sparkContext)(ConnectedComponents.run(edges))
    assert(ConnectedComponents.lastRunIterations == 0, "small graph takes the driver path")
    val names = rec.jobStages.flatten
    assert(!names.exists(n => n.startsWith("count at") || n.contains("cache")), names)
    assert(rec.jobStages.count(_.exists(_.startsWith("runJob at ConnectedComponents"))) == 1,
      rec.jobStages)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before == Set.empty,
      "the driver path pins nothing")
    assert(comp.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("over-cap edges take the star loop without recomputing the producer") {
    val rnd = new scala.util.Random(5)
    val es = (0 until 500).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    // counts the source rows the producer's map side reads
    val reads = spark.sparkContext.longAccumulator("producer-reads")
    val tap = udf((x: Long) => { reads.add(1); x }).asNondeterministic()
    val produced = es.toDF("src", "dst").repartition(4)
      .select(tap(col("src")).as("src"), col("dst"))
      .groupBy("src", "dst").count().select("src", "dst")
    val viaDriver = ConnectedComponents.run(produced).as[(Long, Long)].collect().sorted.toSeq
    reads.reset()
    val (viaLoop, rec) = JobRecorder.during(spark.sparkContext) {
      // 0 < threshold < edge count: some partition overflows its bound
      val c = ConnectedComponents.run(produced, driverThreshold = 50)
      (c.as[(Long, Long)].collect().sorted.toSeq, ConnectedComponents.lastRunIterations)
    }
    assert(viaLoop._2 > 0, "the bounded collect must overflow into the star loop")
    assert(viaLoop._1 == viaDriver)
    val deps = rec.submittedShuffleDeps
    assert(deps.nonEmpty && deps.distinct.size == deps.size,
      s"a shuffle map stage ran twice: $deps")
    assert(reads.value == es.size, "the producer's map side ran more than once")
  }

  test("CC is idempotent: rerunning on star edges returns the same labels") {
    val edges = Seq((1L, 5L), (1L, 7L), (1L, 9L)).toDF("src", "dst")
    val c1 = ConnectedComponents.run(edges)
    val again = ConnectedComponents.run(
      c1.select(col("component").as("src"), col("id").as("dst")))
    assert(again.collect().forall(_.getLong(1) == 1L))
  }
}

class DedupPipelineSpec extends SparkTestBase {

  test("end-to-end dedup: recall >= 0.99 and high precision on golden clusters") {
    val corpus = CorpusGen.generate(spark, sf = 0.01, seed = 42L).cache()
    val pipe = new DedupPipeline(spark)
    val out = pipe.run(corpus, fromHtml = true).cache()

    val joined = out.join(corpus.select("url", "cluster_gold", "is_dup_member"), "url").cache()
    assert(joined.count() == corpus.count(), "every url must be assigned a cluster")

    // pair recall without materializing pairs: golden pairs vs detected-within-gold
    def pairSum(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Long = {
      val r = df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("m"))
        .select(sum(expr("m * (m - 1) / 2")).cast("long").as("s")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

    val dupDocs = joined.where(col("is_dup_member"))
    val goldenPairs = pairSum(dupDocs.toDF(), Seq("cluster_gold"))
    val detectedWithinGold = pairSum(dupDocs.toDF(), Seq("cluster_gold", "cluster_id"))
    val recall = detectedWithinGold.toDouble / goldenPairs
    info(s"golden pairs: $goldenPairs, detected-in-gold: $detectedWithinGold, recall: $recall")
    assert(recall >= 0.99, s"dup-pair recall $recall below 0.99")

    // precision proxy: a detected cluster must not span golden clusters
    val crossGold = joined.groupBy("cluster_id")
      .agg(countDistinct("cluster_gold").as("ngold"), count(lit(1)).as("sz"))
      .where(col("ngold") > 1 && col("sz") > 1)
      .count()
    val totalClusters = joined.select("cluster_id").distinct().count()
    info(s"clusters spanning golden boundaries: $crossGold of $totalClusters")
    assert(crossGold <= math.max(1, totalClusters / 100),
      s"$crossGold clusters merge distinct golden clusters")
  }

  test("pipeline output is deterministic across runs") {
    val corpus = CorpusGen.generate(spark, sf = 0.003, seed = 7L).cache()
    val pipe = new DedupPipeline(spark)
    val a = pipe.run(corpus, fromHtml = true).orderBy("url").collect()
    val b = pipe.run(corpus, fromHtml = true).orderBy("url").collect()
    assert(a.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      b.map(r => (r.getString(0), r.getLong(2))).toSeq)
  }

  test("exact duplicates cluster together even with LSH disabled bands") {
    import spark.implicits._
    val rows = Seq(
      ("u1", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      ("u2", "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      ("u3", "totally different words that do not match anything else here at all now"))
      .toDF("url", "text")
    val pipe = new DedupPipeline(spark)
    val out = pipe.run(rows, fromHtml = false).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("u1") == out("u2"))
    assert(out("u3") != out("u1"))
  }

  test("byte-identical docs in the short non-minhashable gap still exact-dedup") {
    import spark.implicits._
    // exactly 10 tokens: has_exact (n ≥ exactHashMinTokens=10) but NOT
    // hashable (needs n > minTokens=10) — the gap the exact channel must cover
    val short = "one two three four five six seven eight nine ten"
    assert(short.split(" ").length == 10)
    val rows = Seq(
      ("s1", short), ("s2", short),
      ("s3", "completely different ten tokens go here making another doc now yes"))
      .toDF("url", "text")
    val pipe = new DedupPipeline(spark)
    val out = pipe.run(rows, fromHtml = false).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("s1") == out("s2"), "gap docs must merge via the exact channel")
    assert(out("s3") != out("s1"))
  }

  test("simhash channel rescues pairs the minhash gate rejects, within its radius") {
    import spark.implicits._
    // near-identical pair; the minhash gate is raised to 99 so only the
    // simhash hamming ball can admit it — proving the derived chunk tables
    // actually generate the candidate AND the verify gate admits it
    val base = (1 to 60).map(i => s"w${('a' + i % 26).toChar}${('a' + (i / 26) % 26).toChar}${('a' + (i / 676) % 26).toChar}")
    val tweaked = base.updated(51, "changedword")
    val rows = Seq(("u1", base.mkString(" ")), ("u2", tweaked.mkString(" ")))
      .toDF("url", "text")
    val cfgHigh = graft.kernel.GraftConfig.default.copy(matchingThreshold = 99.0)

    val sigs = new DedupPipeline(spark, cfgHigh).signatureStage(rows).collect()
    val hamming = java.lang.Long.bitCount(sigs(0).simhash ^ sigs(1).simhash)
    assert(hamming <= 2, s"test pair drifted out of the default radius: hamming=$hamming")

    val withChannel = new DedupPipeline(spark, cfgHigh, PipelineOptions())
      .dupPairs(rows, fromHtml = false).count()
    val withoutChannel = new DedupPipeline(spark, cfgHigh,
      PipelineOptions(simHashChannel = false)).dupPairs(rows, fromHtml = false).count()
    assert(withChannel == 1, "simhash channel must find the pair")
    assert(withoutChannel == 0, "with the channel off the raised minhash gate must reject it")
  }

  test("non-default config matrix: XorAll strategy + jaccard verify") {
    import spark.implicits._
    val near = (1 to 40).map(i => s"tok${('a' + i % 26).toChar}$i")
    val rows = Seq(
      ("u1", near.mkString(" ")),
      ("u2", near.updated(5, "tweaked").mkString(" ")), // near-dup of u1
      ("u3", (1 to 40).map(i => s"other${('a' + i % 26).toChar}$i").mkString(" ")))
      .toDF("url", "text")
    val cfg = graft.kernel.GraftConfig.default.copy(
      strategy = graft.kernel.MinHashStrategy.XorAll)
    val opts = PipelineOptions(jaccardVerify = true)
    val out = new DedupPipeline(spark, cfg, opts).run(rows, fromHtml = false)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("u1") == out("u2"), "near-dups must cluster under XorAll+jaccard")
    assert(out("u3") != out("u1"))
    // HashAll strategy smoke: same clustering
    val cfg2 = cfg.copy(strategy = graft.kernel.MinHashStrategy.HashAll)
    val out2 = new DedupPipeline(spark, cfg2).run(rows, fromHtml = false)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out2("u1") == out2("u2") && out2("u3") != out2("u1"))
  }

  test("minhash strategies: 64-slot deterministic signatures, distinct families") {
    val t = graft.kernel.TextNorm.tokenize((1 to 50).map(i => s"w${('a' + i % 26).toChar}$i").mkString(" "))
    val sigs = Seq(graft.kernel.MinHashStrategy.Segmented,
      graft.kernel.MinHashStrategy.XorAll, graft.kernel.MinHashStrategy.HashAll).map { st =>
      val m = new graft.kernel.MinHasher(graft.kernel.GraftConfig.default.copy(strategy = st))
      val s1 = m.signatureBytes(t)
      assert(s1.length == 64)
      assert(s1.toSeq == m.signatureBytes(t).toSeq, s"$st not deterministic")
      assert(graft.kernel.MinHasher.score(s1, s1) == 100.0)
      s1.toSeq
    }
    assert(sigs.distinct.size == 3, "strategies must be distinct hash families")
  }

  test("a 600-member band key over cap 500 pairs none of its members") {
    import spark.implicits._
    // one mega-hot band key (600 members > cap 500) + small cold groups
    val hot = (0 until 600).map(i => (0, 777L, i.toLong))
    val cold = Seq((1, 10L, 1L), (1, 10L, 2L), (1, 10L, 3L),
      (2, 11L, 1L), (2, 11L, 2L), (3, 12L, 5L))
    val bands = (hot ++ cold).toDF("band_id", "band_hash", "doc_id")
    val base = DedupPipeline.pairsFromBands(spark, bands, cap = 500, bandMatchesRequired = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(base.nonEmpty && !base.exists { case (a, b, _) => a >= 100 || b >= 100 },
      "hot-group members must not pair")
  }

  test("mega-hot band groups are dropped under any partitioning") {
    import spark.implicits._
    val cap = 10
    // hot key: 3·cap postings, all in one map partition or spread thin over
    // 16 — the local cap and the reducer drop it either way
    val hot = (0 until 3 * cap).map(i => (5, 99L, i.toLong))
    val cold = Seq((6, 10L, 1L), (6, 10L, 2L))
    for (parts <- Seq(1, 16)) {
      val bands = (hot ++ cold).toDF("band_id", "band_hash", "doc_id").repartition(parts)
      val got = DedupPipeline.pairsFromBands(spark, bands, cap, bandMatchesRequired = 1)
        .select("a", "b").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 2L)), s"parts=$parts: $got")
    }
  }

  test("bandsOf is bandStage ∪ the simhash chunk tables, as a row set") {
    val corpus = CorpusGen.generate(spark, sf = 0.002, seed = 5L)
    for (opts <- Seq(PipelineOptions(), PipelineOptions(simHashChannel = false),
        PipelineOptions(simHashMaxHamming = 3))) {
      val pipe = new DedupPipeline(spark, graft.kernel.GraftConfig.default, opts)
      val sigs = pipe.signatureStage(pipe.extractStage(corpus, fromHtml = true)).toDF()
        .where(col("hashable")).localCheckpoint(eager = true)
      val got = pipe.bandsOf(sigs)
      val ref = BandReference.bands(pipe, opts, sigs)
      assert(got.schema.map(f => (f.name, f.dataType)) == ref.schema.map(f => (f.name, f.dataType)))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "band_id", "band_hash").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      val g = rows(got)
      assert(g.nonEmpty && g == rows(ref), s"bandsOf differs under $opts")
      releaseCheckpoint(sigs)
    }
  }

  test("pairsFromBands is one lazy plan: nothing cached or checkpointed") {
    import spark.implicits._
    val bands = Seq((1, 10L, 1L), (1, 10L, 2L), (2, 11L, 1L), (2, 11L, 2L))
      .toDF("band_id", "band_hash", "doc_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pairs = DedupPipeline.pairsFromBands(spark, bands, cap = 500, bandMatchesRequired = 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before == Set.empty,
      "building the candidate table must not pin anything")
    assert(pairs.as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 2L)))
  }

  test("LongCounter: exact counts through growth, bounded tracking honored") {
    val c = new graft.pipeline.DedupPipeline.LongCounter(4)
    val r = new java.util.Random(3)
    val keys = Array.fill(5000)(r.nextLong())
    val expected = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    for (i <- 0 until 50000) {
      val k = keys(r.nextInt(keys.length))
      expected(k) += 1
      assert(c.incrBounded(k, Int.MaxValue) == expected(k), s"count mismatch for $k")
    }
    assert(c.size == expected.size)
    // bounded: at the cap, NEW keys return -1 and are never tracked,
    // existing keys keep exact counts
    val b = new graft.pipeline.DedupPipeline.LongCounter(4)
    assert(b.incrBounded(1L, 2) == 1 && b.incrBounded(2L, 2) == 1)
    assert(b.incrBounded(3L, 2) == -1 && b.incrBounded(3L, 2) == -1)
    assert(b.incrBounded(1L, 2) == 2 && b.incrBounded(2L, 2) == 2)
  }

  test("map-side stop-band local cap is exactly output-preserving under any partitioning") {
    import spark.implicits._
    // band groups straddling the cap: size 3 (kept), size cap exactly (kept),
    // size cap+1 (dropped), size 3*cap (dropped) — doc ids overlap so kept
    // pairs must also count collisions across groups
    val cap = 10
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    def group(bandId: Int, hash: Long, ids: Seq[Long]): Unit =
      ids.foreach(id => rows += ((bandId, hash, id)))
    group(0, 1L, Seq(1L, 2L, 3L))
    group(1, 2L, (1L to cap.toLong))             // exactly cap → kept
    group(2, 3L, (1L to (cap + 1).toLong))       // cap+1 → stop-band
    group(3, 4L, (1L to (3L * cap)))             // mega-hot → stop-band
    group(4, 5L, Seq(1L, 2L))                    // second collision for (1,2)
    val expected = Set.newBuilder[(Long, Long, Long)]
    // brute-force reference: pairs from groups of size ≤ cap, counted
    val kept = Seq(Seq(1L, 2L, 3L), (1L to cap.toLong).toSeq, Seq(1L, 2L))
    val cnt = scala.collection.mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    for (g <- kept; i <- g.indices; j <- (i + 1) until g.size)
      cnt((math.min(g(i), g(j)), math.max(g(i), g(j)))) += 1
    cnt.foreach { case ((a, b), n) => if (n >= 2) expected += ((a, b, n)) }

    for (parts <- Seq(1, 8)) {
      val bands = rows.toSeq.toDF("band_id", "band_hash", "doc_id").repartition(parts)
      val got = graft.pipeline.DedupPipeline.pairsFromBands(spark, bands, cap, 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected.result(), s"parts=$parts: $got")
    }
  }

  test("channel merge: per-pair max score, OR'd flags") {
    import spark.implicits._
    val lsh = Seq((1L, 2L, 80.0, 3), (3L, 4L, 60.0, 5)).toDF("src", "dst", "score", "hamming")
    val exact = Seq((1L, 2L), (5L, 6L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[((Long, Long), (Double, Int, Int))] =
      df.select("src", "dst", "score", "hamming", "flags").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getInt(3), r.getInt(4))))
        .toSeq.sortBy(_._1)
    val m = rows(ChannelMergeReference.mergeChannels(lsh, exact)).toMap
    assert(m((1L, 2L)) == ((100.0, 0, 3)), "both channels: max score, min hamming, flags 1|2")
    assert(m((3L, 4L)) == ((60.0, 5, 1)))
    assert(m((5L, 6L)) == ((100.0, 0, 2)))
    // the pair producers only ever feed disjoint channels, where the plain
    // union must equal the per-pair merge row for row
    val disjointExact = exact.where(col("src") =!= 1L)
    assert(rows(DedupPipeline.unionDisjointChannels(lsh, disjointExact)) ==
      rows(ChannelMergeReference.mergeChannels(lsh, disjointExact)))
  }

  test("exact and LSH channels are disjoint: (src, dst) unique in batch and probe pairs") {
    import spark.implicits._
    val corpus = CorpusGen.generate(spark, sf = 0.003, seed = 7L).cache()
    val pipe = new DedupPipeline(spark)
    def assertUnique(pairs: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val rows = pairs.select("src", "dst", "flags").as[(Long, Long, Int)].collect()
      assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length,
        s"$what repeats a (src, dst)")
      assert(rows.map(_._3).toSet == Set(DedupPipeline.FlagMinhash, DedupPipeline.FlagExact),
        s"$what must carry pairs of both channels")
    }
    assertUnique(pipe.dupPairs(corpus, fromHtml = true), "dupPairs")
    // probe: a quarter of the corpus lands on the rest, so exact groups and
    // near-dup clusters straddle the old/new boundary
    val sigs = pipe.signatureStage(pipe.extractStage(corpus, fromHtml = true)).toDF().cache()
    val isNew = pmod(xxhash64(col("url")), lit(4)) === 0
    val oldSigs = sigs.where(!isNew)
    assertUnique(pipe.probeParts(oldSigs, sigs.where(isNew), pipe.repBandTable(oldSigs)).pairs,
      "probe")
    sigs.unpersist()
    corpus.unpersist()
  }

  test("dupPairs applies Jaccard verification exactly as run() does") {
    import spark.implicits._
    val near = (1 to 40).map(i => s"tok${('a' + i % 26).toChar}$i")
    val rows = Seq(("u1", near.mkString(" ")), ("u2", near.updated(5, "tweaked").mkString(" ")))
      .toDF("url", "text")
    // (pairs from dupPairs, whether run() clusters the two docs together)
    def answers(opts: PipelineOptions): (Long, Boolean) = {
      val pipe = new DedupPipeline(spark, opts = opts)
      val clusters = pipe.run(rows, fromHtml = false).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      (pipe.dupPairs(rows, fromHtml = false).count(), clusters("u1") == clusters("u2"))
    }
    assert(answers(PipelineOptions(jaccardVerify = true)) == ((1L, true)),
      "one tweaked token stays above the default Jaccard threshold")
    assert(answers(PipelineOptions(jaccardVerify = true, jaccardThreshold = 0.99)) ==
      ((0L, false)), "a 0.99 Jaccard threshold must drop the pair in both surfaces")
  }

  test("run() and dupPairs() release the producer's checkpoints") {
    // a corpus no other test caches: Spark shares cache entries between
    // equal plans, so another test's signature cache would blur the count
    val corpus = CorpusGen.generate(spark, sf = 0.003, seed = 11L).cache()
    corpus.count()
    val pipe = new DedupPipeline(spark)
    val beforePairs = persistedIds
    val pairs = pipe.dupPairs(corpus, fromHtml = true)
    assert((persistedIds -- beforePairs).size == 1, "dupPairs keeps only its returned checkpoint")
    val beforeRun = persistedIds
    val entriesBeforeRun = cachedEntries
    val clusters = pipe.run(corpus, fromHtml = true)
    clusters.count()
    assert((persistedIds -- beforeRun) == checkpointIds(clusters) && checkpointIds(clusters).size == 1,
      "run keeps only its returned assignment checkpoint")
    assert(cachedEntries == entriesBeforeRun, "run leaves no signature table in the CacheManager")
    assert(pairs.count() > 0 && clusters.count() > 0)
    // the operator surface over the same producer
    val docs = corpus.select(xxhash64(col("url")).as("doc_id"), col("text"))
    val beforeMinhash = persistedIds
    val mhPairs = graft.ops.DedupOps.minhashPairs(spark, docs)
    assert((persistedIds -- beforeMinhash).size == 1,
      "minhashPairs keeps only its returned checkpoint")
    assert(mhPairs.count() > 0)
    // the probe: a lazy frame that pins nothing once its output is counted
    val sigs = pipe.signatureStage(pipe.extractStage(corpus, fromHtml = true)).toDF()
      .localCheckpoint(eager = true)
    val oldSigs = sigs.where(pmod(col("doc_id"), lit(4)) =!= 0)
    val newSigs = sigs.where(pmod(col("doc_id"), lit(4)) === 0)
    val beforeProbe = persistedIds
    val probed = pipe.probeParts(oldSigs, newSigs, pipe.repBandTable(oldSigs)).pairs
    assert(probed.count() > 0)
    assert((persistedIds -- beforeProbe).isEmpty, "the probe pins nothing")
    releaseCheckpoint(sigs)
    corpus.unpersist()
  }

  test("doc_id collision audit re-keys colliding urls deterministically") {
    import spark.implicits._
    import graft.pipeline.DocSig
    // a signature table with a manufactured 64-bit id collision, fed to
    // the S1 collapse step signatureStage runs
    def sig(id: Long, url: String) = DocSig(id, url, n_tokens = 1, hashable = false,
      exact_hash = 0L, exact_hash2 = 0L, has_exact = false, sig = Array.emptyByteArray,
      simhash = 0L)
    val sigs = Seq(
      sig(42L, "url-a"), sig(42L, "url-b"),        // collision: same id, distinct urls
      sig(7L, "url-c"), sig(9L, "url-d"), sig(9L, "url-d")) // duplicate url: NOT a collision
      .toDS()
    val pipe = new DedupPipeline(spark)
    val fixed = pipe.collapseById(sigs).collect().map(d => (d.doc_id, d.url))
    val byUrl = fixed.groupBy(_._2).view.mapValues(_.map(_._1).distinct).toMap
    assert(byUrl("url-a").head != byUrl("url-b").head, "collision must be repaired")
    assert(byUrl("url-c").toSeq == Seq(7L), "clean ids stay untouched")
    assert(byUrl("url-d").toSeq == Seq(9L), "duplicate urls are not collisions")
    // deterministic: second run yields identical ids
    val again = pipe.collapseById(sigs).collect().map(d => (d.doc_id, d.url)).sortBy(_._2)
    assert(again.toSeq == fixed.sortBy(_._2).toSeq)
    // the re-keyed ids are resolveIdCollisions' round-1 ids
    for (u <- Seq("url-a", "url-b"))
      assert(byUrl(u).toSeq == Seq(graft.hash.SimHash.hash64(s"doc:1:$u")))
    assert(fixed.length == 4, "the duplicate url collapses to one row")
  }

  test("url-unique audit paths: one-phase repair and the re-keyed-row gate") {
    import spark.implicits._
    import graft.pipeline.DocSig
    val pipe = new DedupPipeline(spark)
    // one-phase repair on url-unique input
    val dirty = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "url")
    val fixed = pipe.resolveIdCollisions(dirty).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byUrl = fixed.groupBy(_._2).view.mapValues(_.map(_._1).distinct).toMap
    assert(byUrl("a").head != byUrl("b").head, "collision must be repaired")
    assert(byUrl("c").toSeq == Seq(2L), "clean ids stay untouched")
    // duplicate urls break the premise LOUDLY: identical urls rehash
    // identically every round, so the loop cannot converge
    val dupUrls = Seq((9L, "d"), (9L, "d")).toDF("doc_id", "url")
    intercept[IllegalStateException] {
      pipe.resolveIdCollisions(dupUrls).collect()
    }
    // the gate: a table with no re-keyed row passes through as is, no repair
    val clean = Seq("a", "b").map(u => (DocSig.idOf(u), u)).toDF("doc_id", "url")
    assert(pipe.auditedIds(clean) eq clean)
    // a second-order collision: url "b" was re-keyed onto the id "c" holds;
    // the gate sees the re-keyed row and the repair loop separates them
    val hit = DocSig.idOf("c")
    val second = Seq((DocSig.idOf("a"), "a"), (hit, "b"), (hit, "c"))
      .toDF("doc_id", "url")
    val audited = pipe.auditedIds(second).collect().map(r => (r.getString(1), r.getLong(0))).toMap
    assert(audited.size == 3 && audited.values.toSet.size == 3, s"ids not unique: $audited")
    assert(audited("a") == DocSig.idOf("a"), "clean rows stay untouched")
  }

  test("run() finishes while every global-pool worker is blocked") {
    import scala.concurrent.{ExecutionContext, Future}
    val rows = spark.createDataFrame(Seq(
      ("u1", (1 to 40).map(i => s"alpha$i").mkString(" ")),
      ("u2", (1 to 40).map(i => s"alpha$i").mkString(" ")),
      ("u3", (1 to 40).map(i => s"beta$i").mkString(" ")))).toDF("url", "text")
    // park a task on every worker of the global pool; the surplus queues
    val release = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = Runtime.getRuntime.availableProcessors()
    for (_ <- 0 until 4 * workers)
      Future { started.incrementAndGet(); release.await() }(ExecutionContext.global)
    try {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (started.get() < workers && System.nanoTime() < deadline) Thread.sleep(20)
      val runner = new java.util.concurrent.FutureTask(() =>
        new DedupPipeline(spark).run(rows, fromHtml = false).collect()
          .map(r => r.getString(0) -> r.getLong(2)).toMap)
      val t = new Thread(runner, "run-under-saturated-pool")
      t.setDaemon(true)
      t.start()
      val out = runner.get(120, java.util.concurrent.TimeUnit.SECONDS)
      assert(out("u1") == out("u2") && out("u3") != out("u1"))
    } finally release.countDown()
  }
}

class DedupJobSpec extends SparkTestBase {
  test("spark-submit entry: end-to-end run, resume, and flag parsing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-job").toString
    val corpus = CorpusGen.generate(spark, sf = 0.002, seed = 42L)
    corpus.write.parquet(s"$tmp/input")

    val args = graft.DedupJob.Args(
      input = s"$tmp/input", output = s"$tmp/out",
      checkpoint = Some(s"$tmp/ckpt"))
    val (docs, clusters) = graft.DedupJob.run(spark, args)
    assert(docs > 0 && clusters > 0 && clusters < docs)

    // resumed re-run: identical output, signature stage reused from ledger
    val sigBefore = new java.io.File(s"$tmp/ckpt").listFiles()
      .filter(_.getName.startsWith("signatures")).map(_.lastModified()).toSeq
    val (docs2, clusters2) = graft.DedupJob.run(spark,
      args.copy(output = s"$tmp/out2"))
    val sigAfter = new java.io.File(s"$tmp/ckpt").listFiles()
      .filter(_.getName.startsWith("signatures")).map(_.lastModified()).toSeq
    assert((docs2, clusters2) == (docs, clusters))
    assert(sigBefore == sigAfter, "checkpointed signatures must be reused")
    val a = spark.read.parquet(s"$tmp/out").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val b = spark.read.parquet(s"$tmp/out2").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(a == b, "resumed job must emit identical clusters")

    // flag parsing: options map through; unknown/missing args error loudly
    val parsed = graft.DedupJob.parse(Array("--input", "i", "--output", "o",
      "--text-only", "--jaccard-verify", "--max-band-group", "99"))
    assert(!parsed.fromHtml && parsed.opts.jaccardVerify &&
      parsed.opts.maxBandGroupSize == 99)
    intercept[IllegalArgumentException] { graft.DedupJob.parse(Array("--input", "x")) }
    intercept[IllegalArgumentException] { graft.DedupJob.parse(Array("--bogus")) }
    // a flag with no value, or a non-integer one, names the flag
    val noValue = intercept[IllegalArgumentException] {
      graft.DedupJob.parse(Array("--input", "i", "--output"))
    }
    assert(noValue.getMessage.contains("--output"))
    val notInt = intercept[IllegalArgumentException] {
      graft.DedupJob.parse(Array("--input", "i", "--output", "o", "--compact-every", "x"))
    }
    assert(notInt.getMessage.contains("--compact-every"))
    val gone = intercept[IllegalArgumentException] {
      graft.DedupJob.parse(Array("--input", "i", "--output", "o", "--hot-band-prefilter"))
    }
    assert(gone.getMessage.contains("unknown argument: --hot-band-prefilter"))
    intercept[IllegalArgumentException] { // incremental without checkpoint
      graft.DedupJob.parse(Array("--input", "i", "--output", "o", "--incremental", "b"))
    }
    intercept[IllegalArgumentException] { // zero would fold on every batch
      graft.DedupJob.parse(Array("--input", "i", "--output", "o",
        "--checkpoint", "c", "--incremental", "b", "--compact-every", "0"))
    }
    intercept[IllegalArgumentException] { // stream needs a checkpoint
      graft.DedupJob.parse(Array("--input", "i", "--output", "o", "--stream"))
    }
    // a stop-band cap below 2 drops every band group: no LSH pair could emit
    for (cap <- Seq("1", "0", "-5"))
      intercept[IllegalArgumentException] {
        graft.DedupJob.parse(Array("--input", "i", "--output", "o", "--max-band-group", cap))
      }
    intercept[IllegalArgumentException] { // negative is not "unbounded"
      graft.DedupJob.parse(Array("--input", "i", "--output", "o", "--checkpoint", "c",
        "--stream", "--max-files-per-trigger", "-1"))
    }
  }

  test("--jaccard-verify with --incremental is a usage error") {
    // the probe has no stored text to verify against
    val e = intercept[IllegalArgumentException] {
      graft.DedupJob.parse(Array("--input", "i", "--output", "o", "--checkpoint", "c",
        "--incremental", "b", "--jaccard-verify"))
    }
    assert(e.getMessage.contains("--jaccard-verify"))
  }

  test("rolling incremental mode: probe-only batches track the full-batch answer") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobinc").toString
    def t(tag: String, tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    // base corpus: one near-dup family + one unrelated doc
    Seq(("b-1", t("ja", -1)), ("b-2", t("ja", 5)), ("b-3", t("qq", -1)))
      .toDF("url", "text").write.parquet(s"$tmp/input")
    // batch 1: near-dup of the base family + a brand-new family; includes a
    // RE-SENT url (b-1) that the M7 sweep must drop
    Seq(("n1-1", t("ja", 9)), ("n1-2", t("kz", -1)), ("b-1", t("ja", -1)))
      .toDF("url", "text").write.parquet(s"$tmp/batch1")
    // batch 2: near-dup of a BATCH-1 doc (proves the index rolled forward)
    // plus an exact copy of a base doc
    Seq(("n2-1", t("kz", 13)), ("n2-2", t("qq", -1)))
      .toDF("url", "text").write.parquet(s"$tmp/batch2")

    def argsFor(batch: String, out: String) = graft.DedupJob.Args(
      input = s"$tmp/input", output = s"$tmp/$out",
      checkpoint = Some(s"$tmp/ckpt"), fromHtml = false,
      incremental = Some(s"$tmp/$batch"))

    val (p1, fresh1) = graft.DedupJob.runIncremental(spark, argsFor("batch1", "out1"))
    assert(fresh1 == 2, "re-sent url must be dropped by the sweep")

    // after batch 1 the base index is committed: delete the raw input — the
    // second step must answer entirely from the persisted index
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$tmp/input"))
    val (p2, fresh2) = graft.DedupJob.runIncremental(spark, argsFor("batch2", "out2"))
    assert(fresh2 == 2)

    // ground truth: full batch over the union at each step
    val pipe = new DedupPipeline(spark)
    def ids(urls: String*): Set[Long] =
      urls.map(u => graft.hash.SimHash.hash64("doc:" + u)).toSet
    val upTo1 = Seq(("b-1", t("ja", -1)), ("b-2", t("ja", 5)), ("b-3", t("qq", -1)),
      ("n1-1", t("ja", 9)), ("n1-2", t("kz", -1)))
    val all = upTo1 ++ Seq(("n2-1", t("kz", 13)), ("n2-2", t("qq", -1)))
    val pairs1Truth = pipe.dupPairs(upTo1.toDF("url", "text"), fromHtml = false)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val pairs2Truth = pipe.dupPairs(all.toDF("url", "text"), fromHtml = false)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val got1 = spark.read.parquet(s"$tmp/out1")
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val got2 = spark.read.parquet(s"$tmp/out2")
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val new1 = ids("n1-1", "n1-2")
    val new2 = ids("n2-1", "n2-2")
    // each step must equal the full batch over ITS union restricted to the batch
    assert(got1 == pairs1Truth.filter(p => new1.contains(p._1) || new1.contains(p._2)),
      s"step1 $got1")
    assert(got2 == pairs2Truth.filter(p => new2.contains(p._1) || new2.contains(p._2)),
      s"step2 $got2")
    // the rolled-forward state found the batch2-vs-batch1 near-dup pair and
    // the exact copy of a base doc
    assert(got2.exists(p => ids("n2-1").contains(p._1) || ids("n2-1").contains(p._2)))
    assert(got2.exists(p => ids("n2-2").contains(p._1) || ids("n2-2").contains(p._2)))

    // CRASH CONSISTENCY: (a) an orphan uncommitted delta dir — the residue
    // of a run that died between writes — must be invisible to later runs.
    // The orphan sits INSIDE the current version namespace with no matching
    // inc_commits marker, so what's exercised is the commit-marker gating
    // (a dir outside v<N>/ would only exercise version-namespacing)
    val sv = s"v${graft.DedupJob.IncStateVersion}"
    Seq((999999L, 0, 123L)).toDF("doc_id", "band_id", "band_hash")
      .write.parquet(s"$tmp/ckpt/inc_bands/$sv/batch=deadorphan")
    // and a PRE-version orphan exercises namespacing invisibility too
    Seq((999998L, 0, 124L)).toDF("doc_id", "band_id", "band_hash")
      .write.parquet(s"$tmp/ckpt/inc_bands/batch=preversion")
    // (b) re-running an already-committed batch must be a no-op on state
    // (fresh=0 via the sweep) and must NOT wipe its earlier deltas
    val (p2b, fresh2b) = graft.DedupJob.runIncremental(spark, argsFor("batch2", "out2b"))
    assert(fresh2b == 0, "rerun of a committed batch must sign nothing")
    assert(p2b == 0)
    // (c) a further batch over the (orphan-polluted, rerun) state still
    // matches the full-batch ground truth on the grown union
    Seq(("n3-1", t("kz", 21))).toDF("url", "text").write.parquet(s"$tmp/batch3")
    val (_, fresh3) = graft.DedupJob.runIncremental(spark, argsFor("batch3", "out3"))
    assert(fresh3 == 1)
    val all3 = all ++ Seq(("n3-1", t("kz", 21)))
    val pairs3Truth = pipe.dupPairs(all3.toDF("url", "text"), fromHtml = false)
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val got3 = spark.read.parquet(s"$tmp/out3")
      .select("src", "dst").as[(Long, Long)].collect().toSet
    val new3 = ids("n3-1")
    assert(got3 == pairs3Truth.filter(p => new3.contains(p._1) || new3.contains(p._2)),
      s"step3 $got3")

    // (d) DETECTABLE orphan gating: an uncommitted inc_sigs delta claiming
    // url "n4-1" sits in the v2 namespace; if the commit-marker gate failed
    // to hide it, the M7 sweep would see the url as already-signed and drop
    // the real n4-1 from batch4 (fresh=0). Invisible orphan → fresh=1.
    spark.read.parquet(s"$tmp/ckpt/inc_sigs/$sv/batch=${committedBatchIds(tmp, sv).head}")
      .limit(1)
      .withColumn("url", lit("n4-1"))
      .withColumn("doc_id", lit(424242L))
      .write.parquet(s"$tmp/ckpt/inc_sigs/$sv/batch=deadorphan")
    Seq(("n4-1", t("zz", -1))).toDF("url", "text").write.parquet(s"$tmp/batch4")
    val (_, fresh4) = graft.DedupJob.runIncremental(spark, argsFor("batch4", "out4"))
    assert(fresh4 == 1,
      "uncommitted v2 inc_sigs orphan leaked into the M7 sweep (commit gate broken)")
  }

  private def committedBatchIds(tmp: String, sv: String): Seq[String] =
    new java.io.File(s"$tmp/ckpt/inc_commits/$sv").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq.sorted // drop local-FS .crc sidecars

  test("delta compaction: folded state answers identically and bounds probed dirs") {
    import spark.implicits._
    val sv = s"v${graft.DedupJob.IncStateVersion}"
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    def t(tag: String, tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    Seq(("b-1", t("ja", -1)), ("b-2", t("ja", 5)), ("b-3", t("qq", -1)))
      .toDF("url", "text").write.parquet(s"$tmp/input")
    Seq(("n1-1", t("ja", 9)), ("n1-2", t("kz", -1)))
      .toDF("url", "text").write.parquet(s"$tmp/batch1")
    Seq(("n2-1", t("kz", 13)), ("n2-2", t("qq", -1)))
      .toDF("url", "text").write.parquet(s"$tmp/batch2")
    Seq(("n3-1", t("kz", 21))).toDF("url", "text").write.parquet(s"$tmp/batch3")
    Seq(("n4-1", t("ja", 17)), ("n4-2", t("ww", -1)))
      .toDF("url", "text").write.parquet(s"$tmp/batch4")
    Seq(("n5-1", t("ww", 5))).toDF("url", "text").write.parquet(s"$tmp/batch5")

    // two parallel states over the SAME batch files: compacting every 2
    // deltas vs never (the uncompacted union is the reference semantics,
    // itself verified against full-batch truth by the rolling test above)
    def argsFor(ckpt: String, batch: Int, every: Int) = graft.DedupJob.Args(
      input = s"$tmp/input", output = s"$tmp/$ckpt-out$batch",
      checkpoint = Some(s"$tmp/$ckpt"), fromHtml = false,
      incremental = Some(s"$tmp/batch$batch"), compactEvery = every)
    def pairsOf(ckpt: String, batch: Int): Set[(Long, Long)] =
      spark.read.parquet(s"$tmp/$ckpt-out$batch")
        .select("src", "dst").as[(Long, Long)].collect().toSet
    def deltaDirs(ckpt: String): Seq[String] = {
      val d = new java.io.File(s"$tmp/$ckpt/inc_sigs/$sv")
      if (!d.exists()) Seq.empty
      else d.listFiles().map(_.getName).filter(_.startsWith("batch=")).toSeq
    }
    def run(batch: Int): (Long, Long) = {
      val u = graft.DedupJob.runIncremental(spark, argsFor("cu", batch, 1000))
      val c = graft.DedupJob.runIncremental(spark, argsFor("cc", batch, 2))
      assert(pairsOf("cc", batch) == pairsOf("cu", batch),
        s"batch $batch: compacted pairs diverge from uncompacted")
      assert(c == u, s"batch $batch: (pairs, fresh) diverge: $c vs $u")
      c
    }

    run(1)
    assert(deltaDirs("cc").size == 1 && !new java.io.File(s"$tmp/cc/inc_base").exists(),
      "one delta, below the fold trigger")
    run(2) // second delta trips compactEvery=2 → fold into gen=1
    assert(new java.io.File(s"$tmp/cc/inc_base/$sv/gen=1/bands").exists(),
      "generation 1 must exist after the trigger")
    assert(deltaDirs("cc").isEmpty, "folded delta dirs must be cleaned up")

    // post-fold, the raw input and the build ledger must never be touched:
    // destroy both for the compacted state and keep probing
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$tmp/input"))
    new java.io.File(s"$tmp/cc").listFiles()
      .filter(_.getName.startsWith("dedup_"))
      .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    // (the uncompacted state still needs its ledger, but not the input —
    // its index was built on batch 1)
    run(3)
    assert(deltaDirs("cc").size == 1, "one unfolded delta after batch 3")
    run(4) // trips the trigger again → gen=2 folding batches 3+4
    assert(new java.io.File(s"$tmp/cc/inc_base/$sv/gen=2/bands").exists())
    assert(deltaDirs("cc").isEmpty)
    // the gen marker carries the CUMULATIVE folded list
    val folded2 = java.nio.file.Files.readString(
      java.nio.file.Path.of(s"$tmp/cc/inc_base_commits/$sv/2"))
      .linesIterator.filter(_.nonEmpty).size
    assert(folded2 == 4, s"gen 2 must list all four folded batches, got $folded2")

    // crash-consistency: an orphan gen dir with NO marker (a fold that died
    // mid-write) must be invisible
    Seq((999999L, 0, 123L)).toDF("doc_id", "band_id", "band_hash")
      .write.parquet(s"$tmp/cc/inc_base/$sv/gen=99/bands")
    Seq((999999L, "orphan")).toDF("doc_id", "url")
      .write.parquet(s"$tmp/cc/inc_base/$sv/gen=99/sigs")
    run(5)

    // a re-sent already-folded batch: recognized via the retained commit
    // marker, swept to zero fresh docs, no state rewrite
    val (p2b, fresh2b) = graft.DedupJob.runIncremental(spark, argsFor("cc", 2, 2))
    assert(fresh2b == 0 && p2b == 0, "re-sent folded batch must be a no-op")
    assert(deltaDirs("cc").size == 1, "re-send must not write new deltas")

    // a crashed fold's temp marker (non-integer name, possibly truncated
    // content) must be invisible to latestGen — only the renamed final
    // marker commits a generation
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(s"$tmp/cc/inc_base_commits/$sv/3.tmp"), "gar")
    val (p5b, fresh5b) = graft.DedupJob.runIncremental(spark, argsFor("cc", 5, 2))
    assert(fresh5b == 0 && p5b == 0, "tmp marker must not change state reads")

    // a config/kernel change after a fold must fail LOUDLY (the gen
    // short-circuit never consults the ledger; without the stamp check it
    // would silently probe incomparable signatures)
    val badArgs = argsFor("cc", 5, 2).copy(
      opts = graft.pipeline.PipelineOptions(simHashMaxHamming = 3))
    val e = intercept[IllegalArgumentException] {
      graft.DedupJob.runIncremental(spark, badArgs)
    }
    assert(e.getMessage.contains("different config"),
      s"stamp mismatch must name the cause: ${e.getMessage}")
  }
}

class ResumeSpec extends SparkTestBase {
  test("ledger resume: stage outputs are reused and final output identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ledger").toString
    val corpus = CorpusGen.generate(spark, sf = 0.002, seed = 42L).cache()
    val cfg = graft.kernel.GraftConfig.default
    def mkPipe() = new DedupPipeline(spark, cfg,
      ledger = Some(new graft.ledger.Ledger(spark, tmp, cfg.configHash)))

    val first = mkPipe().run(corpus, fromHtml = true).orderBy("url").collect()
    // simulate a mid-run kill: later stages lost, early stages checkpointed
    def rmStage(prefix: String): Unit =
      new java.io.File(tmp).listFiles().filter(_.getName.startsWith(prefix))
        .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
    rmStage("components")
    rmStage("verified")

    val sigDirsBefore = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("signatures")).map(f => f.lastModified()).toSeq
    val second = mkPipe().run(corpus, fromHtml = true).orderBy("url").collect()
    val sigDirsAfter = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("signatures")).map(f => f.lastModified()).toSeq

    assert(sigDirsBefore == sigDirsAfter, "signatures stage must be reused, not recomputed")
    assert(first.map(r => (r.getString(0), r.getLong(2))).toSeq ==
      second.map(r => (r.getString(0), r.getLong(2))).toSeq,
      "resumed run must produce identical clusters")

    val l = new graft.ledger.Ledger(spark, tmp, cfg.configHash)
    assert(l.metrics().exists(_.count() > 0), "metrics table must have stage rows")
    // per-partition lineage: every materialized stage contributes one row per
    // output partition, and their per-stage sums equal the summary row counts
    val lineage = l.partitionMetrics().getOrElse(fail("no _lineage table"))
    assert(lineage.count() > 0, "lineage table must have per-partition rows")
    val mismatch = lineage.groupBy("stage", "descriptor", "run_id")
      .agg(org.apache.spark.sql.functions.sum("rows").as("lrows"))
      .join(l.metrics().get.select(col("stage"), col("descriptor"), col("run_id"), col("rows")),
        Seq("stage", "descriptor", "run_id"))
      .where(col("lrows") =!= col("rows"))
    assert(mismatch.count() == 0, "per-partition lineage must sum to the stage row counts")
  }

  test("metrics retention sweep keeps the newest runs; swept ledger still resumes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sweep").toString
    val corpus = CorpusGen.generate(spark, sf = 0.002, seed = 42L).cache()
    val cfg = graft.kernel.GraftConfig.default
    def mkPipe() = new DedupPipeline(spark, cfg,
      ledger = Some(new graft.ledger.Ledger(spark, tmp, cfg.configHash)))
    def rmStage(prefix: String): Unit =
      new java.io.File(tmp).listFiles().filter(_.getName.startsWith(prefix))
        .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))

    val expected = mkPipe().run(corpus, fromHtml = true).orderBy("url").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    // accumulate metrics runs: force the tail stages to recompute 4 times
    for (_ <- 1 to 4) {
      rmStage("components"); rmStage("verified")
      mkPipe().run(corpus, fromHtml = true).count()
    }
    val l = new graft.ledger.Ledger(spark, tmp, cfg.configHash)
    val before = l.metrics().get.groupBy("stage", "descriptor").count()
      .agg(org.apache.spark.sql.functions.max("count")).collect()(0).getLong(0)
    assert(before >= 5, s"setup must accumulate runs, got max $before per stage")

    l.sweepMetrics(keepRuns = 2)
    val perStage = l.metrics().get.groupBy("stage", "descriptor").count().collect()
    assert(perStage.forall(_.getLong(2) <= 2),
      s"sweep must bound runs per (stage, descriptor): ${perStage.mkString(",")}")
    // lineage swept consistently: no orphan run_ids
    val orphan = l.partitionMetrics().get.select("run_id").distinct()
      .join(l.metrics().get.select("run_id").distinct(), Seq("run_id"), "left_anti")
    assert(orphan.count() == 0, "lineage must not retain swept run_ids")

    // a run whose _metrics summary append FAILED (recordMetrics swallows
    // those) exists only in _lineage — the sweep must key its lineage
    // retention off _lineage's own newest runs too, not _metrics alone
    import org.apache.spark.sql.functions.{lit, current_timestamp}
    val orphanRow = l.partitionMetrics().get.limit(1)
      .withColumn("run_id", lit("lineage-only-run"))
      .withColumn("ts", current_timestamp())
    orphanRow.write.mode("append").parquet(s"$tmp/_lineage")
    l.sweepMetrics(keepRuns = 2)
    assert(l.partitionMetrics().get
      .where(col("run_id") === "lineage-only-run").count() == 1,
      "newest lineage-only run (failed metrics append) must survive the sweep")

    // stage dirs untouched by the metrics sweep → full resume, identical output
    val resumed = mkPipe().run(corpus, fromHtml = true).orderBy("url").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(resumed == expected, "swept ledger must resume to identical clusters")

    // non-ledger dirs that merely contain a dash must NOT be swept: the
    // root is a user-supplied checkpoint dir and deletion is gated on the
    // exact <stage>-<16-hex> descriptor shape
    val bystander = new java.io.File(tmp, "corpus-v1")
    bystander.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(bystander.toString, "data.txt"), "keep me")
    val bystander2 = new java.io.File(tmp, "run-2026-08-18")
    bystander2.mkdirs()

    // stale-stage sweep: keeping 1 dir per stage name still recomputes fine
    l.sweepStaleStages(keepPerStage = 1)
    assert(bystander.exists() && bystander2.exists(),
      "sweepStaleStages must not delete non-descriptor dirs under the root")
    rmStage("components") // mixed state: some dirs swept, some deleted
    val after = mkPipe().run(corpus, fromHtml = true).orderBy("url").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSeq
    assert(after == expected, "recompute after stage sweep must be identical")
  }
}
