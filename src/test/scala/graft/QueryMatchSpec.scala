package graft

import org.apache.spark.sql.functions._
import graft.ops.{QueryMatch, MaintenanceOps}

class QueryMatchSpec extends SparkTestBase {
  import spark.implicits._

  // alphabetic suffixes: digit runs are wildcarded by token normalization,
  // so numeric suffixes would all collapse to one token
  private def w(prefix: String, i: Int): String =
    prefix + ('a' + i % 26).toChar + ('a' + (i / 26) % 26).toChar

  private val corpusRows = Seq(
    ("u1", (1 to 50).map(i => w("alpha", i)).mkString(" ")),
    ("u2", (1 to 50).map(i => if (i % 20 == 0) "tweak" else w("alpha", i)).mkString(" ")),
    ("u3", (1 to 50).map(i => w("beta", i)).mkString(" ")),
    ("u4", "tiny"))

  /** Top-k matches through the production query path: the corpus index
    * built on a fresh temp ledger, then probed. */
  private def indexedMatches(docs: org.apache.spark.sql.DataFrame, query: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-qm").toString
    val cfg = graft.kernel.GraftConfig.default
    val ledger = new graft.ledger.Ledger(spark, tmp, cfg.configHash)
    val (sigs, bands) = QueryMatch.buildOrLoadIndex(spark, docs, ledger, corpusTag = "t", cfg)
    QueryMatch.topMatchesFromIndex(spark, sigs, bands, query, k)
  }

  test("query match finds near-identical corpus doc, ranked first") {
    val docs = corpusRows.toDF("url", "text")
    val query = (1 to 50).map(i => w("alpha", i)).mkString(" ")
    val out = indexedMatches(docs, query, k = 5).collect()
    assert(out.nonEmpty)
    assert(out.head.getString(0) == "u1")
    assert(out.head.getDouble(2) == 100.0)
    assert(out.head.getBoolean(4), "identical text must flag exact_match")
    // near-dup u2 matches too, unrelated u3 must not
    assert(out.map(_.getString(0)).contains("u2"))
    assert(!out.map(_.getString(0)).contains("u3"))
  }

  test("unhashable query returns empty WITH the result schema") {
    val docs = corpusRows.toDF("url", "text")
    val out = indexedMatches(docs, "too short", k = 5)
    assert(out.isEmpty)
    // the result contract must hold even for the empty case — a schema-less
    // frame would crash callers only on short queries (data-dependent)
    assert(out.columns.toSeq == Seq("url", "doc_id", "score", "n_bands", "exact_match"))
    assert(out.select("url", "score").count() == 0) // selectable
  }

  test("index probe: persisted sig/band tables answer queries without re-signing") {
    val docs = corpusRows.toDF("url", "text")
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-qidx").toString
    // persist the index once (the Ledger-stage analog)
    val sigsLive = pipe.signatureStage(pipe.extractStage(docs, fromHtml = false))
      .toDF().where(col("hashable"))
    sigsLive.write.parquet(s"$tmp/sigs")
    pipe.bandStage(sigsLive).write.parquet(s"$tmp/bands")

    val sigs = spark.read.parquet(s"$tmp/sigs")
    val bands = spark.read.parquet(s"$tmp/bands")
    val query = (1 to 50).map(i => w("alpha", i)).mkString(" ")
    val out = QueryMatch.topMatchesFromIndex(spark, sigs, bands, query, k = 5)
    // the probe plan must be pure relational over the parquet index — no
    // typed signature pass (no object serialization boundary) anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && !plan.contains("MapPartitions"),
      s"probe must not re-sign the corpus:\n$plan")
    val rows = out.collect()
    assert(rows.nonEmpty && rows.head.getString(0) == "u1" && rows.head.getDouble(2) == 100.0)
    // identical results to the ledger-built index
    val direct = indexedMatches(docs, query, k = 5).collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      direct.map(r => (r.getString(0), r.getDouble(2))).toSeq)
  }

  test("ledger index: second query never touches the corpus (no re-sign job)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-qledger").toString
    val cfg = graft.kernel.GraftConfig.default
    val ledger = new graft.ledger.Ledger(spark, tmp, cfg.configHash)
    val docs = corpusRows.toDF("url", "text")
    val query = (1 to 50).map(i => w("alpha", i)).mkString(" ")

    val (s1, b1) = QueryMatch.buildOrLoadIndex(spark, docs, ledger, corpusTag = "t", cfg)
    val first = QueryMatch.topMatchesFromIndex(spark, s1, b1, query, k = 5).collect()
    assert(first.nonEmpty && first.head.getString(0) == "u1")

    // poisoned corpus: ANY evaluation of it explodes. With the index
    // committed, buildOrLoadIndex must resume from parquet and the probe
    // must run zero jobs over the corpus — this is the reference behavior
    // (MatcherQuery probes the stored band index, never re-signs).
    val boom = udf(() => { sys.error("corpus was re-signed"); "" })
    val poisoned = spark.range(1).select(boom().as("url"), boom().as("text"))
    val (s2, b2) = QueryMatch.buildOrLoadIndex(spark, poisoned, ledger, corpusTag = "t", cfg)
    val second = QueryMatch.topMatchesFromIndex(spark, s2, b2, query, k = 5).collect()
    assert(second.map(r => (r.getString(0), r.getDouble(2))).toSeq ==
      first.map(r => (r.getString(0), r.getDouble(2))).toSeq,
      "resumed index must answer identically")
  }
}

class MaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  test("incremental sweep signs only unseen docs") {
    val input = Seq(("u1", "a"), ("u2", "b"), ("u3", "c")).toDF("url", "text")
    val signatures = Seq(("u1", 1L), ("u2", 2L)).toDF("url", "doc_id")
    val fresh = MaintenanceOps.newDocs(input, signatures)
    assert(fresh.select("url").as[String].collect().toSeq == Seq("u3"))
  }

  test("incremental dedup equals the batch answer restricted to new-doc pairs") {
    import org.apache.spark.sql.functions.col
    def gen(tag: String, n: Int, tweak: Boolean): Seq[(String, String)] =
      (1 to n).map { i =>
        val words = (1 to 40).map(w => s"$tag${('a' + (w + i / 3) % 26).toChar}$w")
        val t = if (tweak && i % 3 == 0) words.updated(5, "tweaked") else words
        (s"$tag-$i", t.mkString(" "))
      }
    // old corpus: 9 docs in 3 near-dup families; new batch: near-dups of
    // family "fa" plus a fresh family
    val oldDocs = (gen("fa", 3, tweak = true) ++ gen("fb", 3, tweak = true) ++
      gen("fc", 3, tweak = true)).toDF("url", "text")
    val newDocs = (gen("fa", 2, tweak = false).map { case (u, t) => (u + "-new", t) } ++
      gen("fd", 2, tweak = true).map { case (u, t) => (u + "-new", t) }).toDF("url", "text")

    val pipe = new graft.pipeline.DedupPipeline(spark)
    val oldSigs = pipe.signatureStage(pipe.extractStage(oldDocs, fromHtml = false)).toDF()
    val newSigs = pipe.signatureStage(pipe.extractStage(newDocs, fromHtml = false)).toDF()
    val incPairs = pipe.probeParts(oldSigs, newSigs, pipe.repBandTable(oldSigs)).pairs
    val newIdSet = newSigs.select("doc_id").as[Long].collect().toSet
    assert(newIdSet.size == 4)

    // ground truth: full batch over the union, restricted to new-touching
    val batch = pipe.dupPairs(oldDocs.unionByName(newDocs), fromHtml = false)
      .select("src", "dst").as[(Long, Long)].collect().toSet
      .filter(p => newIdSet.contains(p._1) || newIdSet.contains(p._2))
    val inc = incPairs.select("src", "dst").as[(Long, Long)].collect().toSet
    assert(inc == batch, s"incremental $inc vs batch $batch")
    assert(inc.nonEmpty, "new near-dups of the old family must be found")
    // no pair without a new endpoint leaks through
    assert(inc.forall(p => newIdSet.contains(p._1) || newIdSet.contains(p._2)))
  }

  test("incremental dedup: exact dups across the batch boundary, incl. rep re-election") {
    def id(url: String): Long = graft.hash.SimHash.hash64("doc:" + url)
    def text(tag: String): String =
      (1 to 40).map(w => s"$tag${('a' + w % 26).toChar}$w").mkString(" ")
    // old exact group {o1, o2}; the new copies are chosen so one gets a
    // doc_id BELOW the old rep (forces rep re-election to the new doc) and
    // one ABOVE (rep stays old) — both directions must match the batch
    val oldUrls = Seq("xg-o1", "xg-o2")
    val oldRep = oldUrls.map(id).min
    val below = (1 to 1000).map(i => s"xg-cp$i").find(u => id(u) < oldRep).get
    val above = (1 to 1000).map(i => s"xg-cp$i").find(u => id(u) > oldRep).get
    val oldDocs = (oldUrls.map(u => (u, text("xg"))) :+ ("yy-1", text("yy")))
      .toDF("url", "text")
    val newDocs = Seq((below, text("xg")), (above, text("xg")), ("zz-1", text("zz")))
      .toDF("url", "text")

    val pipe = new graft.pipeline.DedupPipeline(spark)
    val oldSigs = pipe.signatureStage(pipe.extractStage(oldDocs, fromHtml = false)).toDF()
    val newSigs = pipe.signatureStage(pipe.extractStage(newDocs, fromHtml = false)).toDF()
    val incPairs = pipe.probeParts(oldSigs, newSigs, pipe.repBandTable(oldSigs)).pairs
    val newIdSet = newSigs.select("doc_id").as[Long].collect().toSet

    val batch = pipe.dupPairs(oldDocs.unionByName(newDocs), fromHtml = false)
      .select("src", "dst").as[(Long, Long)].collect().toSet
      .filter(p => newIdSet.contains(p._1) || newIdSet.contains(p._2))
    val inc = incPairs.select("src", "dst").as[(Long, Long)].collect().toSet
    assert(inc == batch, s"incremental $inc vs batch $batch")
    // the re-elected rep (the new `below` doc) must carry the group's edges
    assert(inc.exists(p => p._1 == id(below) || p._2 == id(below)))
  }

  test("probe incremental: candidate volume scales with the batch, not the corpus") {
    // old corpus: 120 docs in 40 near-dup triples (lots of old×old pairs);
    // new batch: 2 unrelated docs. Family tags are ALPHABETIC — digit runs
    // are wildcarded by token normalization and would collapse families
    def fam(tag: String, member: Int): String =
      (1 to 40).map { w =>
        val t = s"$tag${('a' + w % 26).toChar}$w"
        if (w == member * 7) t + "x" else t // distinct near-dup members
      }.mkString(" ")
    def tg(f: Int) = s"of${('a' + f % 26).toChar}${('a' + (f / 26) % 26).toChar}"
    val oldDocs = (1 to 40).flatMap(f => (1 to 3).map(i =>
      (s"${tg(f)}-$i", fam(tg(f), i)))).toDF("url", "text")
    val newDocs = Seq(("nw-1", fam("nwq", 1)), ("nw-2", fam("nwz", 2))).toDF("url", "text")

    val pipe = new graft.pipeline.DedupPipeline(spark)
    val oldSigs = pipe.signatureStage(pipe.extractStage(oldDocs, fromHtml = false)).toDF().cache()
    val newSigs = pipe.signatureStage(pipe.extractStage(newDocs, fromHtml = false)).toDF().cache()

    val probe = pipe.probeParts(oldSigs, newSigs, pipe.repBandTable(oldSigs))
    val candRows = probe.candInput.count()
    // full-union band table volume (what the old full-union shuffle carried)
    val noOld = oldSigs.limit(0)
    val unionBands = pipe.probeParts(noOld, oldSigs.unionByName(newSigs), pipe.repBandTable(noOld))
      .candInput.count()
    // every posting of the 2 new docs (26 keys each: 20 minhash + 6 simhash)
    // plus at most incidental old collisions — nowhere near the union table
    assert(candRows <= 26 * 2 * 3,
      s"candidate input $candRows must be ~the new batch's postings")
    assert(unionBands > candRows * 10,
      s"union band table $unionBands vs probed input $candRows: probe must not scale with corpus")
    // and the pair output over this disjoint batch is empty, like the batch answer
    assert(probe.pairs.isEmpty)
  }

  test("incremental from ledger index: old corpus is never re-signed on resume") {
    def t(tag: String, tweak: Boolean): String =
      (1 to 40).map(w => if (tweak && w == 5) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    val oldDocs = Seq(("io-1", t("io", false)), ("io-2", t("io", true)),
      ("ip-1", t("ip", false))).toDF("url", "text")
    val newDocs = Seq(("in-1", t("io", false))).toDF("url", "text") // near/exact of io family
    val tmp = java.nio.file.Files.createTempDirectory("graft-incidx").toString
    val cfg = graft.kernel.GraftConfig.default
    val ledger = new graft.ledger.Ledger(spark, tmp, cfg.configHash)
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val newSigs = pipe.signatureStage(pipe.extractStage(newDocs, fromHtml = false)).toDF()
    // `old` stays by-name down to the index build
    def probed(old: => org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val (oldSigs, oldBands) =
        MaintenanceOps.buildOrLoadDedupIndex(spark, old, ledger, corpusTag = "inc")
      pipe.probeParts(oldSigs, newSigs, oldBands).pairs
        .select("src", "dst").as[(Long, Long)].collect().toSet
    }

    // build the index once
    val got1 = probed(oldDocs)
    assert(got1.nonEmpty)

    // poisoned old corpus: any evaluation explodes — the committed ledger
    // index must answer without touching it
    val boom = udf(() => { sys.error("old corpus was re-signed"); "" })
    val poisoned = spark.range(1).select(boom().as("url"), boom().as("text"))
    assert(probed(poisoned) == got1)

    // ground truth: probe ≡ batch restricted to new
    val newIds = newSigs.select("doc_id").as[Long].collect().toSet
    val batch = pipe.dupPairs(oldDocs.unionByName(newDocs), fromHtml = false)
      .select("src", "dst").as[(Long, Long)].collect().toSet
      .filter(p => newIds.contains(p._1) || newIds.contains(p._2))
    assert(got1 == batch, s"fromIndex $got1 vs batch $batch")
  }

  test("band-index rebuild reproduces the PROBE-flavor band table exactly") {
    // incl. an exact-dup pair: the rebuild must be rep-only + simhash chunk
    // tables — the flavor probeParts contractually requires
    val t1 = (1 to 40).map(i => s"ra${('a' + i % 26).toChar}$i").mkString(" ")
    val docs = Seq(
      ("u1", t1), ("u1-copy", t1),
      ("u2", (1 to 40).map(i => s"rb${('a' + i % 26).toChar}$i").mkString(" ")))
      .toDF("url", "text")
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val sigs = pipe.signatureStage(pipe.extractStage(docs, fromHtml = false)).toDF().cache()
    def key(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "band_id", "band_hash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val direct = key(pipe.repBandTable(sigs))
    val rebuilt = key(MaintenanceOps.rebuildBandIndex(spark, sigs))
    assert(rebuilt == direct)
    // rep-only: the exact-dup pair contributes exactly ONE banded doc
    val dupIds = sigs.where(col("url").startsWith("u1")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rebuilt.map(_._1).toSet.intersect(dupIds).size == 1)
  }

  test("deleting an exact-group rep re-elects the survivor into the band table") {
    val t1 = (1 to 40).map(i => s"dd${('a' + i % 26).toChar}$i").mkString(" ")
    val docs = Seq(("d1", t1), ("d2", t1),
      ("d3", (1 to 40).map(i => s"zz${('a' + i % 26).toChar}$i").mkString(" ")))
      .toDF("url", "text")
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val sigs = pipe.signatureStage(pipe.extractStage(docs, fromHtml = false)).toDF().cache()
    val bands = pipe.repBandTable(sigs).cache()
    val ids = sigs.where(col("url").isin("d1", "d2")).select("url", "doc_id")
      .as[(String, Long)].collect().toMap
    val rep = math.min(ids("d1"), ids("d2"))
    val survivor = math.max(ids("d1"), ids("d2"))
    val (s2, b2) = MaintenanceOps.deleteDocs(sigs, bands, Seq(rep))
    // ground truth: probe flavor rebuilt from the post-delete signatures
    def key(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "band_id", "band_hash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(key(b2) == key(pipe.repBandTable(s2)),
      "post-delete band table must equal a fresh probe-flavor build")
    assert(key(b2).exists(_._1 == survivor), "survivor must be banded after the rep delete")
  }

  test("rename cascades consistently through signature and REP-ONLY band tables") {
    // the persisted band table bands only each exact group's MIN-doc_id
    // representative, and a rename re-keys ids — so the cascade must
    // RE-ELECT reps, in both directions: (A) the renamed doc takes over as
    // rep, (B) the renamed doc was the rep and hands off. Both scenarios
    // are forced deterministically by choosing rename targets whose hashed
    // ids sort below/above the other group member's.
    def t(tag: String): String =
      (1 to 40).map(w => s"$tag${('a' + w % 26).toChar}$w").mkString(" ")
    val docs = Seq(("rn-1", t("rn")), ("rn-2", t("rn")), ("rq-1", t("rq")))
      .toDF("url", "text")
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val sigs = pipe.signatureStage(pipe.extractStage(docs, fromHtml = false)).toDF().cache()
    val bands = pipe.repBandTable(sigs).cache()
    def id(u: String) = graft.hash.SimHash.hash64("doc:" + u)
    def pickName(pred: Long => Boolean): String =
      Iterator.from(0).map(i => s"renamed/rn-$i").find(n => pred(id(n))).get
    val ids = sigs.where(col("url").startsWith("rn-"))
      .select("url", "doc_id").as[(String, Long)].collect().toMap
    val repUrl = if (ids("rn-1") < ids("rn-2")) "rn-1" else "rn-2"
    val nonRepUrl = if (repUrl == "rn-1") "rn-2" else "rn-1"

    def check(renames: Map[String, String], label: String): Unit = {
      val (sigs2, bands2) = MaintenanceOps.renameDocs(spark, sigs, bands, renames)
      val renamedDocs = Seq(
        (renames.getOrElse("rn-1", "rn-1"), t("rn")),
        (renames.getOrElse("rn-2", "rn-2"), t("rn")),
        (renames.getOrElse("rq-1", "rq-1"), t("rq"))).toDF("url", "text")
      val sigsRef = pipe.signatureStage(pipe.extractStage(renamedDocs, fromHtml = false))
        .toDF().cache()
      val bandsRef = pipe.repBandTable(sigsRef)
      def sigKey(df: org.apache.spark.sql.DataFrame) =
        df.select("url", "doc_id", "exact_hash", "simhash").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
      assert(sigKey(sigs2) == sigKey(sigsRef),
        s"$label: renamed signature table must equal a fresh run")
      def bandKey(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "band_id", "band_hash").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
      assert(bandKey(bands2) == bandKey(bandsRef),
        s"$label: renamed band table must equal a fresh run")
    }

    // (A) non-rep takes over: new id BELOW the current rep's
    check(Map(nonRepUrl -> pickName(_ < ids(repUrl)), "rq-1" -> "renamed/rq-q"),
      "takeover")
    // (B) rep hands off: rep renamed to an id ABOVE the other member's
    check(Map(repUrl -> pickName(_ > ids(nonRepUrl))), "handoff")
    // (C) no rep change: rename that keeps the ordering
    check(Map(repUrl -> pickName(_ < ids(nonRepUrl))), "no-change")

    // renaming onto an existing url is a merge, not a rename → rejected
    intercept[IllegalArgumentException] {
      MaintenanceOps.renameDocs(spark, sigs, bands, Map("rn-1" -> "rn-2"))
    }
  }

  test("vs-group matching equals the unscoped match filtered to the group") {
    def t(tag: String, tweakAt: Int): String =
      (1 to 50).map(w => if (w == tweakAt) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    // four docs matching the query at different strengths, one unrelated
    val docs = Seq(("g1", t("gm", -1)), ("g2", t("gm", 5)), ("g3", t("gm", 9)),
      ("g4", t("gm", 13)), ("g5", t("zz", -1))).toDF("url", "text")
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val sigs = pipe.signatureStage(pipe.extractStage(docs, fromHtml = false))
      .toDF().where(col("hashable")).cache()
    val bands = pipe.bandStage(sigs).cache()
    val query = t("gm", -1)

    def ids(urls: String*) = sigs.where(col("url").isin(urls: _*)).select("doc_id")
    val group = ids("g2", "g4", "g5")
    val scoped = QueryMatch.topMatchesVsGroup(spark, sigs, bands, query, group, k = 2)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    // ground truth: unscoped with no effective limit, filtered to the group, re-topped
    val groupUrls = Set("g2", "g4", "g5")
    val unscoped = QueryMatch.topMatchesFromIndex(spark, sigs, bands, query, k = 100)
      .collect().map(r => (r.getString(0), r.getDouble(2)))
      .filter(r => groupUrls.contains(r._1)).take(2).toSeq
    assert(scoped == unscoped, s"scoped $scoped vs filtered-unscoped $unscoped")
    assert(scoped.map(_._1).toSet.subsetOf(groupUrls))
    assert(scoped.nonEmpty && scoped.head._1 == "g2", "nearest in-group doc must rank first")
  }

  test("delete/rename on an EMPTY band table does not trip the channel check") {
    // a legitimately simhash-on index with no hashable docs yet has an
    // empty band table — the channel-consistency inference has no evidence
    // and must not spuriously reject the default opts
    val docs = Seq(("e1", "x"), ("e2", "y")).toDF("url", "text") // too short to hash
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val sigs = pipe.signatureStage(pipe.extractStage(docs, fromHtml = false)).toDF()
    val bands = pipe.repBandTable(sigs)
    assert(bands.count() == 0, "premise: no hashable docs → empty band table")
    val someId = sigs.select("doc_id").as[Long].head()
    val (s2, b2) = MaintenanceOps.deleteDocs(sigs, bands, Seq(someId))
    assert(s2.count() == 1 && b2.count() == 0)
    val (s3, _) = MaintenanceOps.renameDocs(spark, sigs, bands, Map("e1" -> "e1-renamed"))
    assert(s3.where(col("url") === "e1-renamed").count() == 1)
  }

  test("delete cascades through signature and band tables") {
    def t(tag: String): String =
      (1 to 40).map(w => s"$tag${('a' + w % 26).toChar}$w").mkString(" ")
    val docs = Seq(("dc-1", t("dc")), ("dc-2", t("dq"))).toDF("url", "text")
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val sigs = pipe.signatureStage(pipe.extractStage(docs, fromHtml = false)).toDF()
    val bands = pipe.repBandTable(sigs)
    val ids = sigs.select("url", "doc_id").as[(String, Long)].collect().toMap
    val (s2, b2) = MaintenanceOps.deleteDocs(sigs, bands, Seq(ids("dc-1")))
    assert(s2.select("doc_id").as[Long].collect().toSeq == Seq(ids("dc-2")))
    assert(b2.select("doc_id").as[Long].distinct().collect().toSeq == Seq(ids("dc-2")))
    assert(b2.count() == bands.where(col("doc_id") === ids("dc-2")).count(),
      "the survivor keeps every posting")
  }

  test("paragraph hashes: one row per non-empty paragraph, stable") {
    val docs = Seq((1L, "para one here\n\npara two here\n\n\n\n"),
      (2L, "para one here")).toDF("doc_id", "text")
    val ph = MaintenanceOps.paragraphHashes(docs).collect()
    assert(ph.count(_.getLong(0) == 1L) == 2)
    // identical paragraph content hashes identically across docs
    val p1 = ph.filter(r => r.getLong(0) == 1L && r.getInt(1) == 0).head.getString(2)
    val p2 = ph.filter(r => r.getLong(0) == 2L).head.getString(2)
    assert(p1 == p2)
  }

  test("pair diff: exact shared paragraphs and fuzzy near-matches") {
    val docs = Seq(
      (1L, "shared paragraph content here\n\nunique to one entirely"),
      (2L, "shared paragraph content here\n\nunique to one entirelX"))
      .toDF("doc_id", "text")
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val d = MaintenanceOps.pairDiff(spark, docs, 1L, 2L).collect()
    assert((persisted -- before).isEmpty, "pairDiff must not pin a cached table")
    assert(d.exists(r => r.getBoolean(2) && r.getInt(3) == 0))
    assert(d.exists(r => !r.getBoolean(2) && r.getInt(3) == 1), "1-char edit found by levenshtein")
  }
}
