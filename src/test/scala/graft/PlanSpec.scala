package graft

import org.apache.spark.sql.functions._
import graft.expr.SignatureScore

/** Physical-plan hygiene: the properties that matter at 100 TB — pushdown,
  * codegen spans, broadcast choice — asserted on the actual plans.
  */
class PlanSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("keyset pagination predicate pushes to the parquet scan") {
    val plan = graft.ops.RelOps.keysetPage(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThan(o_totalprice") || plan.contains("Or(GreaterThan")),
      s"keyset filter must reach the scan:\n$plan")
  }

  test("column pruning: token count scan reads only doc_id and text") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), graft.ops.TextOps.tokenCount(col("text")).as("n"))
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(scan.contains(readSchema), s"expected pruned ReadSchema, got:\n$scan")
  }

  test("signature score expression participates in whole-stage codegen") {
    val df = spark.range(8)
      .select(encode(concat(lit("x"), col("id")), "UTF-8").as("a"),
        encode(concat(lit("y"), col("id")), "UTF-8").as("b"))
      .select(SignatureScore.sigScore(col("a"), col("b")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a whole-stage-codegen span
    assert(plan.contains("*(1) Project [sig_score"), s"no codegen span:\n$plan")
    assert(!plan.contains("BatchEvalUDF") && !plan.contains("ScalaUDF"),
      "score must not be a UDF")
    // "x0" vs "y0": second byte equal, first differs → 50.0
    assert(df.collect().forall(_.getDouble(0) == 50.0))
  }

  test("native cosine participates in whole-stage codegen (ANN scoring path)") {
    val df = spark.range(8)
      .select(array((0 until 4).map(i => (col("id") + i).cast("float")): _*).as("a"),
        array((0 until 4).map(i => (col("id") * 2 + i).cast("float")): _*).as("b"))
      .select(graft.ops.AnnOps.cosine(col("a"), col("b")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_cosine"), s"no codegen span:\n$plan")
    assert(!plan.contains("BatchEvalUDF") && !plan.toLowerCase.contains("scalaudf"),
      s"cosine must not be a UDF:\n$plan")
    assert(df.collect().forall(r => r.getDouble(0) > 0.0 && r.getDouble(0) <= 1.0))
  }

  test("verify stage plan: no UDF fence around the candidate joins") {
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val sigs = pipe.signatureStage(
      Seq(("u1", (1 to 40).map("w" + _).mkString(" ")),
        ("u2", (1 to 40).map("w" + _).mkString(" "))).toDF("url", "text"))
      .toDF().where(col("hashable"))
    val cand = Seq((1L, 2L, 2L)).toDF("a", "b", "n_bands")
    val plan = pipe.verifyStage(cand,
      sigs.withColumn("doc_id", when(col("url") === "u1", 1L).otherwise(2L)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("sig_score"), s"native expression missing:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in verify hot path:\n$plan")
  }

  test("paragraph dedup election is a partial aggregate, never a window sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ops.DedupOps.paragraphDedupFlags(docs)
      .queryExecution.executedPlan.toString
    // first-seen keeps = groupBy(para_hash).min(struct) — map-side combine
    // bounds a mega-hot boilerplate paragraph at O(map partitions) rows
    assert(plan.contains("partial_min") || plan.contains("partial min"),
      s"election must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"a window over para_hash would sort the hot key's full copy list in one task:\n$plan")
  }

  test("gopher quality battery: HOF metrics carry no UDF fence") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ops.TextOps.gopherQuality(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in quality battery:\n$plan")
    assert(plan.contains("partial_max") || plan.contains("partial max"),
      s"top-bigram count must partial-aggregate:\n$plan")
  }

  test("canonical url is a pure expression inside one codegen span") {
    // non-literal input — a literal constant-folds to a LocalTableScan
    val df = spark.range(2)
      .select(concat(lit("https://WWW.A.com:443/x"), col("id").cast("string"),
        lit("/?utm_source=1&q=2")).as("u"))
      .select(graft.ops.TextOps.canonicalUrl(col("u")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"no codegen span:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in url canon:\n$plan")
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("https://a.com/x0?q=2", "https://a.com/x1?q=2"))
  }

  test("pii redaction and split assignment are pure codegen — no UDF, no shuffle") {
    val base = spark.range(3)
      .select(col("id").as("doc_id"),
        concat(lit("mail a@b.com ip 1.2.3.4 x"), col("id").cast("string")).as("text"))
    val pii = graft.ops.TextOps.piiRedact(base)
    val piiPlan = pii.queryExecution.executedPlan.toString
    assert(piiPlan.contains("*(1) Project"), s"no codegen span:\n$piiPlan")
    assert(!piiPlan.toLowerCase.contains("scalaudf"), s"UDF in pii redact:\n$piiPlan")
    assert(!piiPlan.contains("Exchange"), s"shuffle in pii redact:\n$piiPlan")
    val split = graft.ops.TextOps.splitAssign(base, "doc_id")
    val splitPlan = split.queryExecution.executedPlan.toString
    assert(splitPlan.contains("*(1) Project"), s"no codegen span:\n$splitPlan")
    assert(!splitPlan.toLowerCase.contains("scalaudf") && !splitPlan.contains("Exchange"),
      s"split assignment must be a pure expression:\n$splitPlan")
  }

  test("c4 battery is shuffle-free; repetition battery is UDF-free with one explode") {
    val docs = spark.range(3).select(col("id").as("doc_id"),
      concat(lit("A good sentence sits here.\nshort\n"), col("id").cast("string")).as("text"))
    val c4 = graft.ops.TextOps.c4Rules(docs, Seq("badword"))
    val c4Plan = c4.queryExecution.executedPlan.toString
    assert(!c4Plan.toLowerCase.contains("scalaudf"), s"UDF in c4 rules:\n$c4Plan")
    assert(!c4Plan.contains("Exchange"), s"shuffle in c4 rules:\n$c4Plan")
    val rep = graft.ops.TextOps.repetitionSignals(docs)
    val repPlan = rep.queryExecution.executedPlan.toString
    assert(!repPlan.toLowerCase.contains("scalaudf"), s"UDF in repetition:\n$repPlan")
    assert(repPlan.split("Generate explode").length - 1 <= 1,
      s"repetition must build all n-grams in ONE explode:\n$repPlan")
  }

  test("url filter (literal blocklist) is a pure expression; table variant broadcasts") {
    val urls = spark.range(4)
      .select(col("id").as("doc_id"),
        concat(lit("https://h"), col("id").cast("string"), lit(".example.com/p")).as("url"))
    val lit0 = graft.ops.TextOps.urlFilter(urls, "url", Seq("bad.com"), Seq("casino"))
    val litPlan = lit0.queryExecution.executedPlan.toString
    assert(!litPlan.toLowerCase.contains("scalaudf") && !litPlan.contains("Exchange"),
      s"literal url filter must not shuffle:\n$litPlan")
    import spark.implicits._
    val tbl = graft.ops.TextOps.urlFilterTable(urls, "url",
      Seq("bad.com").toDF("domain"), Seq("casino"))
    val tblPlan = tbl.queryExecution.executedPlan.toString
    assert(tblPlan.contains("BroadcastHashJoin") || tblPlan.contains("BroadcastExchange"),
      s"small blocklist should broadcast:\n$tblPlan")
  }

  test("native fingerprint participates in whole-stage codegen (no regex, no UDF)") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.ops.TextOps.fingerprint(col("text")).as("fp"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [normalized_md5"), s"no codegen span:\n$plan")
    assert(!plan.contains("regexp_replace") && !plan.toLowerCase.contains("scalaudf"),
      s"fingerprint must be the native single-pass expression:\n$plan")
  }

  test("cursor-codec keyset predicate pushes to the parquet scan") {
    import graft.ops.SearchCursor._
    val cur = encode(Cursor(
      Seq(SortField("o_totalprice", ascending = true), SortField("o_orderkey", ascending = true)),
      Seq("d", "l"), Seq("5000.0", "0"), forward = true))
    val plan = spark.read.parquet(s"$sf/orders.parquet")
      .where(predicate(decode(cur)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      s"decoded cursor predicate must reach the scan:\n$plan")
  }

  test("six-weighting rollup plan is UDF-free with partial aggregation") {
    val m = Seq((0L, 1L, 10L, 1L, 100L, 90, false, true, true))
      .toDF("sample_id", "function_id", "binweight", "matched_family_id",
        "matched_sample_id", "score", "is_library", "is_pichash", "is_minhash")
    val plan = graft.ops.MatchReportOps.sixWeightingRollup(m)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in rollup:\n$plan")
    assert(plan.contains("partial"), s"aggregates must partial-combine map-side:\n$plan")
  }

  test("cross-weighted matrix plan is UDF-free with partial aggregation") {
    val m = Seq((1L, 1L, 10L, 1L, 100L, 90, false, true, true))
      .toDF("sample_id", "function_id", "binweight", "matched_family_id",
        "matched_sample_id", "score", "is_library", "is_pichash", "is_minhash")
    val plan = graft.ops.MatchReportOps.crossCompareWeighted(m)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in cross matrix:\n$plan")
    assert(plan.contains("partial"), s"aggregates must partial-combine map-side:\n$plan")
  }

  test("probe with a persisted band table never re-aggregates the old corpus") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val tmp = java.nio.file.Files.createTempDirectory("graft-probeplan").toString
    def t(tag: String, tweakAt: Int): String =
      (1 to 40).map(w => if (w == tweakAt) "tweaked" else s"$tag${('a' + w % 26).toChar}$w")
        .mkString(" ")
    val pipe = new graft.pipeline.DedupPipeline(spark)
    val oldDocs = Seq(("o1", t("pp", -1)), ("o2", t("pp", 5)), ("o3", t("rr", -1)))
      .toDF("url", "text")
    pipe.signatureStage(pipe.extractStage(oldDocs, fromHtml = false)).toDF()
      .write.parquet(s"$tmp/sigs")
    val oldSigs = spark.read.parquet(s"$tmp/sigs")
    pipe.repBandTable(oldSigs).write.parquet(s"$tmp/bands")
    val oldBands = spark.read.parquet(s"$tmp/bands")
    val batch = Seq(("n1", t("pp", 9))).toDF("url", "text")
    val newSigs = pipe.signatureStage(pipe.extractStage(batch, fromHtml = false)).toDF()

    def scansOldSigs(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.contains(s"$tmp/sigs"))
        case _ => false
      }
      case _ => false
    }
    // an Aggregate over the old signature table with no Join beneath it is a
    // corpus-wide re-aggregation — the persisted-index probe must restrict
    // the old side to batch-touched groups (a semi join) BEFORE any groupBy.
    // Asserted on each DedupPipeline.ProbeParts member and on the full pair plan: the
    // candidate stage is lazy, so the pair plan shows every subtree.
    def corpusWideAggs(df: org.apache.spark.sql.DataFrame): Seq[Aggregate] =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate if scansOldSigs(a.child) &&
          a.child.collectFirst { case j: Join => j }.isEmpty => a
      }
    val indexed = pipe.probeParts(oldSigs, newSigs, oldBands)
    for ((df, what) <- Seq(indexed.candInput -> "candInput",
        indexed.exactEdges -> "exactEdges", indexed.newBands -> "newBands",
        indexed.replacedReps -> "replacedReps"))
      assert(corpusWideAggs(df).isEmpty,
        s"indexed probe re-aggregates the old corpus in $what:\n" +
          df.queryExecution.optimizedPlan)
    val probed = indexed.pairs
    assert(corpusWideAggs(probed).isEmpty,
      s"indexed probe re-aggregates the old corpus:\n${probed.queryExecution.optimizedPlan}")
    // positive control: an unpersisted rep-only band table still carries the
    // corpus-wide exact-group aggregation, proving this test detects it, in
    // the parts and in the full pair plan
    val unpersisted = pipe.probeParts(oldSigs, newSigs, pipe.repBandTable(oldSigs))
    for (df <- Seq(unpersisted.candInput, unpersisted.pairs))
      assert(corpusWideAggs(df).nonEmpty,
        "detector lost sight of repBandTable's corpus-wide aggregation")
  }

  test("small dimension joins broadcast (Catalyst stats/AQE)") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val nation = spark.read.parquet(s"$sf/customer.parquet")
    val j = orders.join(nation, orders("o_custkey") === nation("c_custkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"small dim should broadcast:\n$plan")
  }
}
