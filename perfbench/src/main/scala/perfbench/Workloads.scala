package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DedupJob, SparkEntry}
import graft.cluster.ConnectedComponents
import graft.corpus.CorpusGen.Doc
import graft.kernel.GraftConfig
import graft.pipeline.{DedupPipeline, PipelineOptions}

/** Outcome of one closed-loop operation: its wall time, the documents it
  * processed and whether its output passed the benchmark's check.
  */
final case class Op(seconds: Double, docs: Long, ok: Boolean, detail: String = "")

/** One benchmark workload. `setup` builds the inputs (it is timed and run
  * several times); `warmup` runs once before timing; `op` is one timed
  * operation; `quality` gives (pair recall, pair precision); `traced`
  * produces the per-layer metrics.
  */
trait Workload {
  def setup(): Unit
  def warmup(): Op
  def op(i: Int): Op
  def quality: (Double, Double)
  def texts: Seq[String]
  def traced(tr: Tracer): (Map[String, Double], Op)
}

object Workload {
  /** BENCHMARK.json runs batch_dup and ops_suite. batch_longdoc and
    * incremental run by hand only (see README.md); incremental's layers
    * are also traced inside batch_dup's traced run.
    */
  val Names = Seq("batch_dup", "ops_suite", "batch_longdoc", "incremental")

  /** Where a run keeps its generated inputs. */
  def inputDir(out: Path, name: String, seed: Long): Path = out.resolve(s"in/$name-$seed")

  def apply(name: String, spark: SparkSession, seed: Long, out: Path): Workload = {
    val dir = inputDir(out, name, seed)
    name match {
      case "batch_dup" => new Batch(spark, dir,
        Inputs.dupCorpus(spark, seed, clustered = 4000, singletons = 1200, megaSize = 120),
        Some(new Incremental(spark, seed, dir.resolve("incremental"))))
      case "batch_longdoc" => new Batch(spark, dir, Inputs.longDocs(spark, seed, n = 2000), None)
      case "incremental" => new Incremental(spark, seed, dir)
      case "ops_suite" => new OpsSuite(spark, seed, dir)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (known: ${Names.mkString(", ")})")
    }
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      Files.copy(src, to.resolve(from.relativize(src).toString))
    } finally s.close()
  }

  /** Cached RDD blocks still held by the session (a leak across calls). */
  def leftoverBlocks(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toDouble).sum

  /** Collects (detected cluster, gold cluster, gold duplicate member) rows. */
  def goldRows(rows: DataFrame): Seq[(Long, Long, Boolean)] =
    rows.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))

  /** The batch pipeline decomposed into its public stage calls, one span
    * each, with a materialization barrier after every stage so each span
    * holds exactly its own stage's work. Mirrors `DedupPipeline.run`.
    * Returns the per-layer counts and the number of clusters.
    */
  def stagedPipeline(spark: SparkSession, tr: Tracer, input: DataFrame,
      fromHtml: Boolean): (Map[String, Double], Long) = {
    val cfg = GraftConfig.default
    val opts = PipelineOptions()
    val pipe = new DedupPipeline(spark, cfg, opts)
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df; df.cache() }
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val clusters = tr.span("pipeline") {
      val sigs0 = tr.span("pipeline.extract_sign") {
        val s = keep(pipe.signatureStage(pipe.extractStage(input, fromHtml)).toDF())
        m("pipeline.extract_sign.rows") = s.count().toDouble
        s
      }
      m("pipeline.extract_sign.hashable") = sigs0.where(col("hashable")).count().toDouble
      val sigs = sigs0.where(col("hashable"))
      val (reps, exactEdges) = tr.span("pipeline.exact") {
        val r = keep(pipe.exactGroups(sigs0)._1)
        val e = keep(pipe.exactGroups(sigs0, Some(r))._2)
        m("pipeline.exact.groups") = r.count().toDouble
        m("pipeline.exact.edges") = e.count().toDouble
        (r, e)
      }
      val bands = tr.span("pipeline.bands") {
        val b = keep(pipe.repBandTable(sigs0, Some(reps)))
        m("pipeline.bands.postings") = b.count().toDouble
        b
      }
      // the candidate funnel counted from the band table itself: raw
      // band-sharing pairs of groups within the stop-band cap, and the
      // over-cap keys the candidate stage drops
      val cap = opts.maxBandGroupSize
      val groups = bands.groupBy("band_id", "band_hash").agg(count(lit(1)).as("m"))
      val f = groups.agg(
        coalesce(sum(when(col("m") <= cap, col("m") * (col("m") - 1) / 2)), lit(0)).cast("long"),
        count(when(col("m") > cap, true))).collect()(0)
      m("pipeline.candidates.raw_pairs") = f.getLong(0).toDouble
      m("pipeline.candidates.hot_keys") = f.getLong(1).toDouble
      val cands = tr.span("pipeline.candidates") {
        val c = keep(pipe.candidateStage(bands, cfg.bandMatchesRequired))
        m("pipeline.candidates.pairs") = c.count().toDouble
        c
      }
      val verified = tr.span("pipeline.verify") {
        val v = keep(pipe.verifyStage(cands, sigs))
        m("pipeline.verify.pairs") = v.count().toDouble
        v
      }
      m("pipeline.verify.yield") =
        if (m("pipeline.candidates.pairs") == 0) 0.0
        else m("pipeline.verify.pairs") / m("pipeline.candidates.pairs")
      val comps = tr.span("cluster.cc") {
        val edges = keep(exactEdges.select("src", "dst")
          .unionByName(verified.select(col("a").as("src"), col("b").as("dst"))))
        m("cluster.cc.edges") = edges.count().toDouble
        val c = keep(ConnectedComponents.run(edges))
        m("cluster.cc.components") = c.select("component").distinct().count().toDouble
        m("cluster.cc.iterations") = ConnectedComponents.lastRunIterations.toDouble
        c
      }
      tr.span("pipeline.assign") {
        val a = keep(sigs0.select("url", "doc_id")
          .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
          .select("url", "doc_id", "cluster_id"))
        a.count()
        a.select("cluster_id").distinct().count()
      }
    }
    cached.foreach(_.unpersist(blocking = true))
    (m.toMap, clusters)
  }
}

import Workload._

/** Batch dedup: `DedupPipeline.run(fromHtml = true)` on a generated corpus,
  * output written as parquet like the production job does. When
  * `incremental` is given, the traced run also traces one round of drops.
  */
final class Batch(spark: SparkSession, dir: Path, gen: => DataFrame,
    incremental: Option[Incremental]) extends Workload {
  private val corpusPath = dir.resolve("corpus").toString
  private val outPath = dir.resolve("out").toString
  private var nDocs = 0L
  private var lastScore: Option[Stats.PairScore] = None
  private var lastClusters = 0L

  def setup(): Unit = {
    gen.write.mode("overwrite").parquet(corpusPath)
    nDocs = spark.read.parquet(corpusPath).select("url").distinct().count()
  }

  private def runOnce(): Double = timed {
    new DedupPipeline(spark).run(spark.read.parquet(corpusPath), fromHtml = true)
      .write.mode("overwrite").parquet(outPath)
  }._2

  /** Pair recall ≥ 0.99 against the gold clusters, and one row per url. */
  private def check(seconds: Double): Op = {
    val gold = spark.read.parquet(corpusPath).select("url", "cluster_gold", "is_dup_member")
      .dropDuplicates("url")
    val rows = goldRows(spark.read.parquet(outPath).join(gold, "url")
      .select("cluster_id", "cluster_gold", "is_dup_member"))
    val s = Stats.pairScore(rows)
    lastScore = Some(s)
    lastClusters = rows.map(_._1).distinct.size.toLong
    val ok = s.recall >= 0.99 && rows.length == nDocs
    Op(seconds, nDocs, ok,
      f"recall=${s.recall}%.4f precision=${s.precision}%.4f rows=${rows.length}/$nDocs")
  }

  def warmup(): Op = check(runOnce())
  def op(i: Int): Op = check(runOnce())
  def quality: (Double, Double) = lastScore.map(s => (s.recall, s.precision)).getOrElse((0.0, 0.0))
  def texts: Seq[String] = spark.read.parquet(corpusPath).select("text").limit(3000)
    .collect().map(_.getString(0)).toSeq

  def traced(tr: Tracer): (Map[String, Double], Op) = {
    val untraced = check(runOnce())
    val leftover = leftoverBlocks(spark)
    val ((m, clusters), tracedS) = timed(stagedPipeline(spark, tr,
      spark.read.parquet(corpusPath), fromHtml = true))
    val ok = untraced.ok && clusters == lastClusters
    val batch = untraced.copy(ok = ok,
      detail = s"${untraced.detail} clusters=$lastClusters traced=$clusters")
    val (im, iops) = incremental.map { inc =>
      inc.setup()
      val first = inc.warmup()
      val (m, ops) = inc.tracedRound(tr)
      (m, first +: ops)
    }.getOrElse((Map.empty[String, Double], Nil))
    val all = batch +: iops
    (m ++ im ++ Map("pipeline.leftover_rdd_blocks" -> leftover,
      "trace.overhead" -> tracedS / untraced.seconds),
      batch.copy(ok = all.forall(_.ok), detail = all.map(_.detail).mkString("; ")))
  }
}

/** Rolling incremental dedup: `DedupJob.runIncremental` over a sequence of
  * drops against a persisted base index, with delta compaction on. Every
  * round restores the pristine index copy made at set-up, so each round
  * times real ingest work, not the skip path of an already-committed batch.
  */
final class Incremental(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  val DropSize = 400
  val Drops = 2 // drops per round; the last one of each round compacts
  private val basePath = dir.resolve("base").toString
  private val pristine = dir.resolve("index-pristine")
  private val work = dir.resolve("index")
  private def dropPath(d: Int) = dir.resolve(s"drop-$d").toString
  private val outPath = dir.resolve("out").toString
  private var base = IndexedSeq.empty[Doc]
  private var drops = IndexedSeq.empty[Seq[Doc]]
  private var gold = Map.empty[Long, Long] // doc_id → gold cluster
  private var scores = Vector.empty[(Double, Double)]

  private def docId(url: String) = graft.hash.SimHash.hash64("doc:" + url)

  def setup(): Unit = {
    import spark.implicits._
    Inputs.dupCorpus(spark, seed, clustered = 2000, singletons = 600, megaSize = 60)
      .write.mode("overwrite").parquet(basePath)
    base = spark.read.parquet(basePath).as[Doc].collect().toIndexedSeq.sortBy(_.url)
    drops = (0 until Drops).map(d => Inputs.drop(seed, d, base, DropSize))
    drops.zipWithIndex.foreach { case (ds, d) =>
      ds.toDF().repartition(2).write.mode("overwrite").parquet(dropPath(d))
    }
    gold = (base ++ drops.flatten).map(d => docId(d.url) -> d.cluster_gold).toMap
    deleteTree(pristine)
    val cfg = GraftConfig.default
    graft.ops.MaintenanceOps.buildOrLoadDedupIndex(spark, spark.read.parquet(basePath),
      new graft.ledger.Ledger(spark, pristine.toString, cfg.configHash),
      corpusTag = basePath, cfg, PipelineOptions(), fromHtml = true)
  }

  private def restore(): Unit = { deleteTree(work); copyTree(pristine, work) }

  private def args(d: Int) = DedupJob.Args(input = basePath, output = outPath,
    checkpoint = Some(work.toString), incremental = Some(dropPath(d)), compactEvery = Drops)

  /** Every url of a drop is new, so all of them must be signed; the output
    * pairs are scored against gold: recall over drop pages whose gold
    * cluster has another page already ingested, precision over all pairs.
    * `around` wraps the engine call alone (the traced round puts a span there).
    */
  private def runDrop(d: Int, known: Set[Long],
      around: (=> (Long, Long)) => (Long, Long) = f => f): Op = {
    val ((_, fresh), s) = timed(around(DedupJob.runIncremental(spark, args(d))))
    val pairs = spark.read.parquet(outPath).select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dropIds = drops(d).map(x => docId(x.url)).toSet
    val byGold = (known ++ dropIds).groupBy(gold)
    val needy = dropIds.filter(i => byGold(gold(i)).size > 1)
    val found = pairs.flatMap { case (a, b) => if (gold(a) == gold(b)) Seq(a, b) else Nil }.toSet
    val recall = if (needy.isEmpty) 1.0 else needy.count(found).toDouble / needy.size
    val precision =
      if (pairs.isEmpty) 1.0
      else pairs.count { case (a, b) => gold(a) == gold(b) }.toDouble / pairs.length
    scores :+= ((recall, precision))
    Op(s, DropSize, fresh == drops(d).size,
      f"drop=$d fresh=$fresh/${drops(d).size} pairs=${pairs.length} recall=$recall%.4f")
  }

  private def baseIds = base.map(x => docId(x.url)).toSet
  private var known = Set.empty[Long]
  private var next = 0

  /** Restores the pristine index and feeds drop 0, then checks its pairs
    * against the batch answer on base ∪ drop restricted to the drop.
    */
  def warmup(): Op = {
    restore()
    val op0 = runDrop(0, baseIds)
    val pipe = new DedupPipeline(spark)
    val sigs = pipe.signatureStage(pipe.extractStage(baseAndDrop0, fromHtml = true)).toDF().cache()
    val dropIds = drops(0).map(x => docId(x.url)).toSet
    def norm(a: Long, b: Long) = (math.min(a, b), math.max(a, b))
    val expected = pipe.dupPairsFromSigs(sigs).select("src", "dst").collect()
      .map(r => norm(r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => dropIds(a) || dropIds(b) }.toSet
    sigs.unpersist()
    val got = spark.read.parquet(outPath).select("src", "dst").collect()
      .map(r => norm(r.getLong(0), r.getLong(1))).toSet
    scores = Vector.empty
    op0.copy(ok = op0.ok && got == expected,
      detail = s"${op0.detail} batch-equal=${got == expected} (${got.size}/${expected.size})")
  }

  private def baseAndDrop0 = spark.read.parquet(basePath).select("url", "html")
    .unionByName(spark.read.parquet(dropPath(0)).select("url", "html"))

  /** Drop `next` of the current round; a round starts from the pristine index. */
  private def step(around: (=> (Long, Long)) => (Long, Long) = f => f): Op = {
    if (next == 0) { restore(); known = baseIds }
    val r = runDrop(next, known, around)
    known ++= drops(next).map(x => docId(x.url))
    next = (next + 1) % Drops
    r
  }

  def op(i: Int): Op = step()

  def quality: (Double, Double) =
    (Stats.median(scores.map(_._1)), Stats.median(scores.map(_._2)))
  def texts: Seq[String] = drops.flatten.map(_.text)

  private def compactions: Int = {
    val p = work.resolve(s"inc_base_commits/v${DedupJob.IncStateVersion}")
    if (!Files.exists(p)) 0
    else {
      // generation markers are named by their number; skip checksum files
      val s = Files.list(p)
      try s.filter(_.getFileName.toString.toIntOption.isDefined).count().toInt
      finally s.close()
    }
  }

  /** One round of drops, each engine call in an `incremental.drop` span. */
  def tracedRound(tr: Tracer): (Map[String, Double], Seq[Op]) = {
    next = 0
    val ops = Seq.fill(Drops)(step(f => tr.span("incremental.drop")(f)))
    val spans = tr.spansNamed("incremental.drop")
    (Map("incremental.drop.s" -> Stats.median(spans.map(_.durationNs / 1e9)),
      "storage.bytes_written" -> spans.map(s => tr.countersOf(s)("output_bytes")).sum,
      "ledger.compactions" -> compactions.toDouble), ops)
  }

  /** One untraced round, one traced round, then the staged pipeline on
    * base ∪ drop 0.
    */
  def traced(tr: Tracer): (Map[String, Double], Op) = {
    next = 0
    val untraced = Seq.fill(Drops)(step())
    val (m, tracedOps) = tracedRound(tr)
    val (pm, _) = stagedPipeline(spark, tr, baseAndDrop0, fromHtml = true)
    val all = untraced ++ tracedOps
    (m ++ pm + ("trace.overhead" ->
      Stats.median(tracedOps.map(_.seconds)) / Stats.median(untraced.map(_.seconds))),
      Op(Stats.median(untraced.map(_.seconds)), DropSize, all.forall(_.ok),
        all.map(_.detail).mkString("; ")))
  }
}

/** The 23 timed operator leaves of `graft.Bench`, run in one session in a
  * fixed order; one operation is one pass over all of them.
  */
object OpsSuite {
  val Leaves = Seq("q_exact_dedup_groups", "q_token_count", "q_agg_rollup",
    "q_top_per_group", "q_argmax", "q_minhash_pairs", "q_minhash_clusters",
    "q_ngram_jaccard", "q_ann_lsh", "q_semdedup", "q_simhash", "q_event_window",
    "q_para_dedup", "q_gopher_quality", "q_dedup_spans", "q_decontam", "q_subword",
    "q_url_canon", "q_pii_redact", "q_url_filter", "q_split_assign", "q_repetition",
    "q_c4_rules")
}

final class OpsSuite(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import OpsSuite.Leaves
  private val tables = dir.toString
  private var nDocs = 0L
  private var firstCounts = Map.empty[String, Long]
  private var score: Option[Stats.PairScore] = None

  def setup(): Unit = {
    Inputs.writeOpsTables(spark, seed, tables, clustered = 900, singletons = 300,
      vectors = 1000, orders = 10000)
    nDocs = spark.read.parquet(s"$tables/documents.parquet").count()
  }

  private def pass(span: String => (=> Long) => Long): (Map[String, Long], Double) = timed {
    Leaves.map { q =>
      q -> span(q)(SparkEntry.queries(q)(spark, tables).count())
    }.toMap
  }

  private val plain: String => (=> Long) => Long = _ => f => f

  /** Every pass must reproduce the first pass's row counts. */
  private def check(counts: Map[String, Long], seconds: Double): Op = {
    val diff = Leaves.filter(q => counts(q) != firstCounts(q))
    Op(seconds, nDocs, diff.isEmpty,
      if (diff.isEmpty) "" else s"row counts changed: ${diff.mkString(",")}")
  }

  def warmup(): Op = {
    val (counts, s) = pass(plain)
    firstCounts = counts
    val clusters = SparkEntry.queries("q_minhash_clusters")(spark, tables)
    val gold = spark.read.parquet(s"$tables/gold.parquet")
    val sc = Stats.pairScore(goldRows(clusters.join(gold, "doc_id")
      .select("cluster_doc_id", "cluster_gold", "is_dup_member")))
    score = Some(sc)
    Op(s, nDocs, sc.recall >= 0.99, f"recall=${sc.recall}%.4f precision=${sc.precision}%.4f")
  }

  def op(i: Int): Op = { val (c, s) = pass(plain); check(c, s) }
  def quality: (Double, Double) = score.map(s => (s.recall, s.precision)).getOrElse((0.0, 0.0))
  def texts: Seq[String] = spark.read.parquet(s"$tables/documents.parquet").select("text")
    .collect().map(_.getString(0)).toSeq

  def traced(tr: Tracer): (Map[String, Double], Op) = {
    val untraced = op(0)
    val leftover = leftoverBlocks(spark)
    val (counts, tracedS) = pass(q => f => tr.span(s"ops.$q")(f))
    val traced = check(counts, tracedS)
    val perQuery = Leaves.map(q => s"ops.$q.s" -> tr.spansNamed(s"ops.$q").head.durationNs / 1e9)
    val docs = spark.read.parquet(s"$tables/documents.parquet")
      .select(concat(lit("id-"), col("doc_id").cast("string")).as("url"), col("text"))
    val (pm, _) = stagedPipeline(spark, tr, docs, fromHtml = false)
    (perQuery.toMap ++ pm ++ Map("ops.leftover_rdd_blocks" -> leftover,
      "trace.overhead" -> tracedS / untraced.seconds),
      untraced.copy(ok = untraced.ok && traced.ok, detail = untraced.detail + traced.detail))
  }
}
