package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.corpus.CorpusGen
import graft.corpus.CorpusGen.Doc

/** Workload inputs, all derived from the run's seed through the engine's
  * public corpus generator (`CorpusGen.clusterDocs` / `singletonDoc` /
  * `toHtml`). The same seed gives the same inputs.
  */
object Inputs {

  private def ts(i: Long) = new Timestamp(1700000000000L + i * 1000L)

  private def doc(url: String, text: String, gold: Long, isDup: Boolean, i: Long,
      lang: String = "en"): Doc =
    Doc(url, ts(i), CorpusGen.toHtml(text, url).getBytes("UTF-8"), text, lang, gold, isDup)

  /** Deletes one token at a random position of every paragraph longer than
    * four tokens: a near-duplicate that every LSH configuration of the
    * engine is meant to find.
    */
  def mutate(text: String, rng: java.util.Random): String =
    text.split("\n\n", -1).map { p =>
      val t = p.split(" ")
      if (t.length <= 4) p
      else {
        val k = rng.nextInt(t.length)
        (t.take(k) ++ t.drop(k + 1)).mkString(" ")
      }
    }.mkString("\n\n")

  /** Generator ids for the k-th cluster or singleton. `CorpusGen` seeds a
    * `java.util.Random` with `seed * constant + id`, and adjacent Random
    * seeds give nearly equal first draws, so consecutive ids would share one
    * cluster-size class and the corpus size would swing about 3× with the
    * seed. A large odd stride (coprime to the generator's 5/11/37 residue
    * rules) spreads the draws so every seed gets the same mix.
    */
  val Stride = 2654435761L
  def genId(k: Long, offset: Long): Long = offset + k * Stride

  /** Pages from whole clusters, in generator order, until `n` are reached. */
  def clusterPages(seed: Long, n: Int, offset: Long): Seq[Doc] = {
    val out = Vector.newBuilder[Doc]
    var have = 0
    var k = 0L
    while (have < n) {
      val c = CorpusGen.clusterDocs(seed, genId(k, offset))
      out ++= c
      have += c.length
      k += 1
    }
    out.result()
  }

  def singletonPages(seed: Long, n: Int, offset: Long): Seq[Doc] =
    (0 until n).map(k => CorpusGen.singletonDoc(seed, genId(k, offset), 0L))

  /** The standard generator mix at a fixed size: skewed near-duplicate
    * clusters (`clusterPages` docs), singletons of which every fifth carries
    * a shared boilerplate paragraph and some are degenerate, and two mega
    * exact groups of `megaSize` byte-identical pages each.
    */
  def dupCorpus(spark: SparkSession, seed: Long, clustered: Int, singletons: Int,
      megaSize: Int): DataFrame = {
    import spark.implicits._
    val mega = (0 until 2).flatMap { m =>
      val text = CorpusGen.singletonDoc(seed, genId(m, 1L << 40), 0L).text
      (0 until megaSize).map(i =>
        doc(s"https://mega-$m.example.com/copy-$i", text, -1L - m, isDup = true, i))
    }
    (clusterPages(seed, clustered, 0L) ++ singletonPages(seed, singletons, 1L << 41) ++ mega)
      .toDF().repartition(spark.sparkContext.defaultParallelism)
  }

  /** Near-unique pages about five times the standard length: each is five
    * singleton texts joined. Every 25th page has one near-duplicate copy so
    * the verify and cluster paths still see a few true pairs.
    */
  def longDocs(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).flatMap { i =>
      val text = (0 until 5)
        .map(j => CorpusGen.singletonDoc(seed, genId(i * 5 + j, 0L), 0L).text)
        .filter(_.nonEmpty).mkString("\n\n")
      val planted = i % 25 == 0
      val page = doc(s"https://long-$i.example.com/page", text, i, planted, i)
      if (!planted) Seq(page)
      else Seq(page, doc(s"https://long-$i.example.com/copy",
        mutate(text, new java.util.Random(seed * 31L + i)), i, isDup = true, i))
    }.toDF()
  }

  /** One incremental drop of `size` pages with urls no earlier drop or the
    * base uses (the engine skips a url it has already indexed):
    * a fifth re-crawled base content under new urls, a fifth near-duplicate
    * mutations of base pages, the rest fresh clusters and fresh singletons.
    * Gold cluster ids of fresh pages sit above every base id.
    */
  def drop(seed: Long, d: Int, base: IndexedSeq[Doc], size: Int): Seq[Doc] = {
    val rng = new java.util.Random(seed * 9176L + d)
    val nCopy = size / 5
    val recrawled = (0 until nCopy).map { j =>
      val b = base(rng.nextInt(base.length))
      b.copy(url = s"${b.url}?recrawl=$d-$j", is_dup_member = true)
    }
    val mutated = (0 until nCopy).map { j =>
      val b = base(rng.nextInt(base.length))
      doc(s"https://drop-$d.example.org/near-$j", mutate(b.text, rng),
        b.cluster_gold, isDup = true, d * 100000L + j)
    }
    val nFresh = size - 2 * nCopy
    val fresh = (clusterPages(seed, nFresh / 2, (d + 1L) << 42) ++
      singletonPages(seed, nFresh, (d + 1L) << 43)).take(nFresh)
    recrawled ++ mutated ++ fresh
  }

  private val Langs = Vector("en", "en", "en", "de", "fr", "es", "zh")

  /** The operator-suite tables: `documents` (standard generator texts with
    * dense ids), `embeddings` (labelled Gaussian clusters), and
    * TPC-H-shaped `lineitem` / `orders` plus an `events` stream table.
    * The documents' gold clusters are written beside them as `gold`.
    */
  def writeOpsTables(spark: SparkSession, seed: Long, dir: String,
      clustered: Int, singletons: Int, vectors: Int, orders: Int): Unit = {
    import spark.implicits._
    val docs = (clusterPages(seed, clustered, 0L) ++ singletonPages(seed, singletons, 1L << 41))
      .zipWithIndex
    val rng = new java.util.SplittableRandom(seed)
    docs.map { case (d, i) =>
      (i.toLong, d.text, Langs(rng.nextInt(Langs.length)), s"src${i % 5}", d.text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.map { case (d, i) => (i.toLong, d.cluster_gold, d.is_dup_member) }
      .toDF("doc_id", "cluster_gold", "is_dup_member")
      .write.mode("overwrite").parquet(s"$dir/gold.parquet")

    // SplittableRandom mixes its seed, so per-row generators on adjacent
    // seeds are independent (see `Stride` for why plain Random is not)
    def rnd(table: Long, i: Long) = new java.util.SplittableRandom(seed * 1000003L + table * 7919L + i)
    val dim = 64
    spark.range(0, vectors, 1, 4).map { i =>
      val r = rnd(1, i)
      val label = r.nextInt(10)
      val center = rnd(2, label)
      val v = Array.fill(dim)((center.nextGaussian() + 0.35 * r.nextGaussian()).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i, v.map(_ / norm), label)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val day = 86400000L
    val t0 = 788918400000L // 1995-01-01
    spark.range(0, orders, 1, 4).map { k =>
      val r = rnd(3, k)
      (k, r.nextInt(math.max(1, orders / 10)).toLong, "OFP".charAt(r.nextInt(3)).toString,
        math.round(r.nextDouble() * 40000000.0) / 100.0,
        new Timestamp(t0 + r.nextInt(2500) * day),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority").write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(0, orders * 4L, 1, 4).map { i =>
      val r = rnd(4, i)
      val qty = 1 + r.nextInt(50)
      (r.nextInt(orders).toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong,
        1 + r.nextInt(7), qty.toDouble, math.round(qty * (900 + r.nextInt(1200)) * 100.0) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
        "OF".charAt(r.nextInt(2)).toString, new Timestamp(t0 + r.nextInt(2500) * day))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val jan2024 = 1704067200000L
    spark.range(0, orders, 1, 4).map { i =>
      val r = rnd(5, i)
      (i, new Timestamp(jan2024 + (r.nextDouble() * 30 * day).toLong), r.nextInt(2000).toLong,
        Seq("view", "click", "signup", "purchase", "error")(r.nextInt(5)),
        math.round(r.nextDouble() * 20000.0) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
