package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}

import graft.DedupJob

/** Measure the `--stream` ingest mode at bench scale — the streaming
  * surface's analog of the batch dedup level timings. Two scenarios, both
  * on the standard bench corpus (same generator/seed as Bench):
  *
  *   1. BACKFILL: every corpus part-file is already present when the job
  *      starts; one Trigger.AvailableNow drain processes the whole corpus
  *      through the sign-once cascade (sig+verdict head, then band and
  *      pair tails off the head's sink). Reported docs/sec is the cold
  *      end-to-end streaming throughput, state written from scratch.
  *   2. DROP: with the backfill checkpoint in place, one new crawl-drop
  *      file lands and the job re-drains — the steady-state incremental
  *      shape. Reported seconds are the per-drop latency against the
  *      fully-populated RocksDB state (dominated by fixed micro-batch
  *      costs at small drop sizes, which is the honest number: a crawl
  *      drop is latency-, not throughput-bound).
  *
  * Input staging hardlinks the cached corpus part-files into a temp dir so
  * the shared /tmp corpus is never mutated. Numbers land in BENCH.md.
  *
  * Usage: runMain graft.tools.StreamProfile [corpusSf] [dropDocs]
  * (defaults 2.5 — the sf0.1 bench corpus, ~290k docs — and 2000)
  */
object StreamProfile {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val corpusSf = if (args.length > 0) args(0).toDouble else 2.5
    val dropDocs = if (args.length > 1) args(1).toInt else 2000
    val corpusPath = graft.Bench.ensureCorpus(corpusSf)
    val root = Files.createTempDirectory("graft-streamprof").toFile.getAbsolutePath
    val in = s"$root/in"
    new File(in).mkdirs()
    val spark = graft.Bench.mkSession(32, 32)
    try {
      for (f <- new File(corpusPath).listFiles if f.getName.endsWith(".parquet"))
        Files.createLink(Paths.get(in, f.getName), f.toPath)
      val docs = spark.read.parquet(in).count()

      val jobArgs = DedupJob.Args(input = in, output = s"$root/out",
        checkpoint = Some(s"$root/chk"), fromHtml = true,
        stream = true, triggerOnce = true)
      val ((v1, b1, p1), tFull) = time(DedupJob.runStream(spark, jobArgs))
      println(f"STREAM_BACKFILL docs=$docs sec=$tFull%.2f " +
        f"docs_per_sec=${docs / tFull}%.1f verdicts=$v1 band_postings=$b1 pairs=$p1")

      // one crawl-drop file lands: re-crawled content under fresh urls —
      // the dup-heavy realistic drop shape; every row probes (and hits)
      // the populated first-seen state instead of inserting
      val stage = s"$root/drop-stage"
      spark.read.parquet(corpusPath).limit(dropDocs)
        .withColumn("url", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("drop-1/"),
          org.apache.spark.sql.functions.col("url")))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val dropFile = new File(stage).listFiles
        .find(_.getName.endsWith(".parquet")).get
      Files.createLink(Paths.get(in, s"drop-${dropFile.getName}"), dropFile.toPath)

      val ((v2, b2, p2), tDrop) = time(DedupJob.runStream(spark, jobArgs))
      println(f"STREAM_DROP docs=$dropDocs sec=$tDrop%.2f " +
        f"docs_per_sec=${dropDocs / tDrop}%.1f verdicts_new=${v2 - v1} " +
        f"band_postings_new=${b2 - b1} pairs_new=${p2 - p1}")
    } finally spark.stop()
  }
}
