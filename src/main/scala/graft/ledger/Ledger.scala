package graft.ledger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.security.MessageDigest

/** Checkpoint ledger: resumable stage execution keyed by descriptor, the
  * analog of the reference's job-descriptor result caching
  * (/root/reference/mcrit/queue/QueueRemoteCalls.py:134-152,
  * /root/reference/mcrit/queue/LocalQueue.py:497-519): a stage whose
  * descriptor (stage name + params hash + config hash + upstream descriptor
  * chain) already has a committed output is not recomputed.
  *
  * All table IO goes through the `TableStore` seam (default: parquet
  * directories with the `_SUCCESS` marker playing the snapshot-commit role
  * — see graft.storage.TableStore for the Iceberg mapping). Each
  * materialized stage also appends a metrics row (stage, descriptor, rows,
  * wall ms, per-partition row counts) to `<root>/_metrics` — the
  * north_rule "per-partition lineage and metrics" channel.
  */
final class Ledger(spark: SparkSession, root: String, configHash: String,
    store: graft.storage.TableStore = graft.storage.TableStore.parquet) {

  def descriptor(stage: String, params: String, upstream: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = s"$stage|$params|$configHash|${upstream.mkString(",")}"
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  private def path(stage: String, desc: String) = s"$root/$stage-$desc"

  /** Resolved through the Hadoop FileSystem API so the probe works wherever
    * the table lands (HDFS/S3/local) — a java.io.File probe would silently
    * disable resume off-box. Used for the non-table markers; table
    * existence goes through the store's commit semantics.
    */
  private def fsExists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hp)
  }

  def isDone(stage: String, desc: String): Boolean =
    store.exists(spark, path(stage, desc))

  /** Run-or-resume: if the descriptor's output is committed, read it back;
    * otherwise compute, persist, record metrics, and read back (so downstream
    * stages scan the materialized table, not the live lineage).
    */
  def stage(name: String, desc: String)(compute: => DataFrame): DataFrame = {
    val p = path(name, desc)
    if (isDone(name, desc)) {
      store.read(spark, p)
    } else {
      val t0 = System.nanoTime()
      val df = compute
      store.write(df, p)
      val wallMs = (System.nanoTime() - t0) / 1e6
      recordMetrics(name, desc, p, wallMs)
      store.read(spark, p)
    }
  }

  private def recordMetrics(name: String, desc: String, p: String, wallMs: Double): Unit = {
    try {
      val out = store.read(spark, p)
      // run_id ties each lineage set to its summary row: the same descriptor
      // can legitimately be recomputed (stage dir deleted, re-run) and both
      // tables are append-only
      val runId = java.util.UUID.randomUUID().toString
      // TRUE per-partition lineage (north_rule): one row per output partition
      // with its row count — cached so the summary reuses the same scan
      val perPartition = out
        .withColumn("part_id", spark_partition_id())
        .groupBy("part_id").agg(count(lit(1)).as("rows"))
        .withColumn("stage", lit(name))
        .withColumn("descriptor", lit(desc))
        .withColumn("config_hash", lit(configHash))
        .withColumn("run_id", lit(runId))
        .withColumn("ts", current_timestamp())
      val summary = perPartition
        .agg(
          sum("rows").as("rows"),
          count(lit(1)).as("num_partitions"),
          max("rows").as("max_partition_rows"),
          min("rows").as("min_partition_rows"))
        .withColumn("stage", lit(name))
        .withColumn("descriptor", lit(desc))
        .withColumn("config_hash", lit(configHash))
        .withColumn("run_id", lit(runId))
        .withColumn("wall_ms", lit(wallMs))
        .withColumn("ts", current_timestamp())
      graft.pipeline.DedupPipeline.withCached(perPartition) {
        store.append(perPartition, s"$root/_lineage")
        store.append(summary, s"$root/_metrics")
      }
    } catch { case scala.util.control.NonFatal(_) => () } // metrics are best-effort; fatal errors propagate
  }

  def metrics(): Option[DataFrame] =
    if (fsExists(s"$root/_metrics")) Some(store.read(spark, s"$root/_metrics")) else None

  /** Per-partition lineage rows: (part_id, rows, stage, descriptor,
    * config_hash, ts) — one row per output partition of every materialized
    * stage (the per-partition channel the aggregated `metrics()` summarizes).
    */
  def partitionMetrics(): Option[DataFrame] =
    if (fsExists(s"$root/_lineage")) Some(store.read(spark, s"$root/_lineage")) else None

  private def fs = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bounded retention for the append-only observability tables — the J5
    * analog of the reference's TTL result cleanup
    * (/root/reference/mcrit/Worker.py:186-261): `_metrics` and `_lineage`
    * grow one run_id per materialized stage FOREVER; this keeps only the
    * newest `keepRuns` run_ids per (stage, descriptor) in both tables.
    * Stage OUTPUTS are untouched — resume reads stage dirs, never these
    * tables (asserted by test), so a swept ledger resumes identically.
    *
    * Rewrite is swap-based (tmp dir + rename, old dir renamed aside before
    * the swap and deleted after): a crash mid-sweep leaves either the old
    * or the new table visible, never a half-written one. Metrics are a
    * best-effort channel (recordMetrics already swallows failures), so the
    * narrow crash window losing observability rows — never stage data — is
    * an accepted trade.
    */
  def sweepMetrics(keepRuns: Int = 3): Unit = {
    require(keepRuns > 0, s"keepRuns must be positive, got $keepRuns")
    if (!fsExists(s"$root/_metrics")) return
    val m = store.read(spark, s"$root/_metrics")
    // newest runs per (stage, descriptor) by ts; run_id breaks ts ties so
    // the kept set is deterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("stage", "descriptor").orderBy(col("ts").desc, col("run_id").desc)
    // COLLECTED eagerly, not kept as a lazy plan: the plan reads _metrics,
    // and the first swap below replaces _metrics' files — a lazy semi-join
    // for the _lineage rewrite would re-list the swapped-away files and
    // fail. The kept set is ≤ keepRuns × #stages rows — driver-trivial.
    def keptRunIds(df: DataFrame): Set[String] =
      // collapse to one row per run first — _lineage has one row per output
      // PARTITION, and ranking raw rows would let one chatty run crowd the
      // whole keep window for its (stage, descriptor) group
      df.groupBy("stage", "descriptor", "run_id").agg(max("ts").as("ts"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= keepRuns)
        .select("run_id").distinct().collect().map(_.getString(0)).toSet
    val keptIds = keptRunIds(m)
    // the _lineage keep-set is the UNION of both tables' newest runs:
    // recordMetrics appends _lineage BEFORE _metrics and swallows failures,
    // so a run whose summary append died exists only in _lineage — keying
    // its retention off _metrics alone would delete the NEWEST run's
    // per-partition rows (and an empty _metrics would empty _lineage
    // entirely). Collected eagerly for the same swap-safety reason as above.
    val lineageKept =
      if (fsExists(s"$root/_lineage"))
        keptIds ++ keptRunIds(store.read(spark, s"$root/_lineage"))
      else keptIds
    swapRewrite("_metrics", store.read(spark, s"$root/_metrics")
      .where(col("run_id").isin(keptIds.toSeq: _*)))
    if (fsExists(s"$root/_lineage"))
      swapRewrite("_lineage", store.read(spark, s"$root/_lineage")
        .where(col("run_id").isin(lineageKept.toSeq: _*)))
  }

  /** Keep only the newest `keepPerStage` output dirs per stage NAME:
    * superseded descriptors — old configs, old corpus snapshots — otherwise
    * accumulate a full stage output each. A swept descriptor that is
    * requested again simply recomputes (`stage()` falls through to compute
    * on a missing `_SUCCESS`).
    *
    * "Newest" = the newest FILE inside each dir (falling back to the dir's
    * own mtime when a dir is empty): object stores report pseudo-directory
    * mtimes as 0/arbitrary, which would make the ordering a lottery and
    * could evict the live descriptor — plain files carry real timestamps on
    * HDFS/S3/local alike. Note retention is per stage NAME: several
    * pipelines sharing one ledger root under different configs need
    * `keepPerStage` ≥ the number of live configs, or they evict each other.
    */
  def sweepStaleStages(keepPerStage: Int = 2): Unit = {
    require(keepPerStage > 0, s"keepPerStage must be positive, got $keepPerStage")
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return
    // deletion is gated on the exact `<stage>-<16-hex-descriptor>` shape
    // `path()` writes — the ledger root is a user-supplied checkpoint dir,
    // and a loose "contains a dash" heuristic would recursively delete
    // co-located non-ledger dirs (corpus-v1, run-2026-08-18, ...)
    val descriptorDir = "^.+-[0-9a-f]{16}$".r
    val stageDirs = fs.listStatus(rootPath).filter(_.isDirectory)
      .filterNot(_.getPath.getName.startsWith("_"))
      .filter(d => descriptorDir.matches(d.getPath.getName))
    def newestStamp(d: org.apache.hadoop.fs.FileStatus): Long = {
      val files =
        try fs.listStatus(d.getPath).filter(f => !f.isDirectory)
        catch { case scala.util.control.NonFatal(_) => Array.empty[org.apache.hadoop.fs.FileStatus] }
      if (files.nonEmpty) files.map(_.getModificationTime).max
      else d.getModificationTime
    }
    stageDirs.groupBy(_.getPath.getName.reverse.dropWhile(_ != '-').drop(1).reverse)
      .foreach { case (_, dirs) =>
        dirs.sortBy(d => (-newestStamp(d), d.getPath.getName)).drop(keepPerStage)
          .foreach(d => try fs.delete(d.getPath, true)
          catch { case scala.util.control.NonFatal(_) => () })
      }
  }

  /** tmp-write + rename swap so readers never see a half-written table.
    * (Parquet-specific by design: an Iceberg store would express retention
    * as a snapshot-expiry/DELETE maintenance action instead.) */
  private def swapRewrite(table: String, kept: DataFrame): Unit = {
    val cur = new org.apache.hadoop.fs.Path(s"$root/$table")
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$table.sweep_tmp")
    val old = new org.apache.hadoop.fs.Path(s"$root/$table.sweep_old")
    store.write(kept, tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(cur, old))
      throw new IllegalStateException(s"sweep: could not move $cur aside")
    if (!fs.rename(tmp, cur)) {
      fs.rename(old, cur) // restore — the sweep failed, the table must not vanish
      throw new IllegalStateException(s"sweep: could not swap $tmp into place")
    }
    fs.delete(old, true)
  }
}
