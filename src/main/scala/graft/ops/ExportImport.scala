package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.kernel.GraftConfig

/** Bulk export / import, ≅ S3/S4 (getExportData / addImportData,
  * /root/reference/mcrit/index/MinHashIndex.py:142-274): snapshot export
  * stamped with the config hash; import verifies config compatibility and
  * skips rows already present (the sha256-dedup analog keyed by url).
  *
  * The reference remaps integer ids via driver counters; at scale our ids
  * are content-derived (hash of url — no coordination), and `compactIds`
  * provides the sequential-id remap when a consumer needs dense ids, using
  * the per-partition-offset pattern (no global window, no single-partition
  * sort bottleneck).
  */
object ExportImport {

  private val MetaFile = "_graft_meta.json"

  // snapshot paths are Hadoop URIs (HDFS/S3/local alike) — java.nio would
  // crash on a non-local scheme after the parquet was already written, and
  // its failure on import silently SKIPPED the config-hash guard
  private def hadoopFs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exportSnapshot(spark: SparkSession, df: DataFrame, path: String,
      cfg: GraftConfig = GraftConfig.default): Unit = {
    df.write.mode("overwrite").parquet(path)
    val rows = spark.read.parquet(path).count()
    val meta = s"""{"config_hash":"${cfg.configHash}","rows":$rows,"format":"parquet"}"""
    val out = hadoopFs(spark, path).create(
      new org.apache.hadoop.fs.Path(path, MetaFile), true)
    try out.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  final case class ImportResult(added: Long, skippedExisting: Long)

  /** Import `incomingPath` into `existing`, skipping urls already present;
    * refuses on config-hash mismatch (≅ MinHashIndex.py:209-213).
    * Returns (merged DataFrame, stats).
    */
  def importSnapshot(spark: SparkSession, existing: DataFrame, incomingPath: String,
      keyCol: String = "url",
      cfg: GraftConfig = GraftConfig.default): (DataFrame, ImportResult) = {
    val fs = hadoopFs(spark, incomingPath)
    val metaPath = new org.apache.hadoop.fs.Path(incomingPath, MetaFile)
    // the guard is MANDATORY: a missing or unreadable meta file means the
    // snapshot's provenance is unknown — merging signatures built under a
    // different GraftConfig would silently mix incomparable values
    require(fs.exists(metaPath),
      s"snapshot at $incomingPath has no $MetaFile — not a graft export, or the export crashed")
    val meta = {
      val in = fs.open(metaPath)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val hash = "\"config_hash\":\"([0-9a-f]+)\"".r
      .findFirstMatchIn(meta).map(_.group(1))
    // a regex MISS (corrupt meta) must fail, not pass vacuously
    require(hash.nonEmpty, s"corrupt $MetaFile in snapshot at $incomingPath: $meta")
    require(hash.get == cfg.configHash,
      s"config hash mismatch: export=${hash.get} local=${cfg.configHash}")
    val incoming = spark.read.parquet(incomingPath)
    val newRows = incoming.join(existing.select(keyCol), Seq(keyCol), "left_anti")
    val added = newRows.count()
    val skipped = incoming.count() - added
    (existing.unionByName(newRows, allowMissingColumns = true),
      ImportResult(added, skipped))
  }

  /** Dense sequential ids without a global sort-window bottleneck: sort for
    * determinism, then per-partition counts → cumulative offsets (tiny
    * driver array) → mapPartitions offset+index. The classic zipWithIndex
    * shape, kept in Dataset land.
    */
  def compactIds(df: DataFrame, orderCol: String, idName: String = "compact_id"): DataFrame = {
    val spark = df.sparkSession
    // cached: range partitioning samples its boundaries, so the two passes
    // below must see one materialization, not two independent samplings;
    // the output is an eager checkpoint, so every consumer sees one id set
    val sorted = df.repartitionByRange(col(orderCol)).sortWithinPartitions(orderCol)
    graft.pipeline.DedupPipeline.withCached(sorted) {
      val counts = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
        Iterator((i, it.size.toLong))
      }.collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val bcOffsets = spark.sparkContext.broadcast(offsets)
      val schema = StructType(sorted.schema.fields :+ StructField(idName, LongType, nullable = false))
      val rows = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
        var k = bcOffsets.value(i)
        it.map { r => val out = Row.fromSeq(r.toSeq :+ k); k += 1; out }
      }
      spark.createDataFrame(rows, schema).localCheckpoint(true)
    }
  }
}
