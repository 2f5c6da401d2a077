package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The storage seam between the engine and its table format — the half-dozen
  * read/write/layout touchpoints (ledger stage tables, metrics/lineage
  * appends, the persisted band/signature index, rolling incremental state)
  * behind ONE interface so the Iceberg adapter is a drop-in the day the
  * dependency exists (the offline build.sbt cannot resolve the Iceberg
  * runtime today; SURVEY.md §7.1 names the intended layout).
  *
  * Contract: `write` commits an overwrite ATOMICALLY from the reader's view
  * (readers see the old table or the new one, never a partial write);
  * `exists` is true only for committed tables; `append` adds rows to a
  * (possibly absent) table. The parquet implementation keeps the repo's
  * long-standing behavior: a directory per table, Spark's `_SUCCESS` marker
  * as the commit flag. An Iceberg implementation maps write→REPLACE TABLE /
  * overwrite snapshot, append→AppendFiles, exists→catalog lookup, and
  * `bandLayout`→`PARTITIONED BY (band_id, bucket(band_hash))`.
  */
trait TableStore extends Serializable {
  def read(spark: SparkSession, table: String): DataFrame
  def exists(spark: SparkSession, table: String): Boolean
  def write(df: DataFrame, table: String): Unit
  def append(df: DataFrame, table: String): Unit
}

object TableStore {
  /** THE band-table layout contract, stated once: postings are co-located
    * on (band_id, band_hash) so a probe of one band key touches one
    * partition — the local analog of the Iceberg layout
    * `PARTITIONED BY (band_id, bucket(N, band_hash))`, with N the session's
    * `spark.sql.shuffle.partitions`. Every persisted rep-only band table
    * (flagship run resume table, the dedup index and its rebuilds, the
    * incremental base generations) goes through here; the query-match
    * index (`qm_bands`) is a plain `bandStage` table.
    */
  def bandLayout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      col("band_id"), col("band_hash"))

  /** The default local implementation. */
  val parquet: TableStore = new ParquetStore
}

/** Parquet-directory implementation: `table` is a path; commit marker is
  * Spark's `_SUCCESS`. Existence resolves through the Hadoop FileSystem
  * API so it works wherever the parquet lands (HDFS/S3/local).
  */
final class ParquetStore extends TableStore {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)

  def exists(spark: SparkSession, table: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(s"$table/_SUCCESS")
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  def write(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(table)

  def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").parquet(table)
}
