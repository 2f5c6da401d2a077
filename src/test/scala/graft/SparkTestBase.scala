package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for integration specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // keep the shared session alive

  /** Drops the blocks behind a `localCheckpoint`ed frame the spec made
    * itself; a no-op for any other frame. */
  protected def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Entries in the session's CacheManager: `Dataset.cache()` adds one,
    * `unpersist` removes it, and nothing else changes the count. */
  protected def cachedEntries: Int = org.apache.spark.sql.graftglue.CacheEntries.count(spark)

  /** Ids of the persistent-RDD registry, not `getRDDStorageInfo`: the latter
    * reads the listener-fed status store, which lags block updates, while
    * unpersist removes an RDD from the registry synchronously. Compare only
    * NEW ids: the context cleaner may drop older unreachable ones any time. */
  protected def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpointed RDDs a frame's plan reads. */
  protected def checkpointIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
