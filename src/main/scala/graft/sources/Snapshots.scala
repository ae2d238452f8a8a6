package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every versioned table in the engine is a [[DeltaLog]] table. This
  * name stays only because the benchmark harness (`perfbench`, the
  * `medallion_refresh` gold read-back) calls it, and it goes once the
  * benchmark reads through [[DeltaLog.read]] itself. */
object Snapshots {

  /** The latest committed version: [[DeltaLog.read]]. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    DeltaLog.read(spark, tableDir)
}
