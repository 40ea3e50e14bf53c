package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Managed-table catalog + sinks (SURVEY.md §2.1 S8/S9/S10).
  *
  * Tables are parquet-backed managed tables in the session catalog
  * (`spark.sql.warehouse.dir`), namespaced by database exactly like the
  * reference's `source` / `curated` / `consumption` schemas (ref:
  * 2. Database and Schema.sql:8-12). Appends go through
  * `saveAsTable(mode=append)` (ref: step_4:167-169, step_5:585-587). The
  * reference's count-guard before a consumption append (ref:
  * step_5:51-67) lives in the builders, on the row count
  * `SurrogateKeys.denseCounted` returns with the keys.
  */
object TableSink {

  val Databases: Seq[String] = Seq("source", "curated", "consumption", "common")

  def ensureDatabases(spark: SparkSession): Unit =
    Databases.foreach(db => spark.sql(s"CREATE DATABASE IF NOT EXISTS $db"))

  def exists(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(table)

  /** Append, optionally into a date/key-partitioned layout. Partition
    * columns turn incremental readers' date filters into partition
    * PRUNING (directories never opened) — at 100 TB the difference
    * between scanning a day and scanning the table. First write fixes
    * the table's partitioning; later appends must pass the same cols. */
  def append(df: DataFrame, table: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.format("parquet").mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .saveAsTable(table)
  }
}
