package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, max}

import graft.keys.SurrogateKeys

/** Table catalog + sinks (SURVEY.md §2.1 S8/S9/S10/S12).
  *
  * Tables are parquet dirs `<db>.db/<table>` under the warehouse
  * (`spark.sql.warehouse.dir`), namespaced by database exactly like the
  * reference's `source` / `curated` / `consumption` schemas (ref:
  * 2. Database and Schema.sql:8-12), and the only store of their
  * metadata: [[ensureDatabases]] re-attaches them. Appends go through
  * `saveAsTable(mode=append)` (ref: step_4:167-169, step_5:585-587);
  * all ten keyed tables' (the three source tables, the six dims and the
  * fact) through [[appendKeyed]], which continues the table's sequence
  * (`<seq>.nextval`, ref: step_3:27, 8. Consumption Layer.sql:9-83) and
  * keeps the reference's count guard (ref: step_5:51-67).
  */
object TableSink {

  val Databases: Seq[String] = Seq("source", "curated", "consumption")

  /** Create the databases and register each table dir in them that the
    * (in-memory) catalog lacks, with the schema and partitions its files
    * give, so a new JVM continues the warehouse. A dir with no data file
    * (a zero-row partitioned write) has no schema: it goes, and the
    * table's next append creates it again. */
  def ensureDatabases(spark: SparkSession): Unit = Databases.foreach { db =>
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val dbDir = new Path(spark.catalog.getDatabase(db).locationUri)
    val fs = dbDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(dir: Path) = fs.listStatus(dir).filterNot(_.getPath.getName.matches("[_.].*"))
    for (st <- visible(dbDir) if st.isDirectory; dir = st.getPath;
         table = s"$db.${dir.getName}" if !exists(spark, table)) {
      if (visible(dir).isEmpty) fs.delete(dir, true)
      else {
        spark.catalog.createTable(table, dir.toString, "parquet")
        if (spark.catalog.listColumns(table).collect().exists(_.isPartition))
          spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
      }
    }
  }

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

  /** The largest `pkCol` in `table` — the offset its next keyed rows
    * continue from; 0 before the table exists. */
  private def maxKey(spark: SparkSession, table: String, pkCol: String): Long =
    if (exists(spark, table))
      spark.table(table).agg(coalesce(max(col(pkCol)), lit(0L))).first().getLong(0)
    else 0L

  /** Key `rows` densely in `orderCols` order from [[maxKey]] on, as the
    * first column `pkCol`, and append them if there are any or the table
    * is new (the reference's DDL creates it empty). The count comes with
    * the keys, so guard and report re-run no plan. Returns the rows
    * appended. */
  def appendKeyed(spark: SparkSession, table: String, pkCol: String,
      rows: DataFrame, orderCols: Seq[String]): Long = {
    val (keyed, n) = SurrogateKeys.denseCounted(rows, orderCols.map(col), pkCol,
      maxKey(spark, table, pkCol))
    if (n > 0 || !exists(spark, table)) append(keyed, table)
    n
  }
}
