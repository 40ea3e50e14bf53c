package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.consume.{DateDimBuilder, DimBuilder, FactBuilder}
import graft.curate.CurateJob
import graft.ingest.SourceLoader
import graft.sinks.TableSink

/** End-to-end medallion pipeline over the reference's own data layout
  * (stage → source → curated → consumption; ref: steps 2–5).
  *
  * Usage: `runMain graft.pipeline.MedallionJob <dataDir> <warehouseDir>`
  * where `<dataDir>` holds `sales/source=*&#47;format=*&#47;date=*` plus
  * `exchange-rate-data.csv` (the layout of
  * /root/reference/amazon-sales-data). Re-running is an incremental
  * load: sources append with continued key sequences, dims grow only by
  * anti-join deltas, the fact appends (reference behavior).
  */
object MedallionJob {

  final case class RunReport(
      source: Seq[SourceLoader.LoadReport],
      curated: Seq[(String, Long)],
      dims: Map[String, Long],
      dateDim: Long,
      fact: Long)

  def unionCurated(spark: SparkSession): DataFrame =
    Seq("in", "us", "fr")
      .map(c => spark.table(s"curated.${c}_sales_order"))
      .reduce(_ union _) // ref step_5:469 — curated rows are already unique

  /** show(n) progress displays (SURVEY §2.6 O2; the reference sprinkles
    * `show(n)` through step_1/step_5) — opt-in via SPARK_GRAFT_VERBOSE
    * so harness runs stay single-JSON-line parseable. */
  private def display(df: => DataFrame, n: Int = 5): Unit =
    if (sys.env.get("SPARK_GRAFT_VERBOSE").contains("1")) df.show(n, truncate = false)

  def run(spark: SparkSession, dataDir: String): RunReport = {
    TableSink.ensureDatabases(spark)
    val source = SourceLoader.loadAll(spark, dataDir)
    val forex = SourceLoader.loadForex(spark, dataDir)
    display(forex)
    val curated = CurateJob.run(spark, forex)

    val allSales = unionCurated(spark)
    display(allSales)
    val dateDim = DateDimBuilder.build(spark, allSales)
    val dims = DimBuilder.buildAll(spark, allSales)
    val fact = FactBuilder.build(spark, allSales)
    display(spark.table("consumption.sales_fact"))
    RunReport(source, curated, dims, dateDim, fact)
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/reference/amazon-sales-data")
    val warehouse = args.lift(1).getOrElse("/tmp/graft_warehouse")
    // Hive-backed catalog with a derby metastore inside the warehouse
    // dir: table metadata survives across JVMs, so a re-run is a true
    // incremental load (append sources, delta dims) instead of a
    // LOCATION_ALREADY_EXISTS failure against orphaned parquet. AQE's
    // initial width stays at the core count: the 512 scale-out default
    // roughly doubles a pass over the reference's KB-scale drops.
    val spark = GraftSession.builder(Some(warehouse))
      .config(GraftSession.InitialPartitionsKey, GraftSession.cpus)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouse/_metastore;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val r = run(spark, dataDir)
    val srcJson = r.source
      .map(s => s""""${s.country}":{"loaded":${s.loaded},"skipped":${s.skipped}}""")
      .mkString("{", ",", "}")
    val curJson = r.curated.map { case (c, n) => s""""$c":$n""" }.mkString("{", ",", "}")
    val dimJson = (r.dims + ("date_dim" -> r.dateDim))
      .toSeq.sortBy(_._1)
      .map { case (d, n) => s""""$d":$n""" }.mkString("{", ",", "}")
    println(s"""{"source":$srcJson,"curated_total":$curJson,"dim_rows_added":$dimJson,"fact_rows_added":${r.fact}}""")
    spark.stop()
  }
}
