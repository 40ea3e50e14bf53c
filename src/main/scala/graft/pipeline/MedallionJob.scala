package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Concurrently, GraftSession}
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
  *
  * The layers run in dependency order — the three country loads, then
  * their three curations, then the date dim beside the five value dims,
  * then the fact — and the tables within each step, which share
  * nothing, run concurrently through [[Concurrently]]: every table
  * finishes before the next step starts, and the first failure in table
  * order fails the run once its siblings have finished.
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

  def run(spark: SparkSession, dataDir: String): RunReport = {
    TableSink.ensureDatabases(spark)
    val source = SourceLoader.loadAll(spark, dataDir)
    val forex = SourceLoader.loadForex(spark, dataDir)
    val curated = CurateJob.run(spark, forex)

    val allSales = unionCurated(spark)
    // the date dim and the five value dims read only the curated layer;
    // the fact joins all six, so it waits for both
    val (dateDim, dims) = Concurrently.both(DateDimBuilder.build(spark, allSales))(
      DimBuilder.buildAll(spark, allSales))
    val fact = FactBuilder.build(spark, allSales)
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
    // the derby metastore's routine chatter (an unknown-key WARN per Hive
    // client call, a "Failed to get database" per CREATE DATABASE probe,
    // schema-version set-up) was 49 of a full+incr drive's 59 WARN lines
    Seq("org.apache.hadoop.hive.conf.HiveConf",
        "org.apache.hadoop.hive.metastore.ObjectStore",
        "org.apache.hadoop.hive.ql.session.SessionState")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))

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
