package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{ForkedProbe, MedallionFixture => Fx, SparkSpec}
import graft.consume.{DateDimBuilder, DimBuilder, FactBuilder}
import graft.ingest.SourceLoader
import graft.model.{CountryConfig, Schemas}
import graft.sinks.TableSink

/** End-to-end test of the medallion pipeline (SURVEY.md §5 item 2):
  * layer row counts, lineage, key density, curation semantics,
  * star-schema integrity, and incremental re-run behavior — over the
  * generated [[graft.MedallionFixture]] layout, whose manifest gives
  * every expected count, with one pipeline run shared by the assertions
  * (suite is ordered). The reference's own sample files, when present,
  * run last against their golden numbers.
  */
class MedallionSpec extends SparkSpec {

  private def resetWarehouse(): Unit =
    TableSink.Databases.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))

  private lazy val report: MedallionJob.RunReport = {
    resetWarehouse()
    MedallionJob.run(spark, Fx.full)
  }

  private val codes = CountryConfig.all.map(_.code)

  /** Every table's ordered columns and types (`dataType.typeName`). */
  private lazy val contract: Map[String, Seq[(String, String)]] = {
    def cols(spec: String): Seq[(String, String)] =
      spec.trim.split("\\s+").toSeq.map { c =>
        val Array(name, tpe) = c.split(":", 2); name -> tpe
      }
    val m2 = "decimal(10,2)"
    val source = cols(s"""sales_order_key:long order_id:string customer_name:string
      mobile_key:string order_quantity:long unit_price:$m2 order_value:$m2
      promotion_code:string final_order_amount:$m2 tax_amount:$m2 order_dt:date
      payment_status:string shipping_status:string payment_method:string
      payment_provider:string contact_no:string shipping_address:string
      _metadata_file_name:string _metadata_row_number:long
      _metadata_last_modified:timestamp""")
    // curated is partitioned by order_dt, which the catalog lists last
    val curated = cols(s"""sales_order_key:long order_id:string customer_name:string
      mobile_key:string country:string region:string order_quantity:long
      local_currency:string local_unit_price:$m2 promotion_code:string
      local_total_order_amt:$m2 local_tax_amt:$m2 exchange_rate:decimal(15,7)
      us_total_order_amt:decimal(23,8) usd_tax_amt:decimal(23,8)
      payment_status:string shipping_status:string payment_method:string
      payment_provider:string contact_no:string shipping_address:string
      _metadata_last_modified:timestamp order_dt:date""")
    def dim(pk: String, naturalKey: String): Seq[(String, String)] =
      cols(s"$pk:long " + naturalKey.split(" ").map(_ + ":string").mkString(" ") +
        " is_active:string")
    codes.flatMap { cc =>
      val c = cc.toLowerCase
      Seq(s"source.${c}_sales_order" -> source, s"curated.${c}_sales_order" -> curated)
    }.toMap ++ Map(
      "consumption.date_dim" -> cols("""date_id_pk:long order_dt:date
        order_year:integer day_counter:long order_month:integer
        order_quarter:integer order_day:integer order_dayofweek:integer
        order_dayname:string order_dayofmonth:integer order_weekday:string"""),
      "consumption.region_dim" -> dim("region_id_pk", "country region"),
      "consumption.product_dim" ->
        dim("product_id_pk", "mobile_key brand model color memory"),
      "consumption.promo_code_dim" ->
        dim("promo_code_id_pk", "promotion_code country region"),
      "consumption.customer_dim" -> dim("customer_id_pk",
        "customer_name contact_no shipping_address country region"),
      "consumption.payment_dim" ->
        dim("payment_id_pk", "payment_method payment_provider country region"),
      "consumption.sales_fact" -> cols(s"""order_id_pk:long order_code:string
        date_id_fk:long region_id_fk:long customer_id_fk:long payment_id_fk:long
        product_id_fk:long promo_code_id_fk:long order_quantity:long
        local_total_order_amt:$m2 local_tax_amt:$m2 exchange_rate:decimal(15,7)
        us_total_order_amt:decimal(23,8) usd_tax_amt:decimal(23,8)"""))
  }

  private def columns(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.typeName)

  /** The tables the catalog lists in the three databases. */
  private def tables(): Seq[String] = TableSink.Databases
    .flatMap(db => spark.catalog.listTables(db).collect().map(t => s"$db.${t.name}"))

  test("source layer loads the manifest's row counts and skips its planted bad rows") {
    val bySrc = report.source.map(r => r.country -> r).toMap
    codes.foreach { cc =>
      assert(bySrc(cc).loaded == Fx.count(s"/full/source/$cc/loaded"), cc)
      assert(bySrc(cc).skipped == Fx.count(s"/full/source/$cc/skipped"), cc)
    }
    assert(report.source.forall(_.skipped > 0), "the fixture's bad rows were not skipped")
  }

  test("multiline CSV really parsed as records: an IN address keeps its embedded newline") {
    report
    val in = spark.table("source.in_sales_order")
    assert(in.filter(col("shipping_address").contains("\n")).count() > 0)
  }

  test("lineage columns populated; sales_order_key dense from 1") {
    report
    for (cc <- CountryConfig.all) {
      val t = spark.table(s"source.${cc.code.toLowerCase}_sales_order")
      assert(t.filter(col("_metadata_file_name").isNull
        || col("_metadata_last_modified").isNull
        || col("_metadata_row_number").isNull).count() == 0)
      val n = t.count()
      val keys = t.agg(min("sales_order_key"), max("sales_order_key"),
        countDistinct("sales_order_key")).first()
      assert(keys.getLong(0) == 1L && keys.getLong(1) == n && keys.getLong(2) == n,
        s"${cc.code}: keys not dense 1..$n: $keys")
    }
  }

  test("FR JSON string-typed numerics land as typed columns") {
    report
    val fr = spark.table("source.fr_sales_order")
    val schema = fr.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("unit_price") == "decimal(10,2)")
    assert(schema("order_quantity") == "long")
    assert(fr.filter(col("unit_price").isNull).count() == 0)
  }

  test("curated layer: Paid+Delivered newest revisions match the manifest") {
    val c = report.curated.toMap
    codes.foreach(cc => assert(c(cc) == Fx.count(s"/full/curated/$cc"), cc))
  }

  test("curation attaches forex and converts to USD for every row") {
    report
    val cur = MedallionJob.unionCurated(spark)
    assert(cur.filter(col("exchange_rate").isNull
      || col("us_total_order_amt").isNull || col("usd_tax_amt").isNull).count() == 0)
    // US rows convert at 1.0: USD amounts equal local amounts
    assert(spark.table("curated.us_sales_order")
      .filter(col("us_total_order_amt") =!=
        col("local_total_order_amt").cast("decimal(23,8)")).count() == 0)
  }

  test("star schema: every fact row resolves all six dimension FKs") {
    assert(report.fact == Fx.count("/full/fact"))
    val fact = spark.table("consumption.sales_fact")
    assert(fact.count() == Fx.count("/full/fact"))
    def orphans(dim: String, pk: String, fk: String): Long =
      fact.join(spark.table(s"consumption.$dim"),
        fact(fk) === col(pk), "left_anti").count()
    assert(orphans("date_dim", "date_id_pk", "date_id_fk") == 0)
    assert(orphans("region_dim", "region_id_pk", "region_id_fk") == 0)
    assert(orphans("customer_dim", "customer_id_pk", "customer_id_fk") == 0)
    assert(orphans("payment_dim", "payment_id_pk", "payment_id_fk") == 0)
    assert(orphans("product_dim", "product_id_pk", "product_id_fk") == 0)
    assert(orphans("promo_code_dim", "promo_code_id_pk", "promo_code_id_fk") == 0)
  }

  test("customer join-key subset cannot fan out: fact count == curated count") {
    // FactBuilder joins customer_dim on (name, country, region), a
    // subset of its 5-col natural key, faithful to step_5:548-550 —
    // sound only while names are unique per (country, region). Guard
    // both the precondition and the consequence.
    report // force the pipeline
    val dim = spark.table("consumption.customer_dim")
    assert(dim.count() ==
      dim.select("customer_name", "country", "region").distinct().count(),
      "customer names no longer unique per (country, region): " +
        "FactBuilder's 3-col join would fan out; switch to the 5-col key")
    assert(spark.table("consumption.sales_fact").count() ==
      MedallionJob.unionCurated(spark).count())
  }

  test("dimension cardinalities: one row per natural key") {
    report.dims.foreach { case (d, n) => assert(n == Fx.count(s"/full/dims/$d"), d) }
    assert(spark.table("consumption.region_dim").count() == Fx.count("/full/dims/region_dim"))
    assert(spark.table("consumption.date_dim").count() == Fx.count("/full/date_dim"))
    val prod = spark.table("consumption.product_dim")
    assert(prod.count() == prod.select("mobile_key").distinct().count())
    // product attributes derive from the composite key
    assert(prod.filter(col("brand") =!=
      split(col("mobile_key"), "/").getItem(0)).count() == 0)
  }

  test("date dim fields: pandas dayofweek semantics (Mon=0, weekend=5,6)") {
    report
    val dd = spark.table("consumption.date_dim")
      .filter(col("order_dt") === "2020-01-01").first()
    // 2020-01-01 was a Wednesday
    assert(dd.getAs[Int]("order_dayofweek") == 2)
    assert(dd.getAs[String]("order_dayname") == "Wednesday")
    assert(dd.getAs[String]("order_weekday") == "Weekday")
    assert(dd.getAs[Long]("day_counter") == 1L)
  }

  test("incremental load: dims add only new keys, sources continue key sequence") {
    report
    val report2 = MedallionJob.run(spark, Fx.incr)
    report2.dims.foreach { case (d, n) => assert(n == Fx.count(s"/incr/dims/$d"), d) }
    assert(report2.dateDim == Fx.count("/incr/date_dim"))
    assert(report2.fact == Fx.count("/incr/fact"))
    val in = spark.table("source.in_sales_order")
    val n = in.count()
    assert(n == Fx.count("/full/source/IN/loaded") + Fx.count("/incr/source/IN/loaded"))
    val keys = in.agg(min("sales_order_key"), max("sales_order_key"),
      countDistinct("sales_order_key")).first()
    assert(keys.getLong(0) == 1L && keys.getLong(1) == n && keys.getLong(2) == n,
      "appended load must continue the dense sequence")
  }

  test("layer contract: every table's ordered columns and types, the key first") {
    report // the warehouse holds the full load, then the incremental one
    val all = tables()
    assert(all.toSet == contract.keySet, s"tables: $all")
    contract.foreach { case (t, want) =>
      assert(columns(spark.table(t)) == want, s"$t columns or types changed")
    }
    // each of the 10 keyed tables carries its key first
    val keyOf = codes.map(c => s"source.${c.toLowerCase}_sales_order" -> "sales_order_key") ++
      Seq("date", "region", "product", "promo_code", "customer", "payment")
        .map(d => s"consumption.${d}_dim" -> s"${d}_id_pk") :+
      ("consumption.sales_fact" -> "order_id_pk")
    assert(keyOf.size == 10)
    keyOf.foreach { case (t, k) => assert(spark.table(t).columns.head == k, t) }
  }

  test("re-running a drop adds zero dim rows and appends its sources again") {
    report
    val before = spark.table("source.in_sales_order").count()
    // the count guard: an empty delta appends nothing, not an empty file
    val dims = Seq("date", "region", "product", "promo_code", "customer", "payment")
      .map(d => s"consumption.${d}_dim")
    def files(t: String): Set[String] = spark.table(t).inputFiles.toSet
    val filesBefore = dims.map(t => t -> files(t)).toMap
    val again = MedallionJob.run(spark, Fx.incr)
    assert(again.dims.values.forall(_ == 0L), s"dims grew: ${again.dims}")
    assert(again.dateDim == 0L)
    assert(spark.table("source.in_sales_order").count() ==
      before + Fx.count("/incr/source/IN/loaded"))
    val written = dims.filter(t => files(t) != filesBefore(t))
    assert(written.isEmpty, s"a zero-row delta wrote a data file into $written")
  }

  /** Rows per country in [[malformedDrop]]. */
  private val MalformedRows = 6L

  /** A drop in the reference layout whose every row is malformed: one
    * file per country of [[MalformedRows]] rows, each with a date that
    * does not exist, every other one with no order id as well. */
  private def malformedDrop(): String = {
    val root = tempDir("medallion_malformed")
    CountryConfig.all.foreach { cc =>
      val fields = Schemas.rawFieldNames.map {
        case "Tax" => cc.taxField
        case "Contact" => cc.contactField
        case f => f
      }
      val rows = spark.range(MalformedRows).select(fields.map {
        case f @ "Order ID" =>
          when(col("id") % 2 === 0, lit(null: String)).otherwise(col("id").cast("string")).as(f)
        case f @ "Order Date" => lit("2020-02-30").as(f)
        case f => lit("1").as(f)
      }: _*).coalesce(1)
      val dir = root.resolve(s"sales/source=${cc.code}/format=${cc.format}/date=2020-02-30")
      cc.format match {
        case "csv" => rows.write.option("header", true).csv(dir.toString)
        case "parquet" => rows.write.parquet(dir.toString)
        case _ =>
          Files.createDirectories(dir)
          Files.writeString(dir.resolve("order-20200230.json"),
            rows.toJSON.collect().mkString("[\n", ",\n", "\n]\n"))
      }
    }
    root.toString
  }

  test("a drop of only malformed rows loads nothing, writes no source file, and the keys continue") {
    report
    val sources = codes.map(cc => s"source.${cc.toLowerCase}_sales_order")
    def files(t: String): Set[String] = spark.table(t).inputFiles.toSet
    val filesBefore = sources.map(t => t -> files(t)).toMap
    val rowsBefore = sources.map(t => t -> spark.table(t).count()).toMap
    SourceLoader.loadAll(spark, malformedDrop()).foreach { r =>
      assert(r.loaded == 0L && r.skipped == MalformedRows, r)
    }
    // the count guard of the keyed write: zero rows append nothing
    val written = sources.filter(t => files(t) != filesBefore(t))
    assert(written.isEmpty, s"a zero-row load wrote a data file into $written")
    // the next good drop continues each sequence densely
    val next = SourceLoader.loadAll(spark, Fx.incr).map(r => r.country -> r.loaded).toMap
    codes.zip(sources).foreach { case (cc, t) =>
      assert(next(cc) == Fx.count(s"/incr/source/$cc/loaded"), cc)
      val n = spark.table(t).count()
      assert(n == rowsBefore(t) + next(cc), t)
      val keys = spark.table(t).agg(min("sales_order_key"), max("sales_order_key"),
        countDistinct("sales_order_key")).first()
      assert(keys.getLong(0) == 1L && keys.getLong(1) == n && keys.getLong(2) == n,
        s"$t: keys not dense 1..$n after a zero-row load: $keys")
    }
  }

  private def contents(df: DataFrame): (Seq[(String, String)], Seq[String]) =
    (columns(df), df.collect().map(_.toString).sorted.toSeq)

  /** Every table's columns and sorted rows after a full then an
    * incremental load into a reset warehouse. */
  private def freshRun(): Map[String, (Seq[(String, String)], Seq[String])] = {
    resetWarehouse()
    MedallionJob.run(spark, Fx.full)
    MedallionJob.run(spark, Fx.incr)
    tables().map(t => t -> contents(spark.table(t))).toMap
  }

  private lazy val fresh = freshRun()

  test("concurrent table loads keep keys deterministic: two fresh full+incr runs land identical tables") {
    val (a, b) = (fresh, freshRun())
    assert(a.keySet.size == 13 && a.keySet == b.keySet, s"tables: ${a.keySet}")
    a.foreach { case (t, (cols, rows)) =>
      assert(rows.nonEmpty, s"$t is empty")
      assert((cols, rows) == b(t), s"$t differs between two fresh runs (surrogate keys included)")
    }
  }

  /** `main`'s JSON report line against the manifest's counts for `drop`. */
  private def assertReport(drop: String, line: String): Unit = {
    val r = new ObjectMapper().readTree(line)
    val want = codes.flatMap(cc => Seq(
        s"/source/$cc/loaded" -> s"/$drop/source/$cc/loaded",
        s"/source/$cc/skipped" -> s"/$drop/source/$cc/skipped",
        s"/curated_total/$cc" -> s"/$drop/curated/$cc")) ++
      Seq("region_dim", "product_dim", "promo_code_dim", "customer_dim", "payment_dim")
        .map(d => s"/dim_rows_added/$d" -> s"/$drop/dims/$d") ++
      Seq("/dim_rows_added/date_dim" -> s"/$drop/date_dim",
        "/fact_rows_added" -> s"/$drop/fact")
    want.foreach { case (got, exp) =>
      assert(r.at(got).isNumber && r.at(got).asLong == Fx.count(exp), s"$drop $got in $line")
    }
  }

  test("main in two JVMs continues one warehouse: the tables of full+incr in one JVM, no Hive") {
    val work = tempDir("medallion_main")
    val wh = work.resolve("wh").toString
    Seq("full" -> Fx.full, "incr" -> Fx.incr).foreach { case (drop, dir) =>
      val out = work.resolve(s"$drop.out").toFile
      val classLog = work.resolve(s"$drop.classes")
      val child = ForkedProbe.startToFile("graft.pipeline.MedallionJob", Seq(dir, wh), out,
        Seq(s"-Xlog:class+load:file=$classLog"))
      try assert(child.waitFor(600, TimeUnit.SECONDS), s"$drop JVM hung")
      finally child.destroyForcibly()
      val text = Files.readString(out.toPath)
      assert(child.exitValue() == 0, s"$drop JVM failed:\n${text.takeRight(4000)}")
      val lines = text.linesIterator.filter(_.startsWith("{")).toSeq
      assert(lines.size == 1, s"$drop: report lines $lines")
      assertReport(drop, lines.head)
      val loaded = Files.readAllLines(classLog).asScala
      assert(loaded.exists(_.contains("graft.pipeline.MedallionJob")), s"$drop: empty class log")
      // the build keeps Hive, derby and datanucleus off the classpath; the
      // one Hive jar left is hive-storage-api, which Spark's ORC reader uses
      val hive = loaded.filter(l => Seq("org.apache.hadoop.hive.", "org.apache.hive.",
          "org.apache.spark.sql.hive.", "org.apache.derby.", "org.datanucleus.")
        .exists(p => l.contains(s"] $p")) && !l.contains("hive-storage-api-"))
      assert(hive.isEmpty, s"$drop loaded ${hive.size} Hive classes: ${hive.take(3)}")
    }
    assert(!Files.exists(Paths.get(wh, "_metastore")))
    // the children's warehouse, read back from its files alone
    val read = TableSink.Databases.flatMap { db =>
      new java.io.File(wh, s"$db.db").listFiles().toSeq.map(dir =>
        s"$db.${dir.getName}" -> contents(spark.read.parquet(dir.getPath)))
    }.toMap
    assert(read.keySet == fresh.keySet, s"tables: ${read.keySet}")
    fresh.foreach { case (t, (cols, rows)) =>
      assert(read(t)._1 == cols, s"$t columns or types differ across JVMs")
      assert(read(t)._2 == rows, s"$t rows differ across JVMs (surrogate keys included)")
    }
  }

  test("a first load with no curated rows creates the seven keyed consumption tables, empty") {
    report // the curated tables exist
    spark.sql("DROP DATABASE consumption CASCADE")
    TableSink.ensureDatabases(spark)
    val none = MedallionJob.unionCurated(spark).filter(lit(false))
    assert(DateDimBuilder.build(spark, none) == 0L)
    assert(DimBuilder.buildAll(spark, none).values.forall(_ == 0L))
    assert(FactBuilder.build(spark, none) == 0L)
    val keyed = contract.filter(_._1.startsWith("consumption."))
    assert(keyed.size == 7)
    keyed.foreach { case (t, want) =>
      assert(TableSink.exists(spark, t), s"$t was not created")
      assert(columns(spark.table(t)) == want, s"$t columns or types changed")
      assert(spark.table(t).count() == 0L, s"$t is not empty")
    }
  }

  test("ensureDatabases attaches the table dirs the catalog lacks; a dir with no data file goes") {
    resetWarehouse()
    TableSink.ensureDatabases(spark)
    val db = new java.net.URI(spark.catalog.getDatabase("consumption").locationUri).getPath
    // written straight to files, as a run in an earlier JVM leaves them
    val rows = spark.range(6).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("2020-01-01")), (col("id") % 3).cast("int")).as("order_dt"))
    rows.write.partitionBy("order_dt").parquet(s"$db/parted")
    rows.write.parquet(s"$db/flat")
    rows.filter(lit(false)).write.partitionBy("order_dt").parquet(s"$db/no_rows")
    TableSink.ensureDatabases(spark)
    assert(columns(spark.table("consumption.parted")) == Seq("id" -> "long", "order_dt" -> "date"))
    assert(spark.catalog.listColumns("consumption.parted").collect()
      .filter(_.isPartition).map(_.name).toSeq == Seq("order_dt"))
    assert(spark.table("consumption.parted").count() == 6L)
    assert(spark.table("consumption.flat").count() == 6L)
    assert(!TableSink.exists(spark, "consumption.no_rows"))
    assert(!Files.exists(Paths.get(db, "no_rows")), "the schema-less dir was kept")
    // appends land on an attached table, and recreate the removed one
    TableSink.append(rows, "consumption.parted", Seq("order_dt"))
    TableSink.append(rows, "consumption.no_rows", Seq("order_dt"))
    assert(spark.table("consumption.parted").count() == 12L)
    assert(spark.table("consumption.no_rows").count() == 6L)
    resetWarehouse()
  }

  test("reference sample files: golden counts, and a re-run adds no dim rows") {
    assumeReference()
    resetWarehouse()
    val ref = MedallionJob.run(spark, refDataDir)
    val bySrc = ref.source.map(r => r.country -> r).toMap
    assert(bySrc("IN").loaded == 1931) // 847 + 1084 CSV records
    assert(bySrc("US").loaded == 1864) // 905 + 959 parquet rows
    assert(bySrc("FR").loaded == 1517) // 882 + 635 JSON objects
    assert(ref.source.forall(_.skipped == 0))
    val c = ref.curated.toMap
    assert(c("IN") == 320 && c("US") == 331 && c("FR") == 372)
    assert(spark.table("consumption.sales_fact").count() == 1023) // 320 + 331 + 372
    assert(spark.table("consumption.region_dim").count() == 3)
    assert(spark.table("consumption.date_dim").count() == 3) // 2020-01-01..03

    val again = MedallionJob.run(spark, refDataDir)
    assert(again.dims.values.forall(_ == 0L), s"dims grew: ${again.dims}")
    assert(again.dateDim == 0L)
    assert(spark.table("source.in_sales_order").count() == 2 * 1931)
  }
}
