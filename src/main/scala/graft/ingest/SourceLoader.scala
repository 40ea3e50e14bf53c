package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.keys.SurrogateKeys
import graft.model.{CountryConfig, Schemas}
import graft.sinks.TableSink

/** Stage→source ingestion (SURVEY.md §2.1 S3–S7; ref:
  * step_3_load_from_stage_to_source.py).
  *
  * Reads the three heterogeneous file shapes under
  * `<dataDir>/sales/source=<CC>/format=<fmt>/date=*`:
  *
  *   - IN: multiline-quoted CSV with header, `null` literals and empty
  *     fields as NULL (ref format DDL: 4. Common Schema.sql:5-12;
  *     `multiLine=true` is mandatory — delivery addresses embed real
  *     newlines, 847 logical records span 1,710 physical lines);
  *   - US: snappy parquet with typed columns;
  *   - FR: JSON array-of-objects with string-typed numerics
  *     (`"Price per Unit": "1527"`), `multiLine=true` for the outer array.
  *
  * All three normalize to the common 17-column source schema + 3 lineage
  * columns (ref: 3. Source Tables.sql:29-98) + a dense `sales_order_key`
  * sequence. Bad rows are tolerated, counted, and dropped
  * (ON_ERROR=CONTINUE, ref: step_3:51,81,111) via PERMISSIVE read +
  * null-key post-filter.
  *
  * Lineage (ref: step_3:44-46 metadata$filename / file_row_number /
  * file_last_modified): Spark's `_metadata` struct supplies file name and
  * modification time for every file source; the per-file row number —
  * which only parquet exposes natively (`_metadata.row_index`) — is
  * computed with `row_number() over (partition by file)` ordered by
  * `monotonically_increasing_id()`, stable for the multiLine routes
  * because each multiline CSV/JSON file is a single input split. The
  * SPLITTABLE CSV route (below) instead orders by its `_rec_offset`
  * column — the record's absolute byte offset, deterministic under any
  * task placement.
  *
  * Split-route gates (round-17 verdict #5 for CSV, round-18 verdict #1
  * for JSON): `multiLine=true` pins Spark's CSV and JSON sources to one
  * task per file, so at 100 TB ingest serializes on file count. Past
  * [[SplitMinBytes]] total matched bytes the csv/json branches read
  * through [[SplitCsv]] / [[SplitJson]] — the two-pass splittable
  * readers, proven row-identical (corrupt classification included) to
  * the multiLine readers by SplitCsvSpec / SplitJsonSpec — and
  * synthesize the same `_metadata` lineage struct
  * from the routes' own file/mtime columns. The reference's KB-scale
  * files stay on the multiLine readers.
  */
object SourceLoader {

  val CorruptCol = "_corrupt_record"

  /** Total matched CSV or JSON bytes past which readRaw switches to
    * the splittable two-pass route. Specs force either route through
    * readRaw's / loadCountry's `splitMinBytes` argument. */
  final val SplitMinBytes = 128L << 20

  /** Result of one country's load: the appended row count and the number
    * of malformed rows skipped (the COPY report, ref: step_3:148-153). */
  final case class LoadReport(country: String, loaded: Long, skipped: Long)

  private def salesPath(dataDir: String, cc: CountryConfig): String =
    s"$dataDir/sales/source=${cc.code}/format=${cc.format}/date=*"

  /** Read one country's staged files into the raw 16-field shape (still
    * stringly typed where the format is stringly typed). */
  def readRaw(spark: SparkSession, dataDir: String, cc: CountryConfig,
      splitMinBytes: Long = SplitMinBytes): DataFrame = {
    val path = salesPath(dataDir, cc)
    cc.format match {
      case "csv" =>
        if (SplitFiles.globBytes(spark, path) >= splitMinBytes)
          // the splittable route: task count scales with bytes, not
          // files; lineage synthesized to the multiLine reader's
          // `_metadata` shape (basename + modification time), plus the
          // route's `_rec_offset` for deterministic row numbering
          SplitCsv.read(spark, path, Schemas.inCsvSchema(CorruptCol), CorruptCol)
            .withColumn("_metadata", struct(
              element_at(split(col("_src_file"), "/"), -1).as("file_name"),
              col("_src_mtime").as("file_modification_time")))
            .drop("_src_file", "_src_mtime")
        else
          spark.read
            .option("header", true)
            .option("multiLine", true)
            .option("quote", "\"")
            .option("escape", "\"")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CorruptCol)
            .schema(Schemas.inCsvSchema(CorruptCol))
            .csv(path)
      case "parquet" =>
        spark.read.parquet(path).withColumn(CorruptCol, lit(null: String))
      case "json" =>
        if (SplitFiles.globBytes(spark, path) >= splitMinBytes)
          // the splittable route (round-18 verdict #1): task count
          // scales with bytes, not files; the DECLARED stringly FR
          // element schema is passed through (round-19 verdict #4 —
          // schema inference would add a third full pass over the
          // corpus bytes; with it the route reads each byte exactly
          // twice), loadCountry casts from string regardless; lineage
          // synthesized to the multiLine reader's `_metadata` shape,
          // plus `_rec_offset` for deterministic row numbering
          SplitJson.read(spark, path,
            Some(Schemas.frJsonSchema(CorruptCol)), CorruptCol)
            .withColumn("_metadata", struct(
              element_at(split(col("_src_file"), "/"), -1).as("file_name"),
              col("_src_mtime").as("file_modification_time")))
            .drop("_src_file", "_src_mtime")
        else {
          // Spark's JSON reader explodes a top-level array natively
          // (Snowflake needed strip_outer_array, ref: 4. Common Schema.sql:15-18).
          // Schema inference only surfaces the corrupt-record column when
          // malformed rows exist; add it explicitly otherwise.
          val df = spark.read
            .option("multiLine", true)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CorruptCol)
            .json(path)
          if (df.columns.contains(CorruptCol)) df
          else df.withColumn(CorruptCol, lit(null: String))
        }
    }
  }

  /** `null` literal / empty string → NULL, mirroring the CSV format's
    * null_if + empty_field_as_null (ref: 4. Common Schema.sql:8-9). */
  private def nullify(c: Column): Column =
    when(c === "" || c === "null", lit(null: String)).otherwise(c)

  /** Normalize a raw frame to the typed common source shape (the Spark
    * equivalent of the reference's per-format cast lists, step_3:28-46,
    * 58-76, 88-106), attach lineage + sequence, drop malformed rows. */
  def loadCountry(spark: SparkSession, dataDir: String, cc: CountryConfig,
      keyOffset: Long = 0L,
      splitMinBytes: Long = SplitMinBytes): (DataFrame, LoadReport) = {
    val raw0 = readRaw(spark, dataDir, cc, splitMinBytes)
    // split-route frames carry the record's absolute byte offset — a
    // deterministic within-file total order under ANY task placement;
    // the single-split multiLine/parquet routes keep the mono-id order
    val rowOrder =
      if (raw0.columns.contains("_rec_offset")) col("_rec_offset")
      else monotonically_increasing_id()
    val raw = raw0
      .withColumn("_metadata_file_name", col("_metadata.file_name"))
      .withColumn("_metadata_last_modified", col("_metadata.file_modification_time"))
      .withColumn("_metadata_row_number",
        row_number().over(
          Window.partitionBy(col("_metadata.file_name"))
            .orderBy(rowOrder)).cast("long"))

    def s(field: String): Column = nullify(col(s"`$field`").cast("string"))

    // try_cast, not cast: under ANSI semantics (Spark 4 default) a
    // malformed value would fail the whole job; ON_ERROR=CONTINUE means
    // the row degrades to NULL and the null-key filter below skips it.
    val typed = raw.select(
      s("Order ID").as("order_id"),
      s("Customer Name").as("customer_name"),
      s("Mobile Model").as("mobile_key"),
      s("Quantity").try_cast("long").as("order_quantity"),
      s("Price per Unit").try_cast(Schemas.Money).as("unit_price"),
      s("Total Price").try_cast(Schemas.Money).as("order_value"),
      s("Promotion Code").as("promotion_code"),
      s("Order Amount").try_cast(Schemas.Money).as("final_order_amount"),
      s(cc.taxField).try_cast(Schemas.Money).as("tax_amount"),
      s("Order Date").try_cast("date").as("order_dt"),
      s("Payment Status").as("payment_status"),
      s("Shipping Status").as("shipping_status"),
      s("Payment Method").as("payment_method"),
      s("Payment Provider").as("payment_provider"),
      s(cc.contactField).as("contact_no"),
      s("Delivery Address").as("shipping_address"),
      col("_metadata_file_name"),
      col("_metadata_row_number"),
      col("_metadata_last_modified"),
      col(CorruptCol))

    // ON_ERROR=CONTINUE: a row that failed parsing (corrupt record) or
    // lost its key/date in casting is skipped, not fatal.
    val isBad = col(CorruptCol).isNotNull ||
      col("order_id").isNull || col("order_dt").isNull
    val good = typed.filter(!isBad).drop(CorruptCol)

    val keyed = SurrogateKeys.dense(
      good,
      Seq(col("_metadata_file_name"), col("_metadata_row_number")),
      "sales_order_key", keyOffset)
      .select("sales_order_key", Schemas.sourceSchema.fieldNames.filter(_ != "sales_order_key"): _*)

    // the COPY report's two counts in ONE job (separate good.count() +
    // bad.count() actions re-read and RE-PARSE the raw text twice at
    // 100 TB): a grouped count referencing only the flag columns, so
    // Catalyst prunes the lineage row_number Window out of this job
    val counts = typed.groupBy(isBad.as("bad")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    (keyed, LoadReport(cc.code,
      counts.getOrElse(false, 0L), counts.getOrElse(true, 0L)))
  }

  /** Load all three countries into source.<cc>_sales_order tables. */
  def loadAll(spark: SparkSession, dataDir: String): Seq[LoadReport] = {
    TableSink.ensureDatabases(spark)
    CountryConfig.all.map { cc =>
      val table = s"source.${cc.code.toLowerCase}_sales_order"
      val offset =
        if (TableSink.exists(spark, table))
          spark.table(table).agg(coalesce(max("sales_order_key"), lit(0L)))
            .first().getLong(0)
        else 0L
      val (df, report) = loadCountry(spark, dataDir, cc, offset)
      TableSink.append(df, table)
      report
    }
  }

  /** Forex rates: all seven columns loaded from exchange-rate-data.csv
    * (fixing the reference's wrong-source-column defect, SURVEY §2.10;
    * ref: 5. Forex Exchange Rate.sql:14-27). */
  def loadForex(spark: SparkSession, dataDir: String): DataFrame =
    spark.read
      .option("header", true)
      .schema(Schemas.forexSchema)
      .csv(s"$dataDir/exchange-rate-data.csv")
}
