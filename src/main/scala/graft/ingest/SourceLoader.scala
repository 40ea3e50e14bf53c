package graft.ingest

import java.io.FileNotFoundException

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Concurrently
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
  * columns (ref: 3. Source Tables.sql:29-98). Bad rows are tolerated,
  * counted, and dropped (ON_ERROR=CONTINUE, ref: step_3:51,81,111) via
  * PERMISSIVE read + null-key post-filter. [[loadAll]] writes the good
  * rows through [[TableSink.appendKeyed]], the keyed write of every
  * keyed table, which continues the dense `sales_order_key` sequence
  * (`<seq>.nextval`, ref: step_3:27) and counts the rows it keyed.
  *
  * Lineage (ref: step_3:44-46 metadata$filename / file_row_number /
  * file_last_modified): Spark's `_metadata` struct supplies file name and
  * modification time for every file source; the per-file row number —
  * which only parquet exposes natively (`_metadata.row_index`) — is
  * computed with `row_number() over (partition by file)` ordered by
  * `monotonically_increasing_id()`, stable for the multiLine routes
  * because each multiline CSV/JSON file is a single input split. The
  * split route (below) instead orders by its `_rec_offset` column — the
  * record's absolute byte offset, deterministic under any task
  * placement.
  *
  * Split route: `multiLine=true` pins Spark's CSV and JSON sources to
  * one task per file, so at 100 TB ingest serializes on file count.
  * readRaw lists a country's files once; past [[SplitMinBytes]]
  * total bytes it reads that listing through the two-pass splittable
  * engine ([[SplitFiles]], with the [[SplitCsv]] or [[SplitJson]]
  * lexer), which emits the same `_metadata` lineage struct as Spark's
  * file sources and is proven row-identical (corrupt classification
  * included) to the multiLine readers by SplitCsvSpec / SplitJsonSpec.
  * The reference's KB-scale files stay on the multiLine readers.
  */
object SourceLoader {

  val CorruptCol = "_corrupt_record"

  /** Total matched CSV or JSON bytes past which readRaw switches to
    * the splittable two-pass route. Specs force either route through
    * readRaw's / loadCountry's `splitMinBytes` argument. */
  final val SplitMinBytes = 128L << 20

  /** Result of one country's load: the rows the keyed write appended and
    * the number of malformed rows skipped (the COPY report, ref:
    * step_3:148-153). */
  final case class LoadReport(country: String, loaded: Long, skipped: Long)

  /** Read one country's staged files into the raw 16-field shape (still
    * stringly typed where the format is stringly typed), from ONE listing
    * of the drop; an empty listing fails, as an unmatched glob does. */
  def readRaw(spark: SparkSession, dataDir: String, cc: CountryConfig,
      splitMinBytes: Long = SplitMinBytes): DataFrame = {
    val pattern = s"$dataDir/sales/source=${cc.code}/format=${cc.format}/date=*"
    val files = SplitFiles.listing(spark, pattern)
    if (files.isEmpty)
      throw new FileNotFoundException(s"no data file matches $pattern")
    val paths = files.map(_.path).toSeq
    cc.format match {
      case "parquet" =>
        spark.read.parquet(paths: _*).withColumn(CorruptCol, lit(null: String))
      case format =>
        val csv = format == "csv"
        // both text formats read through their DECLARED stringly
        // schema: FR inference would add a full pass over the corpus
        // bytes, and the corrupt-record column is always present
        val schema =
          if (csv) Schemas.inCsvSchema(CorruptCol)
          else Schemas.frJsonSchema(CorruptCol)
        if (files.map(_.len).sum >= splitMinBytes) {
          if (csv) SplitCsv.readFiles(spark, files, schema, CorruptCol)
          else SplitJson.readFiles(spark, files, Some(schema), CorruptCol)
        } else {
          val reader = spark.read
            .option("multiLine", true)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CorruptCol)
            .schema(schema)
          // Spark's JSON reader explodes a top-level array natively
          // (Snowflake needed strip_outer_array, ref: 4. Common
          // Schema.sql:15-18)
          if (csv)
            reader.option("header", true).option("quote", "\"")
              .option("escape", "\"").csv(paths: _*)
          else reader.json(paths: _*)
        }
    }
  }

  /** `null` literal / empty string → NULL, mirroring the CSV format's
    * null_if + empty_field_as_null (ref: 4. Common Schema.sql:8-9). */
  private def nullify(c: Column): Column =
    when(c === "" || c === "null", lit(null: String)).otherwise(c)

  /** Normalize a raw frame to the typed common source shape (the Spark
    * equivalent of the reference's per-format cast lists, step_3:28-46,
    * 58-76, 88-106), attach lineage, drop malformed rows. Returns the
    * good rows, unkeyed, and the count of rows skipped. */
  def loadCountry(spark: SparkSession, dataDir: String, cc: CountryConfig,
      splitMinBytes: Long = SplitMinBytes): (DataFrame, Long) = {
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
    // one count job referencing only the flag columns, so Catalyst
    // prunes the lineage row_number Window out of it; the loaded count
    // comes with the keys, out of the write's own job
    (typed.filter(!isBad).drop(CorruptCol), typed.filter(isBad).count())
  }

  /** Load all three countries into source.<cc>_sales_order tables,
    * concurrently: the countries share no file, table or key sequence.
    * Precondition: the databases exist. */
  def loadAll(spark: SparkSession, dataDir: String): Seq[LoadReport] =
    Concurrently.all(CountryConfig.all.map { cc => () =>
      val (good, skipped) = loadCountry(spark, dataDir, cc)
      val loaded = TableSink.appendKeyed(spark,
        s"source.${cc.code.toLowerCase}_sales_order", "sales_order_key", good,
        Seq("_metadata_file_name", "_metadata_row_number"))
      LoadReport(cc.code, loaded, skipped)
    })

  /** Forex rates: all seven columns loaded from exchange-rate-data.csv
    * (fixing the reference's wrong-source-column defect, SURVEY §2.10;
    * ref: 5. Forex Exchange Rate.sql:14-27). */
  def loadForex(spark: SparkSession, dataDir: String): DataFrame =
    spark.read
      .option("header", true)
      .schema(Schemas.forexSchema)
      .csv(s"$dataDir/exchange-rate-data.csv")
}
