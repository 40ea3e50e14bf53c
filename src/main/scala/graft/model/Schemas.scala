package graft.model

import org.apache.spark.sql.types._

/** Read schemas and column types of the medallion pipeline (SURVEY.md
  * §1.3), re-expressed as Spark types; each layer's table schema is the
  * projection that writes it (MedallionSpec pins all 13 tables'
  * columns and types). Decimal precisions follow the reference DDL
  * (ref: 3. Source Tables.sql:29-98, 7. Source to Curated Layer.sql:27-102,
  * 8. Consumption Layer.sql:9-99); misspelled reference columns use the
  * corrected spellings per the SURVEY §1.3 decision (order_value,
  * exchange_rate, contact_no, order_weekday — internal names, not a
  * query-visible API).
  */
object Schemas {

  val Money: DecimalType = DecimalType(10, 2)
  val Rate: DecimalType = DecimalType(15, 7)
  val Usd: DecimalType = DecimalType(23, 8)

  /** Raw business fields common to all three source file shapes
    * (IN CSV header order — ref: order-20200101.csv:1; US/FR name the
    * contact column Phone and the tax column Tax). */
  val rawFieldNames: Seq[String] = Seq(
    "Order ID", "Customer Name", "Mobile Model", "Quantity",
    "Price per Unit", "Total Price", "Promotion Code", "Order Amount",
    "Tax", "Order Date", "Payment Status", "Shipping Status",
    "Payment Method", "Payment Provider", "Contact", "Delivery Address")

  /** All-string read schema for the text-format sources: the 16 raw
    * business fields with the per-country tax/contact column names
    * substituted in place ([[rawFieldNames]] uses the US/FR names as
    * the canonical spelling), plus the trailing corrupt-record column
    * backing PERMISSIVE-mode accounting (ON_ERROR=CONTINUE, ref:
    * step_3:51). One definition for both text formats so a field
    * rename cannot silently desynchronize them (a wrong name yields
    * all-null columns, not an error). */
  private def stringlySchema(tax: String, contact: String,
      corruptCol: String): StructType = StructType(
    rawFieldNames.map {
      case "Tax" => tax
      case "Contact" => contact
      case n => n
    }.map(StructField(_, StringType)) :+ StructField(corruptCol, StringType))

  /** IN CSV read schema (casts applied after read, mirroring the
    * reference's positional $n::type casts — ref: step_3:28-46). */
  def inCsvSchema(corruptCol: String): StructType =
    stringlySchema("GST", "Mobile", corruptCol)

  /** All-string FR JSON element schema for the GATED splittable route
    * (round-19 verdict #4): the multiLine reader infers its schema,
    * which the split route can replicate only by paying one EXTRA full
    * pass over the sliced elements — at 100 TB a whole additional
    * corpus read (3x total vs the route's documented 2x). The FR
    * contract shape is fixed (16 fields — ref: step_3_load_from_stage
    * _to_source.py:88-106, order-20200102.json), and loadCountry casts
    * every field from string anyway, so declaring it stringly keeps
    * the gate route at 2x byte passes with identical loadCountry
    * output (SplitJsonSpec's gate leg proves it). */
  def frJsonSchema(corruptCol: String): StructType =
    stringlySchema("Tax", "Phone", corruptCol)

  /** Forex table (ref: 5. Forex Exchange Rate.sql:1-12; loaded correctly
    * from all columns of exchange-rate-data.csv, fixing the reference's
    * copy-the-wrong-column defect — SURVEY §2.10). */
  val forexSchema: StructType = StructType(
    StructField("date", DateType) +:
      Seq("usd2usd", "usd2eu", "usd2can", "usd2uk", "usd2inr", "usd2jp")
        .map(StructField(_, Rate)))
}

/** Per-country ingestion + curation config (ref: step_4:81-85 country
  * details map; step_3 COUNTRY_SQL_STATEMENTS formats). */
final case class CountryConfig(
    code: String, // IN | US | FR
    format: String, // csv | parquet | json
    currency: String,
    region: String,
    fxCol: String, // exchange-rate column for local->USD conversion
    contactField: String, // raw field carrying the contact number
    taxField: String) // raw field carrying the tax amount

object CountryConfig {
  val all: Seq[CountryConfig] = Seq(
    CountryConfig("IN", "csv", "INR", "APAC", "usd2inr", "Mobile", "GST"),
    CountryConfig("US", "parquet", "USD", "AMER", "usd2usd", "Phone", "Tax"),
    CountryConfig("FR", "json", "EUR", "EU", "usd2eu", "Phone", "Tax"))

  def apply(code: String): CountryConfig = all.find(_.code == code).get
}
