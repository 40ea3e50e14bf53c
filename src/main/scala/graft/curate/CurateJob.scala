package graft.curate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Concurrently
import graft.model.{CountryConfig, Schemas}
import graft.sinks.TableSink

/** Source→curated stage (SURVEY.md §3.2; ref: step_4_source_to_curated.py
  * :94-169): filter Paid+Delivered → country/region enrichment → forex
  * join → newest-file rank-dedup → key re-attach → currency-converted
  * final projection → append.
  *
  * Documented divergences from the reference (SURVEY §2.10 decisions):
  *   - forex join is LEFT (ref uses full outer, which manufactures
  *     null-key rows from unmatched forex dates and then masks them in
  *     the dedup — step_4:110);
  *   - dedup partitions by (order_id, order_dt), not order_dt alone
  *     (the ref's order_dt-only window keeps ONE order per day —
  *     data-destroying, step_4:118);
  *   - the conversion results are cast to DECIMAL(23,8) explicitly to
  *     pin the DDL types (ref: 7. Source to Curated Layer.sql:42-43).
  *
  * Scale notes: the forex side is bounded (one row per calendar day) →
  * broadcast; the dedup window shuffles once on (order_id, order_dt)
  * with per-key cardinality = file-revision count, so no skew; the
  * re-attach join (ref J2 shape, step_4:127-132) joins on the unique
  * sales_order_key.
  */
object CurateJob {

  def curateCountry(spark: SparkSession, cc: CountryConfig,
      forex: DataFrame): DataFrame = {
    val source = spark.table(s"source.${cc.code.toLowerCase}_sales_order")

    val filtered = source
      .filter(col("payment_status") === "Paid"
        && col("shipping_status") === "Delivered") // ref: step_4:97-98
      .withColumn("country", lit(cc.code)) // ref: step_4:101-103
      .withColumn("region", lit(cc.region))

    // Forex: one row per day -> always broadcast (ref joins the whole
    // 119-row table, step_4:107-111).
    val fx = broadcast(forex.select(col("date"), col(cc.fxCol).as("exchange_rate")))
    val withFx = filtered.join(fx, filtered("order_dt") === fx("date"), "left")

    // Rank-dedup, newest file revision wins (ref: step_4:114-125), with a
    // deterministic total-order tiebreak on the lineage row number.
    val w = Window
      .partitionBy(col("order_id"), col("order_dt"))
      .orderBy(col("_metadata_last_modified").desc, col("_metadata_row_number").desc)
    val deduped = withFx.withColumn("order_rank", rank().over(w))
      .filter(col("order_rank") === 1)

    // Key re-attach (ref: step_4:127-132 — unique keys joined back to the
    // full rows; the window result already carries all columns, so the
    // semantic join collapses to a projection in Spark).
    deduped.select(
      col("sales_order_key"),
      col("order_id"),
      col("order_dt"),
      col("customer_name"),
      col("mobile_key"),
      col("country"),
      col("region"),
      col("order_quantity"),
      lit(cc.currency).as("local_currency"),
      col("unit_price").as("local_unit_price"),
      col("promotion_code"),
      col("final_order_amount").as("local_total_order_amt"),
      col("tax_amount").as("local_tax_amt"),
      col("exchange_rate").cast(Schemas.Rate).as("exchange_rate"),
      (col("final_order_amount") / col("exchange_rate"))
        .cast(Schemas.Usd).as("us_total_order_amt"), // ref: step_4:150-153
      (col("tax_amount") / col("exchange_rate"))
        .cast(Schemas.Usd).as("usd_tax_amt"),
      col("payment_status"),
      col("shipping_status"),
      col("payment_method"),
      col("payment_provider"),
      col("contact_no"),
      col("shipping_address"),
      col("_metadata_last_modified"))
  }

  /** Curate all three countries into curated.<cc>_sales_order,
    * concurrently: each reads only its own source table. Precondition:
    * the databases exist. */
  def run(spark: SparkSession, forex: DataFrame): Seq[(String, Long)] = {
    Concurrently.all(CountryConfig.all.map { cc => () =>
      val df = curateCountry(spark, cc, forex)
      val table = s"curated.${cc.code.toLowerCase}_sales_order"
      // curated is the layer incremental consumers read BY DATE — a
      // date-partitioned layout makes those reads partition-pruned scans
      TableSink.append(df, table, partitionCols = Seq("order_dt"))
      cc.code -> spark.table(table).count()
    })
  }
}
