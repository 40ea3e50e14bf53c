package graft.consume

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date dimension (ref: step_5_curated_to_consumption.py:383-460).
  *
  * The reference collects min/max order dates to the Python driver,
  * builds the calendar with pandas `date_range`, and ships it back —
  * two driver round-trips. Spark-native replacement: one aggregate for
  * the bounds, then `sequence()` + `explode` generates the calendar ON
  * THE EXECUTORS (SURVEY §1.1 decision); date parts come from builtin
  * date functions instead of pandas `.dt` accessors.
  *
  * day_counter = position within the generated range, 1-based
  * (ref: step_5:407-409); weekday/weekend per pandas dayofweek semantics
  * Mon=0..Sun=6, weekend = 5,6 (ref: step_5:414-425) — Spark's
  * dayofweek() is Sun=1..Sat=7, translated below.
  */
object DateDimBuilder {

  def calendar(allSales: DataFrame): DataFrame =
    allSales
      .agg(min(col("order_dt")).as("mn"), max(col("order_dt")).as("mx"))
      .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("order_dt"))
      .select(
        col("order_dt"),
        year(col("order_dt")).as("order_year"),
        (datediff(col("order_dt"), col("mn")) + 1).cast("long").as("day_counter"),
        month(col("order_dt")).as("order_month"),
        quarter(col("order_dt")).as("order_quarter"),
        dayofmonth(col("order_dt")).as("order_day"),
        // pandas dayofweek: Monday=0 .. Sunday=6 (ref: step_5:413)
        ((dayofweek(col("order_dt")) + 5) % 7).as("order_dayofweek"),
        date_format(col("order_dt"), "EEEE").as("order_dayname"),
        dayofmonth(col("order_dt")).as("order_dayofmonth"),
        when(((dayofweek(col("order_dt")) + 5) % 7) >= 5, "Weekend")
          .otherwise("Weekday").as("order_weekday")) // ref map: step_5:414-424

  /** Incremental build: anti-join on order_dt, keys continue from max pk
    * (ref: step_5:427-443) — [[DimBuilder.build]] over the calendar.
    * Precondition: the databases exist. Returns rows appended. */
  def build(spark: SparkSession, allSales: DataFrame): Long =
    DimBuilder.build(spark, "consumption.date_dim", "date_id_pk",
      calendar(allSales), Seq("order_dt"))
}
