package graft.consume

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Concurrently
import graft.sinks.TableSink

/** Generic incremental dimension builder (SURVEY.md §2 A1+J3+S12 composed;
  * ref: step_5_curated_to_consumption.py:72-380).
  *
  * The reference's per-dim recipe, uniformly:
  *   1. candidate rows = the DISTINCT natural keys (the reference's
  *      groupBy(natural key).count() with the count discarded, ref:
  *      step_5:84,149-151,215-217, …);
  *   2. isActive = 'Y' literal;
  *   3. left-anti join against the existing dim on the natural key — the
  *      incremental-delta mechanism (ref: step_5:107-111 etc.; the
  *      region dim anti-joins on BOTH country and region, fixing the
  *      reference's country-only defect, SURVEY §2.10);
  *   4. dense surrogate keys continuing from the current max pk
  *      (`<dim>_seq.nextval`, ref: step_5:88,178,239,304,363) and
  *   5. conditional append (ref guard: step_5:51-67): both are
  *      [[TableSink.appendKeyed]].
  * [[buildAll]] does steps 1-2; [[build]] does 3-5, for the date dim too.
  *
  * Scale: candidates are aggregated with map-side partial combine; the
  * existing-dim side of the anti-join is broadcast (dims are orders of
  * magnitude smaller than facts); key assignment is the distributed
  * count-and-offset of [[graft.keys.SurrogateKeys]] (no single-partition
  * window). Precondition: the databases exist (MedallionJob.run).
  */
object DimBuilder {

  /** Build/extend one keyed table by the natural keys it lacks; returns
    * rows appended. */
  def build(spark: SparkSession, table: String, pkCol: String,
      rows: DataFrame, naturalKey: Seq[String]): Long = {
    val delta =
      if (TableSink.exists(spark, table))
        rows.join(broadcast(spark.table(table).select(naturalKey.map(col): _*)),
          naturalKey, "left_anti")
      else rows
    TableSink.appendKeyed(spark, table, pkCol, delta, naturalKey)
  }

  /** The five value dims over the unioned curated sales (ref: step_5
    * main, :465-476). `allSales` must carry the curated schema. */
  def buildAll(spark: SparkSession, allSales: DataFrame): Map[String, Long] = {
    val product = allSales
      .withColumn("brand", split(col("mobile_key"), "/").getItem(0))
      .withColumn("model", split(col("mobile_key"), "/").getItem(1))
      .withColumn("color", split(col("mobile_key"), "/").getItem(2))
      .withColumn("memory", split(col("mobile_key"), "/").getItem(3))

    val promo = allSales
      .withColumn("promotion_code", coalesce(col("promotion_code"), lit("NA")))

    def dim(name: String, pkCol: String, from: DataFrame,
        naturalKey: String*): (String, () => Long) =
      name -> (() => build(spark, s"consumption.$name", pkCol,
        from.select(naturalKey.map(col): _*).distinct().withColumn("is_active", lit("Y")),
        naturalKey))

    // the five dims share nothing but their input: built concurrently,
    // each keyed on its own sequence, so keys stay deterministic
    val dims = Seq(
      dim("region_dim", "region_id_pk", allSales, "country", "region"),
      dim("product_dim", "product_id_pk", product,
        "mobile_key", "brand", "model", "color", "memory"),
      dim("promo_code_dim", "promo_code_id_pk", promo, "promotion_code", "country", "region"),
      dim("customer_dim", "customer_id_pk", allSales,
        "customer_name", "contact_no", "shipping_address", "country", "region"),
      dim("payment_dim", "payment_id_pk", allSales,
        "payment_method", "payment_provider", "country", "region"))
    dims.map(_._1).zip(Concurrently.all(dims.map(_._2))).toMap
  }
}
