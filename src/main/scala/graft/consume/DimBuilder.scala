package graft.consume

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Concurrently
import graft.keys.SurrogateKeys
import graft.sinks.TableSink

/** Generic incremental dimension builder (SURVEY.md §2 A1+J3+S12 composed;
  * ref: step_5_curated_to_consumption.py:72-380).
  *
  * The reference's per-dim recipe, uniformly:
  *   1. candidate rows = groupBy(natural key).count() — i.e. DISTINCT
  *      with the count discarded (ref: step_5:84,149-151,215-217, …);
  *   2. isActive = 'Y' literal;
  *   3. left-anti join against the existing dim on the natural key — the
  *      incremental-delta mechanism (ref: step_5:107-111 etc.; the
  *      region dim anti-joins on BOTH country and region, fixing the
  *      reference's country-only defect, SURVEY §2.10);
  *   4. dense surrogate keys continuing from the current max pk
  *      (`<dim>_seq.nextval`, ref: step_5:88,178,239,304,363);
  *   5. conditional append (ref guard: step_5:51-67), guarded on the
  *      delta size the key assignment counted.
  *
  * Scale: candidates are aggregated with map-side partial combine; the
  * existing-dim side of the anti-join is broadcast (dims are orders of
  * magnitude smaller than facts); key assignment is the distributed
  * count-and-offset of [[SurrogateKeys]] (no single-partition window).
  */
object DimBuilder {

  /** Build/extend one dimension; returns rows appended. */
  def build(spark: SparkSession, table: String, pkCol: String,
      candidates: DataFrame, naturalKey: Seq[String]): Long = {
    val distinctCand = candidates
      .groupBy(naturalKey.map(col): _*).count()
      .drop("count")
      .withColumn("is_active", lit("Y"))

    val delta =
      if (TableSink.exists(spark, table)) {
        val existing = spark.table(table).select(naturalKey.map(col): _*)
        distinctCand.join(broadcast(existing), naturalKey, "left_anti")
      } else distinctCand

    val offset =
      if (TableSink.exists(spark, table))
        spark.table(table).agg(coalesce(max(col(pkCol)), lit(0L)))
          .first().getLong(0)
      else 0L

    val (keyed, appended) =
      SurrogateKeys.denseCounted(delta, naturalKey.map(col), pkCol, offset)

    // the delta's size, counted by the key assignment, guards the append
    // (ref: step_5:51-67) and is the report
    if (appended > 0)
      TableSink.append(keyed.select(pkCol, (naturalKey :+ "is_active"): _*), table)
    appended
  }

  /** The five value dims over the unioned curated sales (ref: step_5
    * main, :465-476). `allSales` must carry the curated schema. */
  def buildAll(spark: SparkSession, allSales: DataFrame): Map[String, Long] = {
    TableSink.ensureDatabases(spark)

    val product = allSales
      .withColumn("brand", split(col("mobile_key"), "/").getItem(0))
      .withColumn("model", split(col("mobile_key"), "/").getItem(1))
      .withColumn("color", split(col("mobile_key"), "/").getItem(2))
      .withColumn("memory", split(col("mobile_key"), "/").getItem(3))

    val promo = allSales
      .withColumn("promotion_code", coalesce(col("promotion_code"), lit("NA")))

    // the five dims share nothing but their input: built concurrently,
    // each keyed on its own sequence, so keys stay deterministic
    val dims: Seq[(String, () => Long)] = Seq(
      "region_dim" -> (() => build(spark, "consumption.region_dim", "region_id_pk",
        allSales, Seq("country", "region"))),
      "product_dim" -> (() => build(spark, "consumption.product_dim", "product_id_pk",
        product, Seq("mobile_key", "brand", "model", "color", "memory"))),
      "promo_code_dim" -> (() => build(spark, "consumption.promo_code_dim", "promo_code_id_pk",
        promo, Seq("promotion_code", "country", "region"))),
      "customer_dim" -> (() => build(spark, "consumption.customer_dim", "customer_id_pk",
        allSales, Seq("customer_name", "contact_no", "shipping_address", "country", "region"))),
      "payment_dim" -> (() => build(spark, "consumption.payment_dim", "payment_id_pk",
        allSales, Seq("payment_method", "payment_provider", "country", "region"))))
    dims.map(_._1).zip(Concurrently.all(dims.map(_._2))).toMap
  }
}
