package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.Tables

/** Stream/batch equivalence: a bounded AvailableNow drain of the file
  * source must produce exactly the result of the same transform run as a
  * batch — Structured Streaming's core correctness contract. */
class StreamingOpsSpec extends SparkSpec {

  test("streaming hourly window agg == batch groupBy over the same files") {
    val streamed = StreamingOps.hourlyCounts(spark, sfDir)
      .select("window_start", "event_type", "n", "total_value")

    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateful streaming sessionization == batch window sessionization") {
    val streamed = StreamingOps.sessionize(spark, sfDir)

    // independent batch formulation (lag -> gap flag -> running sum)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_type"))
    val wRun = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"))
      .rowsBetween(Long.MinValue, 0)
    val batch = Tables.events(spark, sfDir)
      .select(col("user_id"), date_trunc("millisecond", col("ts")).as("ts"),
        col("event_type"))
      .withColumn("new_s",
        when(lag(col("ts"), 1).over(w).isNull
          || unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)) > 1800000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("session bounds are consistent: start <= end, n_events >= 1") {
    val s = StreamingOps.sessionize(spark, sfDir)
    assert(s.filter(col("session_start") > col("session_end")).count() == 0)
    assert(s.filter(col("n_events") < 1).count() == 0)
  }

  test("three successive file arrivals drain incrementally on one checkpoint") {
    // The incremental contract q34/q36 rely on, proven directly: the
    // SAME checkpointed query restarted over three successive file
    // drops processes each arrival exactly once, carries watermark and
    // window state across drains, and the final table equals the batch
    // aggregate over everything — including the windows whose events
    // were split across two arrivals.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger

    val src = tempDir("multi_src").toString
    val ckpt = tempDir("multi_ckpt").toString
    val table = graft.queries.JvmScratch.resetTable(spark, "stream_multi_arrivals")

    // three arrival chunks in event-time order (files arrive roughly
    // time-ordered in a real landing zone), written as plain parquet
    // drops into the same source directory
    val events = Tables.events(spark, sfDir)
      .withColumn("rn",
        row_number().over(Window.orderBy("ts", "user_id", "event_type")))
    val n = events.count()
    def dropChunk(i: Int): Unit =
      events.filter(col("rn") > i * n / 3 && col("rn") <= (i + 1) * n / 3)
        .drop("rn").write.mode("append").parquet(src)

    dropChunk(0)
    val schema = spark.read.parquet(src).schema
    def drain(): Long = {
      val agg = spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.format("parquet").mode("append").saveAsTable(table)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the appends ran on the stream's cloned session — refresh this
      // session's cached relation before reading the table
      spark.catalog.refreshTable(table)
      spark.table(table).count()
    }

    val c1 = drain()
    dropChunk(1)
    val c2 = drain()
    dropChunk(2)
    val c3 = drain()
    // every arrival closed further windows: emission in EACH drain is
    // only possible if the checkpoint carried watermark + state forward
    assert(c1 > 0, "first drain emitted nothing")
    assert(c2 > c1, "second arrival's drain emitted nothing new")
    assert(c3 > c2, "third arrival's drain emitted nothing new")

    // flush the trailing open windows: one sentinel 3h past max(ts),
    // then a final drain on the same checkpoint
    val maxTs = spark.read.parquet(src).agg(max(col("ts"))).first().getTimestamp(0)
    spark.read.parquet(src).limit(1)
      .withColumn("ts", lit(new java.sql.Timestamp(maxTs.getTime + 3L * 3600 * 1000)))
      .withColumn("event_type", lit("graft_sentinel"))
      .write.mode("append").parquet(src)
    drain()

    val streamed = spark.table(table)
      .filter(col("event_type") =!= "graft_sentinel")
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("events stage key detects same-size in-place source regeneration") {
    // The event streams read a copy of events.parquet staged once per
    // source version, keyed by DurableIndex.fingerprint (per-file name,
    // length, mtime). A testdata regeneration that keeps byte counts
    // identical must still change the key (via mtime), or a stale stage
    // would silently serve old data.
    val dir = tempDir("stagekey")
    val f = java.nio.file.Files.createDirectories(dir.resolve("events.parquet"))
      .resolve("part-0.parquet")
    java.nio.file.Files.write(f, Array.fill[Byte](64)(1))
    def key = graft.sources.DurableIndex.fingerprint(spark, dir.toString, "events.parquet")
    val k1 = key
    assert(key == k1, "key not stable on untouched source")

    // same name, same size, different mtime — the equal-size in-place rewrite
    java.nio.file.Files.write(f, Array.fill[Byte](64)(2))
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 1234))
    assert(key != k1, "same-size regeneration did not change the stage key")
  }
}
