package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.GraftSession
import graft.GraftSession.withConfs
import graft.queries.{DedupQueries, JvmScratch}
import graft.sources.Tables

/** Row types for the stateful sessionization path. Top-level (not nested
  * in the object) so the generated encoder projection code can reach the
  * accessors. */
case class Ev(user_id: Long, ts: java.sql.Timestamp, event_type: String)
case class SessionRow(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long)

/** Structured Streaming operators over the `events` table.
  *
  * The reference is batch-only (SURVEY §2.9) — these are the
  * north-star streaming extensions: the same file data processed through
  * `readStream` with `Trigger.AvailableNow`, so each call drains the
  * source as one bounded run and the result is comparable to a batch
  * oracle. At scale the identical code runs continuously against an
  * arriving-file or Kafka source; only the trigger changes.
  */
object StreamingOps {

  /** Stateful-query partition sizing shared by every stateful stream
    * here: shuffle partitions beyond the state volume are pure
    * per-micro-batch state-store commit overhead (measured 72s -> 31s
    * at sf0.1 going 32 -> 4 on the interval join). The width is the
    * drains' shared [[GraftSession.StreamPartitions]]; unlike
    * `DedupQueries.withStreamConfs` this sets no AQE width and no
    * overwrite mode: these drains append, they never rewrite a
    * batch_id partition. */
  private val StreamWidth =
    "spark.sql.shuffle.partitions" -> GraftSession.StreamPartitions

  /** Bounded file stream over `events.parquet`, ts normalized to an
    * ms-truncated TimestampType exactly as the batch loader does.
    * FileStreamSource hard-sets `basePath` to the source path itself,
    * and requires it to be a directory — a bare `events.parquet` file
    * can never stream. Real streaming sources ARE directories of
    * arriving files, so the file is staged into this JVM's scratch
    * cache ([[JvmScratch.cached]]) once per source version and the
    * directory is streamed ([[openEvents]]). */
  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    // staged once per source version into this JVM's cache: the key is
    // the source's DurableIndex fingerprint (per-file name, length and
    // mtime), so a regeneration re-stages even at the same byte count
    openEvents(spark, JvmScratch.cached("events_src", dir,
      graft.sources.DurableIndex.fingerprint(spark, dir, "events.parquet"))(
      copyEventsInto(dir, _)).toString)

  /** The file stream over a staged events dir. It must declare the RAW
    * parquet schema (ts arrives as a nano-count long under
    * `nanosAsLong`); declaring the normalized schema would misread the
    * files. So probe the raw schema with a one-off batch read, then
    * [[Tables.normalizeEventTs]] the stream. */
  private def openEvents(spark: SparkSession, stageDir: String): DataFrame = {
    val rawSchema = spark.read.parquet(stageDir).schema
    Tables.normalizeEventTs(spark.readStream.schema(rawSchema).parquet(stageDir))
  }

  /** Top-level .parquet files of a table path (a single file, as the
    * driver's testdata ships, or a directory of part files, as Spark
    * writes — e.g. a ScaleGen sf1 copy). */
  private def listParquet(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try {
        val it = s.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) buf += f
        }
        buf.toSeq
      } finally s.close()
    } else if (java.nio.file.Files.exists(p)) Seq(p)
    else Seq.empty

  /** Stage the events table into `stageDir` as flat parquet files the
    * file-stream source can list, whatever shape the source has. */
  private def copyEventsInto(dir: String, stageDir: java.nio.file.Path): Unit =
    listParquet(java.nio.file.Paths.get(dir, "events.parquet"))
      .zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.copy(p, stageDir.resolve(f"events_$i%05d.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }

  /** Fresh private staging dir holding a copy of events.parquet: q34
    * and q36 append a sentinel to it, which the shared cached stage of
    * [[eventStream]] must never receive. */
  private def stageEventsFresh(dir: String, tag: String): String = {
    val stageDir = JvmScratch.dir(s"${tag}_src")
    copyEventsInto(dir, java.nio.file.Paths.get(stageDir))
    stageDir
  }

  /** Append one sentinel row 3h past max(ts) to the staged source so a
    * same-checkpoint restart advances the watermark past all real data —
    * exactly how a live stream's trailing state gets flushed: later
    * events arrive. The raw ts is a nano count under nanosAsLong (the
    * driver's testdata) or a real TIMESTAMP (ScaleGen output) — the
    * sentinel honors whichever shape the staged schema has.
    * `overrides` mark the sentinel so results can exclude it. */
  private def writeSentinel(spark: SparkSession, stageDir: String,
      overrides: Map[String, org.apache.spark.sql.Column]): Unit = {
    val raw = spark.read.parquet(stageDir)
    // max(ts) + 3h computed wholly in Catalyst (one-row agg cross-joined
    // back), so the sentinel keeps whichever raw encoding the staged
    // files carry — nano-count long, TIMESTAMP_NTZ, or TimestampType —
    // with no driver-side JVM type round-trip to break on drift
    // (round-10 regression: `Row.getTimestamp` CCE'd on NTZ rows).
    val bumped: org.apache.spark.sql.Column =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        col("__max_ts") + lit(3L * 3600 * 1000000000L)
      else col("__max_ts") + expr("INTERVAL 3 HOURS")
    val maxRow = raw.agg(max(col("ts")).as("__max_ts"))
    // the trailing select pins the staged column order, so an override
    // column absent from the staged schema would be silently dropped —
    // fail loudly instead (round-11 advice; call sites only override
    // existing columns today)
    require(overrides.keySet.subsetOf(raw.columns.toSet),
      s"writeSentinel: override columns ${overrides.keySet -- raw.columns.toSet} " +
        "not in the staged schema; the sentinel would drop them")
    overrides.foldLeft(
        raw.limit(1).crossJoin(maxRow)
          .withColumn("ts", bumped).drop("__max_ts")) {
        case (df, (c, v)) => df.withColumn(c, v)
      }
      .select(raw.columns.map(col).toIndexedSeq: _*)
      .write.mode("append").parquet(stageDir)
  }

  /** AvailableNow drain through a checkpointed foreachBatch append. */
  private def drainToTable(df: DataFrame, ckpt: String, table: String): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.format("parquet").mode("append").saveAsTable(table)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[drainToTable]] on a fresh `tag` checkpoint, deleted afterwards:
    * the result is read back from `table`, never from the checkpoint. */
  private def drainFresh(df: DataFrame, tag: String, table: String): Unit = {
    val ckpt = JvmScratch.dir(s"${tag}_ckpt")
    try drainToTable(df, ckpt, table) finally DedupQueries.rmQuietly(ckpt)
  }

  /** Hourly tumbling-window counts per event type via readStream +
    * watermark + windowed groupBy, in the shape that survives CONTINUOUS
    * operation (round-3 verdict: the old Complete-mode memory sink
    * re-emits the whole result each trigger and lives on the driver —
    * fine for a bounded drain, wrong at scale):
    *
    *   - Append output mode: each window row is emitted exactly once,
    *     when the watermark closes it, and its state is evicted;
    *   - foreachBatch -> managed-table append: the sink grows on disk,
    *     not in driver memory, and restarts resume from the checkpoint.
    *
    * Append mode meets one bounded-drain reality: the watermark only
    * advances on arriving data, so the trailing windows are still open
    * when the source drains and would never emit. A live stream closes
    * them when later events arrive — so the drain does exactly that:
    * after the first run, a sentinel event 3h past max(ts) lands in the
    * source directory and the SAME checkpointed query restarts, which
    * pushes the watermark past every real window and flushes them. The
    * sentinel's own window stays open forever and is never emitted, so
    * the table equals the batch aggregate exactly. */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame =
    withConfs(spark, StreamWidth) {
      val table = JvmScratch.resetTable(spark, "stream_hourly")
      val stageDir = stageEventsFresh(dir, "q34")
      val ckpt = JvmScratch.dir("q34_ckpt")
      try {
        val agg = openEvents(spark, stageDir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("total_value"))

        drainToTable(agg, ckpt, table) // emits every window the data closed
        writeSentinel(spark, stageDir, Map("event_type" -> lit("graft_sentinel")))
        drainToTable(agg, ckpt, table) // watermark jumps -> trailing flush
      } finally DedupQueries.rmQuietly(stageDir, ckpt)

      spark.table(table).filter(col("event_type") =!= "graft_sentinel")
    }

  /** Stream-static enrichment join: each micro-batch of the event stream
    * joins a STATIC dimension table (nation, keyed by user_id % 25) —
    * the canonical streaming lookup-enrichment shape. Stateless: no
    * watermark and no state store, because the static side is complete
    * at plan time; Spark broadcasts it into every micro-batch, so the
    * stream side never shuffles for the join. At 100 TB/day the same
    * plan holds as long as the dim is broadcastable; a huge dim swaps
    * in a shuffled join without touching the query. The drained
    * enriched table is aggregated in batch and equals the pure-batch
    * join oracle regardless of how the source was micro-batched. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    withConfs(spark, StreamWidth) {
      val table = JvmScratch.resetTable(spark, "stream_dim")
      val dim = Tables.nation(spark, dir)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      val enriched = eventStream(spark, dir)
        .select(col("event_id"), col("user_id"))
        .join(broadcast(dim), (col("user_id") % 25) === col("nk"))
        .select(col("event_id"), col("user_id"), col("n_name"))
      drainFresh(enriched, "q67", table)
      spark.table(table).groupBy("n_name")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }

  /** Stream-stream interval join (attribution shape): purchases matched
    * to a prior click by the same user within 30 minutes. Both sides
    * carry watermarks and the join predicate bounds event-time distance,
    * so state is evictable — the requirements Structured Streaming
    * imposes precisely so this runs unbounded at scale. Drained with
    * AvailableNow the emitted matches equal the batch interval join
    * (the oracle). */
  def attributionJoin(spark: SparkSession, dir: String): DataFrame =
    // shuffle partitions = state-store count, and an interval join
    // commits FOUR stores per partition per micro-batch
    withConfs(spark, StreamWidth) {
      val e = eventStream(spark, dir)
        .select(col("event_id"), col("user_id"),
          date_trunc("millisecond", col("ts")).as("ts"), col("event_type"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"))
        .withWatermark("buy_ts", "1 hour")

      val joined = clicks.join(buys, expr(
        """c_user = b_user AND
          |buy_ts >= click_ts AND
          |buy_ts <= click_ts + interval 30 minutes""".stripMargin))
        .select(col("c_user").as("user_id"), col("click_id"), col("buy_id"),
          col("click_ts"), col("buy_ts"))

      // Checkpointed foreachBatch append to a managed table (q34 shape):
      // the sink grows on disk, not in driver memory, and a restart resumes
      // from the checkpoint — the form that survives unbounded operation.
      // No sentinel restart is needed: an inner stream-stream join emits
      // each match as soon as both sides arrive (the watermark only gates
      // STATE EVICTION), so the single AvailableNow drain emits every match.
      val table = JvmScratch.resetTable(spark, "stream_attr")
      drainFresh(joined, "q47", table)
      spark.table(table)
    }

  /** Streaming deduplication: dropDuplicates on the (user_id,
    * event_type) key over the bounded drain — emits exactly the distinct
    * key set (which survivor row is arbitrary, so only the key columns
    * are projected; that makes the result deterministic and equal to
    * batch DISTINCT). At scale the same call takes a watermark so the
    * key state is evictable. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame =
    withConfs(spark, StreamWidth) {
      val dedup = eventStream(spark, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")

      // Checkpointed foreachBatch append to a managed table (q34 shape).
      // dropDuplicates emits a key the first time it appears, so the single
      // AvailableNow drain emits the complete distinct key set — no
      // sentinel restart needed (the keep-all state, evictable only with a
      // watermark, is the documented at-scale caveat above).
      val table = JvmScratch.resetTable(spark, "stream_dedup")
      drainFresh(dedup, "q48", table)
      spark.table(table)
    }

  /** Streaming ELT through foreachBatch (SURVEY §2.9's named upgrade
    * path): each micro-batch runs the SAME batch transform and appends
    * to a managed table — the pattern that turns the medallion pipeline
    * into a continuous one without rewriting its transforms. Under
    * AvailableNow the source drains exactly once, so the final table
    * equals the batch result regardless of how the input was split into
    * batches (the declared, oracle-checked property). */
  def foreachBatchToTable(spark: SparkSession, dir: String): DataFrame = {
    val table = JvmScratch.resetTable(spark, "stream_events")
    // the same enrichment a batch job would run, on each micro-batch
    drainFresh(eventStream(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .withColumn("value_d", col("value").cast("decimal(18,2)")), "q45", table)
    spark.table(table)
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value_d")).cast("double").as("total_value"))
      .select(col("event_date").cast("timestamp").as("event_date"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** Stateful sessionization (30-min inactivity gap) with
    * flatMapGroupsWithState — the KeyValueGroupedDataset custom-state
    * path, in the shape that survives CONTINUOUS operation (round-4
    * upgrade; the previous version cleared state every batch, exact
    * only when the drain was a single micro-batch):
    *
    *   - state per user = the one OPEN session (not the event buffer);
    *     events arriving within the gap extend it, a gap closes it and
    *     emits the closed row — so memory is O(1) per key however long
    *     the stream runs;
    *   - EventTimeTimeout at (session_end + gap): when the WATERMARK
    *     passes a session's close boundary, the handler fires with no
    *     data and flushes it — the production mechanism for emitting a
    *     user's last session;
    *   - checkpointed foreachBatch table sink, same as q34, and the
    *     same sentinel restart closes all trailing sessions for the
    *     bounded drain (a live stream's later data does this for free).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    withConfs(spark, StreamWidth) {
      import spark.implicits._
      val table = JvmScratch.resetTable(spark, "stream_sessions")
      val stageDir = stageEventsFresh(dir, "q36")
      val ckpt = JvmScratch.dir("q36_ckpt")
      val gapMs = 30L * 60 * 1000
      try {
        // ms truncation: the parquet timestamps carry nanoseconds, which
        // Spark truncates to microseconds while the DuckDB oracle keeps —
        // session boundaries must come from a precision both engines share.
        val sessions = openEvents(spark, stageDir)
          .select(col("user_id"),
            date_trunc("millisecond", col("ts")).as("ts"), col("event_type"))
          .withWatermark("ts", "1 hour")
          .as[Ev]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[SessionRow, SessionRow](
            OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
            (uid: Long, evs: Iterator[Ev], state: GroupState[SessionRow]) =>
              if (state.hasTimedOut) {
                // watermark passed the open session's close boundary: flush
                val out = state.getOption.iterator.toList
                state.remove()
                out.iterator
              } else {
                val sorted = evs.toList.sortBy(e => (e.ts.getTime, e.event_type))
                val out = scala.collection.mutable.ListBuffer[SessionRow]()
                var cur = state.getOption.orNull
                sorted.foreach { e =>
                  if (cur == null) cur = SessionRow(uid, e.ts, e.ts, 1L)
                  else if (e.ts.getTime - cur.session_end.getTime <= gapMs)
                    cur = cur.copy(
                      session_end =
                        if (e.ts.getTime > cur.session_end.getTime) e.ts
                        else cur.session_end,
                      n_events = cur.n_events + 1)
                  else { out += cur; cur = SessionRow(uid, e.ts, e.ts, 1L) }
                }
                state.update(cur)
                state.setTimeoutTimestamp(cur.session_end.getTime + gapMs + 1)
                out.iterator
              }
          }

        drainToTable(sessions.toDF(), ckpt, table) // sessions closed by data
        writeSentinel(spark, stageDir, Map("user_id" -> lit(-1L)))
        drainToTable(sessions.toDF(), ckpt, table) // timeouts fire -> flush
      } finally DedupQueries.rmQuietly(stageDir, ckpt)

      spark.table(table).filter(col("user_id") =!= -1L)
    }
}
