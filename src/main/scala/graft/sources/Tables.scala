package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish star schema plus the
  * LLM-data-pipeline tables (`documents`, `embeddings`, `events`).
  *
  * Each table is a single parquet file under `dir` (see TESTDATA.md).
  * Reads are plain `spark.read.parquet` so Catalyst gets full pushdown:
  * filters and column pruning reach the scan (`PushedFilters` /
  * `ReadSchema` in `.explain`), and at cluster scale the same call on a
  * directory of many files gives split-level parallelism for free.
  */
object Tables {
  val starSchema: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val dataOps: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = starSchema ++ dataOps

  /** Per-(session, path) memo of the RESOLVED parquet DataFrame —
    * driver-side plan-construction work only (file listing + footer
    * schema inference + relation resolution), never data: every action
    * on the returned frame still scans the parquet from disk. The
    * round-21 PlanCost audit put ~0.1 s of per-query bench wall in
    * exactly this resolution (repeated for every `spark.read.parquet`
    * of the same static file), the largest uniform slice of the
    * 94-query small-query bucket (guide §5: the driver should do
    * almost no work; §7.3: resolution/listing is single-threaded
    * driver time). Both the base tables ([[load]]) and DurableIndex's
    * non-catalog artifact attaches read through it.
    *
    * Keyed on `sessionUUID` (a String: a session-keyed weak map never
    * collects, because its DataFrame values reference their session)
    * and bounded to [[MaxMemoSessions]] least-recently-used sessions —
    * foreachBatch streams run on cloned sessions. Each path holds ONE
    * version: a regenerated table or a republished generation at the
    * same path replaces its entry instead of accumulating. The version
    * is the root's length + mtime plus its listing (child names,
    * lengths, mtimes): a Spark-written dir's root length is constant,
    * so a same-tick rewrite would collide on len+mtime alone, while its
    * part-file names carry a fresh UUID on every write. One root
    * getFileStatus + listStatus per call, microseconds against the
    * ~100 ms resolution it saves. A vanished path resolves (and
    * throws) exactly like the direct read. Contract: a rewrite below
    * the root's children that leaves its listing untouched is not a
    * supported flow. */
  private[graft] def resolvedParquet(spark: SparkSession, path: String): DataFrame = {
    val ver =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = fs.getFileStatus(p)
        fs.listStatus(p)
          .map(c => s"${c.getPath.getName}:${c.getLen}:${c.getModificationTime}")
          .sorted.mkString(s"${st.getLen}:${st.getModificationTime}|", ",", "")
      } catch { case _: java.io.IOException => "absent" }
    val id = org.apache.spark.sql.GraftSessionId.of(spark)
    val per = memo.synchronized(memo.computeIfAbsent(id, _ => new PathMemo))
    per.compute(path, (_, old) =>
      if (old != null && old._1 == ver) old else (ver, spark.read.parquet(path)))._2
  }

  private[sources] val MaxMemoSessions = 16

  /** path -> (version, resolved relation) for one session. */
  private type PathMemo =
    java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]

  private val memo = new java.util.LinkedHashMap[String, PathMemo](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, PathMemo]): Boolean =
      size > MaxMemoSessions
  }

  /** Sessions the memo currently holds. */
  private[sources] def memoSessions: Int = memo.synchronized(memo.size)

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    resolvedParquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 refuses to
    * read as a timestamp; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` and this loader
    * normalizes the nano count to an ms-truncated TimestampType — the
    * highest precision the DuckDB oracle and Spark can agree on
    * bit-for-bit (DuckDB keeps ns, Spark µs). */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** Shared by the batch loader and the streaming reader (which must
    * declare the RAW schema, then normalize). The harness has shipped
    * `events.ts` in three encodings across rounds — TIMESTAMP(NANOS)
    * surfacing as a nano-count long under `nanosAsLong`, untagged µs
    * surfacing as TIMESTAMP_NTZ, and plain TimestampType — so this
    * canonicalizes ALL of them to ONE shape: ms-truncated
    * TimestampType. The session TZ is pinned UTC everywhere, so the
    * NTZ wall clock and the instant coincide and the cast is lossless.
    * Every downstream consumer — Catalyst plans, typed encoders
    * (`Ev`/`SessionRow` declare `java.sql.Timestamp`), driver-side
    * `Row.getTimestamp` — relies on this invariant; keep it total over
    * any encoding the data may drift to next. */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    val canonical = raw.schema("ts").dataType match {
      case LongType => timestamp_millis(expr("ts div 1000000"))
      case TimestampNTZType =>
        date_trunc("millisecond", col("ts").cast(TimestampType))
      case _ => date_trunc("millisecond", col("ts"))
    }
    raw.withColumn("ts", canonical)
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
