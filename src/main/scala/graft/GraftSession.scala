package graft

import org.apache.spark.sql.SparkSession

/** The ONE place the entry points' session confs live (round-16 advice:
  * the AQE initial width + its env override were duplicated verbatim in
  * Bench and Verify, and withStreamConfs had to independently know to
  * pin the same key — three coupled sites, and the q123 regression that
  * round came from one site not knowing about another). Every entry
  * point builds through [[build]]: Bench, Verify, ScaleGen, ScaleGate,
  * Explain, MedallionJob and perfbench; MedallionJob then pins
  * [[InitialPartitionsKey]] to the core count, a runtime conf. Stream
  * drains pin [[InitialPartitionsKey]] and
  * [[StreamPartitions]] through this object's constants.
  */
object GraftSession {

  /** AQE's initial shuffle width — the key stream drains must pin
    * alongside `spark.sql.shuffle.partitions` (foreachBatch bodies are
    * batch plans, AQE ON, so the session-wide scale-out default would
    * otherwise override their drop-sizing — the round-16 q123 leak). */
  val InitialPartitionsKey =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Shuffle width of every stream drain's micro-batch plans (the
    * text drains widen with the corpus, see
    * `DedupQueries.textStreamWidth`): drop-sized batches want
    * drop-sized widths. */
  val StreamPartitions = "4"

  /** Shuffle WIDTH must scale with the data, not the core count
    * (round-16 sf10-skew finding): at 1.19M docs the q26 pair
    * aggregation put multi-GB post-shuffle partitions in each of 32
    * tasks and heap-OOMed before spill could save it. AQE solves
    * exactly this when given a wide INITIAL width — start at 512 and
    * let coalescePartitions shrink small shuffles back toward core
    * count (parallelismFirst default), so small-SF plans keep their
    * task counts while corpus-scale shuffles get memory-bounded
    * partitions. Streaming drains disable AQE on the stateful plan and
    * pin the explicit withStreamConfs sizing on their batch bodies. */
  def initialPartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", "512")

  /** Core count for local[N]: env override, capped at 32. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.min(Runtime.getRuntime.availableProcessors, 32).toString)

  /** The shared local session every entry point runs on: graft
    * extensions, core-count base shuffle width + data-scaled AQE
    * initial width, UTC, nanos-as-long (the events.parquet encodings
    * drift — see Tables.normalizeEventTs), no UI, in-memory catalog. The
    * warehouse dir is a static conf, only settable at build time
    * (ScaleGate scopes its artifact warehouse inside its work dir). */
  def build(warehouseDir: Option[String] = None): SparkSession = {
    val n = cpus
    val b = SparkSession.builder()
      .withExtensions(new graft.functions.expr.GraftExtensions)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config(InitialPartitionsKey, initialPartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // DELIBERATELY NOT SET: spark.sql.legacy.bucketedTableScan
      // .outputOrdering. With one sorted file per bucket (DurableIndex)
      // the flag makes every index-side merge-join sort-free and took
      // q142@sf10 132.7s -> 100.3s — but the round-18 re-run gate
      // caught it dying at sf10-SKEW on the 8 GiB contract heap
      // (q142 dead 2/2 samples, q145 OOM-shaped 1/2, vs zero OOM
      // shapes without it): the in-task sort is also a SPILL BARRIER,
      // and without it the bucket-wide pair explosion pipelines
      // straight into the shuffle writers while the scan batches and
      // staged blocks contend for the same heap. Memory safety at the
      // contract heap beats the uniform-corpus speedup; revisit only
      // with a per-query scope and a skew-leg proof.
      .config("spark.ui.enabled", "false")
    val spark = warehouseDir.fold(b)(w => b.config("spark.sql.warehouse.dir", w)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The tail-budget log silencing Bench documents (the driver parses
    * the LAST ~2000 chars of output; chatty-but-intentional WARNs from
    * global windows, locally-checkpointed staging RDDs, and per-stream
    * AQE advisories would crowd that window). Scoped to the EMITTING
    * loggers only — block-manager WARNs from other classes stay
    * visible. Split from [[build]] so Verify (whose stderr the driver
    * reads per-query) can opt out. */
  def quietNoisyLoggers(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
        "org.apache.spark.rdd.LocalRDDCheckpointData",
        "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))
  }
}
