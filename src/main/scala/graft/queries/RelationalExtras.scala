package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.keys.SurrogateKeys
import graft.queries.DedupQueries.{drainDrops, writeBatch}
import graft.sources.Tables

/** Remaining SURVEY.md §2 relational operators not covered by CoreQueries:
  * O1 (LIMIT/top-k), S8-full (raw SQL over registered views), P2
  * (`selectExpr` projection), and the scale-safe S12 variant (distributed
  * dense surrogate keys, replacing the single-partition global window for
  * non-tiny inputs).
  */
object RelationalExtras {

  /** Shared oracle for both as-of join variants (q43 composed, q52
    * sub-partitioned): DuckDB's native ASOF LEFT JOIN over the same
    * synthesized rates — two independent implementations, one truth. */
  private val AsofOracleSql: String =
    """WITH events AS (SELECT o_orderkey, o_custkey % 3 AS ccy,
      |    CAST(o_orderdate AS DATE) AS dt FROM orders),
      |rates AS (SELECT DISTINCT ccy, dt AS rate_dt,
      |    1.0 + ccy * 0.1 + (dayofmonth(dt) % 7) / 100.0 AS rate
      |  FROM (SELECT DISTINCT o_custkey % 3 AS ccy,
      |          CAST(o_orderdate AS DATE) AS dt FROM orders)
      |  WHERE dayofyear(dt) % 7 = 0)
      |SELECT o_orderkey, events.ccy AS ccy, CAST(dt AS TIMESTAMP) AS dt,
      |  CAST(rate_dt AS TIMESTAMP) AS rate_dt, rate
      |FROM events ASOF LEFT JOIN rates
      |  ON events.ccy = rates.ccy AND events.dt >= rates.rate_dt""".stripMargin

  /** The synthesized (events, rates) pair both as-of variants join. */
  private def asofInputs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val o = Tables.orders(s, dir)
    val events = o.select(col("o_orderkey"),
      (col("o_custkey") % 3).as("ccy"), to_date(col("o_orderdate")).as("dt"))
    val rates = o.select((col("o_custkey") % 3).as("ccy"),
        to_date(col("o_orderdate")).as("rate_dt")).distinct()
      .filter(dayofyear(col("rate_dt")) % 7 === 0)
      .select(col("ccy"), col("rate_dt"),
        (lit(1.0) + col("ccy") * 0.1 + (dayofmonth(col("rate_dt")) % 7) / 100.0)
          .as("rate"))
    (events, rates)
  }

  /** q57's oracle, shared verbatim by the incremental q138: the SCD2
    * history is ONE result however it is derived — full-history window
    * recompute (q57) or current-rows-join apply (q138). */
  private def scd2OracleFor(keyPred: String): String = {
    val w = if (keyPred.isEmpty) "" else s" WHERE $keyPred"
    s"""WITH s1 AS (SELECT c_custkey, c_acctbal, c_mktsegment, 1 AS snap
      |  FROM customer$w),
      |s2 AS (SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
      |         ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment, 2 AS snap FROM customer$w),
      |snaps AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
      |flagged AS (SELECT c_custkey, c_acctbal, c_mktsegment, snap,
      |    lag(c_acctbal) OVER (PARTITION BY c_custkey ORDER BY snap) AS prev
      |  FROM snaps),
      |kept AS (SELECT * FROM flagged
      |  WHERE prev IS NULL OR prev <> c_acctbal)
      |SELECT c_custkey, c_acctbal, c_mktsegment,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  CAST(snap AS BIGINT) AS effective_from_snap,
      |  CAST(lead(snap) OVER w AS BIGINT) AS effective_to_snap,
      |  CAST(CASE WHEN lead(snap) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_current
      |FROM kept
      |WINDOW w AS (PARTITION BY c_custkey ORDER BY snap)""".stripMargin
  }

  /** q57's oracle, shared verbatim by q138/q139; q148 narrows it to
    * the keys that survive the forget set. */
  private val scd2Oracle: String = scd2OracleFor("")

  /** The SCD2 first load: every snapshot row opens version 1. */
  private[queries] def scd2FirstLoad(snapshot: org.apache.spark.sql.DataFrame,
      snapN: Long): org.apache.spark.sql.DataFrame =
    snapshot.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"),
      lit(1L).as("version"), lit(snapN).as("effective_from_snap"),
      lit(null).cast(LongType).as("effective_to_snap"),
      lit(1L).as("is_current"))

  /** One incremental SCD2 APPLY step — the operation q57's own scale
    * note promises ("an incremental load at 100 TB runs the same logic
    * on (incoming batch JOIN current-version rows), never the full
    * history"), made executable: the arriving snapshot joins ONLY the
    * standing table's current rows; a row whose tracked attribute
    * differs (or whose key is new) opens the next version, and the
    * superseded current rows close at `snapN`. Closed history rows are
    * carried through untouched — no window ever sees them again.
    * Chained applies equal the full-history window recompute
    * (TechniqueSpec proves it over three snapshots with inserts and a
    * twice-changing key); the AQE-chosen join sides are both
    * delta/current-sized, never history-sized. */
  private[queries] def scd2Apply(standing: org.apache.spark.sql.DataFrame,
      snapshot: org.apache.spark.sql.DataFrame,
      snapN: Long): org.apache.spark.sql.DataFrame = {
    val cur = standing.filter(col("is_current") === 1)
      .select(col("c_custkey").as("k"), col("c_acctbal").as("cur_bal"),
        col("version").as("cur_ver"))
    val opens = snapshot.select("c_custkey", "c_acctbal", "c_mktsegment")
      .join(cur, col("c_custkey") === col("k"), "left")
      .filter(col("k").isNull || col("c_acctbal") =!= col("cur_bal"))
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"),
        (coalesce(col("cur_ver"), lit(0L)) + 1L).as("version"),
        lit(snapN).as("effective_from_snap"),
        lit(null).cast(LongType).as("effective_to_snap"),
        lit(1L).as("is_current"))
    val closeKeys = opens.filter(col("version") > 1L)
      .select(col("c_custkey").as("ck"))
    val carried = standing.join(closeKeys, col("c_custkey") === col("ck"), "left")
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"),
        col("version"), col("effective_from_snap"),
        when(col("ck").isNotNull && col("is_current") === 1, lit(snapN))
          .otherwise(col("effective_to_snap")).as("effective_to_snap"),
        when(col("ck").isNotNull && col("is_current") === 1, lit(0L))
          .otherwise(col("is_current")).as("is_current"))
    carried.unionByName(opens)
  }

  /** q139's body: the q138 apply LIVE — the arriving snapshot lands as
    * 3 KEY-PARTITIONED drops (SCD2 applies over disjoint keys commute,
    * so drop order is irrelevant and each key's history is computed in
    * exactly one batch); each micro-batch restricts the PERSISTED
    * standing state to its own keys (left-semi), runs the identical
    * [[scd2Apply]], and dynamic-overwrites its own batch_id partition
    * of the sink. The output rows are a pure function of (static
    * standing state, the batch's keys' rows), so an at-least-once
    * replay rewrites identical rows. Union over batches == the
    * one-shot q138 apply == batch q57, verbatim oracle. `replay` as in
    * [[DedupQueries.drainDrops]].
    *
    * PRECONDITION (round-11 advice): the drops must carry a FULL
    * snapshot — every standing key appears in some micro-batch. History
    * is emitted only for keys the stream touches; a standing key absent
    * from every drop would be silently omitted from the union. Holds
    * here because snap2 rewrites every customer row; a partial-snapshot
    * (CDC-style) source would need the untouched standing rows unioned
    * in post-drain. */
  private[queries] def streamScd2Apply(s: org.apache.spark.sql.SparkSession,
      dir: String,
      replay: Replay = Replay.Off): org.apache.spark.sql.DataFrame = {
    scd2StateTable(s, dir) // the standing dimension exists pre-stream
    val snap2 = Tables.customer(s, dir)
      .select("c_custkey", "c_acctbal", "c_mktsegment")
      .withColumn("c_acctbal",
        when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
    val outTable = JvmScratch.tableName("stream_scd2_out")
    drainDrops(s, dir, "q139", "customer.parquet", replay,
        sinks = Seq(outTable -> Seq(
          "c_custkey" -> "bigint", "c_acctbal" -> "double",
          "c_mktsegment" -> "string", "version" -> "bigint",
          "effective_from_snap" -> "bigint", "effective_to_snap" -> "bigint",
          "is_current" -> "bigint"))) {
      i => snap2.filter(pmod(col("c_custkey"), lit(3)) === i)
    } { (batch, batchId) =>
      val keys = batch.select("c_custkey")
      val standing = scd2StateTable(batch.sparkSession, dir)
        .join(keys, Seq("c_custkey"), "left_semi")
      writeBatch(scd2Apply(standing, batch, 2L)
        .withColumn("c_acctbal", col("c_acctbal").cast("double")),
        batchId, outTable)
    } {
      s.table(outTable).select("c_custkey", "c_acctbal", "c_mktsegment",
        "version", "effective_from_snap", "effective_to_snap", "is_current")
    }
  }

  /** The persisted SCD2 STATE after the first load — q138's maintained
    * artifact (DurableIndex over the customer table content): at 100 TB
    * this is the dimension table itself, the thing the nightly apply
    * reads and rewrites. */
  private[graft] def scd2StateTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "scd2_state", "customer.parquet", None) {
      scd2FirstLoad(Tables.customer(s, dir)
        .select("c_custkey", "c_acctbal", "c_mktsegment"), 1L).coalesce(1)
    }

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // O1 LIMIT / top-k (ref: step_1_check_connection.py:54-65 `limit 10`).
    // orderBy+limit compiles to TakeOrderedAndProject: each partition
    // keeps only its local top-k, the driver merges k*numPartitions rows
    // — no global sort, scale-safe by construction.
    QueryDef(
      "q15_topk_limit",
      "deterministic top-k: ORDER BY value DESC with a unique-key tiebreak + LIMIT; TakeOrderedAndProject, never a global sort",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    },

    // ------------------------------------------------------------------
    // S8 full: raw SQL entry over registered views (ref: session.sql at
    // step_1_check_connection.py:43-65, step_5:465-541). The SQL text is
    // ANSI enough to run verbatim on DuckDB — the oracle IS the query.
    QueryDef(
      "q16_sql_view",
      "spark.sql over createOrReplaceTempView-registered tables; identical ANSI text runs on the oracle",
      """SELECT n_name,
        |  COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(
        """SELECT n_name,
          |  COUNT(*) AS n_customers,
          |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin)
    },

    // ------------------------------------------------------------------
    // P2 selectExpr projection (ref: step_5:87-92,177-185 — the
    // reference's dominant projection style).
    QueryDef(
      "q17_selectexpr",
      "selectExpr SQL-fragment projection: expressions, aliases, casts in one call (the reference's dim-builder projection idiom)",
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_uc,
        |  CAST(p_size * 10 AS BIGINT) AS size_deci,
        |  concat(p_brand, ':', p_type) AS brand_type
        |FROM part""".stripMargin) { (s, dir) =>
      Tables.part(s, dir).selectExpr(
        "p_partkey",
        "upper(p_brand) AS brand_uc",
        "CAST(p_size * 10 AS BIGINT) AS size_deci",
        "concat(p_brand, ':', p_type) AS brand_type")
    },

    // ------------------------------------------------------------------
    // S12 at scale: dense surrogate keys over a non-tiny table with NO
    // single-partition window (round-1/2 verdict's one perf-weak item).
    // The oracle is the semantic spec: row_number over the total order.
    QueryDef(
      "q18_distributed_keys",
      "dense append-safe surrogate keys via range-partition + monotonically_increasing_id decode + per-partition offsets — no WindowExec, no single-partition sort",
      """SELECT CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS order_sk,
        |  o_orderkey, o_custkey FROM orders""".stripMargin) { (s, dir) =>
      SurrogateKeys.dense(
        Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        Seq(col("o_orderkey")), "order_sk")
        .select(col("order_sk").cast(LongType).as("order_sk"),
          col("o_orderkey"), col("o_custkey"))
    },

    // ------------------------------------------------------------------
    // Skew-mitigation salting. A hot join key floods one shuffle
    // partition; the standard fix splits the probe side across k salts
    // and replicates the matching build rows once per salt, turning one
    // hot partition into k. The salt is deterministic (l_linenumber % k,
    // a value the row already carries) so the result — and the oracle,
    // which states the UNSALTED join — is exact: salting must never
    // change semantics, only the shuffle layout. AQE's skew-join handles
    // moderate skew automatically; explicit salting is the tool when one
    // key alone exceeds a task's memory.
    QueryDef(
      "q40_salted_join",
      "salted skew join: probe side salted by l_linenumber % 8, build side replicated k ways, join on (key, salt) — oracle is the plain join, proving salting is semantics-preserving",
      """SELECT o_orderpriority,
        |  count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val k = 8
      val probe = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"),
          (col("l_linenumber") % k).as("salt"))
      val build = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .crossJoin(broadcast(s.range(k).select(col("id").cast("int").as("salt"))))
      probe.join(build,
          probe("l_orderkey") === build("o_orderkey")
            && probe("salt") === build("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },

    // ------------------------------------------------------------------
    // Bucketed co-located join. Both sides are written as managed tables
    // bucketed 8 ways on the join key; Spark then plans the join with
    // ZERO Exchange operators — the bucket layout IS the shuffle, paid
    // once at write time and amortized over every subsequent join. The
    // 100-TB pattern for fact tables joined repeatedly on the same key.
    QueryDef(
      "q41_bucketed_join",
      "bucketed co-located join: both sides bucketBy(8, key) managed tables, joined with no Exchange in the plan; oracle is the plain join",
      """SELECT c_mktsegment,
        |  count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      // per-JVM scratch db (JvmScratch): a fixed machine-global path let
      // two concurrent JVMs drop each other's bucketed tables mid-read
      val ordersTbl = JvmScratch.resetTable(s, "bucketed_orders")
      val customerTbl = JvmScratch.resetTable(s, "bucketed_customer")
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(ordersTbl)
      Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
        .write.format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(customerTbl)
      // merge hint: at test SF Catalyst would broadcast the small side,
      // which also avoids a shuffle but hides the point — forcing SMJ
      // shows the bucket layout satisfying the join's distribution with
      // no Exchange on either side (the 100-TB case, where neither side
      // broadcasts).
      s.table(ordersTbl).hint("merge")
        .join(s.table(customerTbl),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    },

    // ------------------------------------------------------------------
    // As-of join — an operator Spark lacks natively (brief: custom-op
    // preference (a), compose existing ops). Each event is matched to
    // the most recent rate at or before its date, per currency: union
    // the tagged rate and event streams, sort within the join key
    // (rates before events on equal dates, so same-day rates match),
    // and forward-fill with last_value(ignoreNulls). ONE shuffle on the
    // join key; within-key time sort is the operator's inherent cost.
    // The oracle is DuckDB's NATIVE ASOF LEFT JOIN — an independent
    // implementation agreeing row-for-row. At 100 TB with few hot keys,
    // the parallelism ceiling is the key cardinality; q52 below is the
    // (key, time-bucket) sub-partitioned variant that lifts it.
    QueryDef(
      "q43_asof_join",
      "as-of join composed from union + keyed window last_value(ignoreNulls): events match the latest rate at-or-before their date; oracle is DuckDB's native ASOF LEFT JOIN",
      AsofOracleSql) { (s, dir) =>
      val (events, rates) = asofInputs(s, dir)
      val tagged = rates.select(col("ccy"), col("rate_dt").as("dt"),
          col("rate_dt"), col("rate"), lit(1).as("is_rate"),
          lit(null).cast("long").as("o_orderkey"))
        .unionByName(events.select(col("ccy"), col("dt"),
          lit(null).cast("date").as("rate_dt"), lit(null).cast("double").as("rate"),
          lit(0).as("is_rate"), col("o_orderkey")))
      // rates sort before events at equal dt (is_rate desc) => inclusive
      // "at-or-before" semantics, matching ASOF's dt >= rate_dt
      val w = Window.partitionBy(col("ccy"))
        .orderBy(col("dt").asc, col("is_rate").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("fill_rate", last(col("rate"), ignoreNulls = true).over(w))
        .withColumn("fill_dt", last(col("rate_dt"), ignoreNulls = true).over(w))
        .filter(col("is_rate") === 0)
        .select(col("o_orderkey"), col("ccy"), col("dt").cast("timestamp").as("dt"),
          col("fill_dt").cast("timestamp").as("rate_dt"), col("fill_rate").as("rate"))
    },

    // ------------------------------------------------------------------
    // As-of join, SUB-PARTITIONED (the q43 scale path, promised by its
    // round-3 comment): q43's window partitions by the join key alone,
    // so its parallelism ceiling is the raw key cardinality — 3 here,
    // 100-odd currencies in production, while the cluster has thousands
    // of cores. This variant partitions the big window by (key,
    // time-bucket) instead: parallelism = keys x buckets, and each
    // partition sorts only its bucket's rows.
    //
    // Correctness across bucket boundaries: an event early in a bucket
    // may need a rate from an earlier bucket. Each bucket's CLOSING rate
    // per key is computed on the rates side alone (tiny), forward-filled
    // across the (key x bucket) grid, lagged one bucket, and injected as
    // a SEED rate dated at bucket start — so every sub-window starts
    // with exactly the state q43's global window would have carried in.
    // Sort order (dt, is_rate desc, rate_dt) lets a real same-day rate
    // override its bucket's seed before any event reads the fill.
    QueryDef(
      "q52_asof_bucketed",
      "sub-partitioned as-of join: window on (ccy, year-bucket) with per-bucket closing-rate seeds carried from the rates side — parallelism keys x buckets instead of keys; same DuckDB ASOF LEFT JOIN oracle as q43",
      AsofOracleSql) { (s, dir) =>
      val (events, rates) = asofInputs(s, dir)

      // per-(key, bucket) closing rate, from the rates side only
      val closings = rates
        .groupBy(col("ccy"), year(col("rate_dt")).as("bucket"))
        .agg(max_by(struct(col("rate_dt"), col("rate")), col("rate_dt")).as("cl"))
        .select(col("ccy"), col("bucket"),
          col("cl.rate_dt").as("c_dt"), col("cl.rate").as("c_rate"))
      // dense (key x bucket) grid over every bucket either side touches
      // — metadata-scale (keys x buckets rows), so the per-key windows
      // below are cheap even though they partition by key alone
      val grid = events.select(col("ccy"), year(col("dt")).as("bucket"))
        .union(rates.select(col("ccy"), year(col("rate_dt")).as("bucket")))
        .distinct()
      val wCum = Window.partitionBy(col("ccy")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wLag = Window.partitionBy(col("ccy")).orderBy(col("bucket"))
      val seeds = grid.join(closings, Seq("ccy", "bucket"), "left")
        .withColumn("f_dt", last(col("c_dt"), ignoreNulls = true).over(wCum))
        .withColumn("f_rate", last(col("c_rate"), ignoreNulls = true).over(wCum))
        .select(col("ccy"), col("bucket"),
          lag(col("f_dt"), 1).over(wLag).as("rate_dt"),
          lag(col("f_rate"), 1).over(wLag).as("rate"))
        .filter(col("rate").isNotNull)

      val tagged = rates
        .select(col("ccy"), year(col("rate_dt")).as("bucket"),
          col("rate_dt").as("dt"), col("rate_dt"), col("rate"),
          lit(1).as("is_rate"), lit(null).cast("long").as("o_orderkey"))
        .unionByName(seeds.select(col("ccy"), col("bucket"),
          make_date(col("bucket"), lit(1), lit(1)).as("dt"), col("rate_dt"),
          col("rate"), lit(1).as("is_rate"),
          lit(null).cast("long").as("o_orderkey")))
        .unionByName(events.select(col("ccy"), year(col("dt")).as("bucket"),
          col("dt"), lit(null).cast("date").as("rate_dt"),
          lit(null).cast("double").as("rate"), lit(0).as("is_rate"),
          col("o_orderkey")))

      // THE point: the expensive window shuffles on (ccy, bucket)
      val w = Window.partitionBy(col("ccy"), col("bucket"))
        .orderBy(col("dt").asc, col("is_rate").desc, col("rate_dt").asc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("fill_rate", last(col("rate"), ignoreNulls = true).over(w))
        .withColumn("fill_dt", last(col("rate_dt"), ignoreNulls = true).over(w))
        .filter(col("is_rate") === 0)
        .select(col("o_orderkey"), col("ccy"), col("dt").cast("timestamp").as("dt"),
          col("fill_dt").cast("timestamp").as("rate_dt"), col("fill_rate").as("rate"))
    },

    // ------------------------------------------------------------------
    // Range (interval) join — the second operator Spark lacks natively
    // (brief: custom-op list). A BETWEEN predicate joins as a
    // BroadcastNestedLoop/cartesian in Spark; the scale composition for
    // BOUNDED ranges explodes each range into its covered days and
    // equi-joins on the day — candidate volume is sum(range lengths),
    // never |left| x |ranges|, and the equi-join shuffles/broadcasts
    // like any other. (For unbounded ranges: bucket both sides by
    // coarse time-bin and check the predicate within bins.)
    QueryDef(
      "q44_range_join",
      "range join via bounded-interval expansion: 10-day promo windows exploded to days, equi-joined on order date — no nested-loop; oracle states the plain BETWEEN join",
      """WITH months AS (SELECT DISTINCT date_trunc('month', CAST(o_orderdate AS DATE)) AS m FROM orders),
        |promos AS (SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS promo_id,
        |    (m + INTERVAL 4 DAY)::DATE AS start_dt, (m + INTERVAL 13 DAY)::DATE AS end_dt FROM months)
        |SELECT o_orderkey, promo_id,
        |  CAST(start_dt AS TIMESTAMP) AS start_dt, CAST(end_dt AS TIMESTAMP) AS end_dt
        |FROM orders JOIN promos
        |  ON CAST(o_orderdate AS DATE) BETWEEN start_dt AND end_dt""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      // promo dim is tiny (one window per month) -> global window is fine
      val promos = o.select(trunc(to_date(col("o_orderdate")), "month").as("m"))
        .distinct()
        .withColumn("promo_id", row_number().over(Window.orderBy(col("m"))).cast(LongType))
        .select(col("promo_id"), date_add(col("m"), 4).as("start_dt"),
          date_add(col("m"), 13).as("end_dt"))
      val promoDays = promos.select(col("promo_id"), col("start_dt"), col("end_dt"),
        explode(sequence(col("start_dt"), col("end_dt"))).as("dt"))
      o.select(col("o_orderkey"), to_date(col("o_orderdate")).as("dt"))
        .join(broadcast(promoDays), Seq("dt"))
        .select(col("o_orderkey"), col("promo_id"),
          col("start_dt").cast("timestamp").as("start_dt"),
          col("end_dt").cast("timestamp").as("end_dt"))
    },

    // ------------------------------------------------------------------
    // ROLLUP hierarchy totals: one pass computes (year, quarter), year
    // subtotals, and the grand total — partial aggregation handles all
    // grouping sets map-side, so the cost is one shuffle, same as the
    // plain groupBy. Group columns are coalesced to 'ALL' so the output
    // carries no NULL group keys (exact cross-engine compare).
    QueryDef(
      "q49_rollup",
      "ROLLUP (year, quarter) revenue: detail + year subtotals + grand total in one shuffle; group keys coalesced to 'ALL' for the exact compare",
      """SELECT COALESCE(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS order_year,
        |  COALESCE(CAST(quarter(o_orderdate) AS VARCHAR), 'ALL') AS order_quarter,
        |  count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate))""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"),
          col("o_totalprice"))
        .rollup(col("y"), col("q"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .select(coalesce(col("y").cast("string"), lit("ALL")).as("order_year"),
          coalesce(col("q").cast("string"), lit("ALL")).as("order_quarter"),
          col("n_orders"), col("revenue"))
    },

    // ------------------------------------------------------------------
    // PIVOT: long -> wide with an explicit value list (explicit because
    // implicit pivot collects distinct values to the driver — an action
    // and a scale hazard; the fixed list keeps the plan a single
    // hash-aggregate). Oracle states the same thing as conditional
    // aggregation, which is also exactly what Spark compiles pivot to.
    QueryDef(
      "q50_pivot",
      "pivot events long->wide: per-user-bucket counts per event_type with an explicit value list (no driver-side distinct collect); compiles to one hash aggregate",
      """SELECT user_id % 10 AS user_bucket,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select((col("user_id") % 10).as("user_bucket"), col("event_type"))
        .groupBy("user_bucket")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
    },

    // ------------------------------------------------------------------
    // SCD Type-2 dimension versioning — the reference's is_active flag
    // (DimBuilder, SCD1: new keys only) generalized to full history
    // tracking: when a tracked attribute changes between snapshots, the
    // old row is closed (effective_to set) and a new version opens.
    // Two deterministic snapshots are synthesized from customer (every
    // 10th account balance shifts in snapshot 2), then: change rows =
    // lag-compare per key; version = row_number over kept rows;
    // validity range = (snap, lead(snap)); open range = current.
    // Scale shape: both windows shuffle once on the dimension key; an
    // incremental load at 100 TB runs the same lag/lead logic on
    // (incoming batch JOIN current-version rows), never the full
    // history.
    QueryDef(
      "q57_scd2_versioning",
      "SCD2 dimension versioning: lag-compare change detection between snapshots, row_number versions, lead-closed validity ranges, open range = current; every 10th customer changes in snapshot 2",
      scd2Oracle) { (s, dir) =>
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
      val s1 = c.withColumn("snap", lit(1))
      val s2 = c
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
        .withColumn("snap", lit(2))
      val w = Window.partitionBy(col("c_custkey")).orderBy(col("snap"))
      val kept = s1.unionByName(s2)
        .withColumn("prev", lag(col("c_acctbal"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("c_acctbal"))
      kept.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"),
          row_number().over(w).cast(LongType).as("version"),
          col("snap").cast(LongType).as("effective_from_snap"),
          lead(col("snap"), 1).over(w).cast(LongType).as("effective_to_snap"))
        .withColumn("is_current",
          when(col("effective_to_snap").isNull, 1L).otherwise(0L))
    },

    // ------------------------------------------------------------------
    // Incremental SCD2 APPLY — q57's promised incremental load made a
    // first-class query (the dedup family's maintenance treatment
    // applied to the warehouse's most common nightly operation). The
    // standing dimension state after the first load is PERSISTED
    // ([[scd2StateTable]], DurableIndex); the arriving snapshot joins
    // ONLY its current rows — changed/new keys open the next version,
    // superseded current rows close, closed history carries through
    // untouched. No window ever touches the full history; cost per
    // apply is current+delta-sized. Result == batch q57 verbatim.
    QueryDef(
      "q138_incremental_scd2",
      "incremental SCD2 apply: PERSISTED post-first-load dimension state, arriving snapshot joined against CURRENT rows only (changed/new keys open next versions, superseded rows close, history carried untouched) — no full-history window; == batch q57 exactly",
      scd2Oracle) { (s, dir) =>
      val snap2 = Tables.customer(s, dir)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      scd2Apply(scd2StateTable(s, dir), snap2, 2L)
    },

    // ------------------------------------------------------------------
    // The q138 apply LIVE — streaming SCD2, closing the family's
    // {batch q57, incremental q138, streaming q139} matrix. The
    // arriving snapshot drains as 3 key-partitioned drops; applies
    // over disjoint keys commute, so each micro-batch computes its
    // keys' full post-apply history against the static persisted state
    // and lands it replay-idempotently in its own batch_id partition.
    // Union over batches == q138 == batch q57: verbatim oracle.
    QueryDef(
      "q139_stream_scd2",
      "STREAMING SCD2 apply: snapshot as 3 key-partitioned drops, each micro-batch left-semi-restricts the persisted dimension state to its keys and runs the identical apply into replay-idempotent batch_id partitions — disjoint-key applies commute, union == batch q57 exactly",
      scd2Oracle) { (s, dir) =>
      streamScd2Apply(s, dir)
    },

    // ------------------------------------------------------------------
    // Retraction over the SCD2 dimension state — the right-to-be-
    // forgotten operation a real warehouse must run (GDPR erasure: a
    // subject's ENTIRE history goes, not just current rows). SCD2
    // history is strictly per-key and applies are key-partitioned, so
    // forgetting is ONE anti-join against the broadcast forget set —
    // and it COMMUTES with subsequent applies over the surviving keys,
    // which this query proves by doing both: purge the persisted
    // state, then run the ordinary q138 apply on the purged state and
    // the forget-filtered snapshot. == batch q57 over
    // customers-minus-forgotten, verbatim window recompute.
    QueryDef(
      "q148_scd2_forget",
      "SCD2 right-to-be-forgotten: forget keys' ENTIRE history anti-joined out of the persisted dimension state (one broadcast anti-join, per-key history means removal is exact), then the ordinary incremental apply over the surviving keys — deletion commutes with maintenance; == batch q57 over customers-minus-forgotten exactly",
      scd2OracleFor("c_custkey % 100 != 7")) { (s, dir) =>
      val forget = Tables.customer(s, dir)
        .filter(col("c_custkey") % 100 === 7)
        .select(col("c_custkey").as("fk"))
      val purged = scd2StateTable(s, dir)
        .join(broadcast(forget), col("c_custkey") === col("fk"), "left_anti")
      val snap2 = Tables.customer(s, dir)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .filter(col("c_custkey") % 100 =!= 7)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      scd2Apply(purged, snap2, 2L)
    },

    // ------------------------------------------------------------------
    // Bloom-filter runtime join pruning (the "runtime filter" every
    // warehouse engine builds for selective joins): the small filtered
    // build side is hashed into an 8192-bit / 3-hash Bloom set, the set
    // is broadcast (here: one row carrying the distinct bit positions),
    // and the fact side drops rows whose keys cannot be in the build
    // side BEFORE the join shuffle. False positives are removed by the
    // exact join that follows, so the filter is semantics-preserving by
    // construction — the oracle states the UNFILTERED join. At 100 TB
    // this is the difference between shuffling all of lineitem and
    // shuffling the ~priority-selective fraction of it; Spark's own
    // spark.sql.optimizer.runtimeFilter does the same rewrite when
    // statistics justify it, this query pins the plan shape explicitly.
    // The positions set is built with a distinct-aggregate (never
    // collect()): the Bloom build is itself distributed.
    QueryDef(
      "q88_bloom_prune",
      "Bloom-filter join pruning: 3-hash/8192-bit filter built from the selective build side, broadcast, probe side pre-filtered before the exact join — oracle is the plain join (false positives provably removed)",
      """SELECT o_orderpriority,
        |  count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      import graft.functions.CrossEngine.bloomPos
      import org.apache.spark.sql.Column
      val m = 8192
      def pos(key: Column, j: Int): Column = bloomPos(key, j, m)
      val build = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT"
          && col("o_totalprice") > 150000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      // the set-bit table: one row per distinct bit position. The probe
      // checks membership via three broadcast-hash LEFT SEMI joins (an
      // O(1) hash lookup per row) — NOT array_contains over a collected
      // array, which is a linear scan of up to 8192 entries per row and
      // measured 13.7s at sf0.1 against ~1s for the join form.
      val bits = build
        .select(explode(array((0 until 3).map(j =>
          pos(col("o_orderkey"), j)): _*)).as("p"))
        .distinct()
      val probe = (0 until 3).foldLeft(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_extendedprice"))) { (df, j) =>
        df.withColumn(s"p$j", pos(col("l_orderkey"), j))
          .join(broadcast(bits.withColumnRenamed("p", s"p$j")),
            Seq(s"p$j"), "left_semi")
      }
      probe.join(build, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },

    // ------------------------------------------------------------------
    // Fuzzy-match join (entity resolution): dirty strings matched to a
    // deduplicated reference catalog (distinct name -> canonical key: the
    // resolution target is the ENTITY, not each duplicate row) by edit
    // distance — but NEVER as an all-pairs
    // levenshtein: candidates come from an equality join on a blocking
    // key (last name-token + |length diff| <= 1), and the O(len^2) DP
    // runs on candidates only. Every 7th part name gets a deterministic
    // first-character typo in-query (the q42 synthetic-PII pattern), so
    // the matcher is non-vacuous and the oracle computes the identical
    // blocked join. At 100 TB the blocking key is the shuffle key and
    // per-block fan-out is bounded by block size, not table size.
    QueryDef(
      "q95_fuzzy_match",
      "blocked fuzzy join: typo'd names resolved against the distinct-entity catalog via last-token blocking + levenshtein <= 1 verify on candidates only — never all-pairs",
      """WITH dirty AS (SELECT p_partkey AS v_id,
        |    'x' || substr(p_name, 2) AS v_name
        |  FROM part WHERE p_partkey % 7 = 0),
        |catalog AS (SELECT min(p_partkey) AS entity_key, p_name,
        |    string_split(p_name, ' ')[-1] AS blk
        |  FROM part GROUP BY p_name)
        |SELECT v_id, entity_key,
        |  CAST(levenshtein(v_name, p_name) AS BIGINT) AS dist
        |FROM dirty JOIN catalog
        |  ON string_split(v_name, ' ')[-1] = blk
        | AND abs(length(v_name) - length(p_name)) <= 1
        |WHERE levenshtein(v_name, p_name) <= 1""".stripMargin) { (s, dir) =>
      val dirty = Tables.part(s, dir)
        .filter(col("p_partkey") % 7 === 0)
        .select(col("p_partkey").as("v_id"),
          concat(lit("x"), expr("substr(p_name, 2)")).as("v_name"))
        .withColumn("blk", element_at(split(col("v_name"), " "), -1))
      val catalog = Tables.part(s, dir)
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("entity_key"))
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      // threshold form: the DP runs banded (O(len*k), early exit past
      // the bound, returning -1) instead of the full O(len^2) table.
      // Catalyst rewrites the filter through the alias and evaluates the
      // expression in both Filter and Project — there is no cross-
      // operator CSE — so bounding each evaluation is what matters.
      broadcast(dirty).join(catalog, Seq("blk"))
        .filter(abs(length(col("v_name")) - length(col("p_name"))) <= 1)
        .withColumn("dist",
          levenshtein(col("v_name"), col("p_name"), 1).cast(LongType))
        .filter(col("dist") >= 0)
        .select(col("v_id"), col("entity_key"), col("dist"))
    })
}
