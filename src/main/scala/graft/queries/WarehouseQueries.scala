package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.CrossEngine._
import graft.sources.Tables

/** Round-6 warehouse depth: classic multi-way star-join/agg shapes
  * (TPC-H Q3/Q5/Q10 silhouettes — the workloads a consumption layer like
  * the reference's `step_5_curated_to_consumption.py:443-541` fact table
  * exists to serve), relational completions (INTERSECT/EXCEPT, GROUPING
  * SETS, ranking-window family), a data-quality audit operator, product-
  * quantization codes for the embedding corpus, incremental
  * materialized-view maintenance, and Z-order layout clustering.
  *
  * Cross-engine exactness discipline as everywhere else (QueryDef
  * scaladoc): money through DECIMAL, computed integers as BIGINT, only
  * scalar/fixed-order IEEE double ops, identical aliases both sides.
  */
object WarehouseQueries {

  /** Exact money decimal (doubles in the test data carry ≤2 digits). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private val oneD: Column = lit(1).cast(DecimalType(18, 2))
  private def revenue(c: Column = col("l_extendedprice"), d: Column = col("l_discount")) =
    sum(dec(c) * (oneD - dec(d))).cast("double")
  private val sqlRevenue =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  // ---- q79 product quantization geometry (shared with q82's ADC search)
  import PqGeometry.{PqSub, PqSubDim, PqK, pqCentroid}

  val all: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // TPC-H Q3 silhouette (shipping priority): two selective filters cut
    // both big inputs BEFORE the joins (both reach the parquet scans as
    // PushedFilters), the orders⋈customer join keys a 1/5 segment slice,
    // and the final top-10 is TakeOrderedAndProject (per-partition heaps,
    // no global sort). At 100 TB: filtered customer is still ~GBs so the
    // join is a shuffled hash/SMJ — correctly NOT forced to broadcast;
    // AQE picks broadcast automatically when the filtered side fits.
    QueryDef(
      "q72_tpch3",
      "TPC-H-Q3-shape shipping priority: filter-before-join 3-way star join, decimal revenue, top-10 via TakeOrderedAndProject",
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  $sqlRevenue AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1998-03-15'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") < to_timestamp(lit("1998-03-15"))),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir)
            .filter(col("l_shipdate") > to_timestamp(lit("1998-03-15"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(revenue().as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // ------------------------------------------------------------------
    // TPC-H Q5 silhouette (local supplier volume): 6-way join where the
    // region→nation filter is applied on the BROADCAST side, so the
    // nation/region predicate prunes supplier rows before the big
    // lineitem join; the extra c_nationkey = s_nationkey equality rides
    // the same join (no extra shuffle). The only large exchanges are
    // lineitem⋈orders and the customer attach — both keyed, both
    // map-side-combined into a |nations|-row aggregate.
    QueryDef(
      "q73_tpch5",
      "TPC-H-Q5-shape local supplier volume: 6-way star join, dims broadcast, nation-local filter via join equality, decimal revenue per nation",
      s"""SELECT n_name, $sqlRevenue AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val asiaNations = broadcast(
        Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey")))
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
              col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(revenue().as("revenue"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q10 silhouette (returned items): quarter of orders x
    // returned lineitems, revenue lost per customer, top 20. The
    // returnflag filter reaches the lineitem scan; the nation attach is
    // a broadcast; grouping carries the functionally-dependent customer
    // attributes through the aggregate rather than re-joining after it.
    QueryDef(
      "q74_tpch10",
      "TPC-H-Q10-shape returned-item report: filtered fact joins, broadcast nation, per-customer decimal revenue, top-20 heap",
      s"""SELECT c_custkey, c_name, n_name, $sqlRevenue AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |  AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= to_timestamp(lit("1996-10-01")) &&
              col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revenue().as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ------------------------------------------------------------------
    // Set operators: INTERSECT / EXCEPT (both set-semantics = implicit
    // dedup). Each side is a distinct-aggregated key set, so the set op
    // is a shuffle on the key — at scale these are exactly as expensive
    // as one groupBy each, never a row-level comparison of raw tables.
    QueryDef(
      "q75_setops",
      "cohort INTERSECT / EXCEPT: customers ordering in both 1996 and 1997 vs 1996-only — set ops as keyed shuffles over pre-distincted sides",
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
        |b AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS cohort FROM (SELECT * FROM a EXCEPT SELECT * FROM b)""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      def yearKeys(from: String, until: String): DataFrame =
        o.filter(col("o_orderdate") >= to_timestamp(lit(from)) &&
            col("o_orderdate") < to_timestamp(lit(until)))
          .select(col("o_custkey")).distinct()
      val a = yearKeys("1996-01-01", "1997-01-01")
      val b = yearKeys("1997-01-01", "1998-01-01")
      a.intersect(b).withColumn("cohort", lit("both"))
        .unionByName(a.except(b).withColumn("cohort", lit("only_1996")))
    },

    // ------------------------------------------------------------------
    // Ranking-window family: ntile / percent_rank / cume_dist, windowed
    // PER SEGMENT so the plan stays parallel (one shuffle on
    // c_mktsegment, no single-partition global window — a truly global
    // quantile assignment at 100 TB belongs to the mergeable histogram
    // sketch, q56). (c_acctbal, c_custkey) is a unique sort key, so all
    // three functions are tie-free deterministic; the rank ratios are
    // integer-over-integer double divisions — IEEE-identical cross-engine.
    QueryDef(
      "q76_ntile",
      "per-segment ntile(10)/percent_rank/cume_dist over a unique sort key: one shuffle, three ranking functions on a shared window",
      """SELECT c_custkey, c_mktsegment AS segment,
        |  CAST(ntile(10) OVER w AS BIGINT) AS decile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment").as("segment"),
        ntile(10).over(w).cast(LongType).as("decile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    },

    // ------------------------------------------------------------------
    // GROUPING SETS — the explicit-list sibling of ROLLUP (q49) and CUBE
    // (q60): only the two 1-D slices plus the grand total, skipping the
    // 2-D cross that CUBE would add. Catalyst plans it as one Expand (3
    // replicas) into ONE hash aggregate — the fact side is read and
    // shuffled once for all three grouping sets. Identical SQL text runs
    // on both engines (q16 pattern).
    QueryDef(
      "q77_gsets",
      "GROUPING SETS ((nation),(segment),()): 3 explicit grouping sets in one Expand+aggregate pass, grouping masks distinguish ALL rows",
      """SELECT COALESCE(n_name, 'ALL') AS nation_name,
        |  COALESCE(c_mktsegment, 'ALL') AS segment,
        |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
        |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      Tables.customer(s, dir).createOrReplaceTempView("customer")
      Tables.nation(s, dir).createOrReplaceTempView("nation")
      s.sql(
        """SELECT COALESCE(n_name, 'ALL') AS nation_name,
          |  COALESCE(c_mktsegment, 'ALL') AS segment,
          |  CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
          |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment,
          |  COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""".stripMargin)
    },

    // ------------------------------------------------------------------
    // Data-quality audit: expectations-style constraint summary in ONE
    // result set — row counts, key uniqueness, FK orphans, domain-range
    // and cross-table order checks. Every metric is either a map-side-
    // combinable aggregate or a left-anti-join count, so the audit costs
    // a handful of scans/aggregations regardless of table size; the
    // union of single-row aggregates is driver-free (no collect).
    QueryDef(
      "q78_quality",
      "data-quality audit: uniqueness, FK-orphan, domain-range, and cross-table constraint counts as one (metric,violations) summary",
      """SELECT 'orders_rows' AS metric, count(*) AS violations FROM orders
        |UNION ALL SELECT 'dup_orderkey', count(*) - count(DISTINCT o_orderkey) FROM orders
        |UNION ALL SELECT 'orphan_lineitem', count(*) FROM lineitem l
        |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL
        |UNION ALL SELECT 'neg_acctbal', count(*) FROM customer WHERE c_acctbal < 0
        |UNION ALL SELECT 'qty_above_cap', count(*) FROM lineitem WHERE l_quantity > 45
        |UNION ALL SELECT 'ship_before_order', count(*) FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE l.l_shipdate < o.o_orderdate""".stripMargin) { (s, dir) =>
      // four aggregation passes total (orders, lineitem, lineitem-with-
      // FK-probe, customer), assembled as one row and unpivoted with
      // stack(); the previous shape union'd six separate aggregates.
      // qty_above_cap deliberately aggregates lineitem BEFORE the join:
      // a duplicated o_orderkey (the very defect dup_orderkey measures)
      // would amplify post-join lineitem rows and inflate a pre-join
      // count; orphan/ship_before_order are join-defined, matching the
      // oracle's own join semantics under duplicates.
      val orders = Tables.orders(s, dir)
      val orderStats = orders.agg(
        count(lit(1)).as("o_rows"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dups"))
      val li = Tables.lineitem(s, dir)
      val qtyStats = li.agg(count(when(col("l_quantity") > 45, 1)).as("qty_cap"))
      val fkStats = li
        .select("l_orderkey", "l_shipdate")
        .join(orders.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(
          count(when(col("o_orderkey").isNull, 1)).as("orphans"),
          count(when(col("o_orderkey").isNotNull
            && col("l_shipdate") < col("o_orderdate"), 1)).as("ship_b4"))
      val custStats = Tables.customer(s, dir)
        .agg(count(when(col("c_acctbal") < 0, 1)).as("negs"))
      orderStats.crossJoin(fkStats).crossJoin(qtyStats).crossJoin(custStats)
        .select(expr("""stack(6,
          'orders_rows', o_rows,
          'dup_orderkey', dups,
          'orphan_lineitem', orphans,
          'neg_acctbal', negs,
          'qty_above_cap', qty_cap,
          'ship_before_order', ship_b4) AS (metric, violations)"""))
    },

    // ------------------------------------------------------------------
    // Product quantization encode: each 64-dim vector → 4 code bytes
    // (one per 16-dim subspace, argmin over 4 deterministic codebook
    // centroids). Stateless projection — zero shuffle, and at 100 TB the
    // 4-byte codes are the compressed index an IVF-PQ ANN search scans
    // instead of raw vectors (16x compression here; real deployments use
    // 8 bits x 8-16 subspaces). Distances are sequential-fold doubles
    // over a slice (q39's exactness pattern), argmin tiebreak = lowest k.
    QueryDef(
      "q79_pq",
      s"product-quantization encode: $PqSub x ${PqSubDim}-dim subspaces, argmin of $PqK codebook centroids each -> 4 code ints per vector, zero shuffle",
      {
        val dCols = (for (m <- 0 until PqSub; k <- 0 until PqK) yield {
          val arr = pqCentroid(m, k).mkString(", ")
          val slice = s"v[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}]"
          s"${sqlSqDistFold(slice, s"[$arr]::DOUBLE[]")} AS d${m}_$k"
        }).mkString(",\n    ")
        def argmin(m: Int): String = {
          val cases = (0 until PqK - 1).map { k =>
            val leLater = (k + 1 until PqK).map(j => s"d${m}_$k <= d${m}_$j").mkString(" AND ")
            s"WHEN $leLater THEN $k"
          }.mkString(" ")
          s"CAST(CASE $cases ELSE ${PqK - 1} END AS BIGINT)"
        }
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |d AS (SELECT vec_id,
           |    $dCols
           |  FROM e)
           |SELECT vec_id, ${(0 until PqSub).map(m => s"${argmin(m)} AS code$m").mkString(", ")}
           |FROM d""".stripMargin
      }) { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val dCols: Seq[Column] = for (m <- 0 until PqSub; k <- 0 until PqK) yield
        sqDistFold(slice(col("v"), m * PqSubDim + 1, PqSubDim),
          array(pqCentroid(m, k).map(lit): _*)).as(s"d${m}_$k")
      val d = e.select(col("vec_id") +: dCols: _*)
      def code(m: Int): Column =
        (0 until PqK - 1).foldRight(lit(PqK - 1): Column) { (k, rest) =>
          val leLater = (k + 1 until PqK)
            .map(j => col(s"d${m}_$k") <= col(s"d${m}_$j")).reduce(_ && _)
          when(leLater, lit(k)).otherwise(rest)
        }.cast(LongType).as(s"code$m")
      d.select(col("vec_id") +: (0 until PqSub).map(code): _*)
    },

    // ------------------------------------------------------------------
    // Incremental materialized-view maintenance: a monthly revenue MV is
    // kept as partial-aggregate state (count + exact decimal sum per
    // month); a new batch is aggregated ALONE and merged via full-outer
    // + coalesce — the refresh cost is O(delta + |MV|), never a rescan
    // of history. The oracle is the full-table aggregate, so the gate
    // proves merge == recompute. count/sum are the canonical mergeable
    // pair; avg derives as sum/count at read time.
    QueryDef(
      "q80_incmv",
      "incremental materialized view: pre-cutoff monthly state + delta batch merged by full-outer coalesce; oracle = full recompute (merge equivalence)",
      """SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS BIGINT) AS mon,
        |  count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val cutoff = to_timestamp(lit("1999-01-01"))
      val o = Tables.orders(s, dir).withColumn("mon",
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast(LongType))
      def monthly(df: DataFrame): DataFrame =
        df.groupBy(col("mon")).agg(
          count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("rev"))
      val state = monthly(o.filter(col("o_orderdate") < cutoff)).as("a")
      val delta = monthly(o.filter(col("o_orderdate") >= cutoff)).as("b")
      val zeroRev = lit(0).cast(DecimalType(18, 2))
      state.join(delta, col("a.mon") === col("b.mon"), "full_outer")
        .select(
          coalesce(col("a.mon"), col("b.mon")).as("mon"),
          (coalesce(col("a.cnt"), lit(0L)) + coalesce(col("b.cnt"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("a.rev"), zeroRev) + coalesce(col("b.rev"), zeroRev))
            .cast("double").as("revenue"))
    },

    // ------------------------------------------------------------------
    // Z-order (Morton) layout clustering: interleave the low 6 bits of
    // two scan dimensions into one cluster key. Writing files ordered by
    // zval (repartitionByRange(zval) + sortWithinPartitions) makes BOTH
    // `p_size BETWEEN ...` and `p_partkey % 64 = ...` predicates prune
    // to a contiguous file subset — the layout trick behind
    // Delta/Iceberg OPTIMIZE ZORDER, here as pure integer bit math
    // (identical shifts both engines, no UDF, codegen-friendly).
    QueryDef(
      "q81_zorder",
      "Z-order clustering key: bit-interleave 6+6 bits of (p_size, p_partkey%64) into a Morton value + range bucket — multi-dim file-skipping layout",
      {
        val bits = (0 until 6).flatMap { i =>
          Seq(s"(((x >> $i) & 1) << ${2 * i})", s"(((y >> $i) & 1) << ${2 * i + 1})")
        }.mkString(" + ")
        s"""WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
           |    p_partkey % 64 AS y FROM part)
           |SELECT p_partkey, ($bits) AS zval, ($bits) // 64 AS zbucket
           |FROM p""".stripMargin
      }) { (s, dir) =>
      val p = Tables.part(s, dir).select(
        col("p_partkey"),
        col("p_size").cast(LongType).as("x"),
        (col("p_partkey") % 64).as("y"))
      def interleave(x: Column, y: Column): Column =
        (0 until 6).flatMap { i =>
          Seq(shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i),
            shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
        }.reduce(_ + _)
      p.select(col("p_partkey"), interleave(col("x"), col("y")).as("zval"))
        .withColumn("zbucket", expr("zval div 64"))
    },

    // ------------------------------------------------------------------
    // TPC-H Q18 silhouette (large-volume orders): the aggregate runs
    // FIRST — one groupBy over lineitem with a HAVING cut that keeps
    // ~1% of orders — and only the survivors join orders/customer.
    // Inverting that order (join first, aggregate after) would drag the
    // full customer/orders width through the biggest shuffle in the
    // plan; at 100 TB the HAVING output is small enough that AQE turns
    // both subsequent joins into broadcasts at runtime. sum_qty is
    // carried from the aggregate, not recomputed. Top-100 by
    // (o_totalprice desc, o_orderkey) = TakeOrderedAndProject.
    QueryDef(
      "q83_tpch18",
      "TPC-H-Q18-shape large-volume orders: aggregate-then-join ordering (HAVING sum(qty) > 250 cut before the star join), top-100 via TakeOrderedAndProject",
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |         JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).as("qd"))
        .filter(col("qd") > lit(250).cast(DecimalType(18, 2)))
        .select(col("l_orderkey"), col("qd").cast("double").as("sum_qty"))
      big
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },

    // ------------------------------------------------------------------
    // TPC-H Q21 silhouette (suppliers who kept orders waiting): the
    // multi-EXISTS/NOT-EXISTS self-join on lineitem. The test lineitem
    // has no commit/receipt dates, so "late" = shipped >100 days after
    // the order date; the structure is the real thing: a candidate late
    // line survives iff ANOTHER supplier has a line on the same order
    // (left-semi self-join) and NO other supplier's line on that order
    // is also late (left-anti self-join). All three passes key on
    // l_orderkey, so at scale the semi and anti joins reuse one
    // co-partitioning of the same staged side — no second shuffle
    // shape. supplier is data-scaled: NOT force-broadcast (AQE decides).
    QueryDef(
      "q84_tpch21",
      "TPC-H-Q21-shape waiting suppliers: late line survives a left-semi (other supplier on order) then left-anti (no other late supplier) self-join; per-supplier waits, top-20",
      """WITH l1 AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 100 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM l1 a JOIN supplier ON a.l_suppkey = s_suppkey
        |WHERE a.late
        |  AND EXISTS (SELECT 1 FROM l1 b
        |    WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l1 c
        |    WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey
        |      AND c.late)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin) { (s, dir) =>
      // l1 is consumed three times (candidate filter + both self-join
      // sides); staged once so the lineitem-orders join runs once — at
      // 100 TB this is the staged work table the three passes share.
      // This is the ROUND-20 semi+anti shape, restored in round 22: the
      // round-21 "fold the EXISTS/NOT-EXISTS pair into one per-order
      // aggregate" rewrite looked strictly better on plan shape (4
      // SortMergeJoins -> 2) but LOST on every measured scale — the
      // same-window alternating A/B (min-of-k, both shapes in one JVM)
      // measured old-vs-new 1.32/1.61 s at sf0.1, 3.27/4.13 s at sf1,
      // 14.2/21.9 s at sf10, every sample lower — because the
      // per-(order, supplier) pre-aggregate shuffles the full
      // lineitem-scale staging TWICE through aggregate exchanges,
      // while the semi/anti pair's probe sides are cheap hash lookups
      // over the same staged blocks (guide §1.1: the "ideal" plan lost
      // to the measured one; the driver's round-21 bench agreed,
      // q84 1.5 -> 2.2 s).
      val l1 = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 100 DAY"))
            .as("late"))
        .localCheckpoint()
      val others = l1.select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("late").as("olate"))
      val cand = l1.filter(col("late"))
        .join(others,
          col("ok") === col("l_orderkey") && col("sk") =!= col("l_suppkey"),
          "left_semi")
        .join(others.filter(col("olate")),
          col("ok") === col("l_orderkey") && col("sk") =!= col("l_suppkey"),
          "left_anti")
      cand
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    })
}
