package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Table-maintenance operations a 100-TB lakehouse runs continuously:
  * small-file compaction and change-data-capture snapshot diffing.
  * Beyond-reference surface (the reference's Snowflake warehouse gets
  * both from the platform; a Spark-native engine must provide them).
  *
  * Both are oracle-checked like every other operator: compaction's
  * oracle proves the rewrite is content-preserving (the whole point of
  * a compactor), CDC's oracle is the same full-outer classification in
  * SQL.
  */
object MaintenanceQueries {

  /** q89's workspace: a fixed subdir of the JVM's scratch root
    * ([[JvmScratch]]). A fixed machine-global path would let two
    * concurrent JVMs (Verify during a Bench run, say) overwrite each
    * other's files mid-read, while a fresh directory per invocation leaks
    * a table copy every bench iteration. Per-JVM + overwrite mode is the
    * bounded middle; the root's cleanup removes it on exit. */
  private def compactionDir: String = JvmScratch.sub("q89_compaction").toString

  /** Serializes q89's eager fragment/compact rewrite: two concurrent
    * in-JVM builds (a parallelized bench/verify harness) would race
    * overwrite-vs-read on the shared per-JVM workspace. The rewrite runs
    * eagerly at DataFrame-BUILD time, so a timing harness that builds
    * inside its timed region (Bench does) measures write + read. */
  private val compactionLock = new Object

  val all: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Small-file compaction: streaming ingest and per-partition writers
    // leave thousands of KB-sized files; reading them costs a task per
    // file and floods the driver with footer metadata. The compactor
    // rewrites a fragmented table into few large range-partitioned,
    // sorted files — repartitionByRange gives globally disjoint
    // l_orderkey ranges per file, sortWithinPartitions makes each file's
    // min/max footer stats tight, so post-compaction scans both schedule
    // fewer tasks AND prune by range predicate (MaintenanceSpec proves
    // the file-count and pruning claims). The oracle is the original
    // table: a compactor that changes content is corrupt, full stop.
    QueryDef(
      "q89_compaction",
      "small-file compaction: 64 fragmented files rewritten as 4 range-partitioned files sorted on l_orderkey; oracle = original content (rewrite is content-preserving)",
      """SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
        |  l_quantity, l_extendedprice
        |FROM lineitem""".stripMargin) { (s, dir) =>
      // per-JVM workspace + overwrite mode: repeated invocations (the
      // bench runs every query k times) reuse one disk footprint; the
      // fragmented intermediate is deleted once the compacted copy lands
      compactionLock.synchronized {
        val tmp = compactionDir
        val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        Tables.lineitem(s, dir).select(cols.map(col): _*)
          .repartition(64) // simulate the fragmented state
          .write.mode("overwrite").parquet(s"$tmp/fragmented")
        s.read.parquet(s"$tmp/fragmented")
          .repartitionByRange(4, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey", "l_linenumber")
          .write.mode("overwrite").parquet(s"$tmp/compacted")
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$tmp/fragmented"))
        s.read.parquet(s"$tmp/compacted")
      }
    },

    // ------------------------------------------------------------------
    // CDC snapshot diff: classify every key of two table snapshots as
    // inserted / updated / deleted by one co-partitioned full-outer
    // join (both sides shuffle on the key once; at 100 TB this is the
    // standard incremental-ingest primitive feeding MERGE q70 and the
    // incremental MV q80). The "next" snapshot is derived from orders
    // deterministically: keys %17==0 deleted, %13==0 restatused to 'X',
    // %23==0 re-inserted under a fresh key (-k-1: strictly negative,
    // so it never collides with an existing key, including 0). Unchanged
    // rows are dropped before anything downstream sees them — the
    // delta, not the snapshot, is what flows on.
    QueryDef(
      "q92_cdc_diff",
      "CDC snapshot diff: full-outer join of two snapshots classifying keys as I/U/D with old/new status ('-' when absent), unchanged rows dropped — the incremental-ingest delta primitive",
      """WITH prev AS (SELECT o_orderkey AS k, o_orderstatus AS st FROM orders),
        |curr AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END AS st
        |  FROM orders WHERE o_orderkey % 17 <> 0
        |  UNION ALL
        |  SELECT -o_orderkey - 1 AS k, o_orderstatus AS st
        |  FROM orders WHERE o_orderkey % 23 = 0)
        |SELECT CAST(coalesce(prev.k, curr.k) AS BIGINT) AS o_orderkey,
        |  CASE WHEN curr.k IS NULL THEN 'D'
        |       WHEN prev.k IS NULL THEN 'I'
        |       ELSE 'U' END AS op,
        |  coalesce(prev.st, '-') AS old_status, coalesce(curr.st, '-') AS new_status
        |FROM prev FULL OUTER JOIN curr ON prev.k = curr.k
        |WHERE curr.k IS NULL OR prev.k IS NULL OR prev.st <> curr.st""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val prev = o.select(col("o_orderkey").as("pk"), col("o_orderstatus").as("pst"))
      val curr = o.filter(col("o_orderkey") % 17 =!= 0)
        .select(col("o_orderkey").as("ck"),
          when(col("o_orderkey") % 13 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("cst"))
        .unionByName(o.filter(col("o_orderkey") % 23 === 0)
          .select((-col("o_orderkey") - 1).as("ck"), col("o_orderstatus").as("cst")))
      prev.join(curr, col("pk") === col("ck"), "full_outer")
        .filter(col("ck").isNull || col("pk").isNull || col("pst") =!= col("cst"))
        .select(coalesce(col("pk"), col("ck")).as("o_orderkey"),
          when(col("ck").isNull, "D")
            .when(col("pk").isNull, "I")
            .otherwise("U").as("op"),
          coalesce(col("pst"), lit("-")).as("old_status"),
          coalesce(col("cst"), lit("-")).as("new_status"))
    },

    // ------------------------------------------------------------------
    // Time-travel read over a versioned change log — the snapshot-
    // isolation primitive of every table format (Iceberg/Delta/Hudi):
    // a base snapshot (v0) plus an ordered log of (version, op, key,
    // value) changes; "read as of v" = base overridden by the LATEST
    // log entry per key with version <= v (D drops the key). One read
    // costs one key-shuffle: union base (as version-0 upserts) with the
    // in-range log slice, keep row_number()=1 per key by version desc,
    // drop deletes. Never a per-version rescan — the 100-TB cost is the
    // log slice plus one shuffle, however many versions exist. The log
    // here is derived deterministically from customer (v1 restates
    // acctbal for key%7==0, inserts fresh -key-1 rows for key%13==0;
    // v2 deletes key%11==0), and the query returns all three as-of
    // states so the oracle proves every historical read, not just HEAD.
    QueryDef(
      "q99_time_travel",
      "time-travel reads over a versioned change log: base + latest-entry-per-key replay at v0/v1/v2 in one keyed shuffle per read; Iceberg-style snapshot isolation from plain parquet",
      """WITH base AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
        |log AS (
        |  SELECT 1 AS v, 'U' AS op, k, bal + 50.0 AS bal FROM base WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT 1, 'I', -k - 1, 10.0 FROM base WHERE k % 13 = 0
        |  UNION ALL
        |  SELECT 2, 'D', k, NULL FROM base WHERE k % 11 = 0),
        |versions AS (SELECT unnest(range(0, 3)) AS as_of),
        |entries AS (
        |  SELECT as_of, k, bal, op, v FROM versions
        |  JOIN (SELECT 0 AS v, 'U' AS op, k, bal FROM base
        |        UNION ALL SELECT v, op, k, bal FROM log) e
        |    ON e.v <= as_of),
        |latest AS (SELECT as_of, k, bal, op FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY as_of, k ORDER BY v DESC) AS rn
        |    FROM entries) WHERE rn = 1)
        |SELECT CAST(as_of AS BIGINT) AS as_of, k AS c_custkey, bal AS c_acctbal
        |FROM latest WHERE op <> 'D'""".stripMargin) { (s, dir) =>
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
      val log = base.filter(col("k") % 7 === 0)
        .select(lit(1).as("v"), lit("U").as("op"), col("k"), (col("bal") + 50.0).as("bal"))
        .unionByName(base.filter(col("k") % 13 === 0)
          .select(lit(1).as("v"), lit("I").as("op"), (-col("k") - 1).as("k"),
            lit(10.0).as("bal")))
        .unionByName(base.filter(col("k") % 11 === 0)
          .select(lit(2).as("v"), lit("D").as("op"), col("k"),
            lit(null).cast("double").as("bal")))
      val allEntries = base
        .select(lit(0).as("v"), lit("U").as("op"), col("k"), col("bal"))
        .unionByName(log)
      val versions = s.range(0, 3).select(col("id").cast("int").as("as_of"))
      val w = Window.partitionBy(col("as_of"), col("k")).orderBy(col("v").desc)
      allEntries
        .join(broadcast(versions), col("v") <= col("as_of"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("as_of").cast("long").as("as_of"),
          col("k").as("c_custkey"), col("bal").as("c_acctbal"))
    })
}
