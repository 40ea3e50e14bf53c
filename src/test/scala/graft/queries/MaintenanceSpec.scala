package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSpec
import graft.sources.Tables

/** Proves the maintenance operators' scale claims — the parts the DuckDB
  * oracle cannot see (file layout, pruning, pruning-safety of the Bloom
  * filter, classification completeness). */
class MaintenanceSpec extends SparkSpec {

  test("compaction: 64 fragments become 4 range-partitioned files that prune") {
    // replicate q89's two layouts so the spec can inspect the files the
    // query-side temp dir hides
    val base = tempDir("compact_spec").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    li.repartition(64).write.mode("overwrite").parquet(s"$base/fragmented")
    spark.read.parquet(s"$base/fragmented")
      .repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").parquet(s"$base/compacted")

    def partFiles(p: String): Array[java.io.File] =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(partFiles(s"$base/fragmented").length == 64)
    assert(partFiles(s"$base/compacted").length == 4)

    // content-preserving (the oracle also proves this at sf0.01)
    val back = spark.read.parquet(s"$base/compacted")
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)

    // a narrow key-range predicate touches 1 compacted file (ranges are
    // globally disjoint) but, pre-compaction, every fragment holds rows
    // from the whole key space
    val keys = li.agg(min("l_orderkey"), max("l_orderkey")).head()
    val (lo, hi) = (keys.getLong(0), keys.getLong(1))
    val mid = lo + (hi - lo) / 2
    def touched(p: String): Long =
      spark.read.parquet(p)
        .filter(col("l_orderkey").between(mid, mid + (hi - lo) / 20))
        .select(input_file_name()).distinct().count()
    val (frag, comp) = (touched(s"$base/fragmented"), touched(s"$base/compacted"))
    assert(comp <= 2, s"compacted layout touched $comp of 4 files")
    assert(frag >= 32, s"fragmented layout touched only $frag of 64 files " +
      "— the fragmented baseline is not actually smeared")
  }

  test("bloom prune: pass-set is a superset of true matches and a real cut") {
    import graft.functions.CrossEngine.bloomPos
    val m = 8192
    def pos(key: org.apache.spark.sql.Column, j: Int) = bloomPos(key, j, m)
    val build = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
      .select(col("o_orderkey"))
    val bloom = build
      .select(explode(array((0 until 3).map(j => pos(col("o_orderkey"), j)): _*)).as("p"))
      .distinct()
      .groupBy().agg(collect_set(col("p")).as("bset"))
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val passed = li.crossJoin(broadcast(bloom))
      .filter((0 until 3)
        .map(j => array_contains(col("bset"), pos(col("l_orderkey"), j)))
        .reduce(_ && _))
      .select("l_orderkey")
    val trueMatches = li.join(build, col("l_orderkey") === col("o_orderkey"), "left_semi")
    // no false negatives: every true-match key passes the filter
    assert(trueMatches.except(passed).isEmpty)
    val (total, pass, exact) = (li.count(), passed.count(), trueMatches.count())
    assert(pass < total / 2,
      s"bloom passed $pass of $total rows — filter is not pruning")
    assert(pass >= exact)
  }

  test("cdc diff: classification matches the deterministic snapshot edits") {
    val cdc = SparkEntry.queries("q92_cdc_diff")(spark, sfDir)
    val byOp = cdc.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val o = Tables.orders(spark, sfDir)
    val dels = o.filter(col("o_orderkey") % 17 === 0).count()
    val ins = o.filter(col("o_orderkey") % 23 === 0).count()
    val upd = o.filter(col("o_orderkey") % 13 === 0 && col("o_orderkey") % 17 =!= 0)
      .count()
    assert(byOp.getOrElse("D", 0L) == dels)
    assert(byOp.getOrElse("I", 0L) == ins)
    // every %13 key whose status was not already 'X' must surface as U;
    // the generator never emits 'X', so all of them do
    assert(byOp.getOrElse("U", 0L) == upd)
  }

  test("incremental dedup equals the delta-crossing subset of all-pairs dedup") {
    // q24 finds every near-dup pair; q93 checks only the arriving batch
    // (doc_id%10==7) against the corpus. Exactly the pairs with one
    // endpoint on each side must coincide (orientation normalized).
    val all = SparkEntry.queries("q24_minhash_lsh")(spark, sfDir)
    val inc = SparkEntry.queries("q93_incremental_dedup")(spark, sfDir)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
    val crossing = all
      .filter((col("doc_a") % 10 === 7) =!= (col("doc_b") % 10 === 7))
      .select(
        when(col("doc_a") % 10 === 7, col("doc_a")).otherwise(col("doc_b")).as("delta_id"),
        when(col("doc_a") % 10 === 7, col("doc_b")).otherwise(col("doc_a")).as("corpus_id"),
        col("jaccard"))
    assert(inc.exceptAll(crossing).isEmpty && crossing.exceptAll(inc).isEmpty)
    assert(inc.count() > 0, "no delta-crossing near-dup pairs — vacuous check")
  }

  test("shard packing: monotone shard ids, budget respected, order preserved") {
    val budget = 2048L
    val rows = SparkEntry.queries("q98_shard_packing")(spark, sfDir)
      .orderBy("doc_id").collect()
    assert(rows.length > 0)
    // shard ids start at 0 and are non-decreasing in doc_id order
    // (floor(prefix/budget) can legitimately SKIP an id when a single
    // document is longer than 2x the budget, so no +1-contiguity claim)
    val shards = rows.map(_.getLong(2))
    assert(shards.head == 0L)
    assert(shards.sliding(2).forall { case Array(a, b) => b >= a; case _ => true },
      "shard ids must be non-decreasing in doc_id order")
    // no shard exceeds the budget by more than its last doc's tokens
    // (greedy packing overshoots by at most one document)
    rows.groupBy(_.getLong(2)).foreach { case (sh, docs) =>
      val tot = docs.map(_.getLong(1)).sum
      val lastDoc = docs.maxBy(_.getLong(0)).getLong(1)
      assert(tot - lastDoc < budget,
        s"shard $sh holds $tot tokens; all but its last doc must fit $budget")
    }
  }

  test("corpus pipeline: all five dispositions non-vacuous, splits only for kept") {
    // sf0.01 plants near-dups and shared 13-grams, so every disposition
    // class must be exercised — a logic change that silently empties a
    // class would otherwise still pass the equality-only oracle gate
    val rows = SparkEntry.queries("q100_corpus_pipeline")(spark, "/root/testdata/sf0.01")
      .groupBy("disposition", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val byDisp = rows.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    for (d <- Seq("kept", "benchmark", "contaminated", "near_dup", "low_quality"))
      assert(byDisp.getOrElse(d, 0L) > 0L, s"disposition '$d' is vacuous: $byDisp")
    // only kept docs get a split; every kept doc gets one
    assert(rows.keys.filter(_._1 != "kept").forall(_._2 == "-"))
    assert(rows.keys.filter(_._1 == "kept").map(_._2).toSet
      .subsetOf(Set("train", "val", "test")))
  }

  test("kmeans: 8 nonempty clusters, deterministic across runs") {
    val a = SparkEntry.queries("q90_kmeans")(spark, sfDir)
    val sizes = a.groupBy("cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == (0L until 8L).toSet, s"clusters ${sizes.keySet}")
    assert(sizes.values.forall(_ > 0))
    val b = SparkEntry.queries("q90_kmeans")(spark, sfDir)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
