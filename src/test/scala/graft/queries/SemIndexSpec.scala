package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The durability contract of the persisted SEMANTIC index (q112):
  * codebook and block table outlive the catalog, a fresh catalog
  * re-attaches both without re-training or re-assigning, and a
  * regenerated corpus forces a rebuild. Same contract BandIndexSpec
  * proves for the MinHash side; both ride the shared
  * [[graft.sources.DurableIndex]] machinery, so this spec focuses on
  * what is semantic-specific (two coupled artifacts, bucket spec on the
  * folded block_key) and keeps the race/retirement depth over there. */
class SemIndexSpec extends SparkSpec {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }

  private def liveDir(family: String, dir: String): Path = {
    val live = graft.sources.DurableIndex.generations(spark, dir, family).live.values.toSeq
    assert(live.length == 1,
      s"expected one live $family version, got ${live.map(_.getName)}")
    live.head
  }

  private def partFiles(family: String, dir: String): Map[String, (Long, Long)] = {
    val gen = liveDir(family, dir)
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(gen)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => f.getPath.getName -> (f.getLen, f.getModificationTime))
      .toMap
  }

  test("fresh catalog re-attaches codebook and block index without retraining") {
    val rows = SimilarityQueries.semBlockIndexTable(spark, sfDir).count()
    assert(rows > 0)
    val blocksBefore = partFiles("sem_blocks", sfDir)
    val cbBefore = partFiles("sem_codebook", sfDir)
    assert(blocksBefore.nonEmpty && cbBefore.nonEmpty)

    spark.sql("DROP DATABASE graft_index CASCADE")
    assert(!spark.catalog.databaseExists("graft_index"))

    val again = SimilarityQueries.semBlockIndexTable(spark, sfDir)
    assert(again.count() == rows)
    // byte-for-byte untouched: re-attach, not re-train/re-assign
    assert(partFiles("sem_blocks", sfDir) == blocksBefore,
      "block-index parts changed — the fresh catalog re-assigned the corpus")
    assert(partFiles("sem_codebook", sfDir) == cbBefore,
      "codebook parts changed — the fresh catalog re-trained the quantizer")
    // the re-attached read is a bare bucketed scan on the folded key
    again.collect()
    val nodes = flatten(again.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[Exchange]),
      "Exchange in the re-attached block-index read")
    val scan = nodes.collectFirst { case f: FileSourceScanExec => f }
    assert(scan.exists(_.relation.bucketSpec.exists(b =>
        b.numBuckets == 16 && b.bucketColumnNames == Seq("block_key"))),
      s"bucket spec lost on re-attach: ${scan.flatMap(_.relation.bucketSpec)}")
  }

  private def assertSame(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val g = got.select(want.columns.map(col).toIndexedSeq: _*)
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty,
      s"$what: served results differ")
  }

  test("ANN retraction is durable: a fresh session serves corpus-minus-deleted without the delete set") {
    // round-13 verdict #2: the q147 tombstone must be PUBLISHED, not
    // in-flight-only — a session that was never handed the takedown
    // batch has to discover the live delete log off disk, or it
    // silently serves deleted vectors
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val del = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val queries = emb.filter(col("vec_id") % 10 === 7)

    // publish (the q147 body); == the in-flight anti-joined serve
    val published = SimilarityQueries.semServeRetracted(
      spark, sfDir, queries, Some(del))
    val want = SimilarityQueries.semIndexTopKOf(
      spark, sfDir, queries, deleted = Some(del))
    assertSame(published, want, "published serve vs in-flight tombstone")

    // a ~11% takedown must ride the sidecar, not fold
    val sc = graft.sources.DurableIndex.attachLatest(spark, sfDir, "sem_del")
    assert(sc.isDefined, "no sem_del sidecar published")
    assert(!sc.get.select("folded").first().getBoolean(0),
      "takedown-sized ANN delete folded instead of publishing a sidecar")

    // FRESH session: drop every catalog attachment, then serve WITHOUT
    // the delete set — the sidecar must be discovered from the
    // warehouse and composed
    spark.sql("DROP DATABASE IF EXISTS graft_index CASCADE")
    val fresh = SimilarityQueries.semServeRetracted(spark, sfDir, queries, None)
    assertSame(fresh, want, "fresh-session serve without the delete set")
    assert(fresh.join(del.withColumnRenamed("vec_id", "c_id"),
        Seq("c_id"), "left_semi").isEmpty,
      "a fresh session served deleted vectors")
  }

  test("composed retracted index: one broadcast anti-join over the bare bucketed scan") {
    // the plan half of the durable-ANN claim: the sidecar-composed
    // index adds exactly ONE broadcast-hash anti-join (of the tiny
    // delete log) to the bucketed Exchange-free sem_blocks scan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val del = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    val idx = SimilarityQueries.semRetractedIndex(spark, sfDir, Some(del))
    idx.collect()
    val plan = idx.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val nodes = flatten(plan)
    val joins = nodes.filter(_.nodeName.toLowerCase.contains("join"))
    assert(joins.size == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec],
      s"expected exactly one broadcast-hash anti-join, got ${joins.map(_.nodeName)}")
    val scan = nodes.collectFirst {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains("sem_blocks")) => f
    }
    assert(scan.isDefined, "composed index does not read the persisted sem_blocks")
    // no SHUFFLE anywhere (the broadcast build side is an
    // exchange-by-classname but moves only the tiny delete log)
    assert(!nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "shuffle Exchange in the composed retracted-index read")
    assert(scan.exists(_.relation.bucketSpec.exists(b =>
        b.numBuckets == 16 && b.bucketColumnNames == Seq("block_key"))),
      "bucket spec lost under the tombstone compose")
  }

  test("past-the-budget ANN delete folds into a full generation == the anti-joined serve") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    // 3 of the 9 indexed slices (~33% of the block-index rows) trips
    // the 20% tombstone-debt gate NATURALLY
    val del = emb.filter((col("vec_id") % 10).isin(1, 3, 5)).select("vec_id")
    val queries = emb.filter(col("vec_id") % 10 === 7)
    val folded = SimilarityQueries.semServeRetracted(
      spark, sfDir, queries, Some(del))
    val want = SimilarityQueries.semIndexTopKOf(
      spark, sfDir, queries, deleted = Some(del))
    assertSame(folded, want, "folded serve vs in-flight tombstone")
    val sc = graft.sources.DurableIndex.attachLatest(spark, sfDir, "sem_del")
    assert(sc.exists(_.select("folded").first().getBoolean(0)),
      "a ~33% sweep did not fold the ANN index")

    // the folded index is a WRITE-once bucketed generation: a fresh
    // resolution re-attaches it and reads a bare Exchange-free
    // bucketed scan with no tombstone join
    spark.sql("DROP DATABASE IF EXISTS graft_index CASCADE")
    val idx = SimilarityQueries.semRetractedIndex(spark, sfDir, None)
    idx.collect()
    val nodes = flatten(idx.queryExecution.executedPlan)
    assert(!nodes.exists(n => n.nodeName.toLowerCase.contains("join")),
      "folded-generation read still carries a tombstone join")
    assert(!nodes.exists(_.isInstanceOf[Exchange]),
      "Exchange in the folded-generation read")
    val scan = nodes.collectFirst { case f: FileSourceScanExec => f }
    assert(scan.exists(_.relation.bucketSpec.exists(b =>
        b.numBuckets == 16 && b.bucketColumnNames == Seq("block_key"))),
      s"bucket spec lost on the folded generation: ${scan.flatMap(_.relation.bucketSpec)}")
  }

  test("regenerated embeddings force a coupled rebuild of codebook and blocks") {
    val dir = tempDir("semidx").toString
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val v1 = SimilarityQueries.semBlockIndexTable(spark, dir).count()
    val cb1 = SimilarityQueries.semCodebookTable(spark, dir)
      .select("m").collect().map(_.getSeq[Double](0)).toSet

    // regenerate in place with different content: both artifacts must
    // rebuild under the new fingerprint (stale centroids assigning a
    // new corpus would be the silent failure mode)
    emb.filter(col("vec_id") % 3 =!= 1 || col("vec_id") < 16)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val v2 = SimilarityQueries.semBlockIndexTable(spark, dir).count()
    assert(v2 < v1, s"rebuild did not pick up the smaller corpus ($v1 -> $v2)")
    val cb2 = SimilarityQueries.semCodebookTable(spark, dir)
      .select("m").collect().map(_.getSeq[Double](0)).toSet
    assert(cb2 != cb1, "codebook unchanged after corpus regeneration")
  }
}
