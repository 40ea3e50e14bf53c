package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The durability contract of the persisted band index (the standing
  * artifact a 100-TB incremental dedup pipeline maintains between
  * batches): the data outlives the catalog, a fresh catalog re-attaches
  * without re-minhashing, and a regenerated corpus forces a rebuild
  * instead of a silent stale join.
  *
  * "Fresh catalog" is simulated by DROP DATABASE CASCADE: the in-memory
  * catalog lives in the session's SharedState, so emptying it
  * reproduces exactly what a brand-new SparkSession sees (an absent
  * table entry) without forking a second JVM. The index DATA lives
  * under `<warehouse>/graft_band_index/`, outside the database
  * location, so the drop touches only metadata — as it would for any
  * external table.
  */
class BandIndexSpec extends SparkSpec {

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case _ => p +: p.children.flatMap(flatten)
  }

  /** Generation dirs of the band index over `dir`: (live, retired) —
    * the live one its pointer names; superseded ones stay on disk as
    * retired for one grace cycle. */
  private def versionDirs(dir: String): (Seq[Path], Seq[Path]) = {
    val g = graft.sources.DurableIndex.generations(spark, dir, "band_index")
    (g.live.values.toSeq, g.retired)
  }

  /** (name -> (length, mtime)) of every parquet part under the single
    * LIVE published index version for `dir`. */
  private def partFiles(dir: String): Map[String, (Long, Long)] = {
    val (live, _) = versionDirs(dir)
    assert(live.length == 1,
      s"expected exactly one live index version for $dir, " +
        s"got ${live.map(_.getName).mkString(", ")}")
    val fs = live.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(live.head)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => f.getPath.getName -> (f.getLen, f.getModificationTime))
      .toMap
  }

  test("fresh catalog re-attaches the published index without re-minhashing") {
    val first = DedupQueries.bandIndexTable(spark, sfDir)
    val rows = first.count()
    assert(rows > 0)
    val before = partFiles(sfDir)
    assert(before.nonEmpty, "published index has no parquet parts")

    // a new session starts with no trace of the table in its catalog
    spark.sql("DROP DATABASE graft_index CASCADE")
    assert(!spark.catalog.databaseExists("graft_index"))

    val again = DedupQueries.bandIndexTable(spark, sfDir)
    assert(again.count() == rows)
    // the part files are byte-for-byte untouched: re-attach, not rebuild
    assert(partFiles(sfDir) == before,
      "index part files changed — the fresh catalog re-minhashed the corpus")
    // and the read is a bare scan of the attached table: no Exchange, no
    // aggregate, no shingle machinery anywhere in the plan
    again.collect()
    val nodes = flatten(again.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[Exchange]),
      "Exchange in the re-attached index read")
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("aggregate")),
      "aggregate (minhash signature stage) in the re-attached index read")
    val scan = nodes.collectFirst { case f: FileSourceScanExec => f }
    assert(scan.nonEmpty, "no file scan in the re-attached index read")
    // the bucket layout survived the round-trip through the DDL re-attach
    assert(scan.get.relation.bucketSpec.exists(b =>
        b.numBuckets == 16 && b.bucketColumnNames == Seq("band_key")),
      s"bucket spec lost on re-attach: ${scan.get.relation.bucketSpec}")
  }

  test("regenerated corpus content forces a rebuild and retires the stale version") {
    val dir = tempDir("bandidx").toString
    val docs = graft.sources.Tables.documents(spark, sfDir)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v1 = DedupQueries.bandIndexTable(spark, dir).count()

    // regenerate in place with different content (the ADVICE scenario:
    // same path, new data — the per-JVM dir-keyed cache joined stale)
    docs.filter(col("doc_id") % 3 =!= 1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v2 = DedupQueries.bandIndexTable(spark, dir).count()
    assert(v2 < v1, s"rebuild did not pick up the smaller corpus ($v1 -> $v2)")

    // exactly one LIVE (the fresh) version for this corpus; the
    // superseded one is RETIRED, still on disk — a grace window, so a
    // concurrent session mid-scan of the old version is not yanked
    assert(partFiles(dir).nonEmpty)
    val (_, retired1) = versionDirs(dir)
    assert(retired1.length == 1,
      s"superseded version not retired: ${retired1.map(_.getName)}")

    // a SECOND regeneration's build purges the earlier retired dir
    // (its grace cycle elapsed) and retires the second version in turn
    docs.filter(col("doc_id") % 3 === 0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v3 = DedupQueries.bandIndexTable(spark, dir).count()
    assert(v3 < v2, s"second rebuild did not pick up the smaller corpus ($v2 -> $v3)")
    val (live2, retired2) = versionDirs(dir)
    assert(live2.length == 1)
    assert(retired2.map(_.getName) != retired1.map(_.getName),
      "first retired dir survived the next build's purge sweep")
    assert(retired2.length == 1,
      s"expected exactly the second superseded version retired, got ${retired2.map(_.getName)}")
  }
}
