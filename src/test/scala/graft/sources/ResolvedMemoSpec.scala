package graft.sources

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The resolved-relation memo behind [[Tables.load]] and DurableIndex's
  * artifact attaches: a rewrite is never served stale, and the memo
  * never holds more than its bound of sessions.
  */
class ResolvedMemoSpec extends SparkSpec {

  test("a Spark-written dir rewritten in the same mtime tick is re-resolved") {
    val dir = tempDir("memo_rewrite").toString
    val path = new Path(s"$dir/t.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.range(3).coalesce(1).write.parquet(path.toString)
    assert(Tables.load(spark, dir, "t").count() == 3L)
    val before = fs.getFileStatus(path)
    spark.range(5).coalesce(1).write.mode("overwrite").parquet(path.toString)
    fs.setTimes(path, before.getModificationTime, -1L)
    val after = fs.getFileStatus(path)
    assert(after.getLen == before.getLen &&
      after.getModificationTime == before.getModificationTime,
      "the rewrite must look identical by root length and mtime")
    assert(Tables.load(spark, dir, "t").count() == 5L,
      "the memo served the pre-rewrite relation")
    graft.queries.DedupQueries.rmQuietly(dir)
  }

  test("the memo stays within its session bound across many sessions") {
    val dir = tempDir("memo_bound").toString
    spark.range(2).coalesce(1).write.parquet(s"$dir/t.parquet")
    (1 to Tables.MaxMemoSessions + 8).foreach { _ =>
      val s = spark.newSession()
      assert(Tables.load(s, dir, "t").columns.toSeq == Seq("id"))
      assert(Tables.memoSessions <= Tables.MaxMemoSessions)
    }
    assert(Tables.memoSessions == Tables.MaxMemoSessions)
    graft.queries.DedupQueries.rmQuietly(dir)
  }
}
