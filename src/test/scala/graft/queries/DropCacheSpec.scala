package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The drop-cache key/lifecycle contract (round-15 advice): cached
  * streaming-drain drops are a pure function of (corpus content, slice
  * LOGIC) — so the cache key must fold the slice plan in, a change to
  * a family's slicing must miss rather than silently serve the old
  * drops, and a reader racing the global idle sweep must rebuild
  * instead of failing (or worse, half-reading). */
class DropCacheSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, sfDir)

  // the per-JVM cache base (round-21 verdict #2: fixture staging is
  // memoized within a JVM only, never across processes)
  private def cacheBase = DedupQueries.dropCacheBase

  private val me = ProcessHandle.current()
  private val myStart = me.info().startInstant().get().toEpochMilli

  test("the cache base is scoped to this JVM (no cross-process reuse)") {
    // round-21 verdict #2: a cache surviving the JVM lets one run's
    // staging pre-compute another run's declared work. The base dir
    // must be keyed by pid AND JVM start instant, so a fresh process —
    // even one the OS gave a dead JVM's pid — never finds a warm entry.
    assert(cacheBase.getFileName.toString ==
      s"graft_drop_cache_pid${me.pid()}_t$myStart",
      s"cache base ${cacheBase} is not scoped to this JVM (pid + start)")
  }

  test("a dead JVM's cache under this JVM's pid is swept, not reused") {
    // a recycled pid: same pid, different start instant — the earlier
    // JVM's warm drops must not survive into this one
    val parent = Files.createTempDirectory("graft_dropsweep")
    try {
      val mine = parent.resolve(DedupQueries.dropCacheName(me))
      val stale = parent.resolve(
        s"graft_drop_cache_pid${me.pid()}_t${myStart - 60000L}")
      val legacy = parent.resolve(s"graft_drop_cache_pid${me.pid()}")
      val unrelated = parent.resolve("not_a_drop_cache")
      Seq(mine, stale, legacy, unrelated).foreach(Files.createDirectories(_))
      Files.createFile(stale.resolve("drop_0.parquet"))
      assert(mine != stale && cacheBase.getFileName != stale.getFileName,
        "a different start instant mapped to this JVM's cache name")
      DedupQueries.sweepDeadDropCaches(parent, mine)
      assert(!Files.exists(stale), "a recycled-pid cache survived the sweep")
      assert(!Files.exists(legacy), "a pid-only legacy cache survived the sweep")
      assert(Files.isDirectory(mine), "the sweep removed the live cache")
      assert(Files.isDirectory(unrelated), "the sweep removed a foreign dir")
    } finally DedupQueries.rmQuietly(parent.toString)
  }

  test("a slice-logic change invalidates the cache instead of serving stale drops") {
    val srcDir = Files.createTempDirectory("graft_dropkey").toString
    try {
      DedupQueries.stageDropsCached(spark, sfDir, "dropkeyspec",
        "documents.parquet", srcDir, 1)(
        _ => docs.filter(col("doc_id") % 10 === 1).select("doc_id"))
      val first = spark.read.parquet(s"$srcDir/drop_0.parquet")
      assert(first.filter(col("doc_id") % 10 =!= 1).isEmpty
        && first.count() > 0, "first slice staged wrong rows")
      // same (family, dir, corpus) — ONLY the slice predicate changes.
      // Before the slice-plan key component this silently re-served
      // slice A's cached file.
      DedupQueries.stageDropsCached(spark, sfDir, "dropkeyspec",
        "documents.parquet", srcDir, 1)(
        _ => docs.filter(col("doc_id") % 10 === 2).select("doc_id"))
      val second = spark.read.parquet(s"$srcDir/drop_0.parquet")
      assert(second.filter(col("doc_id") % 10 =!= 2).isEmpty
        && second.count() > 0,
        "a re-sliced family was served the previous slicing's cached drops")
    } finally DedupQueries.rmQuietly(srcDir)
  }

  test("identical invocations hit the cache (one published entry, reused)") {
    val srcDir = Files.createTempDirectory("graft_drophit").toString
    try {
      def stage(): Unit = DedupQueries.stageDropsCached(spark, sfDir,
        "drophitspec", "documents.parquet", srcDir, 2)(
        i => docs.filter(col("doc_id") % 10 === i).select("doc_id"))
      stage()
      val entries = Files.list(cacheBase).iterator()
      val mine = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
      while (entries.hasNext) {
        val p = entries.next()
        if (p.getFileName.toString.startsWith("drophitspec_")) mine += p
      }
      assert(mine.size == 1, s"expected one cache entry, found ${mine.size}")
      val fileTime = Files.getLastModifiedTime(
        mine.head.resolve("drop_0.parquet"))
      stage() // must reuse: the cached part file is not rewritten
      assert(Files.getLastModifiedTime(
        mine.head.resolve("drop_0.parquet")) == fileTime,
        "a cache hit rebuilt the published drops")
    } finally DedupQueries.rmQuietly(srcDir)
  }

  test("a reader racing the idle sweep rebuilds instead of failing") {
    val srcDir = Files.createTempDirectory("graft_dropswept").toString
    try {
      def stage(): Unit = DedupQueries.stageDropsCached(spark, sfDir,
        "dropsweptspec", "documents.parquet", srcDir, 1)(
        _ => docs.filter(col("doc_id") % 10 === 3).select("doc_id"))
      stage()
      // simulate the sweep firing between the publish check and the
      // copy: the entry dir survives but its files are gone — the
      // reader's copy throws NoSuchFileException mid-read
      val entries = Files.list(cacheBase).iterator()
      while (entries.hasNext) {
        val p = entries.next()
        if (p.getFileName.toString.startsWith("dropsweptspec_"))
          Files.deleteIfExists(p.resolve("drop_0.parquet")): Unit
      }
      stage() // must rebuild once and serve the correct drops
      val got = spark.read.parquet(s"$srcDir/drop_0.parquet")
      assert(got.filter(col("doc_id") % 10 =!= 3).isEmpty && got.count() > 0,
        "post-race rebuild served wrong drops")
    } finally DedupQueries.rmQuietly(srcDir)
  }
}
