package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The drop-cache key/lifecycle contract (round-15 advice): cached
  * streaming-drain drops are a pure function of (corpus content, slice
  * LOGIC) — so the cache key must fold the slice plan in, a change to
  * a family's slicing must miss rather than silently serve the old
  * drops, and a build that throws must never leave an entry to serve.
  * The cache lives under this JVM's scratch root ([[JvmScratch]]), so
  * no other process ever reads or writes it. */
class DropCacheSpec extends SparkSpec {

  private def docs = graft.sources.Tables.documents(spark, sfDir)

  private def cacheBase = JvmScratch.sub("cache")

  private val me = ProcessHandle.current()
  private val myStart = me.info().startInstant().get().toEpochMilli

  private def entries(prefix: String): Seq[java.nio.file.Path] =
    JvmScratch.list(cacheBase).filter(_.getFileName.toString.startsWith(prefix))

  test("the cache base is scoped to this JVM (no cross-process reuse)") {
    // round-21 verdict #2: a cache surviving the JVM lets one run's
    // staging pre-compute another run's declared work. The scratch root
    // holding the cache must be keyed by pid AND JVM start instant, so a
    // fresh process — even one the OS gave a dead JVM's pid — never
    // finds a warm entry.
    assert(JvmScratch.root.getFileName.toString ==
      s"graft_jvm_pid${me.pid()}_t$myStart",
      s"scratch root ${JvmScratch.root} is not scoped to this JVM (pid + start)")
    assert(cacheBase.getParent == JvmScratch.root, "the cache is outside the root")
  }

  test("a dead JVM's cache under this JVM's pid is swept, not reused") {
    // a recycled pid: same pid, different start instant — the earlier
    // JVM's root (and the warm drops in it) must not survive into this one
    val parent = tempDir("scratchsweep")
    val mine = parent.resolve(JvmScratch.rootName(me))
    val stale = parent.resolve(s"graft_jvm_pid${me.pid()}_t${myStart - 60000L}")
    // names outside the root pattern are never the sweep's to remove
    val foreign = Seq(parent.resolve(s"graft_drop_cache_pid${me.pid()}"),
      parent.resolve("graft_q34_src1"), parent.resolve("not_a_scratch_root"))
    (mine +: stale +: foreign).foreach(Files.createDirectories(_))
    Files.createFile(Files.createDirectories(stale.resolve("cache")).resolve("drop_0.parquet"))
    assert(mine != stale && JvmScratch.root.getFileName != stale.getFileName,
      "a different start instant mapped to this JVM's root name")
    JvmScratch.sweepDead(parent, mine)
    assert(!Files.exists(stale), "a recycled-pid root survived the sweep")
    assert(Files.isDirectory(mine), "the sweep removed the live root")
    foreign.foreach(p => assert(Files.isDirectory(p), s"the sweep removed foreign $p"))
  }

  test("a slice-logic change invalidates the cache instead of serving stale drops") {
    val srcDir = tempDir("dropkey").toString
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
    assert(entries("dropkeyspec_").size == 1,
      "the superseded slicing's entry was not purged")
  }

  test("identical invocations hit the cache (one published entry, reused)") {
    val srcDir = tempDir("drophit").toString
    def stage(): Unit = DedupQueries.stageDropsCached(spark, sfDir,
      "drophitspec", "documents.parquet", srcDir, 2)(
      i => docs.filter(col("doc_id") % 10 === i).select("doc_id"))
    stage()
    val mine = entries("drophitspec_")
    assert(mine.size == 1, s"expected one cache entry, found ${mine.size}")
    assert(JvmScratch.list(mine.head).map(_.getFileName.toString).sorted ==
      Seq("drop_0.parquet", "drop_1.parquet"), "the entry holds more than the drops")
    val fileTime = Files.getLastModifiedTime(
      mine.head.resolve("drop_0.parquet"))
    stage() // must reuse: the cached part file is not rewritten
    assert(Files.getLastModifiedTime(
      mine.head.resolve("drop_0.parquet")) == fileTime,
      "a cache hit rebuilt the published drops")
  }

  test("a build that throws publishes nothing; the next call builds afresh") {
    intercept[IllegalStateException] {
      JvmScratch.cached("throwspec", sfDir, "ab") { tmp =>
        Files.writeString(tmp.resolve("half.txt"), "partial")
        throw new IllegalStateException("build failed midway")
      }
    }
    assert(!entries("throwspec_").exists(p => !p.getFileName.toString.endsWith(".build")),
      "a failed build was published")
    val entry = JvmScratch.cached("throwspec", sfDir, "ab") { tmp =>
      Files.writeString(tmp.resolve("whole.txt"), "complete"): Unit
    }
    assert(JvmScratch.list(entry).map(_.getFileName.toString) == Seq("whole.txt"),
      "the rebuild served the failed build's partial files")
  }
}
