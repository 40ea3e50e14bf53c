package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import graft.SparkSpec

/** The TRUE two-process publisher race (round-16 verdict #4):
  * ConcurrentPublishSpec races threads and argues FS-level equivalence
  * — the JVM `synchronized` sits ABOVE the [[DurableIndex.commit]]
  * primitive, so thread interleavings exercise the same exclusive-create
  * race two JVMs would produce. This spec closes the argument
  * empirically: it forks REAL child JVMs ([[RaceProbe]] — separate
  * SparkSessions, separate Hadoop FileSystems, separate process
  * lifetimes) — two publishers staging complete generations of
  * distinct row counts plus one resolve-and-count reader — releases
  * them against ONE pointer via a file barrier, and asserts the same
  * three invariants observed cross-process:
  *
  *   1. exactly ONE publisher wins, and the loser LEARNS it lost;
  *   2. the pointer names exactly the winner's complete generation, and
  *      the loser's generation is gone;
  *   3. the reader never observes a torn generation (every completed
  *      read is a whole publisher's count; an absent pointer is the
  *      legal state before publish), and completes at least one legal
  *      read (the non-vacuity rule from the thread spec).
  */
class CrossProcessPublishSpec extends SparkSpec {

  // the name predates the pointer commit; kept so test history stays continuous
  test("two real JVMs race one publishAtomic destination; a third reads across it") {
    val work = tempDir("race2").toString
    val destName = "race2_t_deadbeef"
    val barrier = s"$work/barrier"
    val stopFile = s"$work/stop"
    // NOT closed under addition (100+1000 ∉ set), and the reader gets
    // the exact legal set — a torn read exposing both builds (1100) or
    // either build doubled is illegal by membership, not divisibility
    val counts = Seq(100L, 1000L)

    val readerP = ForkedProbe.start(Seq("read", work, destName, stopFile,
      counts.mkString(",")))
    val pubs = counts.zipWithIndex.map { case (n, i) =>
      ForkedProbe.start(
        Seq("publish", work, destName, i.toString, n.toString, barrier))
    }

    // both publishers staged and waiting -> drop the barrier
    val deadline = System.nanoTime() + 240L * 1000 * 1000 * 1000
    while (counts.indices.exists(i => !Files.exists(Paths.get(work, s"ready_$i")))
        && System.nanoTime() < deadline) Thread.sleep(20)
    assert(counts.indices.forall(i => Files.exists(Paths.get(work, s"ready_$i"))),
      "publishers never staged their builds")
    Files.writeString(Paths.get(barrier), "go")

    val pubOut = pubs.map { p =>
      assert(p.waitFor(240, TimeUnit.SECONDS), "publisher JVM hung")
      new String(p.getInputStream.readAllBytes())
    }
    // give the reader a window over the published state, then stop it
    Thread.sleep(1500)
    Files.writeString(Paths.get(stopFile), "stop")
    assert(readerP.waitFor(240, TimeUnit.SECONDS), "reader JVM hung")
    val readOut = new String(readerP.getInputStream.readAllBytes())

    val results = pubOut.flatMap(_.linesIterator.find(_.startsWith("RACE_RESULT")))
    assert(results.size == 2, s"missing RACE_RESULT lines: $pubOut")
    val winners = results.filter(_.contains(" WIN "))
    assert(winners.size == 1,
      s"expected exactly one cross-process winner, got: $results")
    val winnerIdx = winners.head.trim.split(" ").last.toInt

    // the pointer names exactly the winner's complete generation
    val live = DurableIndex.resolve(spark,
      new org.apache.hadoop.fs.Path(s"$work/graft_race2/$destName"))
    assert(live.map(_.getName).contains(s"$destName.g$winnerIdx"),
      s"pointer names $live, not the cross-process winner's generation")
    assert(spark.read.parquet(live.get.toString).count() == counts(winnerIdx),
      "live generation does not hold the cross-process winner's build")
    // the loser's contract: its generation is gone, no temp pointer left
    val leftovers = new java.io.File(s"$work/graft_race2").listFiles()
      .map(_.getName).filter(_.startsWith(s"$destName.")).toSeq
    assert(leftovers == Seq(live.get.getName),
      s"loser generations or temp pointers survived: $leftovers")

    // reader: no torn generation, and at least one completed legal read
    val m = "RACE_READS ok=(\\d+) miss=(\\d+) illegal=(\\d+)".r
      .findFirstMatchIn(readOut)
    assert(m.isDefined, s"reader emitted no RACE_READS line: $readOut")
    assert(m.get.group(3).toInt == 0,
      s"cross-process reader observed torn generations: ${m.get.matched}")
    assert(m.get.group(1).toInt > 0,
      s"cross-process reader never completed a legal read (vacuous): ${m.get.matched}")

    graft.queries.DedupQueries.rmQuietly(work)
  }
}
