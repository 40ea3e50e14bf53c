package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import graft.SparkSpec

/** The attachOrBuildFp-LAYER race (round-19 verdict #2): the primitive
  * race specs prove the one-winner election at [[DurableIndex.commit]];
  * this spec proves there is no fallout ABOVE it. Two real child JVMs
  * ([[RaceProbe]] attachLoop — the layer is JVM-`synchronized`, so the
  * race is only reachable cross-process) attach-or-build the SAME fresh
  * fingerprint 20 rounds in lockstep, each trying to publish a build of
  * a DISTINCT row count; every round's build supersedes (retires) the
  * previous round's fingerprint. Invariants, per round and at the end:
  *
  *   1. both racers agree on ONE row count — a loser reads the
  *      winner's generation, never its own discarded copy, and never a
  *      union of both (which would read as 100+1000 rows);
  *   2. at least one round saw BOTH racers run their build closure —
  *      the race actually fired, the 20 rounds are not vacuous;
  *   3. afterwards every generation dir in the family is named by a
  *      live pointer or by a retired record (a loser's discarded
  *      generation is gone), every pointer names an existing
  *      generation, nothing is nested inside a generation, and no temp
  *      pointer is left.
  */
class AttachRaceSpec extends SparkSpec {

  test("two JVMs race attachOrBuildFp 20 rounds: losers read the winner, no nested builds") {
    val work = tempDir("attachrace").toString
    val sync = Files.createDirectory(Paths.get(work, "sync")).toString
    val family = "race_attach"
    val dir = "/tmp/graft_attachrace_corpus"
    val rounds = 20
    val counts = Seq(100L, 1000L) // NOT closed under addition: a
    // nested-pollution read (both builds unioned) lands outside the set

    val outFiles = counts.indices.map(i => new java.io.File(work, s"child_$i.out"))
    val children = counts.zipWithIndex.map { case (n, i) =>
      ForkedProbe.startToFile(Seq("attachLoop", work, dir, family,
        i.toString, n.toString, rounds.toString, sync), outFiles(i))
    }
    val outs =
      try {
        // lockstep barrier per round: both children staged at round r
        // before the round's barrier drops — the builds then overlap
        // and the publish election fires for real. A child dying
        // mid-loop (the very bug class this spec hunts) must fail the
        // round promptly, not stall the barrier wait to its deadline.
        val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
        for (r <- 0 until rounds) {
          while (counts.indices.exists(i =>
              !Files.exists(Paths.get(sync, s"ready_${r}_$i")))
              && children.forall(_.isAlive)
              && System.nanoTime() < deadline) Thread.sleep(5)
          assert(children.forall(_.isAlive),
            s"round $r: a child JVM died mid-race:\n" +
              outFiles.map(f => Files.readString(f.toPath)).mkString("\n---\n"))
          assert(counts.indices.forall(i =>
            Files.exists(Paths.get(sync, s"ready_${r}_$i"))),
            s"round $r: children never reached the barrier")
          Files.writeString(Paths.get(sync, s"barrier_$r"), "go")
        }
        children.zip(outFiles).map { case (p, f) =>
          assert(p.waitFor(600, TimeUnit.SECONDS), "attachLoop JVM hung")
          Files.readString(f.toPath)
        }
      } finally children.foreach(_.destroyForcibly())

    val Result = "ATTACH_RESULT (\\d+) (\\d+) count=(\\d+) built=(\\w+)".r
    val parsed = outs.flatMap(_.linesIterator.collect {
      case Result(r, idx, n, b) => (r.toInt, idx.toInt, n.toLong, b.toBoolean)
    })
    assert(parsed.size == rounds * counts.size,
      s"expected ${rounds * counts.size} ATTACH_RESULT lines, got " +
        s"${parsed.size}:\n${outs.mkString("\n---\n")}")
    for (r <- 0 until rounds) {
      val roundCounts = parsed.filter(_._1 == r).map(_._3).distinct
      assert(roundCounts.size == 1 && counts.contains(roundCounts.head),
        s"round $r: racers disagree or read an illegal count: $roundCounts")
    }
    val racedRounds = (0 until rounds).count { r =>
      parsed.filter(_._1 == r).forall(_._4)
    }
    assert(racedRounds > 0,
      "no round had both racers build — the layer race never fired (vacuous)")

    // every entry of the family dir is a pointer, a generation or a
    // retired record; every generation is named by one of the others
    val base = Paths.get(work, s"graft_$family")
    assert(Files.exists(base), "family base dir missing")
    val prefix = s"${family}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_"
    val names = base.toFile.list().toSeq
    val (pointers, rest) = names.partition(_.matches(s"\\Q$prefix\\E[0-9a-f]+"))
    val (records, gens) = rest.partition(_.endsWith(".retired"))
    val stray = gens.filterNot(_.matches(s"\\Q$prefix\\E[0-9a-f]+\\.g[0-9a-f]+"))
    assert(stray.isEmpty, s"temp pointers or stray entries left: $stray")
    val pointed = pointers.map(p => Files.readString(base.resolve(p)))
    assert(pointed.forall(gens.contains), s"a pointer names a missing generation: $pointed")
    val named = (pointed ++ records.map(_.stripSuffix(".retired"))).toSet
    assert(gens.forall(named.contains),
      s"generations neither live nor retired: ${gens.filterNot(named.contains)}")
    assert(pointers.size == 1, s"expected only the last round live: $pointers")
    assert(gens.forall(g => base.resolve(g).toFile.listFiles().forall(_.isFile)),
      "a directory nested inside a generation")

    graft.queries.DedupQueries.rmQuietly(work)
  }
}
