package graft.sources

import java.util.concurrent.TimeUnit

import graft.SparkSpec

/** The durable-artifact lifecycle on an object store with no atomic
  * rename: a child JVM ([[RaceProbe]] storeCycle) whose warehouse lives
  * on [[ObjectStoreFs]] — rename copies, create-if-absent is exclusive —
  * runs attach -> re-attach -> supersede -> attachLatest -> retire ->
  * rebuild, plus one bucketed attach, and reports what it saw. Each step
  * must behave exactly as on the local FS.
  */
class ObjectStoreCycleSpec extends SparkSpec {

  test("attach, supersede, attachLatest and retire on an object store whose rename copies") {
    val work = tempDir("objstore_cycle").toString
    val out = new java.io.File(work, "child.out")
    val child = ForkedProbe.startToFile(
      Seq("storeCycle", ObjectStoreFs.path(s"$work/wh")), out)
    try assert(child.waitFor(600, TimeUnit.SECONDS), "storeCycle JVM hung")
    finally child.destroyForcibly()
    val text = java.nio.file.Files.readString(out.toPath)
    val facts = "STORE (\\w+)=(.*)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).trim).toMap
    def fact(k: String): String = facts.getOrElse(k, fail(s"no STORE $k:\n$text"))

    assert(fact("first") == "10")
    assert(fact("reattach") == "10" && fact("builds") == "1",
      "a re-attach of a live fingerprint rebuilt it")
    assert(fact("second") == "20" && fact("live") == "b2",
      "the superseding build is not the only live version")
    assert(fact("retiredIsFirst") == "true" && fact("retiredReadable") == "10",
      "the superseded generation is not retired in place for its grace window")
    assert(fact("latest") == "Some(20)")
    assert(fact("liveAfterRetire") == "false" && fact("latestAfterRetire") == "None",
      "a retired generation is still live")
    assert(fact("retiredAfterRetire") == "2")
    assert(fact("third") == "30" && fact("retiredAfterRebuild") == "0",
      "the next build did not purge the retired generations")
    assert(fact("bucketed") == "40" && fact("bucketedAt") == "true",
      "the bucketed table is not attached at its generation")
    graft.queries.DedupQueries.rmQuietly(work)
  }
}
