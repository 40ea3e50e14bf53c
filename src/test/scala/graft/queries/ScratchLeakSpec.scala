package graft.queries

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.streaming.StreamingOps

/** Local scratch has one owner per JVM ([[JvmScratch]]): the stream
  * drains, the staged-input cache and the scratch database all write
  * under this JVM's root, and nothing else appears beside it. Runs the
  * two sentinel drains (q34 hourly counts, q36 sessionization), one
  * staged-drop drain (q121, through `DedupQueries.drainDrops`), the
  * foreachBatch drain q45 and the cached-input ingest query q53, then
  * lists the top level of /dev/shm and `java.io.tmpdir` for `graft_*`
  * dirs that were not there before. q45 must also leave no
  * `temporary-*` dir in `java.io.tmpdir`: that is where Spark puts the
  * checkpoint of a stream started without one.
  *
  * Other test JVMs run beside this one, so their own live roots are
  * allowed; build.sbt puts this suite in the group of StreamReplaySpec,
  * the one suite that keeps its scratch outside the root. */
class ScratchLeakSpec extends SparkSpec {

  private val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))

  private val parents = Seq(Paths.get("/dev/shm"), tmpDir).filter(Files.isDirectory(_))

  private def dirsIn(ps: Seq[Path], prefix: String): Set[Path] = ps.flatMap(JvmScratch.list)
    .filter(p => p.getFileName.toString.startsWith(prefix) && Files.isDirectory(p))
    .toSet

  private def graftDirs(): Set[Path] = dirsIn(parents, "graft_")

  test("drains and cached-input queries leave no graft_* dir beside the JVM's root") {
    JvmScratch.root // the root itself may be new; everything else may not
    val before = graftDirs()
    StreamingOps.hourlyCounts(spark, sfDir).collect()
    StreamingOps.sessionize(spark, sfDir).collect()
    graft.SparkEntry.queries("q53_file_roundtrip")(spark, sfDir).collect()
    graft.SparkEntry.queries("q53_file_roundtrip")(spark, sfDir).collect()
    graft.SparkEntry.queries("q121_stream_hll")(spark, sfDir).collect()
    val tempBefore = dirsIn(Seq(tmpDir), "temporary-")
    graft.SparkEntry.queries("q45_stream_foreachbatch")(spark, sfDir).collect()
    val temp = dirsIn(Seq(tmpDir), "temporary-") -- tempBefore
    assert(temp.isEmpty, s"q45 left a checkpoint in java.io.tmpdir: ${temp.mkString(", ")}")
    val leaked = (graftDirs() -- before)
      .filterNot(p => p == JvmScratch.root || JvmScratch.liveRoot(p.getFileName.toString))
    assert(leaked.isEmpty, s"scratch outside the JVM's root: ${leaked.mkString(", ")}")
    val top = JvmScratch.list(JvmScratch.root).map(_.getFileName.toString)
    assert(!top.exists(n => Seq("q34_", "q36_", "q121_", "q45_").exists(n.startsWith)),
      s"a drain left its source or checkpoint in the root: ${top.mkString(", ")}")
  }
}
