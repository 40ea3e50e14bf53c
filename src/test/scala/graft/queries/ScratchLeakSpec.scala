package graft.queries

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.streaming.StreamingOps

/** Local scratch has one owner per JVM ([[JvmScratch]]): the stream
  * drains, the staged-input cache and the scratch database all write
  * under this JVM's root, and nothing else appears beside it. Runs the
  * two sentinel drains (q34 hourly counts, q36 sessionization) and the
  * cached-input ingest query q53, then lists the top level of /dev/shm
  * and `java.io.tmpdir` for `graft_*` dirs that were not there before.
  *
  * Other test JVMs run beside this one, so their own live roots are
  * allowed; build.sbt puts this suite in the group of StreamReplaySpec,
  * the one suite that keeps its scratch outside the root. */
class ScratchLeakSpec extends SparkSpec {

  private val parents = Seq(Paths.get("/dev/shm"),
    Paths.get(System.getProperty("java.io.tmpdir"))).filter(Files.isDirectory(_))

  private def graftDirs(): Set[Path] = parents.flatMap(JvmScratch.list)
    .filter(p => p.getFileName.toString.startsWith("graft_") && Files.isDirectory(p))
    .toSet

  test("drains and cached-input queries leave no graft_* dir beside the JVM's root") {
    JvmScratch.root // the root itself may be new; everything else may not
    val before = graftDirs()
    StreamingOps.hourlyCounts(spark, sfDir).collect()
    StreamingOps.sessionize(spark, sfDir).collect()
    graft.SparkEntry.queries("q53_file_roundtrip")(spark, sfDir).collect()
    graft.SparkEntry.queries("q53_file_roundtrip")(spark, sfDir).collect()
    val leaked = (graftDirs() -- before)
      .filterNot(p => p == JvmScratch.root || JvmScratch.liveRoot(p.getFileName.toString))
    assert(leaked.isEmpty, s"scratch outside the JVM's root: ${leaked.mkString(", ")}")
    val top = JvmScratch.list(JvmScratch.root).map(_.getFileName.toString)
    assert(!top.exists(n => n.startsWith("q34_") || n.startsWith("q36_")),
      s"a drain left its source or checkpoint in the root: ${top.mkString(", ")}")
  }
}
