package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Pins the data-adaptive staging level (round-18): gate-scale corpora
  * stage DISK_ONLY — zero storage-memory occupancy, so an artifact
  * build can never die evicting its own stagings (the q142 heap-cliff
  * mechanism) — while bench-scale corpora keep the deserialized
  * in-memory level. Also pins the (dir, mtime) memo fix from the
  * round-18 ADVICE: a corpus regenerated at the same path must get a
  * fresh size, not the cached one. */
class StagingLevelSpec extends SparkSpec {

  private def levelOf(df: DataFrame): StorageLevel =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRDD => lr.rdd.getStorageLevel
    }.get

  test("stageSer: DISK_ONLY past the corpus threshold, deserialized memory below it") {
    import spark.implicits._
    val dir = tempDir("stageser")
    val docs = Files.createDirectory(dir.resolve("documents.parquet"))

    // below threshold: the default localCheckpoint level (deserialized)
    Files.write(docs.resolve("junk.bin"), new Array[Byte](1 << 20))
    val small = DedupQueries.stageSer(spark, dir.toString,
      Seq(1L, 2L).toDF("doc_id"))
    assert(levelOf(small).deserialized,
      s"sub-threshold corpus staged ${levelOf(small)} — the bench-scale " +
        "in-memory level regressed")

    // regenerate the corpus at the SAME path past the threshold with a
    // bumped mtime: the (dir, mtime) memo must serve the NEW size (the
    // round-18 ADVICE stale-cache finding), flipping the level to disk
    Files.write(docs.resolve("junk2.bin"),
      new Array[Byte](DedupQueries.StageSerMinBytes.toInt))
    Files.setLastModifiedTime(docs,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val big = DedupQueries.stageSer(spark, dir.toString,
      Seq(1L, 2L).toDF("doc_id"))
    assert(levelOf(big) == StorageLevel.DISK_ONLY,
      s"gate-scale corpus staged ${levelOf(big)} — memory-resident " +
        "stagings re-open the eviction heap cliff")

    DedupQueries.rmQuietly(dir.toString)
  }
}
