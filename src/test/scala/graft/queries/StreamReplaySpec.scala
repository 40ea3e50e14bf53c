package graft.queries

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/** The at-least-once replay contract of the q105/q107 foreachBatch
  * sinks (round-9 verdict #2), and the compaction half of the stream-
  * grown index's maintenance story (round-9 verdict #3).
  *
  * foreachBatch delivers each micro-batch AT LEAST once: a batch whose
  * writes completed but whose checkpoint commit did not (a crash in
  * the gap) is re-delivered with the SAME batchId on the next drain.
  * The sinks are batch_id-partitioned with dynamic partition
  * overwrite, so the replay rewrites its own partition instead of
  * double-appending — these tests crash the drain in exactly that gap
  * (a chaos hook that throws after the writes, before the commit),
  * restart on the same checkpoint, and assert the final state equals a
  * clean run's. */
class StreamReplaySpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rm(dirs: (String, String)): Unit = Seq(dirs._1, dirs._2)
    .foreach(d => org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(d)): Unit)

  /** A chaos hook that throws on the FIRST delivery of batch 1 only —
    * after the batch's writes, before its checkpoint commit. */
  private class CrashOnce {
    @volatile var crashed = false
    def hook(batchId: Long): Unit =
      if (batchId == 1 && !crashed) {
        crashed = true
        throw new RuntimeException("chaos: crash before checkpoint commit")
      }
  }

  test("q105: a micro-batch replayed after a pre-commit crash does not double-write") {
    val clean = DedupQueries.streamIncrementalDedup(spark, sfDir)
      .orderBy("delta_id", "corpus_id").collect().toSeq
    assert(clean.nonEmpty, "clean q105 run produced no matches — test is vacuous")

    val scratch = (tmp("graft_rp105_src"), tmp("graft_rp105_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamIncrementalDedup(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      // restart on the SAME checkpoint: batch 1's writes ran but its
      // commit did not, so it replays — at-least-once, made idempotent
      // by the dynamic overwrite of its own batch_id partition
      val replayed = DedupQueries
        .streamIncrementalDedup(spark, sfDir, Replay.Resume(scratch))
        .orderBy("delta_id", "corpus_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q134: a replayed edge-shard micro-batch does not corrupt the labeling") {
    // the replayed batch re-probes the grown index MINUS its own bands
    // and dynamic-overwrites its own edge partition; a double-applied
    // batch would self-match its own bands (phantom within-pairs) or
    // duplicate edge rows — either diverges the final labeling
    val clean = DedupQueries.streamComponents(spark, sfDir)
      .orderBy("doc_id").collect().toSeq
    assert(clean.nonEmpty, "clean q134 run produced no labeling — test is vacuous")

    val scratch = (tmp("graft_rp134_src"), tmp("graft_rp134_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamComponents(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = DedupQueries
        .streamComponents(spark, sfDir, Replay.Resume(scratch))
        .orderBy("doc_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q129: a replayed simhash micro-batch does not double-write matches") {
    val clean = DedupQueries.streamSimhashDedup(spark, sfDir)
      .orderBy("delta_id", "corpus_id").collect().toSeq
    assert(clean.nonEmpty, "clean q129 run produced no matches — test is vacuous")

    val scratch = (tmp("graft_rp129_src"), tmp("graft_rp129_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamSimhashDedup(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = DedupQueries
        .streamSimhashDedup(spark, sfDir, Replay.Resume(scratch))
        .orderBy("delta_id", "corpus_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q121: a replayed register micro-batch does not corrupt the merged estimate") {
    val clean = SketchQueries.streamHllMaintain(spark, sfDir)
      .orderBy("event_type").collect().toSeq
    assert(clean.nonEmpty, "clean q121 run produced no estimates — test is vacuous")

    val scratch = (tmp("graft_rp121_src"), tmp("graft_rp121_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        SketchQueries.streamHllMaintain(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = SketchQueries
        .streamHllMaintain(spark, sfDir, Replay.Resume(scratch))
        .orderBy("event_type").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q139: a replayed SCD2 apply micro-batch rewrites identical history rows") {
    val clean = RelationalExtras.streamScd2Apply(spark, sfDir)
      .orderBy("c_custkey", "version").collect().toSeq
    assert(clean.nonEmpty, "clean q139 run produced no history — test is vacuous")

    val scratch = (tmp("graft_rp139_src"), tmp("graft_rp139_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        RelationalExtras.streamScd2Apply(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = RelationalExtras
        .streamScd2Apply(spark, sfDir, Replay.Resume(scratch))
        .orderBy("c_custkey", "version").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q141: a replayed bin-shard micro-batch does not inflate the quantiles") {
    val clean = SketchQueries.streamHistMaintain(spark, sfDir)
      .orderBy("p").collect().toSeq
    assert(clean.nonEmpty, "clean q141 run produced no quantiles — test is vacuous")

    val scratch = (tmp("graft_rp141_src"), tmp("graft_rp141_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        SketchQueries.streamHistMaintain(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = SketchQueries
        .streamHistMaintain(spark, sfDir, Replay.Resume(scratch))
        .orderBy("p").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q133: a replayed counter-grid micro-batch does not double-count") {
    // the CMS twin of the q121 test — and the sharper one: a double-
    // applied batch under max-merge (HLL) is absorbed, but under
    // ADD-merge it would inflate every touched cell, so idempotency
    // here rests entirely on the batch_id partition overwrite
    val clean = SketchQueries.streamCmsMaintain(spark, sfDir)
      .orderBy("user_id").collect().toSeq
    assert(clean.nonEmpty, "clean q133 run produced no estimates — test is vacuous")

    val scratch = (tmp("graft_rp133_src"), tmp("graft_rp133_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        SketchQueries.streamCmsMaintain(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = SketchQueries
        .streamCmsMaintain(spark, sfDir, Replay.Resume(scratch))
        .orderBy("user_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q144: a replayed count-shard micro-batch does not double-count heavy hitters") {
    // the add-merge twin of the q133 test on the heavy-hitter store: a
    // replayed batch's per-gram count shard must REWRITE its batch_id
    // partition, not append — a double-applied shard inflates every
    // touched gram's delta count, moving both the watermark and the
    // surge set
    val clean = SketchQueries.streamHeavyHitters(spark, sfDir)
      .orderBy("gram").collect().toSeq
    assert(clean.nonEmpty, "clean q144 run produced no heavy hitters — test is vacuous")

    val scratch = (tmp("graft_rp144_src"), tmp("graft_rp144_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        SketchQueries.streamHeavyHitters(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = SketchQueries
        .streamHeavyHitters(spark, sfDir, Replay.Resume(scratch))
        .orderBy("gram").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q151: a replayed delete-id shard changes nothing (retraction is naturally idempotent)") {
    val clean = DedupQueries.streamRetraction(spark, sfDir)
      .orderBy("doc_id").collect().toSeq
    assert(clean.nonEmpty, "clean q151 run produced no labeling — test is vacuous")

    val scratch = (tmp("graft_rp151_src"), tmp("graft_rp151_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamRetraction(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = DedupQueries
        .streamRetraction(spark, sfDir, Replay.Resume(scratch))
        .orderBy("doc_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q123: a replayed packing micro-batch sees the same offset and rewrites identical rows") {
    val clean = SamplingQueries.streamContextPacking(spark, sfDir)
      .orderBy("window_id", "doc_id").collect().toSeq
    assert(clean.nonEmpty, "clean q123 run produced no windows — test is vacuous")

    val scratch = (tmp("graft_rp123_src"), tmp("graft_rp123_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        SamplingQueries.streamContextPacking(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = SamplingQueries
        .streamContextPacking(spark, sfDir, Replay.Resume(scratch))
        .orderBy("window_id", "doc_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q160: a replayed sample shard rewrites identical rows, the fold is unchanged") {
    // the sample shard is a pure function of its batch, so the
    // batch_id dynamic overwrite must absorb a replay — a
    // double-applied shard would be invisible here anyway (the fold
    // dedups and re-ranks), which makes this the belt to that braces:
    // the partition overwrite is still asserted because the SHARD
    // table is the durable artifact a downstream consumer may read
    val clean = SamplingQueries.streamSample(spark, sfDir)
      .orderBy("sample_kind", "doc_id").collect().toSeq
    assert(clean.nonEmpty, "clean q160 run produced no sample — test is vacuous")

    val scratch = (tmp("graft_rp160_src"), tmp("graft_rp160_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        SamplingQueries.streamSample(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = SamplingQueries
        .streamSample(spark, sfDir, Replay.Resume(scratch))
        .orderBy("sample_kind", "doc_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q126: a replayed serving micro-batch re-answers its queries identically") {
    val clean = SimilarityQueries.streamAnnServe(spark, sfDir)
      .orderBy("q_id", "rank").collect().toSeq
    assert(clean.nonEmpty, "clean q126 run produced no results — test is vacuous")

    val scratch = (tmp("graft_rp126_src"), tmp("graft_rp126_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        SimilarityQueries.streamAnnServe(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = SimilarityQueries
        .streamAnnServe(spark, sfDir, Replay.Resume(scratch))
        .orderBy("q_id", "rank").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q113: a replayed semantic micro-batch does not double-write keepers") {
    val clean = DedupQueries.streamSemanticDedup(spark, sfDir)
      .orderBy("vec_id", "keeper_id").collect().toSeq
    assert(clean.nonEmpty, "clean q113 run produced no matches — test is vacuous")

    val scratch = (tmp("graft_rp113_src"), tmp("graft_rp113_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamSemanticDedup(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = DedupQueries
        .streamSemanticDedup(spark, sfDir, Replay.Resume(scratch))
        .orderBy("vec_id", "keeper_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q107: replay neither double-appends matches nor double-inserts index bands") {
    val cleanOut = DedupQueries.streamIndexBootstrap(spark, sfDir)
      .orderBy("doc_id", "dup_of").collect().toSeq
    val idx = JvmScratch.tableName("stream_band_index")
    val cleanBands = spark.table(idx)
      .select("doc_id", "band_idx", "band_key")
      .orderBy("doc_id", "band_idx", "band_key").collect().toSeq
    assert(cleanOut.nonEmpty && cleanBands.nonEmpty)

    val scratch = (tmp("graft_rp107_src"), tmp("graft_rp107_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamIndexBootstrap(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      // PARTIAL-COMMIT leg (the overlapped per-batch writes make either
      // commit order reachable): the crash committed BOTH of batch 1's
      // partitions; dropping the SINK's reconstructs the state where the
      // index append won the race and the match write did not commit
      spark.sql(s"ALTER TABLE ${JvmScratch.tableName("stream_bootstrap_out")} " +
        "DROP IF EXISTS PARTITION (batch_id=1)")

      // on replay, batch 1's bands are ALREADY in the index — the probe
      // must skip its own partition (else the batch self-matches), the
      // band insert must rewrite, not append, and the dropped match
      // partition must be rewritten whole
      val replayedOut = DedupQueries
        .streamIndexBootstrap(spark, sfDir, Replay.Resume(scratch))
        .orderBy("doc_id", "dup_of").collect().toSeq
      assert(replayedOut == cleanOut,
        s"replayed drain diverged: ${replayedOut.size} rows vs ${cleanOut.size}")
      val replayedBands = spark.table(idx)
        .select("doc_id", "band_idx", "band_key")
        .orderBy("doc_id", "band_idx", "band_key").collect().toSeq
      assert(replayedBands == cleanBands,
        s"index diverged after replay: ${replayedBands.size} bands vs ${cleanBands.size}")
    } finally rm(scratch)
  }

  test("q116: a replayed decontamination micro-batch does not double-count overlaps") {
    val clean = DedupQueries.streamDecontaminate(spark, sfDir)
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(clean.nonEmpty, "clean q116 run found no contamination — test is vacuous")

    val scratch = (tmp("graft_rp116_src"), tmp("graft_rp116_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamDecontaminate(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      val replayed = DedupQueries
        .streamDecontaminate(spark, sfDir, Replay.Resume(scratch))
        .orderBy("doc_id", "bench_id").collect().toSeq
      assert(replayed == clean,
        s"replayed drain diverged from the clean run: ${replayed.size} rows vs ${clean.size}")
    } finally rm(scratch)
  }

  test("q114: replay neither double-appends matches nor double-inserts blocks") {
    val cleanOut = DedupQueries.streamSemIndexBootstrap(spark, sfDir)
      .orderBy("vec_id", "dup_of").collect().toSeq
    val idx = JvmScratch.tableName("stream_block_index")
    val cleanBlocks = spark.table(idx)
      .select("vec_id", "block_key")
      .orderBy("vec_id", "block_key").collect().toSeq
    assert(cleanOut.nonEmpty && cleanBlocks.nonEmpty)

    val scratch = (tmp("graft_rp114_src"), tmp("graft_rp114_ckpt"))
    try {
      val chaos = new CrashOnce
      intercept[StreamingQueryException] {
        DedupQueries.streamSemIndexBootstrap(spark, sfDir, Replay.Crash(scratch, chaos.hook))
      }
      assert(chaos.crashed, "chaos hook never fired — batch 1 was not delivered")

      // PARTIAL-COMMIT leg, the OTHER order (see the q107 test): drop
      // the crashed batch's INDEX partition, reconstructing the state
      // where the match write won the overlapped race and the index
      // append did not commit — the replay must rewrite both
      spark.sql(s"ALTER TABLE $idx DROP IF EXISTS PARTITION (batch_id=1)")

      val replayedOut = DedupQueries
        .streamSemIndexBootstrap(spark, sfDir, Replay.Resume(scratch))
        .orderBy("vec_id", "dup_of").collect().toSeq
      assert(replayedOut == cleanOut,
        s"replayed drain diverged: ${replayedOut.size} rows vs ${cleanOut.size}")
      val replayedBlocks = spark.table(idx)
        .select("vec_id", "block_key")
        .orderBy("vec_id", "block_key").collect().toSeq
      assert(replayedBlocks == cleanBlocks,
        s"block index diverged after replay: ${replayedBlocks.size} vs ${cleanBlocks.size}")
    } finally rm(scratch)
  }

  test("stream-grown index: appends fragment buckets, compaction folds them to one file each") {
    // build WITHOUT the post-drain compaction to inspect the raw
    // accretion: 3 micro-batch appends x multiple write tasks leave
    // several files per bucket — the unbounded-small-files failure mode
    DedupQueries.streamIndexBootstrap(spark, sfDir, compact = false).collect()
    val idx = JvmScratch.tableName("stream_band_index")
    val before = graft.sources.DurableIndex.bucketFileCounts(spark, idx)
    assert(before.nonEmpty, "no bucketed data files under the stream-grown index")
    assert(before.values.exists(_ > 2),
      s"expected some bucket fragmented past 2 files after 3 drops, got $before")
    val content = spark.table(idx).select("doc_id", "band_idx", "band_key")
      .orderBy("doc_id", "band_idx", "band_key").collect().toSeq

    assert(DedupQueries.compactBandIndex(spark, idx), "compaction did not run")

    val after = graft.sources.DurableIndex.bucketFileCounts(spark, idx)
    assert(after.values.sum < before.values.sum,
      s"file count did not drop: ${before.values.sum} -> ${after.values.sum}")
    assert(after.values.forall(_ <= 1),
      s"compaction left a bucket with multiple files: $after")
    val recontent = spark.table(idx).select("doc_id", "band_idx", "band_key")
      .orderBy("doc_id", "band_idx", "band_key").collect().toSeq
    assert(recontent == content, "compaction changed the index contents")
    // a second pass finds nothing to do
    assert(!DedupQueries.compactBandIndex(spark, idx),
      "compaction re-ran on an already-compacted index")
  }
}
