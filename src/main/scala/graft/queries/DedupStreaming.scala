package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Concurrently
import graft.functions.CrossEngine._
import graft.sources.Tables

/** The replay hooks of a [[DedupQueries.drainDrops]] drain
  * (StreamReplaySpec). A crashing and a resuming run both pin the
  * `(source, checkpoint)` dirs, so a resume continues the checkpoint a
  * crash left; the default, [[Replay.Off]], does neither. */
private[graft] sealed abstract class Replay(
    val pinned: Option[(String, String)], val chaos: Long => Unit)

private[graft] object Replay {
  /** Fresh `tag`-named dirs, deleted after the drain. */
  case object Off extends Replay(None, _ => ())

  /** Stage into the pinned dirs and keep them. `hook` runs after each
    * batch's writes but BEFORE its checkpoint commits: throwing from it
    * simulates a crash that forces an at-least-once replay of that
    * batch on the next drain. */
  final case class Crash(dirs: (String, String), hook: Long => Unit)
      extends Replay(Some(dirs), hook)

  /** Re-drain whatever a crashed run's pinned dirs left uncommitted:
    * no staging, no table resets, no pre-stream artifacts. */
  final case class Resume(dirs: (String, String)) extends Replay(Some(dirs), _ => ())
}

/** Streaming drains + their fixed-cost toolkit (drop cache, stream confs, sinks, compaction) and the family's size gates (q105/q107/q113/q114/q116/q134...).
  *
  * Pure round-16 refactor: split out of the 3,300-line DedupQueries.scala
  * verbatim (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` — traits cannot
  * share plain-private members — and derived vals made lazy so trait
  * initialization order can never observe an unset field). */
trait DedupStreaming { self: DedupQueries.type =>

  // ---- streaming drains (q105/q107/q113/q114) --------------------------

  /** Data-adaptive micro-batch shuffle width for the TEXT drains: a
    * drop-sized batch of documents explodes ~100-300x through the
    * shingle stage, so the per-batch width must track the corpus, not
    * stay at the sf0.1-tuned floor. bytes/4 MiB clamped to [4, 32]
    * resolves to the unchanged 4 at sf0.1/sf1 (bench-neutral) and to
    * 14 at sf10 — measured on q107's bootstrap drain at sf10: 232s at
    * width 4 -> 162s at 16 (-30%), warm drop cache both runs. Vector /
    * event / sketch drains keep the flat default: their batches don't
    * amplify (q126 measured NO gain from widening). */
  private[queries] def textStreamWidth(s: SparkSession, dir: String): String =
    math.max(4L, math.min(32L, corpusBytes(s, dir) / (4L << 20))).toString

  /** Stream-drain session confs, saved/restored around a drain:
    * micro-batches are drop-sized, so full-width shuffles are pure
    * per-batch task overhead (the StreamingOps sizing rule — `width`
    * lets the text drains widen with the corpus, see
    * [[textStreamWidth]]), and the batch_id-partitioned sinks need
    * DYNAMIC partition overwrite so a replayed micro-batch rewrites
    * exactly its own partition. The stream's cloned session inherits
    * both at start. */
  private[queries] def withStreamConfs[T](s: SparkSession,
      width: String = graft.GraftSession.StreamPartitions)(body: => T): T =
    // AQE's initial width must be pinned alongside shuffle.partitions:
    // foreachBatch bodies are BATCH plans (AQE on — only the streaming
    // source plan disables it), so the session's wide scale-out default
    // (GraftSession sets initialPartitionNum=512, the round-16 sf10-skew
    // OOM fix) would override this drop-sizing and put 512-way shuffles
    // + AQE stats overhead in every micro-batch — measured 3.4x on
    // q123's drain. Drop-sized batches want drop-sized widths. The key
    // is GraftSession's constant so the three sites can't drift.
    graft.GraftSession.withConfs(s,
      "spark.sql.shuffle.partitions" -> width,
      graft.GraftSession.InitialPartitionsKey -> width,
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(body)

  private[graft] def rmQuietly(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)): Unit)

  /** Stage the n-drop source files of a streaming drain, CACHED per
    * (family, source content fingerprint): the drop contents are a
    * pure function of the source table, but every drain invocation —
    * 12 bench iterations each for the drain families — was re-deriving
    * them through n Spark write jobs before the stream even started,
    * the dominant share of the q107/q134 fixed cost (round-13 verdict
    * #7). The first invocation per corpus writes the slices into
    * [[JvmScratch.cached]]; every later one driver-side-copies n small
    * files. The per-invocation mtimes stay EXPLICIT and strictly
    * increasing — FileStreamSource orders by (mtime, path), and the
    * order-dependent drains (q107/q134) need it deterministic.
    * [[drainDrops]] is the one production caller: family = the drain's
    * tag, n = [[DropCount]]; DropCacheSpec stages 1 and 2 drops.
    *
    * The cache key is (family, dir tag, corpus fp, SLICE-PLAN fp):
    * the last component hashes the canonicalized analyzed plans of
    * all n slices, so any change to a family's drop slicing —
    * predicate, bounds, columns, drop count — mints a new key instead
    * of silently serving the old slicing's cached drops (round-15
    * advice). Plan canonicalization normalizes expression ids, so the
    * hash is stable across sessions; a spurious mismatch merely costs
    * one rebuild. */
  private[queries] def stageDropsCached(s: SparkSession, dir: String,
      family: String, srcFile: String, srcDir: String, n: Int)
      (slice: Int => DataFrame): Unit = {
    val fp = graft.sources.DurableIndex.fingerprint(s, dir, srcFile)
    val sliceFp = {
      val planText = (0 until n)
        .map(i => slice(i).queryExecution.analyzed.canonicalized.toString)
        .mkString("\n")
      java.security.MessageDigest.getInstance("SHA-1")
        .digest(planText.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
    }
    val root = JvmScratch.cached(family, dir, s"$fp$sliceFp") { tmp =>
      (0 until n).foreach { i =>
        val t2 = tmp.resolve(s"_slice$i")
        slice(i).coalesce(1).write.mode("overwrite").parquet(t2.toString)
        val part = JvmScratch.list(t2)
          .find(_.getFileName.toString.endsWith(".parquet")).get
        java.nio.file.Files.move(part, tmp.resolve(s"drop_$i.parquet"))
        rmQuietly(t2.toString)
      }
    }
    (0 until n).foreach { i =>
      val dst = java.nio.file.Paths.get(srcDir, s"drop_$i.parquet")
      java.nio.file.Files.copy(root.resolve(s"drop_$i.parquet"), dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
    }
  }

  /** Stage a deterministically-BUILT input corpus (the text files the
    * split-route ingest queries read), cached per (family, dir tag,
    * source content fingerprint, content fp) — the round-13
    * [[stageDropsCached]] discipline applied to the q53/q162-q165
    * staging writes: the staged files are a pure function of the source
    * table, but every invocation re-derived them through Spark write
    * jobs before the reader under test even started. `contentFp` must
    * hash everything the staged bytes depend on (the staging plan, any
    * injected corrupt payloads) so a slicing change mints a new key.
    * Returns the cache entry itself: readers only read it, and it lives
    * until this JVM exits or the source is regenerated. */
  private[queries] def stageInputCached(s: SparkSession, dir: String,
      family: String, srcFile: String, contentFp: String)
      (buildInto: java.nio.file.Path => Unit): String = {
    val fp = graft.sources.DurableIndex.fingerprint(s, dir, srcFile)
    JvmScratch.cached(family, dir, s"$fp$contentFp")(buildInto).toString
  }

  /** Pre-create the EMPTY stream-grown band index: band schema,
    * batch_id partitioning (replay idempotency), 16-bucket band_key
    * layout — pure DDL, replacing the limit(0) bucketed write that
    * cost a job + commit per q107/q134 invocation. */
  private[queries] def createBandIndexSink(s: SparkSession, table: String): Unit =
    s.sql(s"""CREATE TABLE $table
             |(doc_id BIGINT, band_idx INT, band_key STRING, batch_id BIGINT)
             |USING parquet PARTITIONED BY (batch_id)
             |CLUSTERED BY (band_key) SORTED BY (band_key) INTO 16 BUCKETS
             |""".stripMargin): Unit

  /** Pre-create an EMPTY batch_id-partitioned parquet sink so every
    * micro-batch — and any at-least-once REPLAY of it — lands as a
    * dynamic overwrite of exactly its own partition ([[writeBatch]]).
    * foreachBatch's delivery contract is at-least-once: a plain append
    * would double-write a batch replayed after a pre-commit crash;
    * keying the write by the (replay-stable) batchId makes it
    * idempotent. */
  private[queries] def createBatchSink(s: SparkSession, table: String,
      dataCols: Seq[(String, String)]): Unit = {
    // pure DDL — the old empty-DataFrame saveAsTable paid a write job
    // plus commit protocol per drain invocation for zero rows
    val cols = (dataCols :+ ("batch_id" -> "bigint"))
      .map { case (n, t) => s"$n $t" }.mkString(", ")
    s.sql(s"CREATE TABLE $table ($cols) USING parquet PARTITIONED BY (batch_id)")
      : Unit
  }

  /** One micro-batch's write into a batch_id-partitioned sink: a
    * dynamic overwrite of exactly partition `batchId`, so a replay
    * rewrites what its first delivery wrote. */
  private[queries] def writeBatch(df: DataFrame, batchId: Long,
      table: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").insertInto(table)

  /** The staged-drop drain every file-drop query runs (q105 q107 q113
    * q114 q116 q121 q123 q126 q129 q133 q134 q139 q141 q144 q151
    * q160), declared whole: its source (`srcFile`, and `slice` i of it
    * for drop i), its scratch `tables` and batch `sinks` (name, data
    * columns), its `width` and `schema` source, its pre-stream
    * `artifacts`, its `perBatch` body and its `fold`.
    *
    * Unless resuming, it stages [[DropCount]] drops through
    * [[stageDropsCached]] (family = `tag`), resets every scratch table
    * (sinks included), creates the sinks ([[createBatchSink]]) and then
    * builds `artifacts`. A checkpointed AvailableNow query with
    * maxFilesPerTrigger=1 consumes one drop per micro-batch, in (mtime,
    * path) order, under [[withStreamConfs]] at `width`; `perBatch`
    * writes its own batch_id partition of every sink ([[writeBatch]]).
    * Then every scratch table is refreshed on this session (the writes
    * ran on the stream's clone) and `fold` builds the result. With the
    * default `replay` the (source, checkpoint) dirs are fresh and
    * deleted in the finally, so bench iterations accumulate nothing.
    * `schema` defaults to the staged drops' own (one inference read). */
  private[queries] def drainDrops(s: SparkSession, dir: String, tag: String,
      srcFile: String, replay: Replay,
      sinks: Seq[(String, Seq[(String, String)])],
      tables: Seq[String] = Nil,
      width: => String = graft.GraftSession.StreamPartitions,
      schema: => Option[org.apache.spark.sql.types.StructType] = None,
      artifacts: => Unit = ())
      (slice: Int => DataFrame)
      (perBatch: (DataFrame, Long) => Unit)
      (fold: => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val (srcDir, ckpt) = replay.pinned.getOrElse(
      (JvmScratch.dir(s"${tag}_src"), JvmScratch.dir(s"${tag}_ckpt")))
    val scratch = tables ++ sinks.map(_._1)
    try {
      replay match {
        case _: Replay.Resume => ()
        case _ =>
          stageDropsCached(s, dir, tag, srcFile, srcDir, DropCount)(slice)
          scratch.foreach(JvmScratch.resetTable(s, _))
          sinks.foreach { case (t, cols) => createBatchSink(s, t, cols) }
          artifacts
      }
      val srcSchema = schema.getOrElse(s.read.parquet(srcDir).schema)
      withStreamConfs(s, width) {
        s.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
          .writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            perBatch(batch, batchId)
            replay.chaos(batchId)
          }
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      scratch.foreach(s.catalog.refreshTable)
      fold
    } finally if (replay.pinned.isEmpty) rmQuietly(srcDir, ckpt)
  }

  /** Drops per staged-drop drain: one micro-batch each. */
  private[queries] final val DropCount = 3

  /** q151's body: the q143 retraction LIVE — a takedown FEED (DMCA
    * notices, licensing pulls) drained as 3 ordered drops of delete
    * ids. Each micro-batch lands only its delete-id shard into the
    * DELETE LOG (the audit trail a real pipeline must keep anyway),
    * batch_id-overwritten for replay idempotency — though retraction
    * is the one maintenance direction that is idempotent BY NATURE:
    * anti-joins absorb duplicate delete ids, so even a double-applied
    * shard could not corrupt the result (the partition overwrite is
    * defense-in-depth, not the load-bearing wall it is for the
    * add-merge sinks). Post-drain, ONE [[retractMaintain]] over the
    * union of shards — sound because deletions COMMUTE and FOLD:
    * retract(retract(S, D1), D2) == retract(S, D1 ∪ D2), both equal
    * the rebuild over corpus-minus-all (RetractionSpec proves the
    * sequential form). == batch q143, verbatim oracle. `replay` as in
    * [[drainDrops]]. */
  private[graft] def streamRetraction(s: SparkSession, dir: String,
      replay: Replay = Replay.Off): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the standing artifacts exist before a takedown stream starts
    bandIndexTable(s, dir)
    pairIndexTable(s, dir)
    ccIndexTable(s, dir)
    val dels = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
    val logTable = JvmScratch.tableName("stream_delete_log")
    drainDrops(s, dir, "q151", "documents.parquet", replay,
        sinks = Seq(logTable -> Seq("doc_id" -> "bigint"))) {
      i => dels.filter(pmod(col("doc_id"), lit(3)) === i)
    } { (batch, batchId) =>
      writeBatch(batch.select("doc_id"), batchId, logTable)
    } {
      graft.sources.DurableIndex.compactSink(s, logTable): Unit
      val (_, _, labels1) = retractMaintain(bandIndexTable(s, dir),
        pairIndexTable(s, dir), ccIndexTable(s, dir),
        s.table(logTable).select("doc_id"))
      labelCorpus(
        docs.filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 7),
        labels1)
    }
  }

  /** q105's body: the incremental contract LIVE. The arriving batch
    * lands as 3 parquet file drops consumed by [[drainDrops]] (one
    * micro-batch per drop); each micro-batch runs the identical
    * delta-vs-index probe and dynamic-overwrites its own batch_id
    * partition of the sink (idempotent under replay). */
  private[graft] def streamIncrementalDedup(s: SparkSession, dir: String,
      replay: Replay = Replay.Off): DataFrame = {
    // force-build the index on THIS session before the stream starts
    // (micro-batches run on a cloned session sharing the catalog)
    bandIndexTable(s, dir)
    // the arriving batch staged as 3 file drops (split by doc_id)
    val delta = Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
    val table = JvmScratch.tableName("stream_inc_dedup")
    drainDrops(s, dir, "q105", "documents.parquet", replay,
        sinks = Seq(table -> Seq(
          "delta_id" -> "bigint", "corpus_id" -> "bigint", "jaccard" -> "double")),
        width = textStreamWidth(s, dir)) {
      i => delta.filter(pmod(col("doc_id"), lit(3)) === i)
    } { (batch, batchId) =>
      // batch.sparkSession is the stream's clone — shares the
      // catalog, so the index resolves without a rebuild
      writeBatch(incrementalMatches(batch.sparkSession, dir, batch),
        batchId, table)
    } {
      s.table(table).select("delta_id", "corpus_id", "jaccard")
    }
  }

  /** q113's body: the semantic incremental contract LIVE — q105's
    * drain with the per-micro-batch work swapped for the semantic
    * probe: assign the batch through the persisted codebook,
    * broadcast-probe the persisted block index, keeper-reduce. The
    * keeper argmin is safe per-batch because the index is static
    * corpus-side and the drops partition the delta — each delta vector
    * is scored against the FULL standing corpus in exactly one batch. */
  private[graft] def streamSemanticDedup(s: SparkSession, dir: String,
      replay: Replay = Replay.Off): DataFrame = {
    // force-build codebook + block index on THIS session before the
    // stream starts (micro-batches run on a clone sharing the catalog)
    SimilarityQueries.semBlockIndexTable(s, dir)
    val delta = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
    val table = JvmScratch.tableName("stream_sem_dedup")
    drainDrops(s, dir, "q113", "embeddings.parquet", replay,
        sinks = Seq(table -> Seq(
          "vec_id" -> "bigint", "keeper_id" -> "bigint", "cosine" -> "double"))) {
      i => delta.filter(pmod(col("vec_id"), lit(3)) === i)
    } { (batch, batchId) =>
      val hits = SimilarityQueries.semIndexProbeOf(batch.sparkSession, dir, batch)
        .localCheckpoint()
      writeBatch(SimilarityQueries.keepLowest(hits), batchId, table)
    } {
      s.table(table).select("vec_id", "keeper_id", "cosine")
    }
  }

  /** q134's body: streaming COMPONENT maintenance — q107's drain shape
    * (ordered drops, stream-grown band index, index-minus-own-partition
    * replay rule) emitting EDGE SHARDS instead of match rows, folded
    * post-drain into the q131 star-edge merge. Edge completeness per
    * batch: within-batch pairs from the all-pairs pipeline on the
    * batch's own shingles; cross pairs from ONE probe against the
    * UNION of the standing corpus band index and the grown delta index
    * so far (earlier drops' bands) — so a delta-delta pair across
    * drops is mined exactly once, by the later drop's batch. Shards
    * are a pure function of (batch, committed prior state), so the
    * batch_id dynamic overwrite makes replays idempotent. `replay` as
    * in [[drainDrops]]. */
  private[graft] def streamComponents(s: SparkSession, dir: String,
      replay: Replay = Replay.Off,
      compact: Boolean = true,
      forceLarge: Option[Boolean] = None): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the standing artifacts exist before a maintenance stream starts
    bandIndexTable(s, dir)
    ccIndexTable(s, dir)
    val delta = docs.filter(col("doc_id") % 10 === 7)
    val idxTable = JvmScratch.tableName("stream_cc_bands")
    val outTable = JvmScratch.tableName("stream_cc_edges")
    drainDrops(s, dir, "q134", "documents.parquet", replay,
        sinks = Seq(outTable -> Seq("doc_a" -> "bigint", "doc_b" -> "bigint")),
        tables = Seq(idxTable), width = textStreamWidth(s, dir),
        schema = Some(docs.schema), artifacts = createBandIndexSink(s, idxTable)) {
      i => delta.filter(pmod(col("doc_id"), lit(3)) === i)
    } { (batch, batchId) =>
      val ss = batch.sparkSession
      ss.catalog.refreshTable(idxTable)
      val batchSh = shingle(batch).localCheckpoint()
      // the batch's bands feed THREE consumers (cross probe,
      // within-batch self-join, index append): staged once.
      // LAZY (the q158 rule): the first consuming job
      // materializes the blocks — consumers inside one job share
      // the RDD (one stage), so laziness saves the dedicated
      // staging job per micro-batch without recompute
      val batchBands = sigBands(batchSh).localCheckpoint(eager = false)
      val soFar = ss.table(idxTable)
        .filter(col("batch_id") =!= batchId)
        .select("doc_id", "band_idx", "band_key")
      // standing index and stream-grown index probed as SEPARATE
      // bucketed relations: their union has no partitioning, so
      // EnsureRequirements re-Exchanged the corpus-sized standing
      // bands every micro-batch — free on local[32] (no network),
      // a corpus-sized network shuffle per batch on a real
      // cluster (see matchesAgainstIndex.extraIndexes)
      val cross = matchesAgainstIndex(ss, dir, batchSh,
          bandIndexTable(ss, dir), forceLarge,
          deltaBandsOpt = Some(batchBands),
          extraIndexes = Seq(soFar))
        .select(least(col("delta_id"), col("corpus_id")).as("doc_a"),
          greatest(col("delta_id"), col("corpus_id")).as("doc_b"))
      val within = minhashPairsOf(batchSh, Some(batchBands))
        .select("doc_a", "doc_b")
      // edge-shard write and index append overlapped (guide
      // §2.6; see graft.Concurrently): independent sinks, both
      // batch_id dynamic overwrites, replay-safe in either
      // commit order. The append's repartition into the bucket
      // hash lands 16 files (one per bucket), not one per
      // (task x bucket) — the batch is drop-sized, the shuffle
      // trivial, and the commit fans out 4x fewer files
      Concurrently.both {
        writeBatch(within.unionByName(cross), batchId, outTable)
      } {
        writeBatch(batchBands.repartition(16, col("band_key")), batchId, idxTable)
      }
    } {
      if (compact) {
        // the checkpoint barrier has passed: fold both stream-grown
        // artifacts' per-batch fragments — the grown band index through
        // the bucket spec, the edge shards as a plain sink. The two
        // folds touch DIFFERENT tables and publish write-aside with a
        // pointer flip each, so they run concurrently (graft.Concurrently,
        // guide §2.6) like the per-batch writes do
        Concurrently.both { compactBandIndex(s, idxTable): Unit } {
          graft.sources.DurableIndex.compactSink(s, outTable): Unit
        }
      }
      val standing = ccIndexTable(s, dir)
      val starEdges = standing.filter(col("doc_id") =!= col("label"))
        .select(col("doc_id").as("doc_a"), col("label").as("doc_b"))
      val (labels, _) = connectedComponents(
        starEdges.unionByName(s.table(outTable).select("doc_a", "doc_b")))
      labelCorpus(docs, labels)
    }
  }

  /** q107's body: streaming INDEX MAINTENANCE — an initially empty
    * bucketed band index grown by the stream itself, each micro-batch
    * matched against the index so far and then appended to it.
    *
    * Idempotency under foreachBatch's at-least-once replay: both the
    * match sink and the index are batch_id-partitioned and
    * dynamic-overwritten, and the probe reads the index MINUS the
    * current batch's own partition — a replayed batch has already
    * appended its bands once, and probing them back would self-match
    * the batch. Post-drain, [[compactBandIndex]] folds the per-batch
    * partition fragments into one compacted generation (disable via
    * `compact = false` to inspect the fragmented state). `replay` as in
    * [[drainDrops]]. */
  private[graft] def streamIndexBootstrap(s: SparkSession, dir: String,
      replay: Replay = Replay.Off,
      compact: Boolean = true): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idxTable = JvmScratch.tableName("stream_band_index")
    val outTable = JvmScratch.tableName("stream_bootstrap_out")
    drainDrops(s, dir, "q107", "documents.parquet", replay,
        sinks = Seq(outTable -> Seq(
          "doc_id" -> "bigint", "dup_of" -> "bigint", "jaccard" -> "double")),
        tables = Seq(idxTable), width = textStreamWidth(s, dir),
        schema = Some(docs.schema),
        // initially EMPTY index: band schema + batch_id partitioning
        // (replay idempotency) + the 16-bucket band_key layout
        artifacts = createBandIndexSink(s, idxTable)) {
      // the whole corpus as 3 drops with EXPLICIT strictly-increasing
      // mtimes: FileStreamSource orders by (mtime, path), and q107's
      // semantics — unlike q105's — depend on the processing order
      i => docs.filter(pmod(col("doc_id"), lit(3)) === i)
    } { (batch, batchId) =>
      val ss = batch.sparkSession
      ss.catalog.refreshTable(idxTable)
      val batchSh = shingle(batch).localCheckpoint()
      // the batch's bands feed BOTH the probe and the index
      // append: staged once per batch, not re-signed per
      // consumer. LAZY (the q158 rule): the probe's broadcast
      // materializes the blocks, the append reuses them — no
      // dedicated staging job per micro-batch
      val batchBands = sigBands(batchSh).localCheckpoint(eager = false)
      // the match and the index append run CONCURRENTLY
      // (graft.Concurrently, guide §2.6): the probe reads the index
      // so far MINUS this batch's own partition (empty on first
      // delivery; populated — and self-matching if probed — on a
      // replay; pruned at planning either way, so the racing
      // append is invisible to it), and both sinks are batch_id
      // dynamic overwrites, replay-safe in either commit order.
      // The append's repartition into the bucket hash lands 16
      // files (one per bucket), not one per (task x bucket)
      val soFar = ss.table(idxTable).filter(col("batch_id") =!= batchId)
      Concurrently.both {
        writeBatch(matchesAgainstIndex(ss, dir, batchSh, soFar,
            deltaBandsOpt = Some(batchBands))
          .select(col("delta_id").as("doc_id"),
            col("corpus_id").as("dup_of"), col("jaccard")), batchId, outTable)
      } {
        writeBatch(batchBands.repartition(16, col("band_key")), batchId, idxTable)
      }
    } {
      // maintenance half: fold the per-batch file fragments back into
      // one generation per bucket (safe here — the drain is quiesced)
      if (compact) compactBandIndex(s, idxTable): Unit
      s.table(outTable).select("doc_id", "dup_of", "jaccard")
    }
  }

  /** q114's body: streaming SEMANTIC index maintenance — q107's drain
    * shape with the per-micro-batch work swapped for the block-index
    * pipeline. The codebook is trained ONCE before the stream starts
    * (full-corpus Lloyd, q90's arithmetic) and staged as a tiny table
    * the cloned micro-batch sessions re-read; the initially empty
    * block index is batch_id-partitioned + 16-bucket block_key
    * bucketed. Per batch: assign via the staged codebook, match
    * against the index MINUS this batch's partition (replay safety),
    * append via insertInto (bucketizes per the catalog spec).
    * `replay` as in [[drainDrops]]. */
  private[graft] def streamSemIndexBootstrap(s: SparkSession, dir: String,
      replay: Replay = Replay.Off,
      compact: Boolean = true): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val idxTable = JvmScratch.tableName("stream_block_index")
    val outTable = JvmScratch.tableName("stream_sem_boot_out")
    val cbTable = JvmScratch.tableName("stream_sem_codebook")
    drainDrops(s, dir, "q114", "embeddings.parquet", replay,
        sinks = Seq(outTable -> Seq(
          "vec_id" -> "bigint", "dup_of" -> "bigint", "cosine" -> "double")),
        tables = Seq(idxTable, cbTable), artifacts = {
      // offline-train/online-serve: the codebook is learned once PER
      // CORPUS (durable, fingerprint-keyed — round-10 verdict #6:
      // repeated bootstraps re-read the sidecar instead of re-running
      // the two-scan Lloyd train) and staged for the micro-batches
      SimilarityQueries.semCodebookAllTable(s, dir).coalesce(1)
        .write.format("parquet").saveAsTable(cbTable)
      // initially EMPTY block index: batch_id partitioning (replay
      // idempotency) + the 16-bucket block_key layout
      SimilarityQueries.blocksOfRaw(emb.limit(0), s.table(cbTable))
        .withColumn("batch_id", lit(-1L))
        .write.format("parquet").partitionBy("batch_id")
        .bucketBy(16, "block_key").sortBy("block_key")
        .saveAsTable(idxTable)
    }) {
      // the corpus as 3 drops with EXPLICIT strictly-increasing
      // mtimes (the FileStreamSource processing order, q107's shape)
      i => emb.filter(pmod(col("vec_id"), lit(3)) === i)
    } { (batch, batchId) =>
      val ss = batch.sparkSession
      ss.catalog.refreshTable(idxTable)
      val staged = SimilarityQueries
        .blocksOfRaw(batch, ss.table(cbTable)).localCheckpoint()
      // match FIRST, against the index so far minus this batch's
      // own partition (populated only on a replay)...
      val soFar = ss.table(idxTable).filter(col("batch_id") =!= batchId)
      val d = staged.select(col("vec_id").as("d_id"),
        col("v").as("dv"), col("block_key"))
      // the q112/q115 size gate, live per micro-batch: drops are
      // delta-sized so broadcast is the steady state, but an
      // oversized arrival falls back to the bucket merge-join.
      // The gate reads the staged blocks' byte size from
      // driver-side storage metadata — zero jobs per micro-batch
      // (round-12 verdict #6); the count runs only if the stage
      // somehow left no block metadata
      val large = stagedBytes(staged)
        .map(_ > DeltaBroadcastMaxBytes)
        .getOrElse(staged.count() >
          SimilarityQueries.SemDeltaBroadcastMaxVecs)
      // probe-sink write and index append overlapped (guide
      // §2.6; see graft.Concurrently): independent sinks, both
      // batch_id dynamic overwrites, replay-safe in either
      // commit order (the probe prunes its own partition at
      // planning, so the racing append is invisible to it)
      Concurrently.both {
        writeBatch((if (large) soFar.hint("merge").join(d, Seq("block_key"))
            else soFar.join(broadcast(d), Seq("block_key")))
          .select(col("d_id").as("vec_id"), col("vec_id").as("dup_of"),
            graft.functions.CrossEngine.cosine(col("dv"), col("v")).as("cosine"))
          .filter(col("cosine") >= SimilarityQueries.NearDupThreshold),
          batchId, outTable)
      } {
        writeBatch(staged, batchId, idxTable)
      }
    } {
      if (compact) graft.sources.DurableIndex.compactBucketed(s, idxTable,
        Seq("vec_id", "v", "block_key"), "block_key"): Unit
      s.table(outTable).select("vec_id", "dup_of", "cosine")
    }
  }

  /** q116's body: streaming decontamination — q105's drain shape with
    * the per-micro-batch work swapped for the q86 probe. The benchmark
    * span-hash set is staged ONCE before the stream starts (the small,
    * rarely-changing side — at 100 TB it is a few thousand eval docs,
    * always broadcast range); the corpus arrives as 3 drops. Per
    * batch: span-hash the arriving docs through the same expressions
    * as batch q86, broadcast-join the staged benchmark table, count
    * distinct shared hashes per (doc, bench doc) pair. Batch-local
    * aggregation is globally exact: the drops partition docs, so a
    * doc's span hashes never split across batches. `replay` as in
    * [[drainDrops]]. */
  private[graft] def streamDecontaminate(s: SparkSession, dir: String,
      replay: Replay = Replay.Off): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchTable = JvmScratch.tableName("stream_bench_hashes")
    val outTable = JvmScratch.tableName("stream_decon_out")
    drainDrops(s, dir, "q116", "documents.parquet", replay,
        sinks = Seq(outTable -> Seq(
          "doc_id" -> "bigint", "bench_id" -> "bigint", "n_shared" -> "bigint")),
        tables = Seq(benchTable), width = textStreamWidth(s, dir),
        // the standing artifact: benchmark span hashes, staged once
        artifacts = spanHashes13Of(docs.filter(col("doc_id") % 5 === 0))
          .withColumnRenamed("doc_id", "bench_id")
          .withColumnRenamed("h", "bh")
          .coalesce(1).write.format("parquet").saveAsTable(benchTable)) {
      // the whole corpus as 3 drops (batch independence makes the
      // processing order irrelevant here — the probe side is static)
      i => docs.filter(pmod(col("doc_id"), lit(3)) === i).select("doc_id", "text")
    } { (batch, batchId) =>
      writeBatch(spanHashes13Of(batch)
        .join(broadcast(batch.sparkSession.table(benchTable)),
          col("h") === col("bh") && col("doc_id") =!= col("bench_id"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared")), batchId, outTable)
    } {
      s.table(outTable).select("doc_id", "bench_id", "n_shared")
    }
  }

  /** Compact a stream-grown band index once micro-batch appends have
    * fragmented any bucket past `maxFilesPerBucket` files — the band
    * column spec over [[graft.sources.DurableIndex.compactBucketed]]
    * (see there for the quiesced-checkpoint contract). */
  private[graft] def compactBandIndex(s: SparkSession, qualified: String,
      maxFilesPerBucket: Int = 2): Boolean =
    graft.sources.DurableIndex.compactBucketed(s, qualified,
      Seq("doc_id", "band_idx", "band_key"), "band_key", maxFilesPerBucket)

  /** Above this many distinct delta documents the incremental probe
    * stops broadcasting the delta's bands and shuffles them once into
    * the index's own 16-bucket band_key layout instead (the bucket
    * join). 64k docs x 6 bands x ~60 B is ~25 MB of broadcast — past
    * the point where per-executor copies stop being free. At true
    * 100-TB scale a day's-crawl delta is far beyond this and takes the
    * bucket-join path; the per-micro-batch streaming deltas sit far
    * below it and keep the broadcast plan. */
  private[queries] final val DeltaBroadcastMaxDocs = 65536L

  /** The byte form of the same gate, used when the delta is already
    * STAGED (localCheckpoint'd): ~32 MB of staged delta stops
    * broadcasting — the same order as the [[DeltaBroadcastMaxDocs]]
    * doc arithmetic (64k docs x 6 bands x ~60 B ≈ 25 MB), stated in
    * the unit that actually matters for a broadcast. The staged
    * embedding deltas (the q114 drain, the semantic serving tail)
    * share it. */
  private[queries] final val DeltaBroadcastMaxBytes = 32L << 20

  /** Below this many DOUBLED-edge-equivalent staged bytes, the
    * connected-components labeling runs as a driver union-find instead
    * of the distributed fixpoint — 64 MB is ~2M pairs, far beyond any
    * per-batch near-dup graph and trivially driver-sized, while a
    * corpus-scale graph blows past it and keeps the join fixpoint.
    * (The staging is the UNDOUBLED pair list since round 22, so the
    * gate compares staged bytes against HALF this constant — same
    * admission set, half the staged/collected volume.) */
  private[queries] final val CcDriverMaxBytes = 64L << 20

  /** Driver-side DESERIALIZED-EQUIVALENT storage size of an
    * already-staged (localCheckpoint'd) relation, read from
    * block-manager metadata — ZERO jobs. None when the relation is not
    * a staged LogicalRDD (synthetic spec inputs), or its blocks are
    * not registered.
    *
    * Storage-level normalization (the round-17 q142@skew root cause):
    * big-corpus stagings store DISK_ONLY serialized blocks
    * (DedupCore.stageSer), which are 3-5x smaller than the
    * deserialized rows — but the gate's criterion is the DESERIALIZED
    * footprint the relation would occupy as a per-executor broadcast
    * hash relation. Comparing raw serialized bytes against the 32 MB
    * broadcast cap silently re-opened the broadcast route for
    * skew-scale deltas (q142@skew kryo/OOM at the 8 GiB contract heap,
    * while forced-large q145 passed the same corpus); serialized block
    * sizes scale by 5x — the CONSERVATIVE end of the measured 3-5x
    * range (round-18 ADVICE: a 5x-compressed skew delta normalized at
    * 4x and sitting near the cap could still under-estimate and
    * re-open the exact route this gate closes). */
  private[queries] def stagedBytes(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.flatMap { rdd =>
      val factor = if (rdd.getStorageLevel.deserialized) 1L else 5L
      df.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
        .filter(i => i.memSize + i.diskSize > 0)
        .map(i => (i.memSize + i.diskSize) * factor)
    }

  /** The shared large-delta gate (round-12 verdict #6): every
    * maintenance tick used to pay a full delta scan + driver hop
    * (`distinct().count()`) just to decide broadcast-vs-bucket-join.
    * The delta is staged by every production caller, so the decision
    * now reads the staged blocks' byte size from driver-side storage
    * METADATA — one fewer job per tick, and bytes are the broadcast
    * criterion anyway. Un-staged (spec) inputs fall back to the count
    * gate. */
  private[queries] def deltaIsLarge(delta: DataFrame): Boolean =
    stagedBytes(delta) match {
      case Some(bytes) => bytes > DeltaBroadcastMaxBytes
      case None =>
        delta.select("doc_id").distinct().count() > DeltaBroadcastMaxDocs
    }

  /** The q93/q105/q108 shared pipeline: match `deltaDocs` (an arriving
    * batch, any size) against the persisted corpus band index.
    *
    * The delta is shingled + minhashed fresh (delta-sized); the
    * candidate join is delta-bands against the bucketed index TABLE, so
    * per-batch cost scales with the delta and the matched buckets,
    * never with corpus^2 or a corpus re-minhash (PlanAuditSpec asserts
    * zero corpus-side Exchange on q93's plan). Exact-Jaccard
    * verification touches only candidate pairs, and the candidates'
    * shingles come OUT OF THE POSTINGS ARTIFACT (the standing shingle
    * set, verbatim — the q142/q150 zero-text rule applied to the
    * MinHash probes): the probe reads two durable artifacts and the
    * delta, never corpus text. */
  private[queries] def incrementalMatches(s: SparkSession, dir: String,
      deltaDocs: DataFrame, forceLarge: Option[Boolean] = None): DataFrame =
    matchesAgainstIndex(s, dir, shingle(deltaDocs).localCheckpoint(),
      bandIndexTable(s, dir), forceLarge, candShFromPostings = true)

  /** The index-probe half of [[incrementalMatches]], parameterized over
    * the index relation so q107 can probe (and then grow) its own
    * stream-maintained copy: `deltaSh` is the arriving batch's staged
    * shingle set, `corpusBands` whatever standing band index the caller
    * maintains.
    *
    * SIZE-GATED (round-9 verdict #1): while the delta is genuinely
    * delta-sized ([[deltaIsLarge]] reads the staged blocks' byte size
    * from driver-side storage metadata — zero jobs), its bands and
    * the candidate set broadcast. A LARGE
    * delta instead pays ONE shuffle into the index's own
    * HashPartitioning(band_key, 16) layout and merge-joins the bucketed
    * scan with ZERO index-side Exchange (the q41 bucket property —
    * EnsureRequirements shuffles only the non-bucketed side), and the
    * downstream verify joins drop their broadcast hints too, letting
    * AQE pick by runtime size. `forceLarge` pins the path for q108 and
    * the plan audit. */
  private[graft] def matchesAgainstIndex(s: SparkSession, dir: String,
      deltaSh: DataFrame, corpusBands: DataFrame,
      forceLarge: Option[Boolean] = None,
      deltaBandsOpt: Option[DataFrame] = None,
      candShFromPostings: Boolean = false,
      extraIndexes: Seq[DataFrame] = Nil): DataFrame = {
    val large = forceLarge.getOrElse(deltaIsLarge(deltaSh))
    // deltaBandsOpt: a caller that also writes/self-joins the delta's
    // bands (the q107/q134 drains) stages them ONCE per batch and
    // passes them in, instead of re-running the 12-min-agg signature
    // pipeline per consumer
    val deltaBands = deltaBandsOpt.getOrElse(sigBands(deltaSh))
      .select(col("doc_id").as("dd"), col("band_key"))
    // extraIndexes (round-18 verdict #6): a drain probing BOTH a
    // standing index and its own stream-grown one used to pass their
    // UNION — whose unknown partitioning made EnsureRequirements
    // re-Exchange + re-sort the corpus-sized standing bands EVERY
    // micro-batch. Probing each bucketed relation separately keeps
    // every index side Exchange-free (the q41 bucket property) and
    // unions only the CANDIDATES; the verify pass below still runs
    // once over the deduplicated pair set.
    val parts = corpusBands +: extraIndexes
    val cand = parts.map { p =>
      (if (large) p.hint("merge").join(deltaBands, Seq("band_key"))
       else p.join(broadcast(deltaBands), Seq("band_key")))
        .select(col("dd"), col("doc_id").as("cd"))
    }.reduce(_ unionByName _)
      .distinct()
    val candIds = cand.select(col("cd").as("doc_id")).distinct()
    // candShFromPostings: when the probed index is the durable STANDING
    // band index, its documents' shingles are exactly the postings
    // artifact's (doc_id, sg) rows — the verify pass then reads a
    // 2-column columnar artifact scan instead of semi-join-pruned TEXT
    // plus a re-tokenize (the q142/q150 zero-text rule). Stream-grown
    // indexes (q107/q134) keep the text path: their candidates include
    // docs outside the artifact's standing slice.
    def prunedIds(df: DataFrame): DataFrame = df.join(
      if (large) candIds else broadcast(candIds), Seq("doc_id"), "left_semi")
    val candSh =
      (if (candShFromPostings)
        prunedIds(ngramPostingsTable(s, dir).select("doc_id", "sg"))
      else
        // the semi-join prunes TEXT before the tokenize, not after
        shingle(prunedIds(Tables.documents(s, dir))))
      .localCheckpoint()
    val cnt = deltaSh.unionByName(candSh)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val x = deltaSh.select(col("doc_id").as("xd"), col("sg"))
    val y = candSh.select(col("doc_id").as("yd"), col("sg").as("ysg"))
    val common = (if (large) cand else broadcast(cand))
      .join(x, col("xd") === col("dd"))
      .join(y, col("yd") === col("cd") && col("ysg") === col("sg"))
      .groupBy("dd", "cd").agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") / (col("xn") + col("yn") - col("c"))
    common
      .join(cnt.select(col("doc_id").as("xd2"), col("n").as("xn")), col("xd2") === col("dd"))
      .join(cnt.select(col("doc_id").as("yd2"), col("n").as("yn")), col("yd2") === col("cd"))
      .filter(jac >= JaccardThreshold.toDouble)
      .select(col("dd").as("delta_id"), col("cd").as("corpus_id"), jac.as("jaccard"))
  }
}
