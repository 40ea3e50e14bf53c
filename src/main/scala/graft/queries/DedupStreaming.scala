package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

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
  private[queries] def textStreamWidth(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, "documents.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    math.max(4L, math.min(32L, bytes / (4L << 20))).toString
  }

  /** Stream-drain session confs, saved/restored around a drain:
    * micro-batches are drop-sized, so full-width shuffles are pure
    * per-batch task overhead (the StreamingOps sizing rule — `width`
    * lets the text drains widen with the corpus, see
    * [[textStreamWidth]]), and the batch_id-partitioned sinks need
    * DYNAMIC partition overwrite so a replayed micro-batch rewrites
    * exactly its own partition. The stream's cloned session inherits
    * both at start. */
  private[queries] def withStreamConfs[T](s: SparkSession,
      width: String = graft.GraftSession.StreamPartitions)(body: => T): T = {
    // AQE's initial width must be pinned alongside shuffle.partitions:
    // foreachBatch bodies are BATCH plans (AQE on — only the streaming
    // source plan disables it), so the session's wide scale-out default
    // (GraftSession sets initialPartitionNum=512, the round-16 sf10-skew
    // OOM fix) would override this drop-sizing and put 512-way shuffles
    // + AQE stats overhead in every micro-batch — measured 3.4x on
    // q123's drain. Drop-sized batches want drop-sized widths. The key
    // is GraftSession's constant so the three sites can't drift.
    val initKey = graft.GraftSession.InitialPartitionsKey
    val oldParts = s.conf.get("spark.sql.shuffle.partitions")
    val oldInit = s.conf.getOption(initKey)
    val oldMode = s.conf.get("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.shuffle.partitions", width)
    s.conf.set(initKey, width)
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try body
    finally {
      s.conf.set("spark.sql.shuffle.partitions", oldParts)
      oldInit match {
        case Some(v) => s.conf.set(initKey, v)
        case None => s.conf.unset(initKey)
      }
      s.conf.set("spark.sql.sources.partitionOverwriteMode", oldMode)
    }
  }


  /** Scratch dir for stream sources and checkpoints: prefers the
    * RAM-backed /dev/shm when present — the drains' wall cost is
    * checkpoint-commit fsync, which tmpfs makes free. Production
    * checkpoints live on durable shared storage by contract; this
    * helper only places LOCAL bench/test scratch. The replay specs
    * pass their own disk-backed scratch dirs, so the chaos-kill
    * contract still exercises real on-disk checkpoints. */
  private[graft] def streamScratch(tag: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, tag).toString
    else java.nio.file.Files.createTempDirectory(tag).toString
  }

  private[graft] def rmQuietly(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)): Unit)

  /** Stage the n-drop source files of a streaming drain, CACHED per
    * (family, source content fingerprint): the drop contents are a
    * pure function of the source table, but every drain invocation —
    * 12 bench iterations each for the drain families — was re-deriving
    * them through n Spark write jobs before the stream even started,
    * the dominant share of the q107/q134 fixed cost (round-13 verdict
    * #7). The first invocation per corpus writes the slices into a
    * local scratch cache (atomic-rename publish, same discipline as
    * DurableIndex); every later one driver-side-copies n small files.
    * The per-invocation mtimes stay EXPLICIT and strictly increasing —
    * FileStreamSource orders by (mtime, path), and the
    * order-dependent drains (q107/q134) need it deterministic.
    * Cache placement follows [[streamScratch]] (bench/test scratch
    * only — a production drain reads a real feed, not staged drops);
    * stale-fingerprint siblings are purged on build.
    *
    * The cache key is (family, dir tag, corpus fp, SLICE-PLAN fp):
    * the last component hashes the canonicalized analyzed plans of
    * all n slices, so any change to a family's drop slicing —
    * predicate, bounds, columns, drop count — mints a new key instead
    * of silently serving the old slicing's cached drops (round-15
    * advice). Plan canonicalization normalizes expression ids, so the
    * hash is stable across sessions; a spurious mismatch merely costs
    * one rebuild. Growth is bounded two ways: same-(family, tag)
    * siblings purge on build (corpus regenerated), and a global
    * age sweep drops ANY entry idle past [[DropCacheIdleMs]] —
    * read hits bump the entry's mtime, so only truly idle tags decay.
    * The post-sweep read race (a concurrent purge deleting the entry
    * mid-copy) is tolerated: the reader rebuilds once and re-copies. */
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
    cachedStage(s, family, dir, s"$fp$sliceFp") { tmp =>
      (0 until n).foreach { i =>
        val t2 = java.nio.file.Files.createTempDirectory(s"graft_${family}_drop$i")
        try {
          slice(i).coalesce(1).write.mode("overwrite").parquet(t2.toString)
          val part = cacheListDir(t2)
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.copy(part, tmp.resolve(s"drop_$i.parquet"))
        } finally rmQuietly(t2.toString)
      }
    } { root =>
      (0 until n).foreach { i =>
        val dst = java.nio.file.Paths.get(srcDir, s"drop_$i.parquet")
        java.nio.file.Files.copy(root.resolve(s"drop_$i.parquet"), dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
      }
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
    * Returns a FRESH scratch dir (never the cache entry itself — the
    * global idle sweep may purge entries, so readers get a copy) holding
    * every staged file, names preserved. */
  private[queries] def stageInputCached(s: SparkSession, dir: String,
      family: String, srcFile: String, contentFp: String)
      (buildInto: java.nio.file.Path => Unit): String = {
    val fp = graft.sources.DurableIndex.fingerprint(s, dir, srcFile)
    val out = streamScratch(s"graft_${family}_in")
    cachedStage(s, family, dir, s"$fp$contentFp")(buildInto) { root =>
      cacheListDir(root).foreach { f =>
        java.nio.file.Files.copy(f,
          java.nio.file.Paths.get(out, f.getFileName.toString),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    out
  }

  private[queries] def cacheListDir(
      p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(p)
    try st.iterator().asScala.toList finally st.close()
  }

  /** Per-JVM fixture-cache base (round-21 verdict #2): staged fixtures
    * are memoized only WITHIN one JVM — the first invocation (the
    * bench's untimed warm-up pass, or a suite's first use) pays the
    * build, later same-JVM invocations reuse it — never ACROSS
    * processes, so no run's staging can pre-compute another run's
    * declared work (the cross-run `/dev/shm` cache was the
    * precomputation-across-runs pattern the round rules call gaming).
    * The dir is named by (pid, JVM start instant) and removed on JVM
    * exit; siblings left by dead JVMs (kill -9 skips shutdown hooks) are
    * swept on first use. The start instant keeps a new JVM that the OS
    * gave a dead JVM's pid from adopting that JVM's warm cache. */
  private[queries] lazy val dropCacheBase: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val shm = Paths.get("/dev/shm")
    val parent = if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val base = parent.resolve(dropCacheName(ProcessHandle.current()))
    sweepDeadDropCaches(parent, base)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => rmQuietly(base.toString), "graft-drop-cache-cleanup"))
    base
  }

  /** `graft_drop_cache_pid<pid>_t<start epoch ms>`; -1 when the OS does
    * not report a start instant. */
  private[queries] def dropCacheName(p: ProcessHandle): String = {
    val start = p.info().startInstant().map[Long](_.toEpochMilli).orElse(-1L)
    s"graft_drop_cache_pid${p.pid()}_t$start"
  }

  /** Remove every drop-cache dir under `parent` except `keep` whose
    * owner is not a live process with the SAME pid and start instant —
    * dirs of dead JVMs, of an earlier JVM that held a now-reused pid,
    * and the legacy unscoped names alike. */
  private[queries] def sweepDeadDropCaches(parent: java.nio.file.Path,
      keep: java.nio.file.Path): Unit =
    try {
      val Owned = """graft_drop_cache_pid(\d+)_t-?\d+""".r
      cacheListDir(parent).foreach { p =>
        val nm = p.getFileName.toString
        val ownerAlive = nm match {
          case Owned(pid) => ProcessHandle.of(pid.toLong)
            .map[Boolean](h => h.isAlive && dropCacheName(h) == nm).orElse(false)
          case _ => false
        }
        if (nm.startsWith("graft_drop_cache") && p != keep && !ownerAlive)
          rmQuietly(p.toString)
      }
    } catch { case _: java.io.IOException => () }

  /** The shared cache core of [[stageDropsCached]]/[[stageInputCached]]:
    * build-once-per-fingerprint under `<cacheBase>/<family>_<tag>_<fp>`
    * with atomic-rename publish, same-(family, tag) stale-fingerprint
    * purge, the global idle sweep, mtime-bump-on-read liveness, and the
    * purged-mid-read rebuild-once retry. `fullFp` must be lowercase hex
    * (the purge filter matches exactly that shape). */
  private def cachedStage(s: SparkSession, family: String, dir: String,
      fullFp: String)(buildInto: java.nio.file.Path => Unit)
      (readOut: java.nio.file.Path => Unit): Unit = synchronized {
    // synchronized: two same-JVM threads would otherwise share the
    // pid-keyed build tmp dir; cross-JVM racers are handled by the
    // atomic-move publish below
    import java.nio.file.{Files, StandardCopyOption}
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val cacheBase = dropCacheBase
    val root = cacheBase.resolve(s"${family}_${tag}_$fullFp")
    def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = cacheListDir(p)
    def build(): Unit = {
      Files.createDirectories(cacheBase)
      // purge stale FINGERPRINTS of this (family, dir) — a regenerated
      // corpus (or a re-sliced family) must not leak old drop sets into
      // the cache forever. The filter is the DurableIndex shape: the
      // suffix must be exactly a hex fingerprint, which excludes
      // concurrent builders' '.build' tmp dirs; the current key is
      // excluded explicitly (a racer may publish it between the
      // isDirectory check above and this purge)
      listDir(cacheBase)
        .filter { p =>
          val nm = p.getFileName.toString
          nm != root.getFileName.toString &&
            nm.startsWith(s"${family}_${tag}_") &&
            nm.substring(s"${family}_${tag}_".length).matches("[0-9a-f]+")
        }
        .foreach(p => rmQuietly(p.toString))
      // global sweep: entries of OTHER (family, tag) pairs — dead
      // working dirs above all — decay once idle past the grace window
      // (read hits bump mtime below, so live tags never qualify)
      val cutoff = System.currentTimeMillis() - DropCacheIdleMs
      listDir(cacheBase)
        .filter { p =>
          p != root && !p.getFileName.toString.contains(".build") &&
            (try Files.getLastModifiedTime(p).toMillis < cutoff
             catch { case _: java.io.IOException => false })
        }
        .foreach(p => rmQuietly(p.toString))
      val tmp = cacheBase.resolve(
        s"${family}_${tag}_$fullFp.build${ProcessHandle.current().pid()}")
      rmQuietly(tmp.toString)
      Files.createDirectories(tmp)
      buildInto(tmp)
      try Files.move(tmp, root, StandardCopyOption.ATOMIC_MOVE)
      catch { // a concurrent builder won the publish: read its copy
        case _: java.nio.file.FileAlreadyExistsException => rmQuietly(tmp.toString)
        case _: java.nio.file.DirectoryNotEmptyException => rmQuietly(tmp.toString)
      }
    }
    def read(): Unit = {
      readOut(root)
      // a read IS liveness: bump the entry so the global sweep only
      // ever collects idle tags
      try Files.setLastModifiedTime(root,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () }
    }
    if (!Files.isDirectory(root)) build()
    try read()
    catch {
      // a concurrent sweep purged the entry between publish and copy:
      // clear whatever half-deleted shell remains (the atomic republish
      // cannot land on a surviving dir), rebuild once, re-read — a
      // second consecutive race is a loud failure, not silent corruption
      case _: java.nio.file.NoSuchFileException =>
        rmQuietly(root.toString); build(); read()
    }
  }

  /** Idle grace before the global drop-cache sweep collects an entry —
    * long enough that every drain family of an active working dir reads
    * (and mtime-bumps) its entry well inside the window. */
  private[queries] final val DropCacheIdleMs = 6L * 3600 * 1000

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
    * q160). The arriving rows land as parquet file drops in a source
    * dir; a checkpointed AvailableNow query with maxFilesPerTrigger=1
    * consumes one drop per micro-batch, in (mtime, path) order, under
    * [[withStreamConfs]] at `width`. Each micro-batch runs `perBatch`,
    * which writes its own batch_id partition of every sink
    * ([[writeBatch]]). After the drain, `sink` is refreshed on this
    * session (the writes ran on the stream's cloned session) and
    * `fold` builds the result.
    *
    * Replay contract (StreamReplaySpec): `chaos` runs after each
    * batch's writes but BEFORE its checkpoint commits — throwing from
    * it simulates a crash that forces an at-least-once replay of that
    * batch on the next drain. `scratch` pins the (source, checkpoint)
    * dirs so a test can resume the same checkpoint; `resume = true`
    * skips `stage` (drops, sink resets and DDL, pre-stream artifacts)
    * and re-drains whatever the checkpoint left uncommitted.
    * Production invocations (scratch = None) get fresh `tag`-named
    * dirs, deleted in the finally — repeated bench iterations
    * accumulate nothing. `schema` defaults to the staged drops' own
    * (one inference read); a caller that holds the source relation
    * passes its schema and skips that job. */
  private[queries] def drainDrops(s: SparkSession, tag: String,
      chaos: Long => Unit, scratch: Option[(String, String)],
      resume: Boolean, sink: String,
      width: => String = graft.GraftSession.StreamPartitions,
      schema: => Option[org.apache.spark.sql.types.StructType] = None)
      (stage: String => Unit)
      (perBatch: (DataFrame, Long) => Unit)
      (fold: => DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val (srcDir, ckpt) = scratch.getOrElse(
      (streamScratch(s"graft_${tag}_src"), streamScratch(s"graft_${tag}_ckpt")))
    try {
      if (!resume) stage(srcDir)
      val srcSchema = schema.getOrElse(s.read.parquet(srcDir).schema)
      withStreamConfs(s, width) {
        s.readStream.schema(srcSchema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir)
          .writeStream.outputMode(OutputMode.Append())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            perBatch(batch, batchId)
            chaos(batchId)
          }
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      s.catalog.refreshTable(sink)
      fold
    } finally if (scratch.isEmpty) rmQuietly(srcDir, ckpt)
  }

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
    * sequential form). == batch q143, verbatim oracle. Test hooks as
    * in [[drainDrops]]. */
  private[graft] def streamRetraction(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the standing artifacts exist before a takedown stream starts
    bandIndexTable(s, dir)
    pairIndexTable(s, dir)
    ccIndexTable(s, dir)
    val logTable = JvmScratch.tableName("stream_delete_log")
    drainDrops(s, "q151", chaos, scratch, resume, logTable) { srcDir =>
      val dels = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
      stageDropsCached(s, dir, "q151", "documents.parquet", srcDir, 3)(
        i => dels.filter(pmod(col("doc_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_delete_log")
      createBatchSink(s, logTable, Seq("doc_id" -> "bigint"))
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
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    // force-build the index on THIS session before the stream starts
    // (micro-batches run on a cloned session sharing the catalog)
    bandIndexTable(s, dir)
    val table = JvmScratch.tableName("stream_inc_dedup")
    drainDrops(s, "q105", chaos, scratch, resume, table,
        width = textStreamWidth(s, dir)) { srcDir =>
      // the arriving batch staged as 3 file drops (split by doc_id)
      val delta = Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
      stageDropsCached(s, dir, "q105", "documents.parquet", srcDir, 3)(
        i => delta.filter(pmod(col("doc_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_inc_dedup")
      createBatchSink(s, table, Seq(
        "delta_id" -> "bigint", "corpus_id" -> "bigint", "jaccard" -> "double"))
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
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    // force-build codebook + block index on THIS session before the
    // stream starts (micro-batches run on a clone sharing the catalog)
    SimilarityQueries.semBlockIndexTable(s, dir)
    val table = JvmScratch.tableName("stream_sem_dedup")
    drainDrops(s, "q113", chaos, scratch, resume, table) { srcDir =>
      val delta = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
      stageDropsCached(s, dir, "q113", "embeddings.parquet", srcDir, 3)(
        i => delta.filter(pmod(col("vec_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_sem_dedup")
      createBatchSink(s, table, Seq(
        "vec_id" -> "bigint", "keeper_id" -> "bigint", "cosine" -> "double"))
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
    * batch_id dynamic overwrite makes replays idempotent. Test hooks
    * as in [[drainDrops]]. */
  private[graft] def streamComponents(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false,
      compact: Boolean = true,
      forceLarge: Option[Boolean] = None): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the standing artifacts exist before a maintenance stream starts
    bandIndexTable(s, dir)
    ccIndexTable(s, dir)
    val idxTable = JvmScratch.tableName("stream_cc_bands")
    val outTable = JvmScratch.tableName("stream_cc_edges")
    drainDrops(s, "q134", chaos, scratch, resume, outTable,
        width = textStreamWidth(s, dir), schema = Some(docs.schema)) { srcDir =>
      val delta = docs.filter(col("doc_id") % 10 === 7)
      stageDropsCached(s, dir, "q134", "documents.parquet", srcDir, 3)(
        i => delta.filter(pmod(col("doc_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_cc_bands")
      JvmScratch.resetTable(s, "stream_cc_edges")
      createBandIndexSink(s, idxTable)
      createBatchSink(s, outTable,
        Seq("doc_a" -> "bigint", "doc_b" -> "bigint"))
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
      // §2.6; see overlapWrites): independent sinks, both
      // batch_id dynamic overwrites, replay-safe in either
      // commit order. The append's repartition into the bucket
      // hash lands 16 files (one per bucket), not one per
      // (task x bucket) — the batch is drop-sized, the shuffle
      // trivial, and the commit fans out 4x fewer files
      overlapWrites {
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
        // pointer flip each, so they run concurrently (overlapWrites,
        // guide §2.6) like the per-batch writes do
        overlapWrites { compactBandIndex(s, idxTable): Unit } {
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
    * `compact = false` to inspect the fragmented state). Test hooks as
    * in [[drainDrops]]. */
  private[graft] def streamIndexBootstrap(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false,
      compact: Boolean = true): DataFrame = {
    val docs = Tables.documents(s, dir)
    val idxTable = JvmScratch.tableName("stream_band_index")
    val outTable = JvmScratch.tableName("stream_bootstrap_out")
    drainDrops(s, "q107", chaos, scratch, resume, outTable,
        width = textStreamWidth(s, dir), schema = Some(docs.schema)) { srcDir =>
      // the whole corpus as 3 drops with EXPLICIT strictly-increasing
      // mtimes: FileStreamSource orders by (mtime, path), and q107's
      // semantics — unlike q105's — depend on the processing order
      stageDropsCached(s, dir, "q107", "documents.parquet", srcDir, 3)(
        i => docs.filter(pmod(col("doc_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_band_index")
      JvmScratch.resetTable(s, "stream_bootstrap_out")
      // initially EMPTY index: band schema + batch_id partitioning
      // (replay idempotency) + the 16-bucket band_key layout
      createBandIndexSink(s, idxTable)
      createBatchSink(s, outTable, Seq(
        "doc_id" -> "bigint", "dup_of" -> "bigint", "jaccard" -> "double"))
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
      // (overlapWrites, guide §2.6): the probe reads the index
      // so far MINUS this batch's own partition (empty on first
      // delivery; populated — and self-matching if probed — on a
      // replay; pruned at planning either way, so the racing
      // append is invisible to it), and both sinks are batch_id
      // dynamic overwrites, replay-safe in either commit order.
      // The append's repartition into the bucket hash lands 16
      // files (one per bucket), not one per (task x bucket)
      val soFar = ss.table(idxTable).filter(col("batch_id") =!= batchId)
      overlapWrites {
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
    * append via insertInto (bucketizes per the catalog spec). Test
    * hooks as in [[drainDrops]]. */
  private[graft] def streamSemIndexBootstrap(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false,
      compact: Boolean = true): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val idxTable = JvmScratch.tableName("stream_block_index")
    val outTable = JvmScratch.tableName("stream_sem_boot_out")
    val cbTable = JvmScratch.tableName("stream_sem_codebook")
    drainDrops(s, "q114", chaos, scratch, resume, outTable) { srcDir =>
      // the corpus as 3 drops with EXPLICIT strictly-increasing
      // mtimes (the FileStreamSource processing order, q107's shape)
      stageDropsCached(s, dir, "q114", "embeddings.parquet", srcDir, 3)(
        i => emb.filter(pmod(col("vec_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_block_index")
      JvmScratch.resetTable(s, "stream_sem_boot_out")
      JvmScratch.resetTable(s, "stream_sem_codebook")
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
      createBatchSink(s, outTable, Seq(
        "vec_id" -> "bigint", "dup_of" -> "bigint", "cosine" -> "double"))
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
      // §2.6; see overlapWrites): independent sinks, both
      // batch_id dynamic overwrites, replay-safe in either
      // commit order (the probe prunes its own partition at
      // planning, so the racing append is invisible to it)
      overlapWrites {
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
      if (compact) compactBucketedIndex(s, idxTable,
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
    * doc's span hashes never split across batches. Test hooks as in
    * [[drainDrops]]. */
  private[graft] def streamDecontaminate(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchTable = JvmScratch.tableName("stream_bench_hashes")
    val outTable = JvmScratch.tableName("stream_decon_out")
    drainDrops(s, "q116", chaos, scratch, resume, outTable,
        width = textStreamWidth(s, dir)) { srcDir =>
      // the whole corpus as 3 drops (batch independence makes the
      // processing order irrelevant here — the probe side is static)
      stageDropsCached(s, dir, "q116", "documents.parquet", srcDir, 3)(
        i => docs.filter(pmod(col("doc_id"), lit(3)) === i)
          .select("doc_id", "text"))
      JvmScratch.resetTable(s, "stream_bench_hashes")
      JvmScratch.resetTable(s, "stream_decon_out")
      // the standing artifact: benchmark span hashes, staged once
      spanHashes13Of(docs.filter(col("doc_id") % 5 === 0))
        .withColumnRenamed("doc_id", "bench_id")
        .withColumnRenamed("h", "bh")
        .coalesce(1).write.format("parquet").saveAsTable(benchTable)
      createBatchSink(s, outTable, Seq(
        "doc_id" -> "bigint", "bench_id" -> "bigint", "n_shared" -> "bigint"))
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

  /** Forwarders into the shared [[graft.sources.DurableIndex]]
    * compaction contract (round-11 verdict #5 moved the machinery
    * there so every batch_id-fragmented artifact family shares it);
    * kept here because the dedup module owns the band-index column
    * spec and the existing specs address them through this object. */
  private[graft] def bucketFileCounts(s: SparkSession,
      qualified: String): Map[Int, Int] =
    graft.sources.DurableIndex.bucketFileCounts(s, qualified)

  /** Compact a stream-grown band index once micro-batch appends have
    * fragmented any bucket past `maxFilesPerBucket` files — the band
    * column spec over [[graft.sources.DurableIndex.compactBucketed]]
    * (see there for the quiesced-checkpoint contract). */
  private[graft] def compactBandIndex(s: SparkSession, qualified: String,
      maxFilesPerBucket: Int = 2): Boolean =
    compactBucketedIndex(s, qualified,
      Seq("doc_id", "band_idx", "band_key"), "band_key", maxFilesPerBucket)

  private[graft] def compactBucketedIndex(s: SparkSession, qualified: String,
      cols: Seq[String], bucketCol: String,
      maxFilesPerBucket: Int = 2): Boolean =
    graft.sources.DurableIndex.compactBucketed(
      s, qualified, cols, bucketCol, maxFilesPerBucket)

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

  /** Run a micro-batch's two INDEPENDENT sink writes concurrently
    * (guide §2.6: actions are only sequential because the driver calls
    * them sequentially — the second job's tasks back-fill executors
    * freed by the first job's stage tails instead of waiting for its
    * last task). Only legal because the two writes share no
    * dependency in either direction: the probe-sink insert reads the
    * index MINUS this batch's partition (partition-pruned at planning,
    * so the concurrent append's files are never listed), and both
    * sinks are batch_id dynamic overwrites — a replay rewrites
    * whichever subset of the two partitions a crash left committed,
    * in any order (StreamReplaySpec's partial-commit leg). The child
    * thread inherits the streaming job group (SparkContext local
    * properties are inheritable), so query cancellation still reaches
    * both jobs. Failures: both legs always complete or fail before
    * returning; the first error wins, the other is suppressed. An
    * interrupt of the caller (a stopped query interrupts its stream
    * thread) interrupts leg b and waits up to [[OverlapStopWaitMs]]
    * for it to stop before the InterruptedException propagates, with
    * the caller's interrupt flag restored. */
  private[queries] def overlapWrites(a: => Unit)(b: => Unit): Unit = {
    val bErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => try b catch { case e: Throwable => bErr.set(e) },
      "graft-overlap-write")
    t.setDaemon(true)
    t.start()
    var aErr: Throwable = null
    try a catch { case e: Throwable => aErr = e }
    try t.join()
    catch {
      case ie: InterruptedException =>
        t.interrupt()
        try t.join(OverlapStopWaitMs) catch { case _: InterruptedException => () }
        Option(aErr).foreach(ie.addSuppressed)
        Thread.currentThread().interrupt()
        throw ie
    }
    if (aErr != null) {
      Option(bErr.get()).filter(_ ne aErr).foreach(aErr.addSuppressed)
      throw aErr
    }
    val e = bErr.get()
    if (e != null) throw e
  }

  /** How long an interrupted [[overlapWrites]] waits for its leg b. */
  private final val OverlapStopWaitMs = 60000L

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
