package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

/** The two-pass SPLITTABLE reader shared by the text formats whose
  * records may span any line: quoted multiline CSV ([[SplitCsv]]) and
  * outer-array JSON ([[SplitJson]]). Spark reads both with
  * `multiLine=true`, which pins ONE task per file — at 100 TB ingest
  * serializes on file count. This engine makes byte splits provably
  * record-safe with a cheap distributed boundary scan first, the
  * classic two-pass design (quote-parity speculation, Ge et al.,
  * SIGMOD 2019). It depends on the format only through a [[Lexer]]:
  *
  *   PASS 1 (distributed, one task per ~chunk): the files are cut into
  *   fixed-size byte chunks and the lexer summarizes each chunk
  *   (`scan`) under every lexical state a chunk boundary can land in —
  *   it cannot know which state is true. The chunk IS the parallelism
  *   unit, so the task count scales with the data instead of capping
  *   at a constant (a 512 cap meant ~200 GB scanned serially per task
  *   at 100 TB). Chunk descriptors are generated distributively off
  *   the listing; the chunk size auto-scales so the chunk count stays
  *   under [[MaxChunks]].
  *
  *   PER-FILE COMBINE (distributed, one task per file, metadata only):
  *   the lexer folds the file's chunk summaries in chunk order
  *   (`bounds`), resolving each chunk's TRUE start state, into the
  *   record starts the true states imply — or into the reason the
  *   whole file is structurally corrupt. Boundaries are optional: a
  *   chunk with none merges into the previous range (a record larger
  *   than a chunk).
  *
  *   PASS 2 (distributed, ~one task per boundary-aligned range): each
  *   range starts exactly at a record start, so the lexer's fresh scan
  *   (`slice`) cuts it into COMPLETE record texts, which the format's
  *   parse step (`from_csv` / `from_json`) parses PERMISSIVE with
  *   corrupt capture — the parser sees one whole record, embedded
  *   newlines included.
  *
  * Driver bound: the ONLY driver-side materialization is the file
  * listing ([[lastDriverHeld]]); chunk scans and ranges stay in RDDs
  * end to end. Cost: pass 1 reads the bytes once, pass 2 once per
  * consuming job — 2x I/O for unbounded parallelism.
  *
  * ON_ERROR=CONTINUE: a structurally broken file does not abort the
  * load. It degrades to ONE marker row — [[CorruptFilePrefix]], the
  * file name and the reason — flagged OUT-OF-BAND (`_corrupt`), so it
  * lands in the corrupt column under ANY schema (an all-string CSV
  * schema would parse any in-band marker text) while neighbor files
  * parse fully. Carrying the file TEXT, as the multiLine readers do,
  * would recreate the single-huge-row problem this route exists to
  * avoid. A lexer may flag single records the same way.
  *
  * Lineage: every row carries the `_metadata` struct Spark's file
  * sources emit (`file_name`, `file_modification_time`) and
  * `_rec_offset`, the record's absolute byte offset — a deterministic
  * total order within a file under any task placement, unlike
  * monotonically_increasing_id.
  */
private[graft] object SplitFiles {

  /** A text format's lexical rules, as three pure functions over bytes.
    * `S` is the pass-1 summary of one chunk. */
  trait Lexer[S] extends Serializable {

    /** Summarize one chunk whose first byte sits at absolute file
      * offset `absStart`, under every start state it may begin in. */
    def scan(chunk: Array[Byte], absStart: Long): S

    /** Fold one file's chunk summaries, in chunk order, into the
      * ascending absolute offsets past 0 where a record starts, or the
      * reason the whole file is corrupt. */
    def bounds(chunks: IndexedSeq[S]): Either[String, Seq[Long]]

    /** Cut a range that begins at a record start (absolute offset
      * `rangeStart`; `isFirstRange` when it is the file's offset 0)
      * into each record's text, absolute offset and corrupt flag. */
    def slice(range: Array[Byte], rangeStart: Long, isFirstRange: Boolean)
        : Iterator[(String, Long, Boolean)]
  }

  /** One listed input file. */
  final case class SrcFile(path: String, len: Long, mtime: Long)

  /** A boundary-aligned read range; a `corrupt` range is a whole
    * structurally broken file collapsed to its one marker row (no bytes
    * are read for it). */
  private final case class RecRange(file: SrcFile, start: Long, end: Long,
      corrupt: Option[String])

  /** Marker prefix of the ONE corrupt row a structurally broken file
    * degrades to; COPY accounting counts the file as skipped. */
  val CorruptFilePrefix = "__graft_corrupt_file__"

  /** Chunk size the readers start from before the auto-scale. */
  val DefaultChunkBytes: Long = 32L << 20

  /** Chunk-count bound the auto-scale targets: with no bound, 100 TB
    * at 32 MB chunks is ~3.3M pass-1 tasks; at this bound the same
    * corpus reads in ~400 MB chunks — still far under the 1 GiB
    * per-task buffer cap, which auto-scale can never exceed until
    * ~256 PB, where the explicit chunk-size require fires instead.
    * Callers' EXPLICIT smaller chunk sizes below the bound are honored
    * unchanged (specs force adversarial alignments that way). */
  val MaxChunks: Long = 1L << 18

  /** Test hook: tuples the last read materialized on the driver — the
    * file listing and nothing else (the split-reader specs pin
    * O(#files), so an edit that re-collects per-chunk state fails a
    * spec instead of silently re-opening the 100 TB driver bound). */
  private[ingest] val lastDriverHeld =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Every non-empty data file under the glob `pattern`, sorted by path;
    * hidden names skipped as Spark's file index skips them (a Hadoop
    * local copy leaves a `.x.crc` beside each file). */
  def listing(spark: SparkSession, pattern: String): Array[SrcFile] = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    Option(fs.globStatus(p)).getOrElse(Array.empty)
      .flatMap(st =>
        if (st.isDirectory) fs.listStatus(st.getPath) else Array(st))
      .filter(st => st.isFile && st.getLen > 0 && !hidden(st.getPath.getName))
      .map(st => SrcFile(st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_.path)
  }

  /** Bytes `[start, end)` of `path`. A range past the array bound is
    * one record larger than any chunk: fail with that cause, not a
    * negative-size allocation. */
  private def readRange(conf: SerializableConfiguration, path: String,
      start: Long, end: Long): Array[Byte] = {
    require(end - start <= Int.MaxValue - 8,
      s"$path: a single record spans ${end - start} bytes " +
        s"(range $start..$end) — larger than the 2 GiB single-record " +
        "limit of the splittable route")
    val p = new Path(path)
    val in = p.getFileSystem(conf.value).open(p)
    val buf = new Array[Byte]((end - start).toInt)
    try { in.seek(start); in.readFully(buf) } finally in.close()
    buf
  }

  /** Both passes over `files`: one row per record with its text
    * `_rec`, the out-of-band `_corrupt` flag, `_rec_offset` and the
    * `_metadata` lineage struct. */
  def records[S](spark: SparkSession, files: Seq[SrcFile], chunkBytes: Long,
      lexer: Lexer[S]): DataFrame = {
    require(files.nonEmpty, "no non-empty files to read")
    require(chunkBytes >= 16, s"chunkBytes=$chunkBytes unreasonably small")
    require(chunkBytes <= (1L << 30),
      s"chunkBytes=$chunkBytes exceeds the 1 GiB per-task buffer bound")
    val totalBytes = files.map(_.len).sum
    val eff = math.max(chunkBytes, (totalBytes + MaxChunks - 1) / MaxChunks)
    require(eff <= (1L << 30),
      s"corpus of $totalBytes bytes needs >1 GiB chunks to stay under " +
        s"$MaxChunks chunks — beyond this route's per-task buffer bound")
    lastDriverHeld.set(files.length)
    val numChunks = files.map(f => (f.len + eff - 1) / eff).sum
    val nTasks = math.max(1L, math.min(numChunks, Int.MaxValue.toLong)).toInt
    val sc = spark.sparkContext
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)

    // ---- pass 1: one chunk scan per task ----
    val scans = sc
      .parallelize(files,
        math.max(1, math.min(files.length, 4 * sc.defaultParallelism)))
      .flatMap(f => (0L until f.len by eff).iterator.zipWithIndex.map {
        case (off, i) => (f, i, off)
      })
      .repartition(nTasks)
      .map { case (f, i, off) =>
        val chunk = readRange(conf, f.path, off, math.min(off + eff, f.len))
        (f, i, lexer.scan(chunk, off))
      }

    // ---- per-file combine: one task per file holds that file's
    // summaries — bounded by the auto-scale at ~262k small tuples even
    // for a single-file 100 TB corpus ----
    val ranges = scans.groupBy(_._1).flatMap { case (f, cs) =>
      lexer.bounds(cs.toIndexedSeq.sortBy(_._2).map(_._3)) match {
        case Left(reason) => Seq(RecRange(f, 0L, 0L, Some(reason)))
        case Right(bs) =>
          val starts = (0L +: bs).filter(_ < f.len)
          starts.zip(starts.drop(1) :+ f.len).map { case (a, b) =>
            RecRange(f, a, b, None)
          }
      }
    }.persist(StorageLevel.MEMORY_AND_DISK_2)
    // metadata-sized (O(#chunks) descriptors): without this every
    // caller ACTION — and JSON's inference job — re-runs pass 1, which
    // reads every corpus byte. REPLICATED persist, not
    // localCheckpoint: checkpoint blocks are executor-local and
    // non-replicated, so one lost executor (routine at the 100 TB
    // target under dynamic allocation) would fail every later pass-2
    // job permanently; persist keeps the lineage — a lost replica
    // recomputes pass 1 instead of dying — and the second replica
    // makes that recompute rare. On local[N] (one block manager) the
    // replica degrades to 1 harmlessly. Blocks are cleaned with the
    // RDD.

    // ---- pass 2: boundary-aligned ranges -> record texts ----
    import spark.implicits._
    ranges
      .repartition(nTasks) // ~one range per task (ranges <= chunks)
      .flatMap { r =>
        val recs = r.corrupt match {
          case Some(reason) => Iterator.single(
            (s"$CorruptFilePrefix ${r.file.path}: $reason", 0L, true))
          case None => lexer.slice(
            readRange(conf, r.file.path, r.start, r.end), r.start, r.start == 0L)
        }
        val name = new Path(r.file.path).getName
        recs.map { case (rec, off, bad) => (rec, bad, off, name, r.file.mtime) }
      }
      .toDF("_rec", "_corrupt", "_rec_offset", "file_name", "mtime")
      .select(col("_rec"), col("_corrupt"), col("_rec_offset"),
        struct(col("file_name"),
          timestamp_millis(col("mtime")).as("file_modification_time"))
          .as("_metadata"))
  }

  /** The parse step's projection onto `schema` (which holds
    * `corruptCol`): `parsed` is the format's parse of `_rec`; a flagged
    * row is all-null with its text in `corruptCol`. Lineage columns
    * follow the schema's. */
  def project(records: DataFrame, parsed: Column, schema: StructType,
      corruptCol: String): DataFrame = {
    val fields = schema.fields.map { f =>
      val flagged =
        if (f.name == corruptCol) col("_rec") else lit(null).cast(f.dataType)
      when(col("_corrupt"), flagged)
        .otherwise(col("_parsed").getField(f.name)).as(f.name)
    }
    records.withColumn("_parsed", parsed)
      .select(fields.toIndexedSeq :+ col("_metadata") :+ col("_rec_offset"): _*)
  }
}
