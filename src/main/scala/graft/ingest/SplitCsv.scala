package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** SPLITTABLE reading of quoted multiline CSV: the RFC4180 lexer over
  * the two-pass engine in [[SplitFiles]] (which holds the shared
  * contract — passes, driver bound, corrupt markers, lineage).
  *
  *   scan: each chunk's quote parity (an escaped `""` flips twice, so
  *   a raw count mod 2 is exact) and its first newline under EACH
  *   starting parity (outside/inside a quoted field). `"`, `\n` and
  *   `\r` are single bytes with the high bit clear, so a byte scan is
  *   correct in UTF-8 without decoding.
  *
  *   bounds: a prefix-XOR of chunk parities resolves each chunk's TRUE
  *   starting parity, which picks the true first record boundary in
  *   the chunk.
  *
  *   slice: a fresh quote scan splits the range into complete records;
  *   the file's first range drops its leading header record.
  *
  * Record separators: `\n` and `\r\n` (the multiLine reader's
  * defaults). A LONE `\r` acting as a record separator — a CR outside
  * quotes not followed by LF — must not silently glue records together
  * (from_csv would keep the first record of a glued run and drop the
  * rest without corrupt capture); like unbalanced quotes, it marks the
  * WHOLE FILE corrupt. Lone CRs INSIDE quotes are data and pass
  * through untouched.
  *
  * Ref behavior matched: SourceLoader.readRaw's csv branch
  * (header=true, quote=escape='"', PERMISSIVE + corrupt column);
  * SplitCsvSpec proves row-identical output — corrupt-row
  * classification included — on the reference sales files and on
  * synthetic corpora with boundary-crossing quoted newlines at
  * adversarial chunk sizes.
  */
object SplitCsv {

  /** One chunk's pass-1 summary: quote parity, the first in-chunk
    * newline offset (absolute) under each start assumption (-1 = none
    * in this chunk under that assumption), and the lone-CR evidence
    * under each assumption (`loneCrOut`/`loneCrIn`; `endCr` is the
    * RELATIVE parity at a chunk-final CR, -1 when the chunk does not
    * end in CR — a CR at a chunk boundary is only lone if the NEXT
    * chunk's first byte is not LF, resolved in `bounds`). */
  private final case class Chunk(parity: Int,
      firstNlOutside: Long, firstNlInside: Long,
      loneCrOut: Boolean, loneCrIn: Boolean, endCr: Int, startsNl: Boolean)

  private object Lexer extends SplitFiles.Lexer[Chunk] {

    def scan(buf: Array[Byte], absStart: Long): Chunk = {
      var parity = 0
      var nlOut = -1L; var nlIn = -1L
      var loneCrOut = false; var loneCrIn = false
      var endCr = -1
      var j = 0
      while (j < buf.length) {
        val b = buf(j)
        if (b == '"') parity ^= 1
        else if (b == '\n') {
          if (parity == 0 && nlOut < 0) nlOut = absStart + j
          if (parity == 1 && nlIn < 0) nlIn = absStart + j
        } else if (b == '\r') {
          if (j + 1 < buf.length) {
            if (buf(j + 1) != '\n') {
              if (parity == 0) loneCrOut = true else loneCrIn = true
            }
          } else endCr = parity // chunk-final CR: resolved in bounds
        }
        j += 1
      }
      Chunk(parity, nlOut, nlIn, loneCrOut, loneCrIn, endCr,
        startsNl = buf(0) == '\n')
    }

    def bounds(chunks: IndexedSeq[Chunk]): Either[String, Seq[Long]] = {
      var parity = 0
      val starts = Seq.newBuilder[Long]
      var k = 0
      while (k < chunks.length) {
        val c = chunks(k)
        if (if (parity == 0) c.loneCrOut else c.loneCrIn)
          return Left(s"lone \\r record separator (CR not followed by LF " +
            s"outside quotes, chunk $k) — only \\n and \\r\\n are supported")
        if (c.endCr >= 0 && (c.endCr ^ parity) == 0 &&
            !(k + 1 < chunks.length && chunks(k + 1).startsNl))
          return Left(s"lone \\r record separator (CR at chunk $k " +
            "boundary or EOF outside quotes) — only \\n and \\r\\n are " +
            "supported")
        val nl = if (parity == 0) c.firstNlOutside else c.firstNlInside
        if (nl >= 0) starts += nl + 1 // a record starts after the newline
        parity ^= c.parity
        k += 1
      }
      if (parity != 0)
        Left(s"unbalanced quotes (parity $parity) — not RFC4180")
      else Right(starts.result())
    }

    def slice(buf: Array[Byte], rangeStart: Long, isFirstRange: Boolean)
        : Iterator[(String, Long, Boolean)] = {
      val out = Seq.newBuilder[(String, Long, Boolean)]
      var parity = 0
      var recStart = 0
      var j = 0
      def emit(endIdx: Int): Unit = { // [recStart, endIdx) minus trailing \r
        val e = if (endIdx > recStart && buf(endIdx - 1) == '\r') endIdx - 1
                else endIdx
        if (e > recStart) {
          // univocity (the multiLine reader's parser) normalizes line
          // separators WITHIN quoted values to '\n'; after record
          // splitting the only surviving CRLFs are inside quotes, so
          // a whole-record replace reproduces that normalization and
          // keeps the two routes row-identical (SplitCsvSpec)
          val rec = new String(buf, recStart, e - recStart, "UTF-8")
            .replace("\r\n", "\n")
          out += ((rec, rangeStart + recStart, false))
        }
      }
      while (j < buf.length) {
        val b = buf(j)
        if (b == '"') parity ^= 1
        else if (b == '\n' && parity == 0) { emit(j); recStart = j + 1 }
        j += 1
      }
      emit(buf.length) // final record without trailing newline
      val all = out.result()
      (if (isFirstRange) all.drop(1) else all).iterator
    }
  }

  /** Read every file matching `pattern` (a Hadoop glob) as quoted
    * multiline CSV with header, schema-typed, PERMISSIVE with
    * `corruptCol` capture — the splittable equivalent of the
    * SourceLoader multiLine reader. */
  def read(spark: SparkSession, pattern: String, schema: StructType,
      corruptCol: String, chunkBytes: Long = SplitFiles.DefaultChunkBytes)
      : DataFrame =
    readFiles(spark, SplitFiles.listing(spark, pattern), schema, corruptCol,
      chunkBytes)

  /** [[read]] over an already listed set of files. */
  private[ingest] def readFiles(spark: SparkSession,
      files: Seq[SplitFiles.SrcFile], schema: StructType, corruptCol: String,
      chunkBytes: Long = SplitFiles.DefaultChunkBytes): DataFrame = {
    val opts = Map("quote" -> "\"", "escape" -> "\"", "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> corruptCol)
    SplitFiles.project(SplitFiles.records(spark, files, chunkBytes, Lexer),
      from_csv(col("_rec"), schema, opts), schema, corruptCol)
  }
}
