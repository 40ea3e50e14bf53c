package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** SPLITTABLE reading of outer-array JSON — the FR ingest shape (ref:
  * step_3_load_from_stage_to_source.py:88-109, format DDL 4. Common
  * Schema.sql:15-18): JSON's lexer over the two-pass engine in
  * [[SplitFiles]] (which holds the shared contract — passes, driver
  * bound, corrupt markers, lineage).
  *
  *   scan: each chunk is scanned under all THREE string start states a
  *   chunk boundary can land in — outside a string, inside a string,
  *   and inside a string immediately after a backslash (a split can
  *   fall between `\` and `"`). JSON strings toggle on unescaped `"`
  *   and a backslash escapes exactly one following byte (every JSON
  *   escape is ASCII, and UTF-8 continuation bytes never collide with
  *   ASCII, so a byte scan needs no decoding). Per start state the
  *   scan records the net `{[`/`}]` depth delta outside strings, the
  *   end state, and the NEW-MINIMUM closes: the first close reaching
  *   each successively lower relative depth-after. Because depth moves
  *   by ±1 and every downward integer crossing happens at a close, the
  *   recorded values form a contiguous descending range — so `bounds`
  *   can look up any target depth by index. A degenerate chunk with
  *   more than [[MaxCloses]] new-minimum closes stops recording and
  *   sets an overflow flag instead of failing — only the TRUE start
  *   state's overflow matters (a long net-descending `}]` run inside a
  *   string literal overflows the wrong-state scan of a valid file).
  *
  *   bounds: a prefix fold resolves each chunk's TRUE start state and
  *   absolute depth. An element boundary is any close whose absolute
  *   depth-after is 1 — the close of a top-level array element: `}`
  *   for object elements and `]` for array-typed elements (the outer
  *   array's own close lands at depth-after 0, a different level). The
  *   fold also validates structure: unbalanced strings or brackets, a
  *   non-`[` first byte, bytes dipping below the top level, trailing
  *   non-whitespace after the outer `]` (same chunk via the per-level
  *   garbage flag, later chunks via the first-non-whitespace byte), a
  *   top level closed by `}` (`[{...}}`), or a true-state overflow
  *   each mark the WHOLE FILE corrupt.
  *
  *   slice: each range starts right after an element-closing `}`/`]`
  *   (or at byte 0, where it consumes the optional BOM and the opening
  *   `[`), so a fresh scan cuts COMPLETE top-level elements — object,
  *   nested-array and scalar elements alike. Every element but the
  *   file's first must follow a `,`: a range after byte 0 begins right
  *   after an element close, so the slice knows locally whether the
  *   separator came. An element that starts without one (`[{..} {..}]`,
  *   which Jackson rejects) is flagged corrupt as its own text, and
  *   its neighbors parse.
  *
  * Corrupt semantics — the DOCUMENTED divergences (pinned by
  * SplitJsonSpec's corrupt-semantics legs): the multiLine reader's
  * blast radius is the whole file, because in multiLine mode the file
  * IS the record — one type-mismatched element stamps every row's
  * corrupt column with the entire file text, and one null/scalar
  * element degrades the whole file to a single all-null corrupt row.
  * A byte-range reader cannot reproduce a whole-file property from
  * inside one range, and at 100 TB per-file blast radius is the wrong
  * behavior anyway; this route REFINES it — exactly the offending
  * element lands in the corrupt column, null elements (no data) are
  * dropped, well-formed neighbors parse normally. On clean
  * array-of-objects corpora (the FR contract shape) the routes are
  * row-identical, corrupt flags included.
  *
  * Ref behavior matched: SourceLoader.readRaw's json branch
  * (multiLine, PERMISSIVE, corrupt capture); SplitJsonSpec proves
  * row-identical output — corrupt-element classification included —
  * on the reference FR files and on synthetic corpora with escapes,
  * nesting and corrupt elements straddling chunk boundaries at
  * adversarial chunk sizes.
  */
object SplitJson {

  // string start/end states a chunk boundary can land in
  private final val StOut = 0    // outside any string
  private final val StIn = 1     // inside a string
  private final val StInEsc = 2  // inside a string, next byte is escaped

  /** Cap on recorded new-minimum closes per chunk: a 32 MB chunk of
    * pure `}` bytes would otherwise build a 33M-entry list. Past the
    * cap the scan keeps its depth math exact but stops recording and
    * flags overflow; `bounds` treats a TRUE-state overflow as a
    * corrupt (degenerate, not record-shaped) file and ignores
    * wrong-state overflows. */
  private final val MaxCloses = 1 << 20

  /** One start-state's scan of one chunk: end state, net bracket-depth
    * delta outside strings, and the new-minimum closes as parallel
    * arrays — `minVals` is contiguous descending (see scaladoc), so
    * `minVals(0) - target` indexes the close at relative depth-after
    * `target`. `minGarbage(i)` marks a non-whitespace non-close byte
    * seen while the depth sat at `minVals(i)` — legal at interior
    * levels (commas and scalars between elements), garbage when that
    * level is absolute depth 0 after the outer array closed; the
    * fold only ever consults the absolute-0 level. `minBrace(i)`
    * records whether the close was a `}` — consulted only at the
    * absolute-0 level, where the outer close must be `]` (a top level
    * ending in `}`, e.g. `[{...}}`, is malformed even when the depth
    * balances; element-level closes accept both brace kinds).
    * `firstNonWs` is the first non-whitespace byte seen outside a
    * string (post-BOM), for the fold's before-open / after-close
    * top-level checks. */
  private case class StateScan(endState: Int, depthDelta: Int,
      minVals: Array[Int], minOffs: Array[Long], minGarbage: Array[Boolean],
      minBrace: Array[Boolean], overflow: Boolean, firstNonWs: Int)

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r'

  /** Scan `buf` (absolute file offset `absStart`) under one assumed
    * string start state. */
  private def scanChunk(buf: Array[Byte], absStart: Long, startState: Int)
      : StateScan = {
    var st = startState
    var depth = 0
    var minSoFar = Int.MaxValue
    val vals = Array.newBuilder[Int]
    val offs = Array.newBuilder[Long]
    val brace = Array.newBuilder[Boolean]
    val garb = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    var n = 0
    var overflow = false
    var firstNonWs = -1
    var j = 0
    // a UTF-8 BOM is legal only at file offset 0: skip it so it never
    // registers as the first non-whitespace top-level byte
    if (absStart == 0L && buf.length >= 3 && (buf(0) & 0xFF) == 0xEF &&
        (buf(1) & 0xFF) == 0xBB && (buf(2) & 0xFF) == 0xBF) j = 3
    while (j < buf.length) {
      val b = buf(j)
      if (st == StOut) {
        if (!isWs(b)) {
          if (firstNonWs < 0) firstNonWs = b & 0xFF
          // a non-close byte sitting AT the current minimum depth:
          // legal at interior levels, garbage if that level is the
          // absolute top after the outer close — `bounds` decides
          // (a close byte itself acts from one level above, and with
          // an overflowed builder the flag may land on a stale level,
          // which is harmless: overflow corrupts the file first)
          if (b != '}' && b != ']' && depth == minSoFar && garb.nonEmpty)
            garb(garb.length - 1) = true
        }
        if (b == '"') st = StIn
        else if (b == '{' || b == '[') depth += 1
        else if (b == '}' || b == ']') {
          depth -= 1
          if (depth < minSoFar) {
            minSoFar = depth
            if (n < MaxCloses) {
              vals += depth; offs += absStart + j; garb += false
              brace += (b == '}')
              n += 1
            } else overflow = true
          }
        }
      } else if (st == StIn) {
        if (b == '"') st = StOut
        else if (b == '\\') st = StInEsc
      } else { // StInEsc: the escaped byte itself (always ASCII in
        st = StIn // valid JSON; a stray high-bit byte is harmless —
      }           // continuation bytes never equal '"' or '\')
      j += 1
    }
    // an overflowed scan is never index-consulted (`bounds` corrupts
    // the file if it is the true state, ignores it otherwise) — drop
    // the arrays so a degenerate chunk ships bytes, not megabytes,
    // through the per-file combine shuffle
    if (overflow)
      StateScan(st, depth, Array.empty, Array.empty, Array.empty,
        Array.empty, overflow = true, firstNonWs)
    else
      StateScan(st, depth, vals.result(), offs.result(), garb.toArray,
        brace.result(), overflow = false, firstNonWs)
  }

  private object Lexer extends SplitFiles.Lexer[Array[StateScan]] {

    def scan(buf: Array[Byte], absStart: Long): Array[StateScan] =
      Array(scanChunk(buf, absStart, StOut), scanChunk(buf, absStart, StIn),
        scanChunk(buf, absStart, StInEsc))

    def bounds(chunks: IndexedSeq[Array[StateScan]])
        : Either[String, Seq[Long]] = {
      var st = StOut
      var depth = 0L
      var opened = false // the outer `[` has been consumed
      var closed = false // the outer `]` has been consumed
      val starts = Seq.newBuilder[Long]
      var k = 0
      while (k < chunks.length) {
        val s = chunks(k)(st)
        val relMin: Long = if (s.minVals.nonEmpty) s.minVals.last else 0
        if (s.overflow)
          return Left(s"more than $MaxCloses top-level closes in one " +
            "chunk — degenerate, not record-shaped JSON")
        if (depth + relMin < 0)
          return Left("brackets close below the top level")
        if (depth == 0 && closed && s.firstNonWs >= 0)
          return Left("non-whitespace bytes after the outer array closes")
        if (depth == 0 && !opened && s.firstNonWs >= 0) {
          if (s.firstNonWs != '[')
            return Left("expected a top-level JSON array (the FR shape); " +
              s"first byte is '${s.firstNonWs.toChar}'")
          opened = true
        }
        // the element close we want is ANY close at absolute
        // depth-after 1 — `}` object elements and `]` array elements
        // alike (the outer close is depth-after 0, a different level);
        // minVals descends contiguously from its head, so index
        // arithmetic finds it
        val target = 1L - depth
        if (s.minVals.nonEmpty && target <= s.minVals(0) &&
            target >= s.minVals.last)
          starts += s.minOffs((s.minVals(0) - target).toInt) + 1
        // the outer close at absolute depth-after 0: record it, and
        // reject same-chunk top-level bytes after it
        val target0 = 0L - depth
        if (opened && !closed && s.minVals.nonEmpty &&
            target0 <= s.minVals(0) && target0 >= s.minVals.last) {
          closed = true
          val k0 = (s.minVals(0) - target0).toInt
          if (s.minBrace(k0))
            // a `}` landing at the top level (e.g. `[{...}}`) is
            // malformed even though the depth balances — the outer
            // ARRAY must close with `]`
            return Left("the top level closes with '}' — not a " +
              "well-formed outer array")
          if (s.minGarbage(k0))
            return Left("non-whitespace bytes after the outer array closes")
        }
        depth += s.depthDelta
        st = s.endState
        k += 1
      }
      if (closed && st == StOut && depth == 0L) Right(starts.result())
      else Left("not well-formed outer-array JSON (unbalanced strings or " +
        "brackets)")
    }

    def slice(buf: Array[Byte], rangeStart: Long, isFirstRange: Boolean)
        : Iterator[(String, Long, Boolean)] = {
      val out = Seq.newBuilder[(String, Long, Boolean)]
      var j = 0
      if (isFirstRange) {
        // optional UTF-8 BOM, whitespace, then the outer `[` (bounds
        // already validated the first byte; this is defense)
        if (buf.length >= 3 && (buf(0) & 0xFF) == 0xEF &&
            (buf(1) & 0xFF) == 0xBB && (buf(2) & 0xFF) == 0xBF) j = 3
        while (j < buf.length && isWs(buf(j))) j += 1
        require(j < buf.length && buf(j) == '[',
          "expected a top-level JSON array (the FR shape); first byte is " +
            s"'${if (j < buf.length) buf(j).toChar else "EOF"}'")
        j += 1
      }
      var st = StOut
      var depth = 1 // inside the outer array
      var recStart = -1
      // a `,` is owed after every element; a range past byte 0 begins
      // right after an element close, so it starts owing one
      var owed = !isFirstRange
      var unseparated = false // the pending element began while owed
      def begin(at: Int): Unit = { recStart = at; unseparated = owed }
      def emit(endIdx: Int): Unit = {
        var a = recStart; var e = endIdx
        while (a < e && isWs(buf(a))) a += 1
        while (e > a && isWs(buf(e - 1))) e -= 1
        if (e > a) {
          val txt = new String(buf, a, e - a, "UTF-8")
          // the multiLine reader SKIPS null array elements — so does
          // this route (SplitJsonSpec pins the parity)
          if (unseparated || txt != "null")
            out += ((txt, rangeStart + a, unseparated))
        }
        recStart = -1
      }
      while (j < buf.length) {
        val b = buf(j)
        if (st == StOut) {
          if (b == '"') { if (depth == 1 && recStart < 0) begin(j); st = StIn }
          else if (b == '{' || b == '[') {
            if (depth == 1 && recStart < 0) begin(j)
            depth += 1
          } else if (b == '}' || b == ']') {
            depth -= 1
            if (depth == 1) { emit(j + 1); owed = true } // element closed
            else if (depth == 0) {            // the outer `]`
              if (recStart >= 0) emit(j)      // trailing scalar element
            }
          } else if (depth == 1 && b == ',') {
            if (recStart >= 0) emit(j)        // scalar element ended
            owed = false
          } else if (depth == 1 && !isWs(b) && recStart < 0) {
            begin(j)                          // scalar element starts
          }
        } else if (st == StIn) {
          if (b == '"') st = StOut
          else if (b == '\\') st = StInEsc
        } else st = StIn
        j += 1
      }
      if (recStart >= 0) emit(buf.length) // defensive: bounds'
      out.result().iterator                // validation catches imbalance
    }
  }

  /** Read every file matching `pattern` (a Hadoop glob) as outer-array
    * JSON, PERMISSIVE with `corruptCol` capture — the splittable
    * equivalent of the SourceLoader multiLine reader. `schema`, when
    * given, must already include `corruptCol` (same convention as
    * [[SplitCsv.read]]); when absent the element schema is inferred
    * from the sliced, unflagged elements with Spark's own JSON
    * inference — the same code path the multiLine reader infers with,
    * at the price of one extra pass-2 job (pass an explicit schema at
    * scale — SourceLoader's FR gate does). */
  def read(spark: SparkSession, pattern: String, schema: Option[StructType],
      corruptCol: String, chunkBytes: Long = SplitFiles.DefaultChunkBytes)
      : DataFrame =
    readFiles(spark, SplitFiles.listing(spark, pattern), schema, corruptCol,
      chunkBytes)

  /** [[read]] over an already listed set of files. */
  private[ingest] def readFiles(spark: SparkSession,
      files: Seq[SplitFiles.SrcFile], schema: Option[StructType],
      corruptCol: String, chunkBytes: Long = SplitFiles.DefaultChunkBytes)
      : DataFrame = {
    val records = SplitFiles.records(spark, files, chunkBytes, Lexer)
    val full = schema.getOrElse {
      import spark.implicits._
      val inferred = spark.read
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corruptCol)
        .json(records.filter(!col("_corrupt")).select(col("_rec")).as[String])
        .schema.fields.filterNot(_.name == corruptCol)
      StructType(inferred :+ StructField(corruptCol, StringType))
    }
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> corruptCol)
    SplitFiles.project(records, from_json(col("_rec"), full, opts), full,
      corruptCol)
  }
}
