package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ingest.SourceLoader
import graft.sources.Tables

/** Puts the file-format readers (SURVEY §2.1 S3/S5/S6) under the DuckDB
  * gate. The star testdata is parquet-only, so the medallion readers were
  * previously verified only by `sbt test` goldens over the reference's
  * files; this query closes the gap by ROUND-TRIPPING a star table
  * through both text formats with the exact SourceLoader option set and
  * oracle-comparing against the parquet original:
  *
  *   - CSV (ref IN shape, step_3_load_from_stage_to_source.py:24-55):
  *     header, quote-escaped MULTILINE records — every staged name gets
  *     an embedded newline so each record really spans two physical
  *     lines — plus an injected corrupt file whose rows must be caught
  *     by the PERMISSIVE corrupt-record column and skipped
  *     (ON_ERROR=CONTINUE, ref step_3:51);
  *   - JSON (ref FR shape, step_3:88-109): outer-ARRAY documents (not
  *     JSON lines) with string-typed numerics, multiLine read +
  *     try_cast back to the typed schema.
  *
  * A reader defect anywhere — quoting, newline handling, null slip,
  * numeric round-trip, array framing — breaks the exact hash compare.
  */
object IngestQueries {

  /** Content fingerprint of a staged ingest corpus: everything the
    * staged BYTES depend on (the staging plan canonicalized, injected
    * corrupt payloads, writer options) — a change to any of them mints
    * a new [[DedupQueries.stageInputCached]] key instead of silently
    * serving stale staged files. */
  private def stageFp(parts: String*): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(parts.mkString("\u0000").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  /** The skipped-file-count summary row the whole-file-skip queries
    * (q164/q165) append: the corrupt-MARKER rows counted into one row
    * of the customer column shape, so the DuckDB oracle can restate it
    * as a constant and the hash compare certifies the count. */
  private def skippedFileSummary(read: DataFrame): DataFrame = read
    .filter(col(SourceLoader.CorruptCol)
      .startsWith(graft.ingest.SplitFiles.CorruptFilePrefix))
    .agg(count(lit(1)).cast("long").as("c_custkey"))
    .select(col("c_custkey"),
      lit("__skipped_files__").as("c_name"),
      lit(null).cast("int").as("c_nationkey"),
      lit(null).cast("double").as("c_acctbal"),
      lit(null).cast("string").as("c_mktsegment"))

  /** Stage `staged` as quoted CSV with a header, in two files, plus the
    * `extra` (name, body) files beside them — once per corpus
    * fingerprint (the stageDropsCached discipline: the Spark staging
    * write jobs were the dominant fixed cost of every invocation, while
    * the reader under test still runs fully each time). */
  private def stageCsv(s: SparkSession, dir: String, family: String,
      staged: DataFrame, extra: (String, String)*): String =
    DedupQueries.stageInputCached(s, dir, family, "customer.parquet",
        stageFp(staged.queryExecution.analyzed.canonicalized.toString +:
          extra.map(_._2) :+ "csv1": _*)) { tmp =>
      staged.coalesce(2).write.mode("overwrite")
        .option("header", true).option("quote", "\"").option("escape", "\"")
        .csv(tmp.toString)
      extra.foreach { case (name, body) =>
        java.nio.file.Files.writeString(tmp.resolve(name), body) }
    }

  /** Stage `staged` as pretty-printed outer-ARRAY JSON documents (the
    * FR shape, one per file, two files) with string-typed numerics,
    * plus the `extra` files — cached as [[stageCsv]] is. */
  private def stageJson(s: SparkSession, dir: String, family: String,
      staged: DataFrame, extra: (String, String)*): String =
    DedupQueries.stageInputCached(s, dir, family, "customer.parquet",
        stageFp(staged.queryExecution.analyzed.canonicalized.toString +:
          extra.map(_._2) :+ "json1": _*)) { tmp =>
      import s.implicits._
      staged
        .withColumn("c_custkey", col("c_custkey").cast("string"))
        .withColumn("c_nationkey", col("c_nationkey").cast("string"))
        .withColumn("c_acctbal", col("c_acctbal").cast("string"))
        .coalesce(2)
        .toJSON
        .mapPartitions(it => Iterator.single(it.mkString("[\n", ",\n", "\n]")))
        .write.mode("overwrite").text(tmp.toString)
      extra.foreach { case (name, body) =>
        java.nio.file.Files.writeString(tmp.resolve(name), body) }
    }

  /** `staged`'s columns, all string-typed, plus the corrupt column. */
  private def stringly(staged: DataFrame): StructType = StructType(
    staged.schema.fieldNames.map(StructField(_, StringType)) :+
      StructField(SourceLoader.CorruptCol, StringType))

  /** The string-typed customer columns `try_cast` back to their types. */
  private def typedCustomer(df: DataFrame): DataFrame = df.select(
    col("c_custkey").try_cast("long").as("c_custkey"),
    col("c_name"),
    col("c_nationkey").try_cast("int").as("c_nationkey"),
    col("c_acctbal").try_cast("double").as("c_acctbal"),
    col("c_mktsegment"))

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q53_file_roundtrip",
      "stage customer to quoted-multiline CSV (+ a corrupt file that must be skipped) and outer-array JSON with string-typed numerics, read both back through the SourceLoader option set; oracle is the parquet original stated once per format",
      """WITH staged AS (SELECT c_custkey,
        |    c_name || chr(10) || 'LINE2' AS c_name,
        |    c_nationkey, c_acctbal, c_mktsegment
        |  FROM customer)
        |SELECT 'csv' AS src, * FROM staged
        |UNION ALL
        |SELECT 'json' AS src, * FROM staged""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
      // every record spans two physical lines once written
      val staged = cust.withColumn("c_name",
        concat(col("c_name"), lit("\nLINE2")))
      val cols = staged.schema.fieldNames.map(col)
      val stagedFp = staged.queryExecution.analyzed.canonicalized.toString

      // ---- CSV leg (IN shape) -------------------------------------
      // corrupt rows: unparseable key + quoted embedded newline; the
      // PERMISSIVE read must land these in the corrupt column, not fail
      val csvCorrupt =
        "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment\n" +
          "oops,\"Bad\nRow\",notanint,notadouble,m\n" +
          "alsobad,n,1,2.0,m\n"
      val csvDir = stageCsv(s, dir, "q53csv", staged,
        "zz_corrupt.csv" -> csvCorrupt)
      val csvBack = s.read
        .option("header", true)
        .option("multiLine", true)
        .option("quote", "\"")
        .option("escape", "\"")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", SourceLoader.CorruptCol)
        .schema(StructType(staged.schema.fields :+
          StructField(SourceLoader.CorruptCol, StringType)))
        .csv(csvDir)
        .filter(col(SourceLoader.CorruptCol).isNull)
        .select(cols: _*)

      // ---- JSON leg (FR shape) ------------------------------------
      // string-typed numerics, then per-partition outer-ARRAY documents
      // (Spark writes JSON lines natively; the reference's feed is an
      // array per file, which is what multiLine=true parses)
      val jsonDir = DedupQueries.stageInputCached(s, dir, "q53json",
          "customer.parquet", stageFp(stagedFp, "json1")) { tmp =>
        import s.implicits._
        staged
          .withColumn("c_custkey", col("c_custkey").cast("string"))
          .withColumn("c_nationkey", col("c_nationkey").cast("string"))
          .withColumn("c_acctbal", col("c_acctbal").cast("string"))
          .toJSON
          .mapPartitions(it => Iterator.single(it.mkString("[", ",", "]")))
          .write.mode("overwrite").text(tmp.toString)
      }
      val jsonBack = typedCustomer(s.read
        .option("multiLine", true)
        .option("mode", "PERMISSIVE")
        .json(jsonDir))

      csvBack.withColumn("src", lit("csv"))
        .unionByName(jsonBack.withColumn("src", lit("json")))
        .select(col("src") +: cols: _*)
    },

    // ------------------------------------------------------------------
    // The SPLITTABLE multiline-CSV route (round-16 verdict #7) as a
    // first-class oracle-checked operator: multiLine=true pins Spark's
    // CSV source to one task per file, so at 100 TB ingest serializes
    // on file count; graft.ingest.SplitCsv makes the splits provably
    // record-safe with a distributed quote-parity boundary scan first
    // (two-pass, 2x I/O for unbounded parallelism). The staged corpus
    // gives every record an embedded newline AND an escaped quote —
    // both the things that make naive splitting unsafe — plus a
    // corrupt file the PERMISSIVE parse must capture and skip; the
    // tiny chunk size forces dozens of boundary-aligned ranges per
    // file, so the parallel route (not a degenerate single range) is
    // what the hash compare certifies. SplitCsvSpec additionally
    // proves row-identity against the multiLine reader itself.
    QueryDef(
      "q162_split_csv",
      "stage customer to quoted-multiline CSV (embedded newline + escaped quote per record, + a corrupt file) and read it back through the SPLITTABLE two-pass route: distributed quote-parity boundary scan -> boundary-aligned parallel ranges -> from_csv; PERMISSIVE corrupt capture; oracle restates the parquet original",
      """SELECT c_custkey, c_name || chr(10) || 'Q"T' AS c_name,
        |  c_nationkey, c_acctbal, c_mktsegment
        |FROM customer""".stripMargin) { (s, dir) =>
      // embedded newline + RFC4180 escaped quote in every record
      val staged = Tables.customer(s, dir).withColumn("c_name",
        concat(col("c_name"), lit("\nQ\"T")))
      val cols = staged.schema.fieldNames.map(col)
      val corrupt =
        "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment\n" +
          "oops,\"Bad\nRow\",notanint,notadouble,m\n"
      val csvDir = stageCsv(s, dir, "q162csv", staged,
        "zz_corrupt.csv" -> corrupt)
      graft.ingest.SplitCsv.read(s, s"$csvDir/*.csv",
          StructType(staged.schema.fields :+
            StructField(SourceLoader.CorruptCol, StringType)),
          SourceLoader.CorruptCol, chunkBytes = 4096)
        .filter(col(SourceLoader.CorruptCol).isNull)
        .select(cols.toIndexedSeq: _*)
    },

    // ------------------------------------------------------------------
    // The SPLITTABLE outer-array-JSON route (round-18 verdict #1) as a
    // first-class oracle-checked operator — the FR ingest shape:
    // multiLine=true pins Spark's JSON source to one task per file, so
    // at 100 TB the FR source serializes on file count;
    // graft.ingest.SplitJson makes byte splits provably element-safe
    // with a distributed three-start-state string/depth scan (two-pass,
    // 2x I/O for unbounded parallelism). The staged corpus gives every
    // record an escaped newline, an escaped quote AND a backslash —
    // the escape shapes that make naive splitting unsafe — with
    // string-typed numerics (the FR trait), plus a corrupt file whose
    // type-mismatched element must land in the corrupt column and be
    // skipped; the tiny chunk size forces dozens of boundary-aligned
    // ranges per file, so the parallel route (not a degenerate single
    // range) is what the hash compare certifies. SplitJsonSpec
    // additionally proves row-identity against the multiLine reader.
    QueryDef(
      "q163_split_json",
      "stage customer to outer-array JSON (escaped newline + quote + backslash per record, string-typed numerics, + a corrupt file) and read it back through the SPLITTABLE two-pass route: distributed string/depth boundary scan -> element-aligned parallel ranges -> from_json; PERMISSIVE corrupt capture; oracle restates the parquet original",
      """SELECT c_custkey, c_name || chr(10) || 'Q"\T' AS c_name,
        |  c_nationkey, c_acctbal, c_mktsegment
        |FROM customer""".stripMargin) { (s, dir) =>
      // escaped newline + quote + backslash in every record's name
      val staged = Tables.customer(s, dir).withColumn("c_name",
        concat(col("c_name"), lit("\nQ\"\\T")))
      val cols = staged.schema.fieldNames.map(col)
      // a bracket-balanced file whose element is UNPARSEABLE (bareword
      // value — under an all-string schema a mere type mismatch would
      // degrade to the field's JSON text, not corrupt) -> corrupt
      // column, skipped
      val corrupt =
        """[{"c_custkey": oops, "c_name": "Bad\nRow", "c_nationkey": "x",""" +
          """ "c_acctbal": "y", "c_mktsegment": "m"}]"""
      val jsonDir = stageJson(s, dir, "q163json", staged,
        "zz_corrupt.json" -> corrupt)
      typedCustomer(graft.ingest.SplitJson.read(s, s"$jsonDir/*",
          Some(stringly(staged)), SourceLoader.CorruptCol, chunkBytes = 16384)
        .filter(col(SourceLoader.CorruptCol).isNull))
    },

    // ------------------------------------------------------------------
    // The WHOLE-FILE ON_ERROR=CONTINUE contract of the splittable JSON
    // route (round-19 advice, landed round 20): one structurally broken
    // file among thousands must not abort a 100 TB load — the route
    // collapses it to ONE corrupt-marker row naming the file (counted
    // as skipped) while every neighbor file parses fully. This stages
    // the corpus as clean outer-array files PLUS two broken ones — a
    // document truncated mid-string (unbalanced) and one with trailing
    // bytes after the outer `]` (the balance-PRESERVING failure shape
    // an end-state check alone cannot catch) — reads through the split
    // route, and emits the surviving rows UNION one summary row
    // carrying the skipped-file count. The oracle certifies BOTH
    // directions: no broken file's rows leak (the trailing-garbage
    // file contains a well-formed decoy element that must NOT survive)
    // and exactly two files are skipped.
    QueryDef(
      "q164_split_json_skip",
      "whole-file ON_ERROR=CONTINUE through the splittable JSON route: clean outer-array files + a truncated file + a trailing-garbage file (with a well-formed decoy element); broken files collapse to one corrupt-marker row each, neighbors parse fully; output = surviving rows + a skipped-file-count summary row; oracle restates the parquet original plus the constant summary",
      """SELECT c_custkey, c_name || chr(10) || 'Q"\T' AS c_name,
        |  c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), '__skipped_files__',
        |  CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)""".stripMargin) { (s, dir) =>
      val staged = Tables.customer(s, dir).withColumn("c_name",
        concat(col("c_name"), lit("\nQ\"\\T")))
      // broken file 1: truncated mid-string — unbalanced at EOF
      val truncated = """[{"c_custkey": "1", "c_name": "half"""
      // broken file 2: balanced outer array, then trailing garbage —
      // its well-formed decoy element must NOT leak into the output
      val trailing =
        """[{"c_custkey": "999999999", "c_name": "decoy", "c_nationkey": "0",""" +
          """ "c_acctbal": "0", "c_mktsegment": "m"}] trailing-garbage"""
      val jsonDir = stageJson(s, dir, "q164json", staged,
        "zz_truncated.json" -> truncated, "zz_trailing.json" -> trailing)
      val read = graft.ingest.SplitJson.read(s, s"$jsonDir/*",
        Some(stringly(staged)), SourceLoader.CorruptCol, chunkBytes = 16384)
      typedCustomer(read.filter(col(SourceLoader.CorruptCol).isNull))
        .unionByName(skippedFileSummary(read))
    },

    // ------------------------------------------------------------------
    // q164's whole-file ON_ERROR=CONTINUE contract, CSV side (the
    // symmetric round-20 closing): a lone-CR-separated file — the
    // shape that would silently GLUE records and lose data — and an
    // unbalanced-quote file each collapse to one corrupt-marker row
    // (flagged out-of-band, so the classification holds under any
    // schema) while the clean multiline-quoted files parse fully.
    // Output and oracle shape as q164: surviving rows + a skipped-
    // file-count summary row, certifying no leak AND exactly two
    // files skipped.
    QueryDef(
      "q165_split_csv_skip",
      "whole-file ON_ERROR=CONTINUE through the splittable CSV route: clean quoted-multiline files + a lone-CR file (the silent record-gluing shape) + an unbalanced-quote file; broken files collapse to one corrupt-marker row each, neighbors parse fully; output = surviving rows + a skipped-file-count summary row; oracle restates the parquet original plus the constant summary",
      """SELECT c_custkey, c_name || chr(10) || 'Q"T' AS c_name,
        |  c_nationkey, c_acctbal, c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), '__skipped_files__',
        |  CAST(NULL AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)""".stripMargin) { (s, dir) =>
      val staged = Tables.customer(s, dir).withColumn("c_name",
        concat(col("c_name"), lit("\nQ\"T")))
      val cols = staged.schema.fieldNames.map(col)
      // broken file 1: lone-CR record separators — its decoy rows must
      // NOT leak (gluing would surface the first and drop the rest)
      val loneCr =
        "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment\r" +
          "999999999,decoy,0,0.0,m\r"
      // broken file 2: an unbalanced quote poisons everything after it
      val unbalanced =
        "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment\n" +
          "999999998,\"never closed,0,0.0,m\n"
      val csvDir = stageCsv(s, dir, "q165csv", staged,
        "zz_lonecr.csv" -> loneCr, "zz_unbalanced.csv" -> unbalanced)
      val read = graft.ingest.SplitCsv.read(s, s"$csvDir/*.csv",
        StructType(staged.schema.fields :+
          StructField(SourceLoader.CorruptCol, StringType)),
        SourceLoader.CorruptCol, chunkBytes = 4096)
      val good = read.filter(col(SourceLoader.CorruptCol).isNull)
        .select(cols.toIndexedSeq: _*)
      good.unionByName(skippedFileSummary(read))
    })
}
