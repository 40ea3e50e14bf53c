package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{MedallionFixture, SparkSpec}
import graft.keys.SurrogateKeys
import graft.model.{CountryConfig, Schemas}

/** The splittable multiline-CSV route (round-16 verdict #7): SplitCsv
  * must be ROW-IDENTICAL to Spark's one-task-per-file multiLine reader
  * — on the generated reference-layout IN files ([[MedallionFixture]]),
  * on the reference sales files themselves when present (their golden
  * counts), and on
  * adversarial synthetic corpora where quoted newlines, escaped
  * quotes, CRLF endings and corrupt rows straddle chunk boundaries at
  * every alignment a tiny chunk size can produce. */
class SplitCsvSpec extends SparkSpec {

  /** Comparison shape: data columns sorted by name PLUS the corrupt
    * classification as a null-flag — the corrupt TEXT differs by
    * construction (the multiLine reader echoes the raw record, the
    * split route echoes its CRLF-normalized record string), but
    * which rows are corrupt must match exactly (round-17 ADVICE:
    * dropping `_bad` made the PERMISSIVE-parity claim untested). */
  private def canon(df: DataFrame, corruptCol: String = "_bad"): DataFrame = {
    val data = df.columns.filterNot(_.startsWith("_")).sorted.map(col).toSeq
    val flag =
      if (df.columns.contains(corruptCol))
        Seq(col(corruptCol).isNotNull.as("zz_corrupt_flag"))
      else Seq.empty
    df.select((data ++ flag).toIndexedSeq: _*)
  }

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    val (ca, cb) = (canon(a), canon(b))
    assert(ca.count() == cb.count(), s"$what: counts differ")
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"$what: row sets differ")
  }

  private def salesSplitEqualsMultiLine(dataDir: String, rows: Long): Unit = {
    val cc = CountryConfig("IN")
    val mono = SourceLoader.readRaw(spark, dataDir, cc)
    val split = SplitCsv.read(spark,
      s"$dataDir/sales/source=IN/format=csv/date=*/*.csv",
      Schemas.inCsvSchema(SourceLoader.CorruptCol), SourceLoader.CorruptCol)
    assert(split.count() == rows, "golden count")
    val (ca, cb) = (canon(mono, SourceLoader.CorruptCol),
      canon(split, SourceLoader.CorruptCol))
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"$dataDir IN sales: row sets differ")
  }

  test("IN sales CSVs: split route == multiLine reader, rows identical") {
    salesSplitEqualsMultiLine(MedallionFixture.full, MedallionFixture.rawRows("full", "IN"))
  }

  test("reference sales CSVs: split route == multiLine reader, rows identical") {
    assumeReference()
    salesSplitEqualsMultiLine(refDataDir, 1931L)
  }

  test("adversarial corpus: boundaries inside quoted newlines at every tiny chunk size") {
    val dir = tempDir("splitcsv")
    // records exercising: embedded \n and \r\n in quotes, escaped ""
    // quotes, empty fields, a record far larger than the chunk size
    // (no valid boundary in several chunks), CRLF record endings, and
    // CORRUPT rows (too many columns) both routes must capture
    val rows = (0 until 200).map { i =>
      val addr = i % 4 match {
        case 0 => s""""line$i\nsecond line, with comma""""
        case 1 => s""""say ""hi""\r\nand \n more$i""""
        case 2 => "plain" + i
        case 3 => s""""${"x" * 120}\n${"y" * 120}""""
      }
      val tail = if (i % 7 == 0) "" else s"t$i"
      // every 13th row grows two EXTRA fields -> malformed under the
      // 3-column schema, must land in the corrupt column on BOTH routes
      val extra = if (i % 13 == 0) ",surplus,fields" else ""
      s"id$i,$addr,$tail$extra"
    }
    val body = "id,address,tag\r\n" + rows.mkString("\r\n") + "\r\n"
    Files.writeString(dir.resolve("a.csv"), body)
    // a second file with LF endings and no trailing newline
    Files.writeString(dir.resolve("b.csv"),
      "id,address,tag\nz1,\"multi\nline\",t\nz2,plain,")

    val schema = StructType(Seq(StructField("id", StringType),
      StructField("address", StringType), StructField("tag", StringType),
      StructField("_bad", StringType)))
    // cached: Spark refuses raw-CSV queries whose pruned schema is ONLY
    // the corrupt record column, and the corrupt-parity asserts below
    // are exactly such queries
    val mono = spark.read
      .option("header", true).option("multiLine", true)
      .option("quote", "\"").option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).csv(dir.toString)
      .cache()
    assert(mono.filter(col("_bad").isNotNull).count() > 0,
      "adversarial corpus must contain corrupt rows (else the corrupt-" +
        "parity leg of assertSame is vacuous)")
    for (chunk <- Seq(16L, 33L, 64L, 257L, 1L << 20)) {
      val split = SplitCsv.read(spark, s"$dir/*.csv", schema, "_bad", chunk)
      assertSame(mono, split, s"adversarial corpus at chunkBytes=$chunk")
    }
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  // the POINT of the two-pass design: a single multiline file yields
  // as many pass-2 ranges as its record boundaries allow. At small
  // chunks one day's IN file must fan out past the constant
  // 512-partition cap round 17 flagged (a cap means ~200 GB scanned
  // serially per task at 100 TB).
  private def fansOutPast512(dataDir: String, chunkBytes: Long): Unit = {
    val f = s"$dataDir/sales/source=IN/format=csv/date=2020-01-01/order-20200101.csv"
    val split = SplitCsv.read(spark, f,
      Schemas.inCsvSchema(SourceLoader.CorruptCol), SourceLoader.CorruptCol,
      chunkBytes = chunkBytes)
    val parts = split.rdd.getNumPartitions
    val kb = Files.size(Paths.get(f)) / 1024
    assert(parts > 512,
      s"splittable route produced only $parts partitions for a $kb KB file at $chunkBytes B chunks")
    assert(split.count() > 0)
  }

  test("split route parallelism scales with chunk count — past the old 512 cap") {
    fansOutPast512(MedallionFixture.full, 128L)
  }

  test("reference file: split route parallelism past the old 512 cap at 256 B chunks") {
    assumeReference()
    fansOutPast512(refDataDir, 256L) // the 168 KB reference file
  }

  // round-17 verdict #5: the route must be REACHABLE from the
  // medallion ingest path, not only via q162. Force the gate both
  // ways in-process and require identical loadCountry output —
  // lineage columns (file name, row number, modification time) and
  // surrogate keys included.
  private def gatedRoutesAgree(dataDir: String, loaded: Long): Unit = {
    val cc = CountryConfig("IN")
    assert(SourceLoader.readRaw(spark, dataDir, cc, splitMinBytes = 0L)
      .columns.contains("_rec_offset"), "gate did not pick the split route")
    val (splitRows, splitSkipped) = SourceLoader.loadCountry(spark, dataDir, cc,
      splitMinBytes = 0L)
    val (monoRows, monoSkipped) = SourceLoader.loadCountry(spark, dataDir, cc,
      splitMinBytes = Long.MaxValue)
    assert(splitSkipped == monoSkipped, "skip counts differ")
    // keyed as the source load keys them
    def keyed(rows: DataFrame): DataFrame = SurrogateKeys.dense(rows,
      Seq(col("_metadata_file_name"), col("_metadata_row_number")), "sales_order_key")
    val (a, b) = (keyed(splitRows), keyed(monoRows))
    assert(a.count() == loaded, "split-route golden count")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "gated split route and multiLine route disagree on loadCountry output")
  }

  test("SourceLoader csv branch gated onto the split route == multiLine route, manifest counts") {
    gatedRoutesAgree(MedallionFixture.full, MedallionFixture.count("/full/source/IN/loaded"))
  }

  test("SourceLoader csv branch gated onto the split route == multiLine route, golden counts") {
    assumeReference()
    gatedRoutesAgree(refDataDir, 1931L)
  }

  test("driver holds O(#files) not O(#chunks): many-chunk corpus, listing-only materialization") {
    // round-18 verdict #2: pass 1 used to collect one ChunkScan per
    // chunk to the driver (~3.3M tuples twice over at 100 TB / 32 MB).
    // Two files at 16 B chunks fan out to hundreds of chunks; the
    // driver-held hook must report exactly the FILE count, and the
    // chunk-scaled parallelism must survive the distributed combine.
    val dir = tempDir("splitcsv_files")
    def body(tag: String) = "id,address,tag\n" + (0 until 120).map { i =>
      s"$tag$i,\"quoted\nline$i\",t$i"
    }.mkString("\n") + "\n"
    Files.writeString(dir.resolve("a.csv"), body("a"))
    Files.writeString(dir.resolve("b.csv"), body("b"))
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("address", StringType), StructField("tag", StringType),
      StructField("_bad", StringType)))
    val split = SplitCsv.read(spark, s"$dir/*.csv", schema, "_bad", 16L)
    assert(split.count() == 240L)
    assert(SplitFiles.lastDriverHeld.get() == 2L,
      s"driver materialized ${SplitFiles.lastDriverHeld.get()} tuples for a " +
        "2-file corpus — the per-chunk driver collection is back")
    assert(split.rdd.getNumPartitions > 100,
      s"only ${split.rdd.getNumPartitions} partitions — the distributed " +
        "combine lost the chunk-scaled parallelism")
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  test("structurally broken files degrade to ONE corrupt marker row, not a job abort") {
    // the SplitJson round-20 ON_ERROR=CONTINUE contract, applied to
    // CSV: a lone-CR-separated file (round-17 ADVICE: gluing +
    // from_csv drops all but the first record — data loss with no
    // corrupt capture) and an unbalanced-quote file each collapse to
    // ONE corrupt-marker row naming the file — flagged OUT-OF-BAND,
    // so the classification holds even under this all-string schema,
    // which would happily parse any in-band marker text — while
    // neighbor files parse fully and a 100 TB load never aborts.
    val dir = tempDir("splitcsv_cr")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("address", StringType), StructField("tag", StringType),
      StructField("_bad", StringType)))
    Files.writeString(dir.resolve("cr.csv"),
      "id,address,tag\rr1,a,b\rr2,c,d\r")
    Files.writeString(dir.resolve("unbalanced.csv"),
      "id,address,tag\nu1,\"never closed,t\n")
    Files.writeString(dir.resolve("good.csv"),
      "id,address,tag\ng1,\"multi\nline\",t\ng2,plain,u\n")
    val df = SplitCsv.read(spark, s"$dir/*.csv", schema, "_bad", 16L).cache()
    assert(df.count() == 4L, "2 good rows + 2 whole-file corrupt markers")
    val markers = df.filter(col("_bad").isNotNull).select("_bad").collect()
      .map(_.getString(0)).sorted
    assert(markers.length == 2, s"expected two markers, got ${markers.toSeq}")
    assert(markers.exists(m => m.contains("cr.csv") && m.contains("lone \\r")),
      s"lone-CR file must yield a reasoned marker: ${markers.toSeq}")
    assert(markers.exists(m =>
        m.contains("unbalanced.csv") && m.contains("unbalanced quotes")),
      s"unbalanced-quote file must yield a reasoned marker: ${markers.toSeq}")
    assert(df.filter(col("_bad").isNull).select("id").collect()
      .map(_.getString(0)).toSet == Set("g1", "g2"),
      "the good neighbor file must parse fully")
    // lone CRs INSIDE quotes are data, not separators — must still read
    Files.writeString(dir.resolve("ok.csv"),
      "id,address,tag\nq1,\"with\rcarriage\",t\nq2,plain,u\n")
    val ok = SplitCsv.read(spark, s"$dir/ok.csv", schema, "_bad", 16L)
    assert(ok.count() == 2L, "in-quote CR corpus must parse")
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }
}
