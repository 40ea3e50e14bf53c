package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{MedallionFixture, SparkSpec}
import graft.keys.SurrogateKeys
import graft.model.CountryConfig

/** The splittable outer-array-JSON route (round-18 verdict #1): SplitJson
  * must be ROW-IDENTICAL to Spark's one-task-per-file multiLine reader —
  * on the generated reference-layout FR files ([[MedallionFixture]]), on
  * the reference FR sales files themselves when present (their golden
  * counts), and on
  * adversarial synthetic corpora where escapes, nested structures,
  * scalar/null elements and corrupt (type-mismatched) elements straddle
  * chunk boundaries at every alignment a tiny chunk size can produce. */
class SplitJsonSpec extends SparkSpec {

  /** Comparison shape: data columns sorted by name PLUS the corrupt
    * classification as a null-flag — the corrupt TEXT may differ by
    * construction (the multiLine reader echoes Jackson's view of the
    * element, the split route echoes its sliced element string), but
    * which rows are corrupt must match exactly (same contract as
    * SplitCsvSpec). */
  private def canon(df: DataFrame, corruptCol: String = "_bad"): DataFrame = {
    val data = df.columns.filterNot(_.startsWith("_")).sorted.map(col).toSeq
    val flag =
      if (df.columns.contains(corruptCol))
        Seq(col(corruptCol).isNotNull.as("zz_corrupt_flag"))
      else Seq.empty
    df.select((data ++ flag).toIndexedSeq: _*)
  }

  private def assertSame(a: DataFrame, b: DataFrame, what: String,
      corruptCol: String = "_bad"): Unit = {
    val (ca, cb) = (canon(a, corruptCol), canon(b, corruptCol))
    assert(ca.count() == cb.count(), s"$what: counts differ")
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"$what: row sets differ")
  }

  private def salesSplitEqualsMultiLine(dataDir: String, rows: Long): Unit = {
    val cc = CountryConfig("FR")
    val mono = SourceLoader.readRaw(spark, dataDir, cc)
    val split = SplitJson.read(spark,
      s"$dataDir/sales/source=FR/format=json/date=*/*.json",
      None, SourceLoader.CorruptCol)
    assert(split.count() == rows, "golden count")
    val (ca, cb) = (canon(mono, SourceLoader.CorruptCol),
      canon(split, SourceLoader.CorruptCol))
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty,
      s"$dataDir FR sales: row sets differ")
  }

  test("FR sales JSON: split route == multiLine reader, rows identical") {
    salesSplitEqualsMultiLine(MedallionFixture.full, MedallionFixture.rawRows("full", "FR"))
  }

  test("reference FR sales JSON: split route == multiLine reader, rows identical") {
    assumeReference()
    salesSplitEqualsMultiLine(refDataDir, 1517L) // 882 + 635
  }

  test("adversarial corpus: boundaries inside strings/escapes at every tiny chunk size") {
    val dir = tempDir("splitjson")
    // elements exercising: escaped quotes and newlines, backslash runs
    // (\\ then \" — a chunk split can land between the two bytes),
    // unicode escapes, nested objects and arrays whose strings contain
    // `}]` decoys, null-valued fields, and an element far larger than
    // the chunk size (no boundary in several chunks). All elements are
    // valid objects: per-element corrupt handling has its own pinned
    // leg below, because the multiLine reader's corrupt semantics are
    // whole-file, which a splittable route intentionally refines.
    val objs = (0 until 150).map { i =>
      i % 4 match {
        case 0 => s"""{"id": "a$i", "txt": "line\\nsecond, with comma", "n": $i}"""
        case 1 => s"""{"id": "b$i", "txt": "say \\"hi\\" \\\\ and \\u00e9 more", "n": $i}"""
        case 2 => s"""{"id": "c$i", "txt": "${"x" * 300}", "n": $i,
                     |  "deep": {"a": [1, 2, {"b": "}]...str"}]}}""".stripMargin
        case 3 => s"""{"id": "e$i", "txt": null, "n": $i}"""
      }
    }
    // one pretty-printed file (multi-line elements), one compact
    // single-line file without trailing newline
    Files.writeString(dir.resolve("a.json"),
      objs.take(100).mkString("[\n  ", ",\n  ", "\n]\n"))
    Files.writeString(dir.resolve("b.json"),
      objs.drop(100).mkString("[", ",", "]"))

    val schema = StructType(Seq(StructField("id", StringType),
      StructField("txt", StringType), StructField("n", LongType),
      StructField("_bad", StringType)))
    val mono = spark.read
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).json(dir.toString)
      .cache()
    assert(mono.count() == 150L, "mono reader must parse the corpus cleanly")
    for (chunk <- Seq(16L, 33L, 64L, 257L, 1L << 20)) {
      val split = SplitJson.read(spark, s"$dir/*.json", Some(schema), "_bad", chunk)
      assertSame(mono, split, s"adversarial corpus at chunkBytes=$chunk")
    }
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  test("corrupt semantics: per-ELEMENT capture where the multiLine reader poisons the file") {
    // Probed multiLine behavior (pinned here so a Spark upgrade that
    // changes it fails loudly): ONE type-mismatched element sets the
    // corrupt column of EVERY row in the file to the whole file text,
    // and a null/scalar top-level element degrades the whole file to a
    // single all-null corrupt row. The splittable route intentionally
    // REFINES both: exactly the offending element lands in the corrupt
    // column (whole-file blast radius is the one multiLine semantic a
    // byte-range reader cannot and should not reproduce at 100 TB),
    // null elements are dropped, and every well-formed object still
    // parses. ON_ERROR=CONTINUE downstream (loadCountry) drops corrupt
    // rows either way — this leg pins the upstream divergence itself.
    val dir = tempDir("splitjson_corrupt")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("n", LongType), StructField("_bad", StringType)))
    def mono(name: String) = spark.read
      .option("multiLine", true).option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).json(dir.resolve(name).toString)
    def split(name: String) = SplitJson.read(spark,
      dir.resolve(name).toString, Some(schema), "_bad", chunkBytes = 16L)

    // one bad element among two good ones
    Files.writeString(dir.resolve("mismatch.json"),
      """[{"id": "g1", "n": 1}, {"id": "d1", "n": {"bad": true}}, {"id": "g2", "n": 2}]""")
    val m1 = mono("mismatch.json").cache()
    assert(m1.count() == 3L &&
      m1.filter(col("_bad").isNotNull).count() == 3L,
      "multiLine whole-file corrupt poisoning changed — revisit the route divergence contract")
    val s1 = split("mismatch.json").cache()
    assert(s1.count() == 3L, "split route must keep all three elements")
    assert(s1.filter(col("_bad").isNotNull).select("id").collect()
      .map(_.getString(0)).toSeq == Seq("d1"),
      "split route must capture exactly the mismatched element")
    assert(s1.filter(col("_bad").isNull).select("id", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("g1", 1L), ("g2", 2L)),
      "good elements must parse with their values intact")

    // null + scalar top-level elements among good objects
    Files.writeString(dir.resolve("nonobj.json"),
      """[{"id": "g1", "n": 1}, null, 42, {"id": "g2", "n": 2}]""")
    val m2 = mono("nonobj.json").cache()
    assert(m2.count() == 1L && m2.filter(col("_bad").isNotNull).count() == 1L,
      "multiLine whole-file degradation on non-object elements changed")
    val s2 = split("nonobj.json").cache()
    assert(s2.filter(col("_bad").isNull).count() == 2L &&
      s2.filter(col("_bad").isNotNull).count() == 1L && s2.count() == 3L,
      "split route: two good objects, the scalar corrupt, the null dropped")
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  // The split route's inferred-schema path (SplitJson.read with no
  // schema) must land the same typed columns as the multiLine reader's
  // own inference (string-typed numerics stay strings, real numerics
  // land long/double) in the same field order. SourceLoader reads both
  // routes through the declared schema, so the multiLine side here is
  // the plain inferring reader.
  private def inferenceAgrees(dataDir: String): Unit = {
    val mono = spark.read
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", SourceLoader.CorruptCol)
      .json(s"$dataDir/sales/source=FR/format=json/date=*")
    val split = SplitJson.read(spark,
      s"$dataDir/sales/source=FR/format=json/date=*/*.json",
      None, SourceLoader.CorruptCol, chunkBytes = 4096)
    val monoData = mono.schema.fields
      .filterNot(f => f.name == SourceLoader.CorruptCol || f.name.startsWith("_"))
    val splitData = split.schema.fields
      .filterNot(f => f.name == SourceLoader.CorruptCol || f.name.startsWith("_"))
    assert(monoData.map(f => (f.name, f.dataType)).toSeq ==
      splitData.map(f => (f.name, f.dataType)).toSeq,
      s"inferred schemas differ:\n  mono: ${monoData.mkString(", ")}\n" +
        s"  split: ${splitData.mkString(", ")}")
  }

  test("inferred-schema path matches the multiLine reader's inference") {
    inferenceAgrees(MedallionFixture.full)
  }

  test("reference FR files: inferred-schema path matches the multiLine reader's inference") {
    assumeReference()
    inferenceAgrees(refDataDir)
  }

  // the route must be REACHABLE from the medallion ingest path, not
  // only via q163 (the SplitCsv precedent, round-17 verdict #5):
  // force the gate both ways in-process and require identical
  // loadCountry output — lineage columns and surrogate keys included.
  private def gatedRoutesAgree(dataDir: String, loaded: Long): Unit = {
    val cc = CountryConfig("FR")
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

  test("SourceLoader json branch gated onto the split route == multiLine route, manifest counts") {
    gatedRoutesAgree(MedallionFixture.full, MedallionFixture.count("/full/source/FR/loaded"))
  }

  test("SourceLoader json branch gated onto the split route == multiLine route, golden counts") {
    assumeReference()
    gatedRoutesAgree(refDataDir, 1517L)
  }

  test("driver holds O(#files) not O(#chunks); parallelism scales with chunk count") {
    val dir = tempDir("splitjson_files")
    def body(tag: String) = (0 until 150).map { i =>
      s"""{"id": "$tag$i", "txt": "multi\\nline $i", "n": $i}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(dir.resolve("a.json"), body("a"))
    Files.writeString(dir.resolve("b.json"), body("b"))
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("txt", StringType), StructField("n", LongType),
      StructField("_bad", StringType)))
    val split = SplitJson.read(spark, s"$dir/*.json", Some(schema), "_bad", 16L)
    assert(split.count() == 300L)
    assert(SplitFiles.lastDriverHeld.get() == 2L,
      s"driver materialized ${SplitFiles.lastDriverHeld.get()} tuples for a " +
        "2-file corpus — a per-chunk driver collection appeared")
    assert(split.rdd.getNumPartitions > 100,
      s"only ${split.rdd.getNumPartitions} partitions — the distributed " +
        "combine lost the chunk-scaled parallelism")
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  test("structurally broken files degrade to ONE corrupt marker row, not a job abort") {
    // round-19 advice: the old combine require() meant one damaged
    // file among thousands aborted a whole 100 TB load exactly when
    // the split route is gated on. Now the broken file collapses to a
    // single corrupt-marker row naming it (ON_ERROR=CONTINUE counts it
    // skipped) while its neighbors parse fully. The multiLine reader
    // degrades the same file to one corrupt row carrying the whole
    // FILE text; the marker carries name + reason instead — a
    // documented divergence (a 100 TB route must not build huge rows).
    val dir = tempDir("splitjson_bad")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("_bad", StringType)))
    Files.writeString(dir.resolve("good1.json"), """[{"id": "g1"}, {"id": "g2"}]""")
    Files.writeString(dir.resolve("broken.json"), """[{"id": "x"}""")
    Files.writeString(dir.resolve("good2.json"), """[{"id": "g3"}]""")
    val df = SplitJson.read(spark, s"$dir/*.json", Some(schema), "_bad", 16L).cache()
    assert(df.count() == 4L, "3 good rows + 1 whole-file corrupt marker")
    val bad = df.filter(col("_bad").isNotNull).select("_bad").collect()
    assert(bad.length == 1, "exactly one corrupt marker for the broken file")
    val marker = bad.head.getString(0)
    assert(marker.startsWith(SplitFiles.CorruptFilePrefix)
        && marker.contains("broken.json")
        && marker.contains("outer-array JSON"),
      s"marker must name the file and the reason: $marker")
    assert(df.filter(col("_bad").isNull).select("id").collect()
      .map(_.getString(0)).toSet == Set("g1", "g2", "g3"),
      "neighbor files must parse fully despite the broken one")
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  test("structural validation: wrong shapes and trailing garbage each yield a reasoned marker") {
    val dir = tempDir("splitjson_shapes")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("_bad", StringType)))
    def markerOf(name: String, body: String, chunk: Long): String = {
      Files.writeString(dir.resolve(name), body)
      val df = SplitJson.read(spark, dir.resolve(name).toString,
        Some(schema), "_bad", chunk)
      val bad = df.filter(col("_bad").isNotNull
        && col("_bad").startsWith(SplitFiles.CorruptFilePrefix))
        .select("_bad").collect()
      assert(bad.length == 1,
        s"$name at chunk=$chunk: expected one whole-file marker, got " +
          s"${bad.length} (rows=${df.count()})")
      assert(df.count() == 1L,
        s"$name at chunk=$chunk: a corrupt file must yield ONLY its marker")
      bad.head.getString(0)
    }
    // top-level object (JSON-lines shape, not the FR array shape)
    assert(markerOf("obj.json", """{"id": "x"}""", 16L)
      .contains("top-level JSON array"))
    // trailing garbage after the outer `]` — round-19 advice: the
    // split route used to parse this silently while the multiLine
    // reader corrupt-flags the file. Same chunk as the close AND in a
    // later chunk (the two detection paths).
    assert(markerOf("trail1.json", """[{"id": "a"}] xyz""", 1L << 20)
      .contains("after the outer array closes"))
    // close chunk is `]` + spaces only; the garbage byte is in a LATER
    // chunk (the first-non-whitespace detection path)
    assert(markerOf("trail2.json", "[{\"id\": \"a\"}]   z", 16L)
      .contains("after the outer array closes"))
    // a SECOND outer array after the close (balanced, so end-state
    // balance alone cannot catch it) — both chunk alignments
    assert(markerOf("twoarr1.json", """[{"id": "a"}][{"id": "b"}]""", 1L << 20)
      .contains("after the outer array closes"))
    assert(markerOf("twoarr2.json", """[{"id": "a"}] [{"id": "b"}]""", 16L)
      .contains("after the outer array closes"))
    // brackets dipping below the top level but balanced at EOF
    assert(markerOf("dip.json", """[{"id": "a"}]]{"x": 1}""", 16L)
      .nonEmpty)
    // garbage before the array opens
    assert(markerOf("lead.json", """xyz [{"id": "a"}]""", 16L)
      .contains("top-level JSON array"))
    // a `}` closing the top level balances the depth but is not an
    // outer ARRAY close — malformed (Jackson rejects it); both chunk
    // alignments (close in the leading chunk / in a later chunk)
    assert(markerOf("objclose1.json", """[{"id": "a"}}""", 1L << 20)
      .contains("closes with '}'"))
    assert(markerOf("objclose2.json", """[{"id": "a"}}""", 16L)
      .contains("closes with '}'"))
    // degenerate close-run OUTSIDE any string: the TRUE-state scan
    // overflows the cap and the file is corrupt, not OOM or accepted
    // (the counterpart of the wrong-state-overflow tolerance below).
    // The chunk must EXCEED the 1M cap in bytes — a chunk of cap-many
    // bytes can never record more than cap closes — and the middle
    // chunk must be close-dominated: 2.5M nesting levels, 2 MiB chunks
    // put ~1.5M closes in one chunk
    val k = 2_500_000
    Files.writeString(dir.resolve("degenerate.json"),
      "[" * k + "]" * k)
    val deg = SplitJson.read(spark, dir.resolve("degenerate.json").toString,
      Some(schema), "_bad", 2L << 20)
    val degBad = deg.select("_bad").collect()
    assert(degBad.length == 1 &&
        degBad.head.getString(0).contains("top-level closes in one chunk"),
      s"degenerate bracket run must yield the overflow marker: " +
        s"${degBad.map(_.getString(0)).toSeq.take(1)}")
    // elements juxtaposed without a comma: Jackson rejects the file;
    // pass 2 knows every range past byte 0 begins right after an
    // element close, so the element missing its `,` lands in the
    // corrupt column as its own text and its neighbor parses — with
    // the boundary between the two elements (16 B) and inside one
    // range (1 MiB)
    Files.writeString(dir.resolve("nocomma.json"),
      """[{"id": "a"} {"id": "b"}]""")
    for (chunk <- Seq(16L, 1L << 20)) {
      val strict = SplitJson.read(spark, dir.resolve("nocomma.json").toString,
        Some(schema), "_bad", chunk).cache()
      assert(strict.filter(col("_bad").isNull).select("id").collect()
        .map(_.getString(0)).toSeq == Seq("a"),
        s"chunk=$chunk: the separated element must parse")
      assert(strict.filter(col("_bad").isNotNull).select("_bad").collect()
        .map(_.getString(0)).toSeq == Seq("""{"id": "b"}"""),
        s"chunk=$chunk: the unseparated element must be corrupt as its own text")
    }
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  test("array-typed top-level elements split on ] closes and slice exactly") {
    // round-19 advice: boundaries were only recorded at `}` closes, so
    // an all-array-element file collapsed to ONE pass-2 range. A `]`
    // close at absolute depth-after 1 is always a top-level element's
    // end (the outer close lands at 0), so it is a boundary now; this
    // leg proves pass 2 slices correctly from ranges that START right
    // after an array element, across adversarial chunk alignments
    // (with `}]` decoys inside strings).
    val dir = tempDir("splitjson_arr")
    val elems = Seq("""[1, 2, 3]""", """["a}]", [4, {"k": "]"}]]""",
      """[5]""", """["x", null]""")
    Files.writeString(dir.resolve("arr.json"), elems.mkString("[", ", ", "]"))
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("_bad", StringType)))
    for (chunk <- Seq(16L, 17L, 23L, 64L)) {
      val df = SplitJson.read(spark, dir.resolve("arr.json").toString,
        Some(schema), "_bad", chunk)
      // with an object schema every array element is a corrupt ROW
      // (per-element capture) whose corrupt text is the element —
      // which is exactly how we observe the slicing
      val texts = df.select("_bad").collect().map(_.getString(0)).toSet
      assert(texts == elems.toSet,
        s"chunk=$chunk: sliced elements differ: $texts")
    }
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }

  test("a long }-run inside a string overflows only the wrong-state scan; the file still parses") {
    // round-19 advice: the new-minimum-closes cap used to fail the
    // whole read from the WRONG-state scan of a valid file whose
    // string literal contains a >1M net-descending close run. The cap
    // is now a soft overflow flag, consulted only for the TRUE start
    // state. 2.5M of '}' inside a string, 2 MiB chunks (> the 1M
    // cap): the leading chunk's WRONG StOut-start scan sees ~2M net
    // closes and overflows — but its true state keeps them in-string.
    val dir = tempDir("splitjson_ovf")
    val braces = "}" * 2_500_000
    Files.writeString(dir.resolve("ovf.json"),
      s"""[{"id": "$braces"}, {"id": "tail"}]""")
    val schema = StructType(Seq(StructField("id", StringType),
      StructField("_bad", StringType)))
    val df = SplitJson.read(spark, dir.resolve("ovf.json").toString,
      Some(schema), "_bad", 2L << 20).cache()
    assert(df.count() == 2L, "both elements must parse")
    assert(df.filter(col("_bad").isNotNull).count() == 0L,
      "a valid file must not be marked corrupt by a wrong-state overflow")
    assert(df.filter(col("id") === "tail").count() == 1L)
    assert(df.filter(length(col("id")) === 2_500_000).count() == 1L)
    graft.queries.DedupQueries.rmQuietly(dir.toString)
  }
}
