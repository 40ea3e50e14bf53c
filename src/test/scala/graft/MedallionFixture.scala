package graft

import java.nio.file.Paths

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** A generated copy of the reference's medallion input layout, shared by
  * the suites of one test JVM: `perfbench/gen_medallion.py` writes a full
  * drop (2 days) and an incremental drop (1 day) of 800 orders per day
  * and country, with the reference's quirks (multiline-quoted IN CSV,
  * snappy US parquet, FR JSON arrays of string numerics, planted bad
  * rows, re-deliveries), plus a `manifest.json` of the counts each layer
  * must reach, derived from the construction. The generator runs once
  * through `python3` (pyarrow) into a dir that goes with the JVM. */
object MedallionFixture {

  /** gen_medallion.generate's (seed, days_full, days_incr, rows). */
  private val GenArgs = Seq(7, 2, 1, 800)

  lazy val root: String = {
    val gen = Paths.get(sys.props("user.dir"), "perfbench")
    require(gen.resolve("gen_medallion.py").toFile.isFile,
      s"gen_medallion.py not found under $gen (run the tests from the repository root)")
    val out = TestSession.tempDir("medallion_fixture").toString
    val script = "import sys; sys.path.insert(0, sys.argv[1]); import gen_medallion; " +
      "gen_medallion.generate(sys.argv[2], *map(int, sys.argv[3:]))"
    val cmd = Seq("python3", "-B", "-c", script, gen.toString, out) ++ GenArgs.map(_.toString)
    val p = new ProcessBuilder(cmd: _*).inheritIO().start()
    require(p.waitFor() == 0, s"gen_medallion.generate exited with ${p.exitValue()}")
    out
  }

  /** The full drop's data dir (MedallionJob's `<dataDir>` layout). */
  def full: String = s"$root/full"
  /** The incremental drop's data dir. */
  def incr: String = s"$root/incr"

  lazy val manifest: JsonNode =
    new ObjectMapper().readTree(Paths.get(root, "manifest.json").toFile)

  /** A count from the manifest by JSON pointer, e.g. `/full/source/IN/loaded`. */
  def count(pointer: String): Long = {
    val n = manifest.at(pointer)
    require(n.isNumber, s"manifest has no number at $pointer")
    n.asLong
  }

  /** Rows in one drop's files of a country, bad rows included — what a
    * raw read of those files returns. */
  def rawRows(drop: String, country: String): Long =
    count(s"/$drop/source/$country/loaded") + count(s"/$drop/source/$country/skipped")
}
