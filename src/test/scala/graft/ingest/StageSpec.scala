package graft.ingest

import graft.{MedallionFixture, SparkSpec}
import graft.model.CountryConfig

/** S2 stage/landing copy: layout preservation + downstream readability,
  * over the generated reference layout ([[MedallionFixture]]). */
class StageSpec extends SparkSpec {

  test("landing copy preserves partition layout and stays readable") {
    val drop = MedallionFixture.full
    val landing = tempDir("landing").toString
    val copied = Stage.copyToLanding(spark, drop, landing)

    // every sales partition path and the forex csv arrive, paths intact
    assert(copied.nonEmpty)
    assert(copied.exists(_.startsWith("sales/source=IN/format=csv/date=")))
    assert(copied.exists(_.startsWith("sales/source=US/format=parquet/date=")))
    assert(copied.exists(_.startsWith("sales/source=FR/format=json/date=")))
    assert(copied.contains("exchange-rate-data.csv"))

    // re-running overwrites idempotently (ref: overwrite=True)
    assert(Stage.copyToLanding(spark, drop, landing) == copied)

    // the landing copy is a drop-in replacement for the drop zone: the
    // multiline-CSV reader sees the same records through the same listing
    val fromLanding = SourceLoader.readRaw(spark, landing, CountryConfig("IN")).count()
    val fromSource = SourceLoader.readRaw(spark, drop, CountryConfig("IN")).count()
    assert(fromLanding == fromSource)
    assert(fromSource == MedallionFixture.rawRows("full", "IN"))
  }

  test("a country with no staged file fails its read instead of loading zero rows") {
    val empty = tempDir("empty_drop").toString
    CountryConfig.all.foreach { cc =>
      val e = intercept[java.io.FileNotFoundException](SourceLoader.readRaw(spark, empty, cc))
      assert(e.getMessage.contains(s"source=${cc.code}/format=${cc.format}"), e.getMessage)
    }
  }
}
