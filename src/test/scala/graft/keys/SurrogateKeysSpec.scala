package graft.keys

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Invariants of the distributed dense-key generator (SURVEY §5 item 1):
  * density, determinism, offset continuation — including sizes that
  * exercise empty partitions and single rows. (Raw ScalaCheck Gen with a
  * fixed seed — the scalatest bridge artifact isn't in the offline
  * cache.) */
class SurrogateKeysSpec extends SparkSpec {

  private def keyed(n: Int, offset: Long = 0L) = {
    import spark.implicits._
    val df = (0 until n).map(i => ((i * 7919) % 104729, s"row$i")).toDF("k", "v")
    SurrogateKeys.dense(df, Seq(col("k"), col("v")), "sk", offset)
  }

  test("keys are dense 1..n and follow the requested order") {
    val out = keyed(5000).orderBy("sk").collect()
    assert(out.map(_.getAs[Long]("sk")).toSeq == (1L to 5000L))
    // order of keys == lexicographic order of (k, v)
    val sortedPairs = out.map(r => (r.getAs[Int]("k"), r.getAs[String]("v")))
    assert(sortedPairs.toSeq == sortedPairs.toSeq.sorted)
  }

  test("empty input produces empty output, schema intact") {
    val out = keyed(0)
    assert(out.count() == 0)
    assert(out.columns.contains("sk"))
  }

  test("offset continues the sequence (nextval across incremental loads)") {
    val gen = Gen.zip(Gen.choose(1, 200), Gen.choose(0L, 1000000L))
    val cases = (0 until 8).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))
    assert(cases.nonEmpty)
    cases.foreach { case (n, offset) =>
      val ks = keyed(n, offset).select("sk").collect().map(_.getLong(0)).sorted
      assert(ks.toSeq == ((offset + 1) to (offset + n)), s"n=$n offset=$offset")
    }
  }

  test("denseCounted returns the keyed row count, empty input and empty partitions included") {
    import spark.implicits._
    def check(df: org.apache.spark.sql.DataFrame, n: Long, offset: Long): Unit = {
      val (out, count) = SurrogateKeys.denseCounted(df, Seq(col("k")), "sk", offset)
      assert(count == n, s"returned count $count for $n rows")
      assert(out.select("sk").collect().map(_.getLong(0)).sorted.toSeq ==
        ((offset + 1) to (offset + n)), s"n=$n offset=$offset")
    }
    check(Seq.empty[Int].toDF("k"), 0L, 0L)
    check(Seq.empty[Int].toDF("k"), 0L, 17L)
    // without adaptive coalescing the range exchange keeps its empty
    // partitions: many rows on one key, or 1..3 rows over 4 partitions
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val oneKey = Seq.fill(50)(7).toDF("k")
      val parts = oneKey.repartitionByRange(4, col("k")).rdd
        .mapPartitions(it => Iterator(it.size)).collect()
      assert(parts.contains(0), s"no empty partition: ${parts.mkString(",")}")
      check(oneKey, 50L, 0L)
      for (n <- 1 to 3) check((1 to n).toDF("k"), n.toLong, 100L)
      check((0 until 5000).map(i => (i * 7919) % 104729).toDF("k"), 5000L, 0L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("deterministic across repeated evaluation") {
    val a = keyed(3000).collect().map(r => (r.getAs[String]("v"), r.getAs[Long]("sk"))).sorted
    val b = keyed(3000).collect().map(r => (r.getAs[String]("v"), r.getAs[Long]("sk"))).sorted
    assert(a.toSeq == b.toSeq)
  }
}
