package graft.queries

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.CrossEngine

/** Operator invariants over generated data (SURVEY §5 item 1):
  * dedup idempotence, union-distinct semantics, minhash containment,
  * simhash locality-ish sanity. */
class OperatorPropertiesSpec extends SparkSpec {

  private def randomDocs(seed: Long, n: Int) = {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val gen = Gen.listOfN(30, Gen.oneOf(words))
    (0 until n).map { i =>
      val toks = gen.apply(Gen.Parameters.default, Seed(seed + i)).get
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val docs = randomDocs(7L, 200)
    val doubled = docs.union(docs)
    def dedup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(md5(col("text").cast("binary")).as("k"))
        .agg(min("doc_id").as("doc_id"))
    val once = dedup(doubled.select(col("doc_id"), col("text")))
    val joined = once.join(docs, "doc_id").select("doc_id", "text")
    val twice = dedup(joined)
    assert(once.count() == twice.count())
    assert(once.count() == docs.select("text").distinct().count())
  }

  test("union-distinct == ANSI UNION semantics (Snowpark union parity)") {
    import spark.implicits._
    val a = Seq(1, 2, 2, 3).toDF("x")
    val b = Seq(3, 4, 4).toDF("x")
    val unionDistinct = a.union(b).distinct().as[Int].collect().sorted
    assert(unionDistinct.toSeq == Seq(1, 2, 3, 4))
  }

  test("minhash signature of identical docs is identical; of disjoint docs differs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"), // identical
      (3L, "q r s t u v w x") // disjoint vocabulary
    ).toDF("doc_id", "text")
    val sh = docs
      .select(col("doc_id"), explode(CrossEngine.shingles(col("text"), 3)).as("sg"))
      .select(col("doc_id"), CrossEngine.tokenHash(col("sg")).as("h"))
    val sig = sh.groupBy("doc_id")
      .agg(min(CrossEngine.permHash(col("h"), 0)).as("m0"),
        min(CrossEngine.permHash(col("h"), 1)).as("m1"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("embedding near-dup emits ordered pairs above threshold only") {
    val nd = graft.SparkEntry.queries("q37_embedding_neardup")(spark, sfDir)
    assert(nd.filter(col("a_id") >= col("b_id")).count() == 0)
    assert(nd.filter(col("cosine") < 0.38).count() == 0)
    // identical vectors always share every band bucket -> a duplicated
    // corpus must surface each planted duplicate pair at cosine ~ 1
    val e = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val dup = e.union(e.select(col("vec_id") + lit(1000000L), col("embedding")))
    val tmp = tempDir("neardup").toString
    dup.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val found = graft.SparkEntry.queries("q37_embedding_neardup")(spark, tmp)
      .filter(col("b_id") === col("a_id") + 1000000L && col("cosine") > 0.999999)
    assert(found.count() == n)
  }

  test("simhash blocking is pigeonhole-complete: blocked pairs == brute-force Hamming<=3 pairs") {
    // 48 bits in 4 blocks of 12: a pair within Hamming distance 3 can
    // touch at most 3 blocks, so at least one block matches exactly —
    // block-equality candidate generation provably loses NOTHING at
    // the declared threshold. Proven against the all-pairs computation
    // q127 exists to avoid.
    val fp = DedupQueries.shingleSimhash(
      graft.sources.Tables.documents(spark, sfDir)).cache()
    try {
      val a = fp.select(col("doc_id").as("da"), col("simhash").as("fa"))
      val b = fp.select(col("doc_id").as("db"), col("simhash").as("fb"))
      val brute = a.join(b, col("da") < col("db"))
        .select(col("da"), col("db"),
          expr("CAST(bit_count(fa ^ fb) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("da", "db").collect().toSeq
      assert(brute.nonEmpty, "no pairs within Hamming 3 — test is vacuous")
      val blocked = graft.SparkEntry.queries("q127_simhash_pairs")(spark, sfDir)
        .orderBy("doc_a", "doc_b").collect().toSeq
      assert(blocked == brute,
        s"blocked join lost or invented pairs: ${blocked.size} vs brute-force ${brute.size}")
    } finally fp.unpersist(): Unit
  }

  test("q142 maintenance survives a df-cut crossing exactly") {
    import spark.implicits._
    // DfCut carriers: shingle "x y z" sits at df == DfCut in standing
    // (DfCut-2 filler carriers + the pair docs 101/102) and crosses to
    // DfCut+1 when delta doc 999 arrives — the standing pair (101,102)
    // must RE-score (common 4 -> 3, n 6 -> 5), not carry over.
    val filler = (1 to DedupQueries.DfCut - 2)
      .map(i => (i.toLong, s"x y z u$i v$i"))
    val standing = (filler :+
      (101L, "x y z p q r a1 b1") :+ (102L, "x y z p q r a2 b2"))
      .toDF("doc_id", "text")
    val delta = Seq((999L, "x y z d9 e9")).toDF("doc_id", "text")

    val post = DedupQueries.ngramPostingsOf(standing).localCheckpoint()
    val sdf = post.select("sg", "df").distinct()
    val p0 = DedupQueries.ngramScoredPairs(
      post.filter(col("df") <= DedupQueries.DfCut).select("doc_id", "sg"))
      .localCheckpoint()
    val deltaSh = DedupQueries.ngramPostingsOf(delta).select("doc_id", "sg")

    val got = DedupQueries.ngramMaintain(post, sdf, p0, deltaSh).localCheckpoint()
    val brute = DedupQueries.ngramScoredPairs(
      DedupQueries.ngramPostingsOf(standing.unionByName(delta))
        .filter(col("df") <= DedupQueries.DfCut).select("doc_id", "sg"))
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      "maintained pair set diverged from the full recompute")
    // the crossing really happened and really re-scored
    def common(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("doc_a") === 101L && col("doc_b") === 102L)
      .select("n_common").as[Long].head()
    assert(common(p0) == 4L, "standing pair should share 4 shingles pre-crossing")
    assert(common(got) == 3L, "post-crossing pair must re-score to 3 shared shingles")
  }

  test("q150 retraction survives a df-cut UN-crossing exactly") {
    import spark.implicits._
    // the q142 mirror: "x y z" sits at df == DfCut+1 in standing (a
    // stop-shingle: DfCut-1 filler carriers + the pair docs 101/102);
    // deleting filler doc 1 lowers it to df == DfCut, UN-crossing the
    // cut — the standing pair (101,102), which never touched the
    // deleted doc, must still re-score (common 3 -> 4, n 5 -> 6)
    val filler = (1 to DedupQueries.DfCut - 1)
      .map(i => (i.toLong, s"x y z u$i v$i"))
    val standing = (filler :+
      (101L, "x y z p q r a1 b1") :+ (102L, "x y z p q r a2 b2"))
      .toDF("doc_id", "text")
    val post = DedupQueries.ngramPostingsOf(standing).localCheckpoint()
    val p0 = DedupQueries.ngramScoredPairs(
      post.filter(col("df") <= DedupQueries.DfCut).select("doc_id", "sg"))
      .localCheckpoint()

    val got = DedupQueries.ngramRetract(post, p0, Seq(1L).toDF("doc_id"))
      .localCheckpoint()
    val brute = DedupQueries.ngramScoredPairs(
      DedupQueries.ngramPostingsOf(standing.filter(col("doc_id") =!= 1L))
        .filter(col("df") <= DedupQueries.DfCut).select("doc_id", "sg"))
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
      "retracted pair set diverged from the full recompute")
    // the un-crossing really happened and really re-scored
    def common(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("doc_a") === 101L && col("doc_b") === 102L)
      .select("n_common").as[Long].head()
    assert(common(p0) == 3L,
      "standing pair should share 3 shingles while 'x y z' is a stop-shingle")
    assert(common(got) == 4L,
      "post-un-crossing pair must re-score to 4 shared shingles")
  }

  test("n-gram maintenance/retraction stage only delta-bounded relations") {
    // round-12 verdict #3: the maintenance tick's cost claim is "a
    // handful of postings-table scans", which only holds if no
    // corpus-sized relation is pinned in executor storage per tick —
    // the probed postings and the post-growth filtered shingle sets
    // must STREAM from the artifact scan. Proof: run both passes over
    // the durable artifacts and assert every relation they staged
    // (every NEW persisted RDD) is delta/R-bounded — far below the
    // postings row count.
    val sc = spark.sparkContext
    val post = DedupQueries.ngramPostingsTable(spark, sfDir)
    val sdf = DedupQueries.ngramDfTable(spark, sfDir)
    val pairs = DedupQueries.ngramPairsTable(spark, sfDir)
    val postCnt = post.count()
    val docs = graft.sources.Tables.documents(spark, sfDir)

    def stagedCounts(body: => org.apache.spark.sql.DataFrame): Seq[Long] = {
      val before = sc.getPersistentRDDs.keySet
      val out = body
      out.count(): Unit
      // hold `out` so its lineage keeps the staged RDDs referenced
      val counts = sc.getPersistentRDDs
        .filter { case (id, _) => !before(id) }
        .values.map(_.count()).toSeq
      out.unpersist(): Unit
      counts
    }

    val deltaDocs = docs.filter(col("doc_id") % 10 === 7)
    val deltaSh = DedupQueries.ngramPostingsOf(deltaDocs).select("doc_id", "sg")
      .localCheckpoint()
    val deltaShCnt = deltaSh.count()
    assert(postCnt > 4 * deltaShCnt,
      s"corpus not much larger than delta ($postCnt vs $deltaShCnt) — test is vacuous")
    val bound = 2 * deltaShCnt + 64

    val maintStaged = stagedCounts(
      DedupQueries.ngramMaintain(post, sdf, pairs, deltaSh))
    assert(maintStaged.nonEmpty, "maintenance staged nothing — did staging move?")
    assert(maintStaged.forall(_ <= bound),
      s"maintenance staged a corpus-sized relation: rows $maintStaged, bound $bound " +
        s"(postings $postCnt)")

    val delShCnt = post.join(
      docs.filter(col("doc_id") % 10 === 3).select("doc_id"),
      Seq("doc_id"), "left_semi").count()
    val rBound = 2 * delShCnt + 64
    val retractStaged = stagedCounts(
      DedupQueries.ngramRetract(post, pairs,
        docs.filter(col("doc_id") % 10 === 3).select("doc_id")))
    assert(retractStaged.nonEmpty, "retraction staged nothing — did staging move?")
    assert(retractStaged.forall(_ <= rBound),
      s"retraction staged a corpus-sized relation: rows $retractStaged, bound $rBound " +
        s"(postings $postCnt)")
  }

  test("one-time artifact builds stage nothing corpus-sized") {
    // round-13 verdict #5: the maintenance ticks were provably
    // delta-bounded but the BUILDS were not — pairIndexTable staged
    // the full corpus shingle set, ngramPairsTable the full filtered
    // postings. Both now read the durable postings/band artifacts and
    // stream their scans. Proof: force fresh builds in a copy dir and
    // assert nothing the build chain persists is corpus-sized.
    val sc = spark.sparkContext
    val dir = tempDir("build_audit").toString
    graft.sources.Tables.documents(spark, sfDir)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val before = sc.getPersistentRDDs.keySet
    val pairs = DedupQueries.pairIndexTable(spark, dir)
    val npairs = DedupQueries.ngramPairsTable(spark, dir)
    val pairCnt = pairs.count(); npairs.count(): Unit
    val postCnt = DedupQueries.ngramPostingsTable(spark, dir).count()
    val stagedRows = sc.getPersistentRDDs
      .filter { case (id, _) => !before(id) }
      .values.map(_.count()).toSeq
    // permitted staging: tiny bookkeeping only — far below the
    // postings row count that the old builds pinned wholesale
    assert(stagedRows.forall(_ < postCnt / 4),
      s"an artifact build staged a corpus-sized relation: rows $stagedRows " +
        s"(postings $postCnt)")

    // and the artifact-fed build equals the text-fed recompute
    val want = DedupQueries.pairsOfDocs(
      graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 =!= 7))
    assert(pairs.exceptAll(want).isEmpty && want.exceptAll(pairs).isEmpty,
      s"artifact-fed pair build diverged from the text-fed recompute ($pairCnt pairs)")
    DedupQueries.rmQuietly(dir)
  }

  test("large-delta gate reads staged-block storage metadata") {
    // round-12 verdict #6: the broadcast-vs-bucket-join gate must not
    // cost a delta scan + driver hop per maintenance tick — for the
    // staged deltas every production caller passes, the decision reads
    // block-manager metadata (no action in that branch)
    import spark.implicits._
    val df = spark.range(2000)
      .select(col("id").as("doc_id"), concat(lit("sg"), col("id")).as("sg"))
    assert(DedupQueries.stagedBytes(df).isEmpty,
      "an un-staged relation reported staged bytes")
    val staged = df.localCheckpoint()
    try {
      assert(DedupQueries.stagedBytes(staged).exists(_ > 0),
        "staged relation exposes no storage metadata")
      assert(!DedupQueries.deltaIsLarge(staged),
        "a KB-sized staged delta gated large")
      assert(!DedupQueries.deltaIsLarge(df),
        "the un-staged fallback (count gate) mis-gated a tiny delta")
    } finally staged.unpersist(): Unit
  }

  test("rank-dedup keeps exactly one row per key under a total order") {
    import spark.implicits._
    val revs = (0 until 500).map { i =>
      (s"order${i % 50}", i / 50, s"payload$i") // 50 keys x 10 revisions
    }.toDF("order_id", "rev", "payload")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("order_id").orderBy(col("rev").desc, col("payload").desc)
    val latest = revs.withColumn("rk", rank().over(w)).filter(col("rk") === 1)
    assert(latest.count() == 50)
    assert(latest.filter(col("rev") =!= 9).count() == 0)
  }

  test("artifact-composed corpus pairs == the from-scratch full-corpus pipeline") {
    // the q100 production path (round-15 verdict #4): standing pair
    // table + the two q130 delta legs for the arriving slice must
    // union to EXACTLY the from-scratch minhashPairs over the whole
    // corpus — LSH signatures are per-doc, so slicing commutes with
    // candidate generation and the identity is set equality, not an
    // approximation
    val composed = DedupQueries.corpusPairsIndexed(spark, sfDir)
      .select("doc_a", "doc_b")
    val scratch = DedupQueries.minhashPairs(spark, sfDir)
      .select("doc_a", "doc_b")
    assert(composed.exceptAll(scratch).isEmpty
      && scratch.exceptAll(composed).isEmpty,
      "artifact-composed pairs diverge from the from-scratch pipeline")
    assert(scratch.count() > 0, "vacuous identity: no pairs at this sf")
  }
}
