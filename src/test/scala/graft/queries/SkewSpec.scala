package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The skew contract (round-13 verdict #4): the uniform sf replicas
  * never trip the engine's size gates, so ScaleGen's skew mode plants
  * the Zipfian reality — a boilerplate near-dup mega-cluster, a hot
  * shingle crossing the df cut, a delta past broadcast range — and
  * this spec proves the gates FLIP on that data with nothing forced,
  * while results stay exact. */
class SkewSpec extends SparkSpec {

  test("mega-component pair graph defers the CC driver gate and labels exactly") {
    // the pair table a 2800-member boilerplate clique produces:
    // C(2800,2) ≈ 3.9M pairs, whose doubled staged edge list blows
    // past the 64 MB driver gate — connectedComponents must take the
    // distributed fixpoint (rounds > 0) WITHOUT forceDistributed, and
    // still label every member with the clique minimum
    val n = 2800
    val ids = spark.range(n).select((col("id") * 10 + 7).as("a"))
    val pairs = ids
      .join(ids.select(col("a").as("b")), col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    val (labels, rounds) = DedupQueries.connectedComponents(pairs)
    assert(rounds > 0,
      "a ~3.9M-pair mega-component stayed on the driver union-find path")
    assert(labels.count() == n)
    assert(labels.filter(col("label") =!= 7L).isEmpty,
      "mega-component labeling diverged from the clique minimum")
  }

  test("skew corpus: mega-cluster is one component, hot shingle crosses the cut, delta outgrows broadcast") {
    // a generated skew dir off the smallest base: full-size HOT block
    // (the broadcast gate is a fixed 65536-doc / 32 MB contract — the
    // flip must be natural, so the data must actually be that big),
    // spec-size mega block (the clique pipeline is quadratic by
    // design; the gate-flip half is proven above on its pair shape)
    val dir = tempDir("skew").toString
    graft.tools.ScaleGen.generate(spark, sfDir, dir, 1, skew = true,
      megaDocs = 120, hotDocs = 65537, crossingDocs = 10)
    val docs = graft.sources.Tables.documents(spark, dir)

    // 1. the boilerplate block forms EXACTLY one near-dup component
    //    through the real LSH pipeline, labeled by its min id
    val mega = docs.filter(col("text").startsWith("bp0 ")).localCheckpoint()
    val megaCount = mega.count()
    assert(megaCount == 120L, s"mega block count $megaCount")
    val megaMin = mega.agg(min("doc_id")).first().getLong(0)
    val pairs = DedupQueries.pairsOfDocs(mega)
    val (labels, _) = DedupQueries.connectedComponents(
      pairs.select("doc_a", "doc_b"))
    assert(labels.count() == megaCount, "mega-cluster is not one full clique")
    val distinctLabels = labels.select("label").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(distinctLabels == Seq(megaMin),
      s"mega-cluster split into components $distinctLabels")

    // 2. the hot shingle sits at df <= cut on the standing side and is
    //    pushed across by the arriving block — the crossing machinery
    //    runs on data, not only on forced spec scenarios
    val hotSg = "hotshingle0 hotshingle1 hotshingle2"
    val standingDf = DedupQueries
      .ngramPostingsOf(docs.filter(col("doc_id") % 10 =!= 7))
      .filter(col("sg") === hotSg)
      .select("df").distinct().collect()
    assert(standingDf.length == 1, "hot shingle missing from the standing side")
    val sdf = standingDf(0).getLong(0)
    assert(sdf == 10L && sdf <= DedupQueries.DfCut,
      s"standing hot-shingle df $sdf is not under the cut")
    val deltaDf = DedupQueries
      .ngramPostingsOf(docs.filter(col("doc_id") % 10 === 7))
      .filter(col("sg") === hotSg)
      .select("df").distinct().collect()(0).getLong(0)
    assert(sdf + deltaDf > DedupQueries.DfCut,
      s"arriving block does not push the hot shingle across ($sdf + $deltaDf)")

    // 3. the skewed delta's STAGED shingle set outgrows the broadcast
    //    gate — the n-gram/band large route fires with no forceLarge
    val deltaSh = DedupQueries
      .ngramPostingsOf(docs.filter(col("doc_id") % 10 === 7))
      .select("doc_id", "sg").localCheckpoint()
    assert(DedupQueries.deltaIsLarge(deltaSh),
      "the skewed delta stayed under the broadcast gate")
    DedupQueries.rmQuietly(dir)
  }

  test("skew embeddings: hot cell forms, the serving surge drops its broadcasts naturally, routes agree") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
      case q: QueryStageExec => p +: flatten(q.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    // small doc blocks (they are proven above); full-size embedding
    // blocks — the 32 MB staged-broadcast gate is a fixed contract, so
    // the serving surge must actually be that big
    val dir = tempDir("skew_emb").toString
    graft.tools.ScaleGen.generate(spark, sfDir, dir, 1, skew = true,
      megaDocs = 60, hotDocs = 300, crossingDocs = 10,
      skewVecs = 70000, hotVecs = 1000)

    // 1. the identical boilerplate vectors all land in ONE block — the
    //    overloaded-IVF-list shape the serving probe must survive
    val idx = SimilarityQueries.semBlockIndexTable(spark, dir)
    val hotBlocks = idx.filter(col("vec_id") % 10 === 1
        && col("vec_id") >= 10L * 1000 * 1000)
      .select("block_key").distinct().count()
    assert(hotBlocks == 1L, s"hot vectors scattered across $hotBlocks blocks")

    // 2. the ungated serving route drops its broadcasts: the candidate
    //    join against the bucketed index runs as the merge-hinted
    //    sort-merge join — the large route's plan signature — with
    //    nothing forced
    val served = SimilarityQueries.semIndexTopK(spark, dir)
    served.collect()
    assert(flatten(served.queryExecution.executedPlan)
        .exists(_.isInstanceOf[SortMergeJoinExec]),
      "a 70k-vector serving batch still took the broadcast route")

    // 3. both routes produce the identical top-K on the skewed data —
    //    including inside the hot cell
    val small = SimilarityQueries.semIndexTopK(spark, dir,
      forceLarge = Some(false))
    assert(served.exceptAll(small).isEmpty && small.exceptAll(served).isEmpty,
      "serving routes disagree on the skewed corpus")
    DedupQueries.rmQuietly(dir)
  }

  test("uniform corpus: planted common vocabulary keeps the hh family non-vacuous at scale") {
    // round-16 verdict #5: replication kept per-gram counts flat while
    // the trigram total grew with copies, so q117 returned 0 rows at
    // sf10-uniform and the heavy-hitter logic ran on nothing. The
    // hhCommonDocs block plants scale-invariant common vocabulary; at
    // ANY copy count the planted gram must clear support 1/20000 with
    // its exact analytic count: (40 standing + 8 arriving) per copy.
    val dir = tempDir("hh_uni").toString
    val copies = 2
    graft.tools.ScaleGen.generate(spark, "/root/testdata/sf0.001", dir, copies)
    val hh = graft.SparkEntry.queries("q117_heavy_hitters")(spark, dir)
      .localCheckpoint()
    assert(hh.count() > 0, "hh family vacuous on a uniform scaled corpus")
    val planted = hh.filter(col("gram") === "uhh0 uhh1 uhh2")
      .select("n_occurrences").collect()
    assert(planted.map(_.getLong(0)).toSeq == Seq(48L * copies),
      s"planted common gram missing or miscounted: ${planted.mkString(",")}")
    // the q135 standing/arriving split sees the block on both sides:
    // the store (standing %10!=7) and the delta (%10==7) each carry it
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(col("text").startsWith("uhh0 "))
    assert(docs.filter(col("doc_id") % 10 =!= 7).count() == 40L * copies)
    assert(docs.filter(col("doc_id") % 10 === 7).count() == 8L * copies)
    DedupQueries.rmQuietly(dir)
  }
}
