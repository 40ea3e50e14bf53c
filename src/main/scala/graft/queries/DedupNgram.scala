package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

/** n-gram Jaccard family: inverted-index scoring under the df-cut, the postings artifact, incremental maintenance and retraction (q26/q142/q150/q157).
  *
  * Pure round-16 refactor: split out of the 3,300-line DedupQueries.scala
  * verbatim (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` — traits cannot
  * share plain-private members — and derived vals made lazy so trait
  * initialization order can never observe an unset field). */
trait DedupNgram { self: DedupQueries.type =>
  /** q26's oracle, shared verbatim by the incremental q142;
    * parameterized over a document predicate for the retraction q150. */
  private[queries] def sqlNgramOracleFor(docWhere: String): String =
    s"""WITH ${sqlShingleCteFor(docWhere)},
       |hot AS (SELECT sg FROM sh GROUP BY sg HAVING count(*) <= $DfCut),
       |fsh AS (SELECT sh.doc_id, sh.sg FROM sh JOIN hot USING (sg)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
       |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
       |  FROM fsh a JOIN fsh b ON a.sg = b.sg AND a.doc_id < b.doc_id
       |  GROUP BY da, db)
       |SELECT da AS doc_a, db AS doc_b, c AS n_common,
       |  c::DOUBLE / (xa.n + yb.n - c) AS jaccard
       |FROM pairs JOIN cnt xa ON xa.doc_id = da
       |           JOIN cnt yb ON yb.doc_id = db
       |WHERE c::DOUBLE / (xa.n + yb.n - c) >= 0.3""".stripMargin

  private[queries] lazy val sqlNgramOracle: String = sqlNgramOracleFor("")

  /** The q26 score tail over a staged filtered shingle set: inverted-
    * index pair join + exact Jaccard at the 0.3 threshold. Shared by
    * q26 (full-corpus fsh), the q142 standing-pair artifact build, and
    * the spec's brute-force oracle. */
  private[queries] def ngramScoredPairs(fsh: DataFrame): DataFrame = {
    val cnt = fsh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = fsh.select(col("doc_id").as("da"), col("sg"))
    val b = fsh.select(col("doc_id").as("db"), col("sg").as("bsg"))
    val pairs = a.join(b, col("sg") === col("bsg") && col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
    val jac = col("c").cast("double") / (col("xn") + col("yn") - col("c"))
    pairs
      .join(cnt.select(col("doc_id").as("xd"), col("n").as("xn")), col("xd") === col("da"))
      .join(cnt.select(col("doc_id").as("yd"), col("n").as("yn")), col("yd") === col("db"))
      .filter(jac >= 0.3)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("c").as("n_common"), jac.as("jaccard"))
  }

  /** Unfiltered standing postings WITH per-shingle document frequency —
    * q142's base artifact. Unfiltered on purpose: the df<=DfCut cut is
    * a property of the WORLD, not the index; keeping every posting row
    * (plus its standing df) lets a later batch re-derive the filtered
    * set under the GROWN df without touching text. The window-over-sg
    * formulation computes df and leaves the postings hash-partitioned
    * on sg in the same single shuffle (the q26 trick). */
  private[queries] def ngramPostingsOf(docs: DataFrame): DataFrame =
    shingle(docs).withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("sg"))))

  /** Bucketed 16 ways on sg (the probe key) so the large-delta route
    * merge-joins the scan with zero index-side Exchange — the band/
    * block/fingerprint-index treatment. The family tag carries the
    * bucket spec ("_b16") so a pre-bucketing artifact generation can
    * never be attached under bucketed DDL. */
  private[graft] def ngramPostingsTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "ngram_postings_b16", "documents.parquet", Some(("sg", 16))) {
      ngramPostingsOf(Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 7))
    }

  /** The standing per-shingle df sidecar (vocabulary-sized), derived
    * from the postings artifact — never from text. */
  private[graft] def ngramDfTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "ngram_df", "documents.parquet", None) {
      ngramPostingsTable(s, dir).select("sg", "df").distinct()
    }

  /** The standing PAIR table of the n-gram family — q26 over the
    * standing corpus under its own df cut, built from the postings
    * artifact. */
  private[graft] def ngramPairsTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "ngram_pairs", "documents.parquet", None) {
      // each of the three consumers (counts, both join sides) STREAMS
      // the bucketed postings scan — cheap columnar reads of a durable
      // artifact — instead of pinning the corpus-sized filtered
      // posting set in executor storage for the build's duration
      // (round-13 verdict #5)
      ngramScoredPairs(ngramPostingsTable(s, dir)
        .filter(col("df") <= DfCut).select("doc_id", "sg"))
    }

  /** q142's core, parameterized over the three standing artifacts and
    * the delta's staged shingles so the spec can force a cut-crossing
    * scenario. Exactness argument:
    *   - df only GROWS under corpus growth, and only for delta-carried
    *     shingles, so the crossing set X = {sg : df <= DfCut < df+ddf}
    *     is delta-bounded and each member names <= DfCut standing docs;
    *   - R = (docs carrying an X shingle) ∪ delta is the complete set
    *     of docs whose filtered shingle set changes: a non-R doc's set,
    *     every common count with another non-R doc, and both
    *     denominators are unchanged — its persisted pair rows carry
    *     over verbatim, and no NEW pair between two non-R docs can
    *     appear (their world did not change);
    *   - every pair touching R re-scores through one probe of R's
    *     filtered shingles against the full filtered index (standing
    *     postings under the grown df ∪ delta shingles under theirs);
    *     the (lo, hi, sg)-distinct stage makes both-in-R pairs count
    *     once.
    * The per-batch cost is a handful of postings-table scans (no
    * text, no corpus-sized staging — every corpus-sized relation
    * streams from the bucketed artifact scan; only delta/R-bounded
    * relations are staged) plus R-bounded joins.
    *
    * SIZE-GATED (round-11 verdict #1 closing the family asymmetry):
    * while the delta is genuinely delta-sized, the delta-derived sides
    * (ddf, crossing, rIds, the delta df view) broadcast. Past
    * [[DeltaBroadcastMaxDocs]] distinct delta docs — or a df-cut
    * avalanche where one hot shingle crosses and names millions of
    * standing docs — the large route drops EVERY delta-side broadcast:
    * the postings probe merge-joins the sg-bucketed scan (ddf alone
    * pays one shuffle into the bucket layout, zero index-side
    * Exchange — PlanAuditSpec), and the R-bounded joins let AQE pick
    * by runtime size. `forceLarge` pins the path for q145. */
  private[queries] def ngramMaintain(post: DataFrame, sdf: DataFrame,
      p0: DataFrame, deltaSh: DataFrame,
      forceLarge: Option[Boolean] = None, ser: Boolean = false): DataFrame = {
    val large = forceLarge.getOrElse(deltaIsLarge(deltaSh))
    def bc(df: DataFrame): DataFrame = if (large) df else broadcast(df)
    // shingle-scale stagings flip to DISK_ONLY past the corpus-size
    // threshold (see DedupCore.stageSer) — callers with a corpus dir
    // pass `ser`; spec callers on synthetic frames keep the default
    def st(df: DataFrame): DataFrame =
      if (ser) df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else df.localCheckpoint()
    // Staging discipline (round-12 verdict #3): ONLY delta/R-bounded
    // relations are localCheckpoint-staged — ddf, crossing, rIds, the
    // rescore probe's pair counts. The corpus-sized sides (the probed
    // postings, the post-growth filtered shingle sets) STREAM from the
    // bucketed artifact scan on every consumer instead of pinning a
    // corpus copy in executor storage per maintenance tick; the
    // per-tick storage footprint stays delta-bounded (a spec asserts
    // it) at the price of re-reading the postings scan per consumer
    // branch — cheap columnar reads of a standing artifact, not text.
    // ddf is delta-shingle-VOCABULARY-sized (sg strings) — the largest
    // delta-bounded staging; it takes the serialized flip with the rest
    val ddf = st(deltaSh.groupBy("sg").agg(count(lit(1)).as("ddf")))
    // cut-crossing shingles from the df SIDECAR, not the postings:
    // df is per-sg constant, so the sidecar join gives the identical
    // set without a postings-wide distinct
    // crossing has exactly ONE consumer (the dx semi-join below), so a
    // dedicated staging job buys no reuse — the broadcast/merge join
    // computes the delta-bounded subtree once either way
    val crossing = ddf.join(sdf, Seq("sg"))
      .filter(col("df") <= DfCut && col("df") + col("ddf") > DfCut)
      .select("sg")
    val dx = post.join(bc(crossing), Seq("sg"), "left_semi")
      .select("doc_id").distinct()
    val rIds = dx.unionByName(deltaSh.select("doc_id").distinct())
      .distinct().localCheckpoint()
    // the new world's filtered shingle sets, standing and delta sides
    def standingFsh = ngramPostProbe(post, ddf, large)
      .filter(col("dff") <= DfCut).select("doc_id", "sg")
    val deltaDff = ddf.join(sdf, Seq("sg"), "left")
      .select(col("sg"), (col("ddf") + coalesce(col("df"), lit(0L))).as("dff"))
    def deltaFsh = deltaSh.join(
      bc(deltaDff.filter(col("dff") <= DfCut).select("sg")),
      Seq("sg"), "left_semi")
    def allFsh = standingFsh.unionByName(deltaFsh)
    // pairs touching R: R's shingles probed against the whole index;
    // (lo, hi, sg)-distinct counts a both-in-R pair once. rFsh has
    // exactly ONE consumer (the ra side of c's build), so it streams —
    // a dedicated staging job bought no reuse
    def rFsh = allFsh.join(bc(rIds), Seq("doc_id"), "left_semi")
    val c = st(rFsh.select(col("doc_id").as("ra"), col("sg"))
      .join(allFsh.select(col("doc_id").as("rb"), col("sg").as("bsg")),
        col("sg") === col("bsg") && col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("da"),
        greatest(col("ra"), col("rb")).as("db"), col("sg"))
      .distinct()
      .groupBy("da", "db").agg(count(lit(1)).as("c")))
    val pids = c.select(col("da").as("doc_id"))
      .unionByName(c.select(col("db").as("doc_id"))).distinct()
    val n = allFsh.join(bc(pids), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val jac = col("c").cast("double") / (col("xn") + col("yn") - col("c"))
    val rescored = c
      .join(n.select(col("doc_id").as("xd"), col("n").as("xn")), col("xd") === col("da"))
      .join(n.select(col("doc_id").as("yd"), col("n").as("yn")), col("yd") === col("db"))
      .filter(jac >= 0.3)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("c").as("n_common"), jac.as("jaccard"))
    p0.join(rIds.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(rIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .unionByName(rescored)
      // the USING anti-joins move their key column to the front; pin
      // the q26 output order back
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** Retraction over the n-gram family's durable artifacts (q150) —
    * the MIRROR of q142's df-cut drift, and the subtlest retraction in
    * the matrix: deleting documents LOWERS per-shingle df, so a
    * stop-shingle can UN-CROSS the cut (df > DfCut falling to
    * df' <= DfCut) and become newly admitted — surviving documents
    * carrying it GAIN filtered shingles, changing common counts AND
    * denominators of standing pairs that never touched a deleted doc.
    * Deletion is one-sided (df only decreases), so crossings INTO the
    * cut cannot happen. Delta-boundedness:
    *   - un-crossing shingles ⊆ shingles(D) — only a deleted doc's
    *     shingles lose df — and each names <= DfCut surviving docs
    *     post-delete, so R (docs carrying an un-crossed shingle) is
    *     |D|-bounded;
    *   - pairs touching D drop (per-pair facts under a FIXED shingle
    *     world);
    *   - pairs between two docs outside R ∪ D carry VERBATIM: an
    *     admitted shingle stays admitted (df' <= df) and a rejected,
    *     non-un-crossed shingle stays rejected, so both documents'
    *     filtered sets are bit-identical;
    *   - pairs touching R re-score through the q142 R-probe shape
    *     against the post-delete filtered index.
    * ZERO text is read anywhere — even the delete set's shingles come
    * OUT of the postings artifact. The delete set is takedown-sized by
    * contract, so its derivatives broadcast; a licensing-sweep-scale
    * delete is a rewrite, not a tombstone — the debt-gated major
    * compaction [[ngramRetractPublishMode]] implements (q157).
    * == q26 over corpus-minus-deleted, verbatim oracle. */
  private[queries] def ngramRetract(post: DataFrame, p0: DataFrame,
      delIds: DataFrame, ser: Boolean = false): DataFrame = {
    def st(df: DataFrame): DataFrame =
      if (ser) df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
      else df.localCheckpoint()
    val del = delIds.select("doc_id").distinct().localCheckpoint()
    // the deleted docs' per-shingle counts, read out of the index
    val rdf = st(post.join(broadcast(del), Seq("doc_id"), "left_semi")
      .groupBy("sg").agg(count(lit(1)).as("rdf")))
    // surviving postings under the post-delete df — a VIEW over the
    // bucketed artifact scan, deliberately NOT staged (round-12
    // verdict #3): pinning the corpus-sized relation in executor
    // storage per retraction would double the postings traffic at
    // scale; each consumer streams the scan instead, and only the
    // delta-bounded derivatives below are staged
    def postLive = post.join(broadcast(del), Seq("doc_id"), "left_anti")
      .join(broadcast(rdf), Seq("sg"), "left")
      .select(col("doc_id"), col("sg"), col("df"),
        (col("df") - coalesce(col("rdf"), lit(0L))).as("dfl"))
    // un-crossed rows have dfl <= DfCut, so the distinct runs over a
    // <= DfCut-per-shingle row set — delta-bounded; single consumer
    // (the rIds semi-join), so it streams rather than staging
    val uncrossed = postLive
      .filter(col("df") > DfCut && col("dfl") <= DfCut)
      .select("sg").distinct()
    val rIds = postLive.join(broadcast(uncrossed), Seq("sg"), "left_semi")
      .select("doc_id").distinct().localCheckpoint()
    def fsh = postLive.filter(col("dfl") <= DfCut).select("doc_id", "sg")
    // rFsh: one consumer (c's ra side) — streams, no staging job
    def rFsh = fsh.join(broadcast(rIds), Seq("doc_id"), "left_semi")
    val c = st(rFsh.select(col("doc_id").as("ra"), col("sg"))
      .join(fsh.select(col("doc_id").as("rb"), col("sg").as("bsg")),
        col("sg") === col("bsg") && col("ra") =!= col("rb"))
      .select(least(col("ra"), col("rb")).as("da"),
        greatest(col("ra"), col("rb")).as("db"), col("sg"))
      .distinct()
      .groupBy("da", "db").agg(count(lit(1)).as("c")))
    val pids = c.select(col("da").as("doc_id"))
      .unionByName(c.select(col("db").as("doc_id"))).distinct()
    val n = fsh.join(broadcast(pids), Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val jac = col("c").cast("double") / (col("xn") + col("yn") - col("c"))
    val rescored = c
      .join(n.select(col("doc_id").as("xd"), col("n").as("xn")), col("xd") === col("da"))
      .join(n.select(col("doc_id").as("yd"), col("n").as("yn")), col("yd") === col("db"))
      .filter(jac >= 0.3)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("c").as("n_common"), jac.as("jaccard"))
    val dropIds = del.unionByName(rIds).distinct().localCheckpoint()
    p0.join(broadcast(dropIds.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
      .join(broadcast(dropIds.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
      .unionByName(rescored)
      .select("doc_a", "doc_b", "n_common", "jaccard")
  }

  /** Durable n-gram retraction with a TOMBSTONE-DEBT gate — the
    * "past-the-budget delete is a rebuild" path q150's contract
    * promised (round-12 verdict #1): a takedown-sized delete is a
    * tombstone + delta-bounded fix-up ([[ngramRetract]]), but a
    * licensing-sweep-scale delete breaks that path's economics — the
    * un-crossing fix-up set R stops being delta-bounded and the
    * broadcast delete-set derivatives stop being broadcastable. The
    * gate measures the debt as the DELETED FRACTION OF THE POSTINGS
    * ROWS (one doc_id-column scan of the artifact per takedown batch,
    * never text); past
    * [[graft.sources.DurableIndex.RebuildDebtFraction]] the whole
    * family MAJOR-COMPACTS instead: the base artifacts rebuild over
    * the net corpus — postings tombstoned and re-df'd in one window shuffle,
    * pairs fully re-scored — and publish as a fresh
    * (corpus fp x delete-set fp) generation under sibling families
    * (`ngram_post_r` bucketed on sg like its base, `ngram_pairs_r`).
    * Publishing the rebuilt generation IS the log truncation: the
    * delete set is folded into the artifact identity, every read is a
    * bare scan again, and no tombstone join survives. Either mode's
    * pairs == the batch build over corpus-minus-deleted (q157's
    * verbatim oracle; RetractionSpec proves rebuild == fresh-from-text
    * build and the gate firing on both sides). Zero text read in both
    * modes. Returns (published pairs, rebuilt?). */
  private[graft] def ngramRetractPublishMode(s: SparkSession, dir: String,
      delIds: DataFrame, forceRebuild: Option[Boolean] = None)
      : (DataFrame, Boolean) = {
    val del = delIds.select("doc_id").distinct().localCheckpoint()
    val post = ngramPostingsTable(s, dir)
    val fp = retractionFp(s, dir, del)
    // explicit override, else the recorded mode (ngram_post_r is only
    // ever written by the rebuild branch, so its existence IS the fold
    // record; ngram_pairs_r alone means a published tombstone-mode
    // generation), else one shared debt-gate scan: deleted fraction of
    // the postings rows, or the absolute delete-id cap
    val rebuild = forceRebuild.getOrElse {
      if (graft.sources.DurableIndex.liveExists(s, dir, "ngram_post_r", fp)) true
      else if (graft.sources.DurableIndex.liveExists(s, dir, "ngram_pairs_r", fp)) false
      else graft.sources.DurableIndex.exceedsDebt(
        post, del, "doc_id")
    }
    val pairs =
      if (rebuild) {
        // major compaction: net postings re-df'd in ONE window shuffle
        // (the q26 trick — df computed and sg-partitioned together),
        // then the pair set fully re-scored; both published
        lazy val postLive = post.join(del, Seq("doc_id"), "left_anti")
          .withColumn("dfn", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("sg"))))
          .select(col("doc_id"), col("sg"), col("dfn").as("df"))
        val postR = graft.sources.DurableIndex.attachOrBuildFp(
          s, dir, "ngram_post_r", fp, Some(("sg", 16)))(postLive)
        graft.sources.DurableIndex.attachOrBuildFp(
          s, dir, "ngram_pairs_r", fp, None)(
          ngramScoredPairs(postR.filter(col("df") <= DfCut)
            .select("doc_id", "sg").localCheckpoint()))
      } else
        graft.sources.DurableIndex.attachOrBuildFp(
          s, dir, "ngram_pairs_r", fp, None)(
          ngramRetract(post, ngramPairsTable(s, dir), del,
            ser = corpusBytes(s, dir) >= StageSerMinBytes))
    (pairs, rebuild)
  }

  /** [[ngramRetractPublishMode]] as q157's query surface. */
  private[graft] def ngramRetractPublish(s: SparkSession, dir: String,
      delIds: DataFrame): DataFrame =
    ngramRetractPublishMode(s, dir, delIds)._1

  /** The first probe of the maintenance pass: standing postings LEFT
    * JOIN the delta's per-shingle counts, producing the grown df (dff).
    * Small deltas broadcast `ddf`; the large route merge-joins the
    * 16-bucket sg-bucketed postings scan with zero index-side Exchange
    * (ddf alone pays the one shuffle into the bucket layout). Split out
    * so PlanAuditSpec can audit exactly this stage in isolation from
    * the maintenance pass's downstream joins. */
  private[graft] def ngramPostProbe(post: DataFrame, ddf: DataFrame,
      large: Boolean): DataFrame =
    (if (large) post.hint("merge") else post)
      .join(if (large) ddf else broadcast(ddf), Seq("sg"), "left")
      .select(col("doc_id"), col("sg"), col("df"),
        (col("df") + coalesce(col("ddf"), lit(0L))).as("dff"))

  /** The q150 tombstone stage over the durable postings — the
    * relation PlanAuditSpec audits in isolation. */
  private[graft] def ngramRetractStage(s: SparkSession, dir: String): DataFrame = {
    val del = Tables.documents(s, dir).filter(col("doc_id") % 10 === 3)
      .select("doc_id").distinct()
    ngramPostingsTable(s, dir).join(broadcast(del), Seq("doc_id"), "left_anti")
  }

  /** The q143 pair-retraction stage over the durable BUCKETED pair
    * table, pre-staging — the relation PlanAuditSpec audits (round-12
    * verdict #2): the takedown tombstones are broadcast anti-joins
    * over the bucketed scan, and the affected-component semi-join
    * probes on `doc_a` — the bucket key — so even forced to
    * sort-merge it adds NO Exchange on the pair-index side (the probe
    * side alone shuffles into the 16-bucket layout). */
  private[graft] def pairRetractStage(s: SparkSession, dir: String): DataFrame = {
    val del = Tables.documents(s, dir).filter(col("doc_id") % 10 === 3)
      .select("doc_id").distinct()
    val pairs0 = pairIndexTable(s, dir)
    val pairs1 = pairs0
      .join(broadcast(del.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
      .join(broadcast(del.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
      .select(pairs0.columns.map(col).toIndexedSeq: _*)
    val labels0 = ccIndexTable(s, dir)
    val affected = labels0.join(broadcast(del), Seq("doc_id"), "left_semi")
      .select("label").distinct()
    val affectedDocs = labels0.join(broadcast(affected), Seq("label"), "left_semi")
      .select(col("doc_id").as("doc_a"))
    pairs1.hint("merge").join(affectedDocs, Seq("doc_a"), "left_semi")
  }

  /** The q142/q145 probe stage over the durable artifacts, pre-staging —
    * the relation PlanAuditSpec audits. */
  private[graft] def ngramProbeStage(s: SparkSession, dir: String,
      large: Boolean): DataFrame = {
    val deltaSh = stageSer(s, dir, shingle(
      Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)))
    val ddf = deltaSh.groupBy("sg").agg(count(lit(1)).as("ddf")).localCheckpoint()
    ngramPostProbe(ngramPostingsTable(s, dir), ddf, large)
  }

}
