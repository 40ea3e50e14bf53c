package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.queries.DedupQueries.{drainDrops, writeBatch}
import graft.sources.Tables

/** The durable ANN serving stack (q124/q125/q126): codebook + bucketed block-index artifacts, the size-gated top-K serving routes (broadcast join-back vs in-join cosine on the bulk route), the streaming serve drain, index probes, the serving oracle, and the delta-broadcast gates.
  *
  * Pure round-17 refactor: split out of the 1,699-line
  * SimilarityQueries.scala verbatim, per the DedupQueries precedent
  * (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` where a member
  * crosses a trait boundary — traits cannot share plain-private
  * members). */
trait SimServing { self: SimilarityQueries.type =>

  /** q124/q125's body: top-K retrieval SERVED from the durable block
    * index — the read path a RAG/embedding-search user runs, distinct
    * from the dedup probes (which want high-precision near-dup pairs;
    * retrieval wants the best K whatever their score). The query batch
    * is assigned a cell through the re-read codebook, then probes the
    * cell as the union of its 2^pc sub-block KEYS — an explode to
    * (q_id, block_key) pairs — so the candidate join runs on the
    * index's own bucketed block_key with zero index-side Exchange.
    * A per-query window then takes the top K (cosine desc, vec_id
    * tiebreak — fully deterministic). WHERE the cosine is computed
    * differs per route (the round-16 sf10 finding):
    *
    *   - SERVING route (bounded batch): key and vector sides both
    *     broadcast; candidates join back to the broadcast query
    *     vectors for the cosine — no payload ever shuffles, so the
    *     two-join shape stays optimal;
    *   - BULK route (past the gate): the query vector `qv` IS
    *     duplicated onto the exploded key side (queries x 2^pc subs —
    *     still the small side by construction) and the cosine is
    *     computed INSIDE the bucketed merge join, so the q_id
    *     Exchange moves only (q_id, c_id, cosine) rows instead of
    *     every candidate's ~550-byte vector (q125 sf10: 1306s → 67.5s).
    *
    * SIZE-GATED like every probe in the family: a bounded serving
    * batch broadcasts its key and vector sides; past
    * [[SemDeltaBroadcastMaxVecs]] both joins degrade to shuffles
    * against the Exchange-free bucketed scan (`forceLarge` pins the
    * route for q125 and the plan audit). */
  private[graft] def semIndexTopK(s: SparkSession, dir: String,
      forceLarge: Option[Boolean] = None): DataFrame =
    semIndexTopKOf(s, dir,
      Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7), forceLarge)

  /** [[semIndexTopK]] parameterized over the arriving query rows (raw
    * embeddings schema) so the streaming drain (q126) can serve each
    * micro-batch; the size gate runs per call — i.e. per micro-batch
    * in the streaming case, like q114's in-drain gate. */
  private[graft] def semIndexTopKOf(s: SparkSession, dir: String,
      raw: DataFrame, forceLarge: Option[Boolean] = None,
      deleted: Option[DataFrame] = None): DataFrame = {
    // in-flight retraction: deleted vectors tombstone out of the block
    // index by ONE anti-join against the broadcast takedown-sized set —
    // the codebook (a trained artifact) is deliberately NOT retrained,
    // so assignments stay stable and the serving contract is exactly
    // "the same index minus the deleted rows". The DURABLE form (q147)
    // resolves the index through [[semRetractedIndex]] instead.
    val idx0 = semBlockIndexTable(s, dir)
    val idx = deleted.map(d => idx0.join(
        broadcast(d.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
      .getOrElse(idx0)
    semTopKOverIndex(s, dir, idx, raw, forceLarge)
  }

  /** The serving tail over an already-resolved index relation — shared
    * by the base path ([[semIndexTopKOf]]) and the durable-retraction
    * path ([[semServeRetracted]]). */
  private[queries] def semTopKOverIndex(s: SparkSession, dir: String,
      idx: DataFrame, raw: DataFrame,
      forceLarge: Option[Boolean]): DataFrame = {
    val codebook = semCodebookTable(s, dir)
    val vq = raw
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        transform(col("v"), x => floor(x * lit(1024.0)).cast("double")).as("q"))
    val queries = assignSemBlocks(vq, codebook)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("cell"))
      .localCheckpoint() // keys probe + cosine join-back read one assignment
    // size gate off the stage just materialized — block-manager
    // metadata, zero extra jobs per serving batch (round-12 verdict
    // #6); both broadcast sides (qkeys, qvecs) derive from it
    val large = forceLarge.getOrElse(
      DedupQueries.stagedBytes(queries)
        .map(_ > DedupQueries.DeltaBroadcastMaxBytes)
        .getOrElse(raw.select("vec_id").count() > SemDeltaBroadcastMaxVecs))
    val stats = codebook.agg(max(col("n_corpus")).as("n_corpus"))
    def keysOf(extra: Column*) = queries
      .crossJoin(broadcast(stats))
      .withColumn("pc", semSubBitsCol(col("n_corpus")))
      .select(col("q_id") +: col("cell") +:
        explode(sequence(lit(0), expr("shiftleft(1, pc) - 1"))).as("sub") +:
        extra: _*)
      .select(col("q_id") +: (col("cell") * lit(256) + col("sub")).as("block_key") +:
        extra: _*)
    val scored = if (large) {
      // bulk route (round-16 sf10 finding): the two-join shape shuffled
      // every (query, candidate) pair WITH its candidate vector payload
      // through the q_id Exchange before the cosine — at sf10 a 20k-query
      // batch moved ~550 bytes/candidate and the rank's top-K could prune
      // nothing map-side (q125: 1306s). Carrying qv on the exploded KEY
      // side instead (queries x 2^pc subs — the small side by
      // construction) computes the cosine INSIDE the bucketed merge join,
      // so the q_id Exchange moves only (q_id, c_id, cosine) rows and the
      // optimizer's partial WindowGroupLimit can prune before the shuffle.
      // The index side is untouched: bare bucketed scan, zero Exchange
      // (PlanAuditSpec audits both routes).
      idx.hint("merge").join(keysOf(col("qv")), Seq("block_key"))
        .select(col("q_id"), col("vec_id").as("c_id"),
          cosine(col("qv"), col("v")).as("cosine"))
    } else {
      // serving route: both tiny sides broadcast; the payload never
      // shuffles at all, so the two-join shape stays optimal here
      val qvecs = queries.select(col("q_id"), col("qv"))
      idx.join(broadcast(keysOf()), Seq("block_key"))
        .select(col("q_id"), col("vec_id").as("c_id"), col("v"))
        .join(broadcast(qvecs), Seq("q_id"))
        .select(col("q_id"), col("c_id"), cosine(col("qv"), col("v")).as("cosine"))
    }
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= RetrievalK)
      .select(col("q_id"), col("rank"), col("c_id"), col("cosine"))
  }

  /** q126's body: the serving path LIVE — a stream of retrieval
    * queries drained against the standing durable index, the shape of
    * an online vector-search service. Queries arrive as 3 drops (mod-3
    * classes — retrieval answers are per-query, so batch-local top-K
    * is globally exact and drop order is irrelevant); each micro-batch
    * runs [[semIndexTopKOf]] — re-gated per batch — and dynamic-
    * overwrites its own batch_id partition (replay-idempotent: the
    * answer to a query is a pure function of the query and the
    * standing index). Final table == batch q124 under the verbatim
    * oracle. `replay` as in [[DedupQueries.drainDrops]]. */
  private[graft] def streamAnnServe(s: SparkSession, dir: String,
      replay: Replay = Replay.Off): DataFrame = {
    val queries = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7)
    // build/attach the index and codebook BEFORE the drain (the
    // standing artifacts exist before a serving stream starts)
    semBlockIndexTable(s, dir)
    semCodebookTable(s, dir)
    val outTable = JvmScratch.tableName("stream_ann_out")
    drainDrops(s, dir, "q126", "embeddings.parquet", replay,
        sinks = Seq(outTable -> Seq("q_id" -> "bigint",
          "rank" -> "bigint", "c_id" -> "bigint", "cosine" -> "double"))) {
      i => queries.filter(pmod(col("vec_id"), lit(3)) === i)
    } { (batch, batchId) =>
      writeBatch(semIndexTopKOf(batch.sparkSession, dir, batch), batchId, outTable)
    } {
      s.table(outTable).select("q_id", "rank", "c_id", "cosine")
    }
  }

  /** The shared keeper tail of the durable-probe queries (q112/q115):
    * lowest corpus id wins per delta vector, hits staged by the caller. */
  private[queries] def keepLowest(hits: DataFrame): DataFrame = {
    val keep = hits.groupBy("d_id").agg(min(col("c_id")).as("keeper_id"))
    hits.join(keep, Seq("d_id"))
      .filter(col("c_id") === col("keeper_id"))
      .select(col("d_id").as("vec_id"), col("keeper_id"), col("cosine"))
  }

  /** q112's probe stage, pre-staging: (d_id, c_id, cosine) hits of the
    * delta against the persisted block index. Exposed unstaged so
    * PlanAuditSpec can assert the plan that actually touches the index
    * (the localCheckpoint in the query body would hide it). */
  private[graft] def semIndexProbe(s: SparkSession, dir: String,
      forceLarge: Option[Boolean] = None): DataFrame =
    semIndexProbeOf(s, dir,
      Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 7), forceLarge)

  /** The probe parameterized over the arriving rows (raw embeddings
    * schema), so the streaming drain (q113) can run it per micro-batch:
    * assign `deltaRaw` through the re-read codebook and join its
    * blocks into the bucketed index scan, cosine-verify.
    *
    * SIZE-GATED like [[semanticIncrementalMatches]] and q93's probe:
    * a delta-sized arrival (< [[SemDeltaBroadcastMaxVecs]] vectors —
    * the gate count is one column-pruned scan of the delta ids)
    * broadcasts its blocks into the bucketed scan, zero index-side
    * Exchange. Past the gate the broadcast is dropped and the delta
    * pays ONE shuffle into the index's own HashPartitioning(block_key,
    * 16) layout — the bucketed side still reads Exchange-free.
    * `forceLarge` pins the path for q115 and the plan audit. */
  private[graft] def semIndexProbeOf(s: SparkSession, dir: String,
      deltaRaw: DataFrame, forceLarge: Option[Boolean] = None): DataFrame = {
    val idx = semBlockIndexTable(s, dir)
    val large = forceLarge.getOrElse(
      deltaRaw.select("vec_id").count() > SemDeltaBroadcastMaxVecs)
    val deltaBlocks = blocksOfRaw(deltaRaw, semCodebookTable(s, dir))
      .select(col("vec_id").as("d_id"), col("v").as("dv"), col("block_key"))
    (if (large) idx.hint("merge").join(deltaBlocks, Seq("block_key"))
     else idx.join(broadcast(deltaBlocks), Seq("block_key")))
      .select(col("d_id"), col("vec_id").as("c_id"),
        cosine(col("dv"), col("v")).as("cosine"))
      .filter(col("cosine") >= NearDupThreshold)
  }

  /** (vec_id, v, block_key) of raw embeddings-schema rows assigned
    * through `codebook` — the folded single-column block key the
    * bucketed index joins on. Shared by the q112 probe and the q114
    * stream-grown index. */
  private[graft] def blocksOfRaw(raw: DataFrame, codebook: DataFrame): DataFrame = {
    val vq = raw
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        transform(col("v"), x => floor(x * lit(1024.0)).cast("double")).as("q"))
    assignSemBlocks(vq, codebook)
      .select(col("vec_id"), col("v"),
        (col("cell") * lit(256) + col("sub")).as("block_key"))
  }

  /** The persisted codebook: (cid, m, n_corpus), trained once per
    * corpus content fingerprint on the standing rows (vec_id % 10 != 7)
    * and published as a tiny parquet sidecar under the warehouse. */
  private[graft] def semCodebookTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "sem_codebook", "embeddings.parquet", None) {
      val seedIds = (0L until 16L).filter(_ % 10 != 7).take(NumCells)
      kmeansCodebook(s, dir, col("vec_id") % 10 =!= 7, seedIds).coalesce(1)
    }

  /** The FULL-corpus sibling of [[semCodebookTable]] (all vectors,
    * seeds 0..k-1 — the q109/q114 training set, which differs from the
    * standing-corpus codebook above in both population and seeds, so
    * the two are distinct durable families). q114's bootstrap used to
    * re-run the Lloyd iteration — two corpus scans — on EVERY
    * invocation; at sf1 that train was the bulk of its ~25s wall
    * (round-10 verdict #6). Persisting it under the corpus content
    * fingerprint makes the train once-per-corpus: repeated bootstraps
    * (bench iterations, the sf1 Verify pass) re-read a one-row sidecar.
    * Arithmetic is deterministic (quantized components, exact integer
    * folds), so reuse is result-identical and the q114 oracle is
    * untouched. */
  private[graft] def semCodebookAllTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "sem_codebook_all", "embeddings.parquet", None) {
      kmeansCodebook(s, dir, lit(true), (0 until NumCells).map(_.toLong))
        .coalesce(1)
    }

  /** The persisted corpus block index: (vec_id, v, block_key) for every
    * standing-corpus vector, bucketed 16 ways on block_key so the probe
    * join needs no index-side Exchange (the q41 property). Carries the
    * raw vectors as its payload — the IVF-list shape — so the cosine
    * verify reads them straight off the index scan. */
  private[graft] def semBlockIndexTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "sem_blocks", "embeddings.parquet", Some(("block_key", 16))) {
      assignSemBlocks(quantized(s, dir).filter(col("vec_id") % 10 =!= 7),
          semCodebookTable(s, dir))
        .select(col("vec_id"), col("v"),
          (col("cell") * lit(256) + col("sub")).as("block_key"))
    }

  /** q124/q125 shared oracle: top-K retrieval — every query (the
    * held-out decile) against every standing vector in its CELL,
    * ranked by cosine with vec_id tiebreak. The Spark plan probes the
    * cell as the union of its 2^pc sub-block keys (so the join stays
    * on the bucketed block_key); since every indexed vector's sub is
    * < 2^pc, that union IS the whole cell — the two statements are
    * equivalent by construction. */
  /** The serving oracle parameterized over an extra candidate-side
    * predicate (alias `c`) — empty for q124/q125/q126; the retraction
    * query (q147) excludes the deleted vectors. The codebook-training
    * CTEs stay verbatim: retraction does not retrain. */
  private[graft] def annServeOracleFor(candPred: String): String = {
    val cp = if (candPred.isEmpty) "" else s" AND $candPred"
    s"""$semStandingCellsOracleCtes,
       |scored AS (SELECT d.vec_id AS q_id, c.vec_id AS c_id,
       |    ${sqlCosine("d.v", "c.v")} AS cosine
       |  FROM cells d JOIN cells c ON d.cell = c.cell
       |   AND d.vec_id % 10 = 7 AND c.vec_id % 10 != 7$cp),
       |ranked AS (SELECT q_id, c_id, cosine,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, c_id) AS rank
       |  FROM scored)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, c_id, cosine
       |FROM ranked WHERE rank <= $RetrievalK""".stripMargin
  }

  private[graft] lazy val annServeOracle: String = annServeOracleFor("")

  /** Threshold over which an arriving embedding delta stops
    * broadcasting and instead shuffles both sides on (cell, sub) —
    * the same size-gate discipline as the q93/q108 MinHash probe. A
    * STAGED delta is gated by bytes instead, on
    * [[DedupQueries.DeltaBroadcastMaxBytes]]. */
  private[graft] val SemDeltaBroadcastMaxVecs = 100000L
}
