package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

/** Durable retraction over the ANN serving index (q147): the (corpus fp x delete fp)-keyed sidecar protocol, the debt-gated compose-vs-fold decision, and retracted serving.
  *
  * Pure round-17 refactor: split out of the 1,699-line
  * SimilarityQueries.scala verbatim, per the DedupQueries precedent
  * (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` where a member
  * crosses a trait boundary — traits cannot share plain-private
  * members). */
trait SimRetraction { self: SimilarityQueries.type =>

  /** The (corpus fp x delete-set fp) version a published ANN delete log
    * is keyed on — [[DedupQueries.retractionFp]] over the embeddings
    * source. */
  private[queries] def semRetractionFp(s: SparkSession, dir: String,
      del: DataFrame): String = {
    val srcFp = graft.sources.DurableIndex.fingerprint(s, dir, "embeddings.parquet")
    java.lang.Long.toHexString(
      ((java.lang.Long.parseLong(srcFp, 16) * 31 + java.lang.Long.parseLong(
        DedupQueries.deleteSetFp(del.select(col("vec_id").as("doc_id"))), 16))
        & 0xFFFFFFFFFFFFL) | 0x1)
  }

  /** Resolve the RETRACTED serving index — the durable half q147 was
    * missing (round-13 verdict #2): the old tombstone lived only
    * in-flight, so nothing was published, every future serving query
    * re-paid the anti-join, and a fresh session that was not re-handed
    * the delete set silently served deleted vectors.
    *
    * With a delete batch in hand (`delIds = Some(d)`), the delete set
    * is PUBLISHED as a DurableIndex sidecar (`sem_del`, keyed corpus
    * fp x delete fp) carrying (vec_id, corpus_fp, del_fp, folded) —
    * an O(|D|) write. The mode is decided ONCE at publish by the
    * tombstone-debt gate (deleted fraction of the block-index rows +
    * an absolute ~4M-id cap, one vec_id-column scan, no broadcast
    * hint) and recorded in the sidecar's `folded` flag — folded
    * sidecars are META-ONLY (one marker row; the fold generation is
    * the content, published BEFORE its marker) — so every later
    * resolution, including sessions that never saw the batch, replays
    * the same decision with zero gate scans:
    *
    *   - under the gate, serving COMPOSES the sidecar over the
    *     unchanged base index: one broadcast anti-join added to the
    *     bucketed Exchange-free scan;
    *   - past [[graft.sources.DurableIndex.RebuildDebtFraction]], the
    *     index MAJOR-COMPACTS into a full `sem_blocks_r` generation
    *     (bucketed on block_key like its base; codebook deliberately
    *     NOT retrained — the serving contract is "the same index minus
    *     the deleted rows"), and every later read is a bare bucketed
    *     scan again.
    *
    * WITHOUT a delete batch (`delIds = None` — a fresh serving
    * session), the live sidecar is discovered from the warehouse
    * ([[graft.sources.DurableIndex.attachLatest]]), validated against
    * the CURRENT corpus fingerprint (a regenerated corpus moots a
    * stale delete log), and composed or read folded per its recorded
    * mode. No sidecar -> the base index. */
  private[graft] def semRetractedIndex(s: SparkSession, dir: String,
      delIds: Option[DataFrame],
      forceRebuild: Option[Boolean] = None): DataFrame = {
    val idx0 = semBlockIndexTable(s, dir)
    val srcFp = graft.sources.DurableIndex.fingerprint(s, dir, "embeddings.parquet")
    def composed(vecIds: DataFrame): DataFrame =
      idx0.join(broadcast(vecIds), Seq("vec_id"), "left_anti")
        .select(idx0.columns.map(col).toIndexedSeq: _*)
    delIds match {
      case Some(d) =>
        val del = d.select("vec_id").distinct().localCheckpoint()
        val fp = semRetractionFp(s, dir, del)
        // explicit override, else the recorded mode (generation
        // existence — zero jobs), else ONE shared debt-gate scan:
        // deleted fraction of the index rows or the absolute id cap
        val folded = forceRebuild.getOrElse {
          if (graft.sources.DurableIndex.liveExists(s, dir, "sem_blocks_r", fp)) true
          else if (graft.sources.DurableIndex.liveExists(s, dir, "sem_del", fp)) false
          else graft.sources.DurableIndex.exceedsDebt(
            idx0, del.select(col("vec_id")), "vec_id")
        }
        if (folded) {
          // the GENERATION publishes before the sidecar marker (a
          // crash between the two leaves the retraction invisible —
          // never a marker pointing at a missing fold); the folded
          // sidecar is META-ONLY: a sweep-scale delete set has no
          // business being written coalesce(1), and nothing ever
          // composes it — the fold generation is the content
          val gen = graft.sources.DurableIndex.attachOrBuildFp(
            s, dir, "sem_blocks_r", fp, Some(("block_key", 16))) {
            composed(del).repartition(16, col("block_key"))
          }
          graft.sources.DurableIndex.attachOrBuildFp(s, dir, "sem_del", fp, None) {
            del.limit(0).select(col("vec_id"))
              .unionByName(s.range(1).select(lit(-1L).as("vec_id")))
              .select(col("vec_id"), lit(srcFp).as("corpus_fp"),
                lit(fp).as("del_fp"), lit(true).as("folded")).coalesce(1)
          }
          gen
        } else {
          val sc = graft.sources.DurableIndex.attachOrBuildFp(
            s, dir, "sem_del", fp, None) {
            del.select(col("vec_id"), lit(srcFp).as("corpus_fp"),
              lit(fp).as("del_fp"), lit(false).as("folded")).coalesce(1)
          }
          composed(sc.select("vec_id"))
        }
      case None =>
        // fresh-session path: discover the live delete log from the
        // warehouse; an absent, empty, or stale-corpus sidecar
        // (regenerated embeddings) degrades to the base index — old
        // deletes are moot under a new corpus identity
        graft.sources.DurableIndex.attachLatest(s, dir, "sem_del")
          .flatMap(sc => sc.select("corpus_fp", "del_fp", "folded")
            .limit(1).collect().headOption.map(h => (sc, h)))
          .filter { case (_, h) => h.getString(0) == srcFp } match {
          case None => idx0
          case Some((sc, head)) =>
            if (head.getBoolean(2))
              graft.sources.DurableIndex.attachOrBuildFp(
                s, dir, "sem_blocks_r", head.getString(1), Some(("block_key", 16))) {
                // unreachable by construction: the generation publishes
                // BEFORE its marker — a marker without its fold is a
                // corrupted warehouse, and rebuilding from the
                // meta-only sidecar would silently serve deleted rows
                sys.error(s"sem_del marker ${head.getString(1)} has no " +
                  "sem_blocks_r generation — warehouse corrupted")
              }
            else composed(sc.select("vec_id"))
        }
    }
  }

  /** Top-K serving over the retracted index — q147's surface and the
    * read path a takedown-compliant vector service actually runs. */
  private[graft] def semServeRetracted(s: SparkSession, dir: String,
      raw: DataFrame, delIds: Option[DataFrame],
      forceRebuild: Option[Boolean] = None): DataFrame =
    semTopKOverIndex(s, dir, semRetractedIndex(s, dir, delIds, forceRebuild),
      raw, None)
}
