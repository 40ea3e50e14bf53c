package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

/** Band/pair/cc retraction: tombstone maintenance, delete-set fingerprints, the shared debt gate, and the patch-or-fold durable publish (q143/q146/q150/q151/q154/q159).
  *
  * Pure round-16 refactor: split out of the 3,300-line DedupQueries.scala
  * verbatim (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` — traits cannot
  * share plain-private members — and derived vals made lazy so trait
  * initialization order can never observe an unset field). */
trait DedupRetraction { self: DedupQueries.type =>

  /** Deletion/retraction maintenance over the band/pair/cc artifact
    * stack — the maintenance direction the append-only family lacked
    * (round-11 verdict #1): a real 100-TB pipeline must REMOVE
    * documents (takedowns, licensing, contamination discovered late)
    * without a corpus recompute. Given the standing artifacts and a
    * delete set D, returns the post-delete (bands, pairs, labels):
    *
    *   - BANDS: tombstone D's rows — one anti-join against the
    *     broadcast, takedown-sized delete set; the index side stays a
    *     bare scan (no Exchange — RetractionSpec audits it);
    *   - PAIRS: pair rows are PER-PAIR facts (jaccard depends only on
    *     the two documents, never the rest of the corpus), so deletion
    *     exactly REMOVES the pairs touching D and changes nothing else
    *     — no rescoring, unlike the df-cut family (q142) where a
    *     global cut entangles documents;
    *   - LABELS: deleting vertices can SPLIT a component (a deleted
    *     bridge doc) or retire its canonical id (min id deleted), and
    *     can never MERGE components — so only components CONTAINING a
    *     deleted doc change. Their ids come from one semi-join of the
    *     standing labels against D (|D|-bounded, broadcast); unaffected
    *     components' label rows carry over VERBATIM; the affected
    *     components re-enter the O(log D) min-label fixpoint over their
    *     retained pairs only. Exactness: edges never cross components
    *     and pairs1 ⊆ pairs0, so CC(pairs1) restricted to an
    *     unaffected component is that component unchanged (same min
    *     id), and restricted to the affected ones equals the fixpoint
    *     over exactly their retained pairs. Affected docs whose pairs
    *     all vanish fall out of the label table — correctly: they are
    *     singletons, and the labelCorpus coalesce labels them by
    *     doc_id.
    *
    * Per-delete cost scales with |D| + the affected clusters, never
    * the corpus. The affected-docs semi-join carries no broadcast hint
    * — a mega-cluster hit by a takedown is exactly where AQE should
    * choose by runtime size. All three outputs == the from-scratch
    * artifact build over corpus-minus-D; RetractionSpec proves it at
    * every level across two successive deletes. */
  private[queries] def retractMaintain(bands0: DataFrame, pairs0: DataFrame,
      labels0: DataFrame, deleteIds: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val del = deleteIds.select("doc_id").distinct().localCheckpoint()
    val bands1 = bands0.join(broadcast(del), Seq("doc_id"), "left_anti")
    // lazy: the relabeling fixpoint's edge staging is the first (and
    // often only) consumer — it materializes the blocks; a caller that
    // never reads the returned pair state skips the job entirely
    val pairs1 = pairs0
      .join(broadcast(del.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
      .join(broadcast(del.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
      .select(pairs0.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint(eager = false)
    val (affected, relabeled) = retractRelabel(pairs1, labels0, del)
    val carried = labels0.join(broadcast(affected), Seq("label"), "left_anti")
      .select("doc_id", "label")
    (bands1, pairs1, carried.unionByName(relabeled))
  }

  /** The |D|+affected-bounded relabeling core of a delete: the ids of
    * every component CONTAINING a deleted doc, and the min-label
    * fixpoint re-run over exactly those components' retained pairs.
    * Shared by the in-flight retraction ([[retractMaintain]]) and the
    * patch-generation build ([[retractPublishMode]]) so the two paths
    * can never diverge. */
  private[queries] def retractRelabel(pairs1: DataFrame, labels0: DataFrame,
      del: DataFrame): (DataFrame, DataFrame) = {
    val affected = labels0.join(broadcast(del), Seq("doc_id"), "left_semi")
      .select("label").distinct().localCheckpoint()
    // both ends of a pair share a component, so a semi-join on doc_a
    // alone selects exactly the affected components' retained pairs
    val affectedDocs = labels0.join(broadcast(affected), Seq("label"), "left_semi")
      .select(col("doc_id").as("doc_a"))
    val affectedPairs = pairs1.join(affectedDocs, Seq("doc_a"), "left_semi")
    val (relabeled, _) = connectedComponents(
      affectedPairs.select("doc_a", "doc_b"))
    (affected, relabeled)
  }

  /** Order-free 48-bit fingerprint of a delete-id set, computed in ONE
    * one-row aggregate (no driver-side id collection however large the
    * takedown batch), masked to the lowercase-hex shape
    * [[graft.sources.DurableIndex]] versions carry.
    *
    * Each id passes through a NON-LINEAR 64-bit finalizer (xxhash64,
    * codegen'd) before the sum-fold — a round-12 advice fix: the
    * previous `pmod(id * K, P)` term was linear in the id, so two
    * distinct delete sets with equal size and equal id-sum (e.g. {1,4}
    * vs {2,3}) collided, and a stale published generation could be
    * silently re-attached for a DIFFERENT delete set. Two
    * independently-seeded hash sums must now both collide, which the
    * avalanche property reduces to chance. Per-term `pmod` bounds keep
    * the ANSI-mode sums overflow-free to ~2^31 ids (terms < 2^32,
    * sum < n * 2^32 < 2^63). */
  private[queries] def deleteSetFp(del: DataFrame): String = {
    val r = del.agg(
      coalesce(sum(pmod(xxhash64(col("doc_id")), lit(4294967291L))), lit(0L)).as("s1"),
      coalesce(sum(pmod(xxhash64(lit("graft_del_2"), col("doc_id")),
        lit(4294967279L))), lit(0L)).as("s2"),
      count(lit(1)).as("n")).first()
    java.lang.Long.toHexString(
      (((r.getLong(0) * 1000003L + r.getLong(1)) * 31 + r.getLong(2))
        & 0xFFFFFFFFFFFFL) | 0x1)
  }

  /** PERSIST the post-delete band/pair/cc artifacts as a durable
    * generation — the half of retraction q143 computes in-flight but a
    * real takedown pipeline must also WRITE: the standing artifacts on
    * disk have to track the corpus, or every later consumer re-pays
    * the tombstone joins. The generation's identity is (corpus
    * fingerprint x delete-set fingerprint), folded into the same
    * lowercase-hex version shape the DurableIndex machinery retires
    * on, and published under sibling family names (`band_index_r`
    * etc.) so delete-generations supersede EACH OTHER without
    * retiring the pre-delete base artifacts other queries attach. A
    * re-attach with the same corpus + delete set touches no bytes and
    * re-reads bare scans (RetractionSpec); a grown delete set (the
    * takedown log advanced) changes the fp and builds the next
    * generation, retiring the old one on the standard grace
    * contract. */
  /** The (corpus fingerprint x delete-set fingerprint) version every
    * published retraction generation is keyed on. */
  private[queries] def retractionFp(s: SparkSession, dir: String, del: DataFrame): String = {
    val srcFp = graft.sources.DurableIndex.fingerprint(s, dir, "documents.parquet")
    java.lang.Long.toHexString(
      ((java.lang.Long.parseLong(srcFp, 16) * 31 +
        java.lang.Long.parseLong(deleteSetFp(del), 16)) & 0xFFFFFFFFFFFFL) | 0x1)
  }

  /** Durable band/pair/cc retraction with the TOMBSTONE-DEBT gate —
    * q157's economics applied to the family that motivated it
    * (round-13 verdict #1): the old path rebuilt `band_index_r` (the
    * entire surviving band index), `pair_index_r_b16` and `cc_index_r`
    * on EVERY takedown — an O(corpus) write for an O(|D|) logical
    * change; at 100 TB a 100-document takedown rewrote billions of
    * rows. Now:
    *
    *   - UNDER the gate (takedown-sized deletes), the publish is ONE
    *     O(|D| + affected-clusters) PATCH generation — a plain sidecar
    *     holding the delete ids, the affected component labels, and
    *     the relabeled rows of exactly those components — and readers
    *     COMPOSE it over the UNCHANGED base artifacts: bands/pairs via
    *     broadcast anti-joins of the (tiny) delete ids, labels via a
    *     broadcast anti-join of the affected labels plus a union of
    *     the relabeled rows. The base scans stay bucketed and
    *     Exchange-free; the patch side is broadcast-sized by the gate
    *     contract. Deletes FOLD (retract∘retract == retract(∪), the
    *     q151 argument), so the cumulative takedown log is always
    *     patched against the base — successive patch generations
    *     supersede each other under the standard retirement;
    *   - PAST the gate (a sweep-scale delete crossing
    *     [[graft.sources.DurableIndex.RebuildDebtFraction]] of the
    *     standing band-index rows, or an ABSOLUTE delete-id cap — ~4M
    *     ids, the point where the patch-composed read's broadcast stops
    *     being cheap however small the fraction), the family MAJOR-COMPACTS: the
    *     post-delete artifacts publish as full (corpus fp x delete fp)
    *     generations (`band_index_r` bucketed like its base,
    *     `pair_index_r_b16`, `cc_index_r`) and every later read is a
    *     bare scan again — the publish IS the patch-log truncation.
    *
    * The gate scan runs ONCE per (corpus fp x delete fp): a published
    * generation IS the mode record, so re-runs resolve by existence
    * (zero jobs). `forceRebuild` is the explicit operator override
    * ("fold now") and bypasses the record. Either mode's outputs ==
    * [[retractMaintain]] == the from-scratch build over
    * corpus-minus-deleted (RetractionSpec proves both modes across
    * successive deletes and the fold firing). Returns (bands, pairs,
    * labels, rebuilt?). */
  private[graft] def retractPublishMode(s: SparkSession, dir: String,
      delIds: DataFrame, forceRebuild: Option[Boolean] = None)
      : (DataFrame, DataFrame, DataFrame, Boolean) = {
    val del = delIds.select("doc_id").distinct().localCheckpoint()
    val fp = retractionFp(s, dir, del)
    val bands0 = bandIndexTable(s, dir)
    // Mode resolution (cheapest first): an explicit override; else the
    // RECORDED mode — a published generation under this (corpus fp x
    // delete fp) IS the record, so re-runs never re-pay the gate scan
    // (cc_index_r is the LAST artifact a fold builds, so its existence
    // implies the whole fold; a crash mid-fold self-heals because the
    // attachOrBuild calls below rebuild whatever is missing); else the
    // debt gate decides once: deleted fraction of the band-index rows
    // OR an absolute id cap past which the patch-composed read's
    // broadcast stops being cheap regardless of fraction.
    val rebuild = forceRebuild.getOrElse {
      if (graft.sources.DurableIndex.liveExists(s, dir, "cc_index_r", fp)) true
      else if (graft.sources.DurableIndex.liveExists(s, dir, "retract_patch", fp)) false
      else graft.sources.DurableIndex.exceedsDebt(
        bands0, del, "doc_id")
    }
    if (rebuild) {
      lazy val retracted = retractMaintain(bands0,
        pairIndexTable(s, dir), ccIndexTable(s, dir), del)
      val b = graft.sources.DurableIndex.attachOrBuildFp(
        s, dir, "band_index_r", fp, Some(("band_key", 16)))(retracted._1)
      val p = graft.sources.DurableIndex.attachOrBuildFp(
        s, dir, "pair_index_r_b16", fp, Some(("doc_a", 16)))(
        retracted._2.repartition(16, col("doc_a")))
      val c = graft.sources.DurableIndex.attachOrBuildFp(
        s, dir, "cc_index_r", fp, None)(retracted._3)
      (b, p, c, true)
    } else {
      val pairs0 = pairIndexTable(s, dir)
      val labels0 = ccIndexTable(s, dir)
      // the O(|D| + affected-clusters) patch: three row kinds in one
      // tiny sidecar — ("del", doc_id), ("aff", label), ("cc", doc_id,
      // label) — built once per (corpus fp x delete fp)
      val patch = graft.sources.DurableIndex.attachOrBuildFp(
        s, dir, "retract_patch", fp, None) {
        val pairs1 = pairs0
          .join(broadcast(del.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
          .join(broadcast(del.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
          .select(pairs0.columns.map(col).toIndexedSeq: _*)
        val (affected, relabeled) = retractRelabel(pairs1, labels0, del)
        del.select(lit("del").as("kind"), col("doc_id").as("a"), lit(-1L).as("b"))
          .unionByName(affected.select(lit("aff").as("kind"),
            col("label").as("a"), lit(-1L).as("b")))
          .unionByName(relabeled.select(lit("cc").as("kind"),
            col("doc_id").as("a"), col("label").as("b")))
          .coalesce(1)
      }.localCheckpoint()
      // a forced fold that crashed after publishing band/pair but short
      // of cc_index_r (the mode record) leaves corpus-scale orphan
      // generations under this fp that patch-mode reads never attach:
      // patch resolution proves they're dead partials — park them under
      // the standard grace window (round-15 advice)
      graft.sources.DurableIndex.retireIfLive(s, dir, "band_index_r", fp)
      graft.sources.DurableIndex.retireIfLive(s, dir, "pair_index_r_b16", fp)
      val delR = patch.filter(col("kind") === "del").select(col("a").as("doc_id"))
      val affR = patch.filter(col("kind") === "aff").select(col("a").as("label"))
      val ccR = patch.filter(col("kind") === "cc")
        .select(col("a").as("doc_id"), col("b").as("label"))
      val bands = bands0.join(broadcast(delR), Seq("doc_id"), "left_anti")
        .select(bands0.columns.map(col).toIndexedSeq: _*)
      val pairs = pairs0
        .join(broadcast(delR.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
        .join(broadcast(delR.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
        .select(pairs0.columns.map(col).toIndexedSeq: _*)
      val labels = labels0.join(broadcast(affR), Seq("label"), "left_anti")
        .select("doc_id", "label")
        .unionByName(ccR)
      (bands, pairs, labels, false)
    }
  }

  /** [[retractPublishMode]] under the natural gate — q154's surface. */
  private[graft] def retractPublish(s: SparkSession, dir: String,
      delIds: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (b, p, c, _) = retractPublishMode(s, dir, delIds)
    (b, p, c)
  }
}
