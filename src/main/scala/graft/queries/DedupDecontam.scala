package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

/** 13-gram span-hash decontamination family: the span/contam durable artifacts, benchmark retirement, and their oracles (q86/q116/q137/q146/q161).
  *
  * Pure round-16 refactor: split out of the 3,300-line DedupQueries.scala
  * verbatim (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` — traits cannot
  * share plain-private members — and derived vals made lazy so trait
  * initialization order can never observe an unset field). */
trait DedupDecontam { self: DedupQueries.type =>

  /** (doc_id, h): distinct 48-bit 13-gram span hashes per document,
    * staged once per query run — the contamination-check index shared
    * by q86 and the q100 corpus pipeline (hash collisions are mirrored
    * by the oracle, which hashes identically). */
  private[queries] def spanHashes13(s: SparkSession, dir: String): DataFrame =
    spanHashes13Of(Tables.documents(s, dir)).localCheckpoint()

  /** The 13-gram span-hash stage parameterized over the document rows
    * (doc_id, text, ...), unstaged — shared by the batch q86/q91
    * pipeline and the q116 streaming drain, which span-hashes each
    * arriving micro-batch through the same expressions. */
  private[queries] def spanHashes13Of(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 13)
      .select(col("doc_id"), explode(shinglesOf(col("t"), 13)).as("sg"))
      .select(col("doc_id"), md5Hash48(col("sg")).as("h"))
      .distinct()

  /** The persisted corpus 13-gram SPAN-HASH index — q137's first
    * artifact: (doc_id, h) distinct pairs for the whole corpus,
    * bucketed 16 ways on h so a future oversized-benchmark probe can
    * merge-join with zero index-side Exchange. At 100 TB this is the
    * inverted index a decontamination service keeps standing: the
    * corpus is tokenized ONCE per content fingerprint, and every
    * subsequent benchmark update touches only this table — never the
    * corpus text. */
  private[graft] def spanIndexTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "span_index", "documents.parquet", Some(("h", 16))) {
      spanHashes13Of(Tables.documents(s, dir))
    }

  /** The persisted STANDING CONTAMINATION table — q137's second
    * artifact, stacked on the span index (the build never touches
    * text): q86's (doc_id, bench_id, n_shared) restricted to the
    * standing benchmark half (bench_id % 10 == 0). */
  private[graft] def contamIndexTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "contam_index", "documents.parquet", None) {
      val idx = spanIndexTable(s, dir)
      val bench = idx.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("bench_id"), col("h").as("bh"))
      // multi-file publish (the round-13 pair_index lesson): the
      // contamination table is per-pair facts — corpus x benchmark
      // sized at 100x — so the write keeps the aggregation's
      // distributed partitioning
      idx.join(broadcast(bench),
          col("h") === col("bh") && col("doc_id") =!= col("bench_id"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
    }

  /** The persisted FULL-BENCHMARK contamination table — the durable
    * publish of q137's growth cell (until round 16 the appended slice
    * was recomputed per read, never landed): the standing half
    * ([[contamIndexTable]]) plus the grown slice (bench_id % 10 == 5)
    * probed out of the span index. Built artifact-fed — zero text
    * anywhere — and keyed on the corpus fingerprint like its inputs.
    * This is the base relation benchmark RETIREMENT (q161) maintains. */
  private[graft] def contamFullTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "contam_full", "documents.parquet", None) {
      val idx = spanIndexTable(s, dir)
      val newBench = idx.filter(col("doc_id") % 10 === 5)
        .select(col("doc_id").as("bench_id"), col("h").as("bh"))
      val fresh = idx.join(broadcast(newBench),
          col("h") === col("bh") && col("doc_id") =!= col("bench_id"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
      contamIndexTable(s, dir).unionByName(fresh)
    }

  /** Benchmark RETIREMENT over the decontamination stack — the
    * lifecycle cell q146 does not close (round-15 verdict #5): q146
    * composes tombstones in-flight each run; a production rotation (an
    * eval set dropped from the suite) must PUBLISH the retirement once
    * so every later session serves the surviving benchmark without the
    * retirement batch in hand. The q147/q154 economics verbatim, on the
    * contam family:
    *
    *   - UNDER the shared debt gate, the publish is a `contam_del`
    *     sidecar keyed (corpus fp x retire-set fp) holding the retired
    *     bench ids; readers compose ONE broadcast anti-join on bench_id
    *     over the unchanged [[contamFullTable]] — contamination rows
    *     are per-pair facts, so removal IS the maintenance (no
    *     re-probing, no re-tokenization, cost O(|B|));
    *   - PAST the gate, the family folds into a full `contam_r`
    *     generation (published BEFORE its marker — the q147
    *     crash-ordering) and later reads are a bare scan;
    *   - a FRESH session (`retired = None`) discovers the live sidecar
    *     via attachLatest, validates it against the CURRENT corpus
    *     fingerprint (a regenerated corpus moots a stale retirement),
    *     and serves accordingly — no sidecar or stale -> the base.
    *
    * Docs un-flag for free: a doc whose only contamination was vs a
    * retired benchmark simply has no surviving rows. */
  private[graft] def contamRetracted(s: SparkSession, dir: String,
      retired: Option[DataFrame],
      forceRebuild: Option[Boolean] = None): DataFrame = {
    val full = contamFullTable(s, dir)
    val srcFp = graft.sources.DurableIndex.fingerprint(s, dir, "documents.parquet")
    def composed(benchIds: DataFrame): DataFrame =
      full.join(broadcast(benchIds), Seq("bench_id"), "left_anti")
        .select(full.columns.map(col).toIndexedSeq: _*)
    retired match {
      case Some(r) =>
        val del = r.select("bench_id").distinct().localCheckpoint()
        val fp = retractionFp(s, dir, del.select(col("bench_id").as("doc_id")))
        val folded = forceRebuild.getOrElse {
          if (graft.sources.DurableIndex.liveExists(s, dir, "contam_r", fp)) true
          else if (graft.sources.DurableIndex.liveExists(s, dir, "contam_del", fp)) false
          else graft.sources.DurableIndex.exceedsDebt(
            full, del, "bench_id")
        }
        if (folded) {
          // generation before marker (crash-ordered, the q147 shape);
          // the folded sidecar is META-ONLY — nothing composes it
          val gen = graft.sources.DurableIndex.attachOrBuildFp(
            s, dir, "contam_r", fp, None)(composed(del))
          graft.sources.DurableIndex.attachOrBuildFp(s, dir, "contam_del", fp, None) {
            del.limit(0).select(col("bench_id"))
              .unionByName(s.range(1).select(lit(-1L).as("bench_id")))
              .select(col("bench_id"), lit(srcFp).as("corpus_fp"),
                lit(fp).as("del_fp"), lit(true).as("folded")).coalesce(1)
          }
          gen
        } else {
          val sc = graft.sources.DurableIndex.attachOrBuildFp(
            s, dir, "contam_del", fp, None) {
            del.select(col("bench_id"), lit(srcFp).as("corpus_fp"),
              lit(fp).as("del_fp"), lit(false).as("folded")).coalesce(1)
          }
          composed(sc.select("bench_id"))
        }
      case None =>
        // fresh-session path: discover the live retirement; absent,
        // empty, or stale-corpus -> the base full-benchmark table
        graft.sources.DurableIndex.attachLatest(s, dir, "contam_del")
          .flatMap(sc => sc.select("corpus_fp", "del_fp", "folded")
            .limit(1).collect().headOption.map(h => (sc, h)))
          .filter { case (_, h) => h.getString(0) == srcFp } match {
          case None => full
          case Some((sc, head)) =>
            if (head.getBoolean(2))
              graft.sources.DurableIndex.attachOrBuildFp(
                s, dir, "contam_r", head.getString(1), None) {
                sys.error(s"contam_del marker ${head.getString(1)} has no " +
                  "contam_r generation — warehouse corrupted")
              }
            else composed(sc.select("bench_id"))
        }
    }
  }

  /** Oracle CTEs `toks13`/`sh13(doc_id, h)` — the SQL twin of
    * [[spanHashes13]], restricted to `docWhere` (empty = all docs) so
    * the retraction oracle (q146) can state the pipeline over
    * corpus-minus-deleted. */
  private[queries] def sqlSh13CtesFor(docWhere: String): String = {
    val pred = if (docWhere.isEmpty) "" else s" AND $docWhere"
    s"""toks13 AS (SELECT doc_id, string_split(text, ' ') t FROM documents
       |           WHERE len(string_split(text, ' ')) >= 13$pred),
       |sh13 AS (SELECT DISTINCT doc_id, ${sqlMd5Hash48("sg")} AS h
       |         FROM (SELECT doc_id, unnest(${sqlShingles("t", 13)}) AS sg
       |               FROM toks13))""".stripMargin
  }

  private[queries] lazy val sqlSh13Ctes: String = sqlSh13CtesFor("")

  /** The q86/q116 shared oracle: every (corpus doc, bench doc) pair
    * sharing at least one 13-gram span hash, with the distinct-hash
    * overlap count. The streaming form reuses it verbatim — its final
    * table must equal the batch result exactly. Parameterized over a
    * corpus-doc predicate and an extra benchmark predicate for the
    * retraction query (q146). */
  private[queries] def decontaminateOracleFor(docWhere: String,
      benchPred: String): String = {
    val bp = if (benchPred.isEmpty) "" else s" AND $benchPred"
    s"""WITH ${sqlSh13CtesFor(docWhere)},
       |bench AS (SELECT doc_id AS bench_id, h FROM sh13 WHERE doc_id % 5 = 0$bp)
       |SELECT a.doc_id, b.bench_id, count(*) AS n_shared
       |FROM sh13 a JOIN bench b ON a.h = b.h AND a.doc_id <> b.bench_id
       |GROUP BY a.doc_id, b.bench_id""".stripMargin
  }

  private[queries] lazy val decontaminateOracle: String =
    decontaminateOracleFor("", "")
}
