package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.queries.DedupQueries.{drainDrops, writeBatch}
import graft.sources.Tables

/** Deterministic corpus sampling — the training-data curation ops a
  * 100 TB pipeline runs constantly (hold-out carving, per-language
  * balancing) made REPRODUCIBLE: instead of `rand()` (non-deterministic
  * across runs/engines, unusable under an exactness gate and a re-run
  * audit), rank rows by a salted content hash. Hash uniformity makes the
  * sample statistically uniform; the hash makes it a pure function of
  * the data — same sample on every engine, every run, every cluster
  * size. Changing the salt string draws an independent sample.
  */
object SamplingQueries {

  /** Tokens per training shard for q98 (small so the sf gates produce
    * a multi-shard assignment: ~27k corpus tokens at sf0.01 -> ~13
    * shards). */
  private val TokenBudget = 2048L

  /** q118 context-window length (tokens): small enough that every sf
    * gate produces a multi-window packing with split documents. */
  private[queries] val CtxWindow = 512L

  private val UniformK = 50
  private val PerStratumK = 10
  private[queries] val Salt = "graft-sample-1"

  /** Global EXCLUSIVE running token sum in doc_id order — the two-pass
    * shape shared by q98 (shard packing) and q118 (context packing): a
    * naive `sum() OVER (ORDER BY doc_id)` is a single-partition global
    * sort; this is range-partition + sort-within (one balanced
    * shuffle), a one-long-per-partition totals job, driver-side
    * offsets (numShufflePartitions entries, not rows), then a map-side
    * pass attaching each partition's running sum on top of its offset.
    * Returns (doc_id, n_tokens, cumx). */
  private def withTokenPrefixSum(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    withTokenPrefixSumOf(s, Tables.documents(s, dir).select(col("doc_id"),
      size(tokens(col("text"))).cast(org.apache.spark.sql.types.LongType)
        .as("n_tokens")))

  /** [[withTokenPrefixSum]] over an arbitrary (doc_id, n_tokens) frame —
    * the form q122/q123 run on a DELTA or a micro-batch alone. */
  private[queries] def withTokenPrefixSumOf(s: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val parts = s.sessionState.conf.numShufflePartitions
    val sorted = base
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .localCheckpoint() // totals and assignment must see the same blocks
    val totals = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        Iterator.single((pid, it.map(_.getLong(1)).sum))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = totals.scanLeft(0L)(_ + _) // offsets(pid) = tokens before pid
    val outSchema = sorted.schema.add(StructField("cumx", LongType, nullable = false))
    val rows = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = offsets(pid)
      it.map { r =>
        val n = r.getLong(1)
        val c = acc
        acc += n
        Row(r.getLong(0), n, c)
      }
    }
    s.createDataFrame(rows, outSchema)
  }

  /** Salted split bucket 0-9 of a doc_id column — the q87 assignment,
    * shared with the q100 corpus pipeline. */
  private[queries] def splitBucket(docId: org.apache.spark.sql.Column) =
    md5Hash48(concat(lit(s"$Salt:split:"), docId.cast("string"))) % 10

  /** SQL twin of [[splitBucket]]. */
  private[queries] def sqlSplitBucket(x: String): String =
    s"${sqlMd5Hash48(s"'$Salt:split:' || $x::VARCHAR")} % 10"

  /** q98's oracle — and q122's VERBATIM: incremental packing continues
    * the standing prefix, so full-corpus packing is the identity both
    * must satisfy. */
  private val shardPackingOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |      - n_tokens AS cumx
       |  FROM d)
       |SELECT doc_id, n_tokens,
       |  CAST(floor(cumx / $TokenBudget.0) AS BIGINT) AS shard
       |FROM c""".stripMargin

  /** q118's oracle — and q123's VERBATIM (same identity, window form). */
  private val contextPackingOracle: String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |      - n_tokens AS BIGINT) AS cumx
       |  FROM d),
       |e AS (SELECT doc_id, n_tokens, cumx,
       |    unnest(range(cumx // $CtxWindow,
       |                 (cumx + n_tokens - 1) // $CtxWindow + 1)) AS window_id
       |  FROM c)
       |SELECT CAST(window_id AS BIGINT) AS window_id, doc_id,
       |  CAST(least(cumx + n_tokens, (window_id + 1) * $CtxWindow)
       |     - greatest(cumx, window_id * $CtxWindow) AS BIGINT) AS tok_in_window
       |FROM e""".stripMargin

  /** q55's oracle — and q160's VERBATIM (the streaming fold is
    * result-identical by the bottom-k merge identity). */
  private val sampleOracle: String =
    s"""WITH h AS (SELECT doc_id, lang,
       |    ${sqlMd5Hash48(s"'$Salt:' || doc_id::VARCHAR")} AS hk
       |  FROM documents),
       |uni AS (SELECT doc_id, lang FROM h
       |        ORDER BY hk, doc_id LIMIT $UniformK),
       |strat AS (SELECT doc_id, lang FROM (
       |    SELECT doc_id, lang,
       |      row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
       |    FROM h) WHERE rn <= $PerStratumK)
       |SELECT 'uniform' AS sample_kind, doc_id, lang FROM uni
       |UNION ALL
       |SELECT 'stratified' AS sample_kind, doc_id, lang FROM strat""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q55_deterministic_sample",
      s"hash-ranked sampling: uniform top-$UniformK over the whole corpus (TakeOrderedAndProject, no global sort) UNION per-language stratified top-$PerStratumK (one shuffle on lang); salted md5 rank makes both reproducible",
      sampleOracle) { (s, dir) =>
      val h = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        md5Hash48(concat(lit(s"$Salt:"), col("doc_id").cast("string"))).as("hk"))
      // top-k by hash rank: compiles to TakeOrderedAndProject — each
      // partition keeps k rows, the driver merges k*partitions, never a
      // global sort
      val uniform = h.orderBy(col("hk"), col("doc_id"))
        .limit(UniformK)
        .select(lit("uniform").as("sample_kind"), col("doc_id"), col("lang"))
      // per-stratum k: one shuffle on the stratum key; at 100 TB strata
      // are level-sized (languages), so skew salting applies as in q40
      val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
      val stratified = h
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= PerStratumK)
        .select(lit("stratified").as("sample_kind"), col("doc_id"), col("lang"))
      uniform.unionByName(stratified)
    },

    // ------------------------------------------------------------------
    // Deterministic train/val/test split: every training pipeline's
    // first operation, done the reproducible way — bucket = salted
    // content hash mod 10 (8/1/1 split), a pure stateless projection:
    // no shuffle, no rand(), the same document lands in the same split
    // on every run, engine, and cluster size, and late-arriving data
    // never reshuffles earlier assignments (the property rand() or
    // randomSplit() cannot give). Holdout integrity is auditable: the
    // assignment is recomputable from the row alone.
    QueryDef(
      "q87_split",
      "deterministic train/val/test split: salted-hash bucket mod 10 -> 8/1/1 assignment as a stateless projection; reproducible, append-stable, shuffle-free",
      s"""SELECT doc_id, lang,
         |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |    ${sqlMd5Hash48(s"'$Salt:split:' || doc_id::VARCHAR")} % 10 AS b
         |  FROM documents)""".stripMargin) { (s, dir) =>
      val b = splitBucket(col("doc_id"))
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        when(b < 8, "train").when(b === 8, "val").otherwise("test").as("split"))
    },

    // ------------------------------------------------------------------
    // Token-budget shard packing — the last step before a corpus feeds a
    // trainer: assign documents (in stable doc_id order) to shards of
    // ~TokenBudget tokens each, so every shard is a near-equal unit of
    // training work. shard(d) = floor(exclusive-prefix-sum(n_tokens) /
    // budget), which needs a GLOBAL running sum — the operation a naive
    // `sum() OVER (ORDER BY ...)` computes on a single partition. This
    // uses the S12/SurrogateKeys two-pass shape instead: range-partition
    // by doc_id + sort within partitions (one balanced shuffle), a
    // one-long-per-partition totals job, driver-side offsets (numShuffle-
    // Partitions entries, not rows), then a map-side pass attaches each
    // partition's running sum on top of its offset. The genuine
    // per-partition imperative case where the RDD layer is the right
    // Spark idiom. The oracle states the semantic spec — the global
    // window running sum — which DuckDB can afford at oracle scale.
    QueryDef(
      "q98_shard_packing",
      s"token-budget shard packing: shard = floor(exclusive global running token sum / $TokenBudget) via range-partition + per-partition offsets (no single-partition window), doc_id order",
      shardPackingOracle) { (s, dir) =>
      withTokenPrefixSum(s, dir).select(col("doc_id"), col("n_tokens"),
        // non-negative long div == floor
        expr(s"cumx div $TokenBudget").as("shard"))
    },

    // ------------------------------------------------------------------
    // Context-window packing — the OTHER packing a trainer needs (q98
    // fills shards; this fills the model's context): concatenate the
    // corpus in stable doc_id order and chunk it into fixed
    // CtxWindow-token training sequences, the GPT-style concat-and-
    // chunk step. A document spans windows floor(cumx/W) ..
    // floor((cumx+n-1)/W) — usually one or two rows via an explode over
    // that (tiny) range — and contributes the overlap of its token
    // interval with each window. Per-window sums are exactly W (the
    // packing has zero padding by construction except the final
    // window), which the spec asserts. Scale shape: the global running
    // sum is the shared q98 two-pass (no single-partition window); the
    // rest is a stateless projection + bounded explode.
    QueryDef(
      "q118_context_packing",
      s"concat-and-chunk context packing: documents chunked into $CtxWindow-token training windows via the q98 two-pass global prefix sum; output = (window, doc, tokens contributed), boundary docs split across adjacent windows",
      contextPackingOracle) { (s, dir) =>
      withTokenPrefixSum(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("cumx"),
          explode(sequence(expr(s"cumx div $CtxWindow"),
            expr(s"(cumx + n_tokens - 1) div $CtxWindow"))).as("window_id"))
        .select(col("window_id"), col("doc_id"),
          (least(col("cumx") + col("n_tokens"), (col("window_id") + 1) * CtxWindow)
            - greatest(col("cumx"), col("window_id") * CtxWindow))
            .as("tok_in_window"))
    },

    // ------------------------------------------------------------------
    // Domain-mixture resampling — the op that turns a raw crawl into a
    // training mixture: given target mixture weights per domain (lang
    // stands in for the domain key), carve a half-corpus token target
    // and fill each domain's share greedily in salted-hash order.
    // budget_d = (w_pct * total_tokens) div 200 (= pct of half the
    // corpus) — integer arithmetic end-to-end, exact on both engines.
    // A document is kept while its domain's EXCLUSIVE running token sum
    // is under budget (greedy packing: each domain overshoots by at
    // most its last document), so per-domain quotas are exact given the
    // deterministic hash order — the sample is a pure function of the
    // data, like q55/q87; domains without a declared weight drop out
    // (weight zero). Scale shape: the weights table and the one-row
    // total broadcast; the only shuffle is the per-domain running sum
    // (at 100 TB: the q98 range-partition + per-partition-offset pass
    // keyed by domain — the window states the semantics).
    QueryDef(
      "q103_domain_mixture",
      "domain-mixture resampling: per-domain token budgets = weight% of a half-corpus target, filled greedily in salted-hash order — deterministic quota-exact mixture rebalancing (weights en40/zh20/de15/es15/fr10)",
      s"""WITH w(lang, w_pct) AS (VALUES
         |    ('de', 15), ('en', 40), ('es', 15), ('fr', 10), ('zh', 20)),
         |d AS (SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${sqlMd5Hash48(s"'$Salt:mix:' || doc_id::VARCHAR")} AS hk
         |  FROM documents),
         |t AS (SELECT sum(n_tokens) AS total_tokens FROM d),
         |c AS (SELECT d.doc_id, d.lang, d.n_tokens, w.w_pct,
         |    sum(n_tokens) OVER (PARTITION BY d.lang
         |      ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS cumx
         |  FROM d JOIN w ON d.lang = w.lang)
         |SELECT doc_id, lang, n_tokens,
         |  CAST((w_pct * total_tokens) // 200 AS BIGINT) AS domain_budget
         |FROM c, t
         |WHERE cumx < (w_pct * total_tokens) // 200""".stripMargin) { (s, dir) =>
      val wDf = s.createDataFrame(
        Seq(("de", 15L), ("en", 40L), ("es", 15L), ("fr", 10L), ("zh", 20L)))
        .toDF("lang", "w_pct")
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        md5Hash48(concat(lit(s"$Salt:mix:"), col("doc_id").cast("string"))).as("hk"))
      val total = d.agg(sum(col("n_tokens")).as("total_tokens"))
      val win = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.join(broadcast(wDf), Seq("lang"))
        .withColumn("cumx", sum(col("n_tokens")).over(win) - col("n_tokens"))
        .crossJoin(broadcast(total))
        .withColumn("domain_budget", expr("(w_pct * total_tokens) div 200"))
        .filter(col("cumx") < col("domain_budget"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("domain_budget"))
    },

    // ------------------------------------------------------------------
    // Incremental shard packing — maintenance for the packing family.
    // Packing state is a SEQUENTIAL prefix, not a mergeable sketch —
    // the harder maintenance case: you cannot merge two independently-
    // packed halves. What makes it incremental anyway is that ingest
    // order IS doc_id order, so an appended delta extends the prefix:
    // the standing assignment is persisted (with its total-token
    // scalar in a one-row sidecar), and the delta's prefix sum starts
    // from that offset. Standing rows are never touched or rescanned —
    // append-stability holds by construction, and full-corpus packing
    // == standing ∪ offset-shifted delta is an identity, so the oracle
    // is q98's VERBATIM. At 100 TB: re-packing the corpus per delta is
    // a full-corpus job; this is a delta-sized job plus two metadata
    // reads.
    QueryDef(
      "q122_incremental_packing",
      s"incremental shard packing: standing assignment + total persisted (built once per JVM), delta (top decile of doc_id) prefix-summed from the stored offset and unioned — standing rows untouched; == full q98 packing verbatim",
      shardPackingOracle) { (s, dir) =>
      import org.apache.spark.sql.types.LongType
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      val watermark = maxId * 9 / 10
      val fp = graft.sources.DurableIndex.fingerprint(s, dir, "documents.parquet")
      val standing = JvmScratch.standing(s, "pack_standing", fp)(
        withTokenPrefixSumOf(s, docs.filter(col("doc_id") <= watermark))
          .select(col("doc_id"), col("n_tokens"),
            expr(s"cumx div $TokenBudget").as("shard")))
      val offset = JvmScratch.standing(s, "pack_standing_total", fp)(
        standing.agg(sum(col("n_tokens")).as("total_tokens"))).head.getLong(0)
      val delta = withTokenPrefixSumOf(s, docs.filter(col("doc_id") > watermark))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"(cumx + $offset) div $TokenBudget").as("shard"))
      standing.unionByName(delta)
    },

    // ------------------------------------------------------------------
    // Streaming context packing — the packing family live, and the
    // interesting exactly-once case: the running token total is
    // SEQUENTIAL cross-batch state (not mergeable, unlike q121's
    // registers). Drops are contiguous doc_id ranges with ordered
    // mtimes (FileStreamSource processes them in id order), so each
    // micro-batch's offset is "tokens committed before me" — read from
    // the sink MINUS the batch's own partition, which makes replay
    // idempotent: a redelivered batch sees exactly the offset it saw
    // first time (prior batches committed, its own half-write
    // excluded) and rewrites identical rows into its own partition.
    // The offset comes from a per-batch TOTALS sidecar — one row per
    // micro-batch, so the cross-batch state read is O(batches), never
    // output- or corpus-sized. Final table == batch q118 under the
    // verbatim oracle.
    QueryDef(
      "q123_stream_context_packing",
      "streaming context packing: 3 ordered doc_id-range drops, per-batch prefix sum offset by committed-tokens-so-far (sink minus own partition -> replay-idempotent); final table == batch q118 verbatim",
      contextPackingOracle) { (s, dir) =>
      streamContextPacking(s, dir)
    },

    // ------------------------------------------------------------------
    // Deterministic sampling LIVE — the sampling family's streaming
    // cell, closing its {batch, streaming} symmetry: a hash-ranked
    // bottom-k IS a distributed reservoir, because bottom-k merges —
    // bottomK(A ∪ B) == bottomK(bottomK(A) ∪ bottomK(B)), per stratum
    // too — so each micro-batch keeps only its LOCAL bottom-k
    // (bounded state: k + strata x k rows per batch, whatever the
    // batch size) and one post-drain fold re-ranks the shard union.
    // Shards carry their hash ranks, so the fold never re-hashes, and
    // each shard is a pure function of its batch — the batch_id
    // dynamic overwrite makes replays idempotent (StreamReplaySpec
    // chaos-kill). Drop order is irrelevant (merge commutes). At
    // 100 TB this is how a held-out eval set tracks an append-only
    // corpus: constant-size state per ingest batch, no corpus re-rank,
    // and the same sample every engine and every run. == batch q55
    // under the verbatim oracle.
    QueryDef(
      "q160_stream_sample",
      s"STREAMING deterministic sampling: each micro-batch lands its LOCAL hash-rank bottom-$UniformK uniform + per-lang bottom-$PerStratumK stratified shard (bounded state — the distributed-reservoir merge identity bottomK(A∪B) == bottomK(bottomK(A)∪bottomK(B))), one post-drain fold re-ranks the shard union — == batch q55 verbatim",
      sampleOracle) { (s, dir) =>
      streamSample(s, dir)
    })

  /** q160's body; `replay` as in [[DedupQueries.drainDrops]]. */
  private[queries] def streamSample(s: org.apache.spark.sql.SparkSession,
      dir: String, replay: Replay = Replay.Off): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.DataFrame
    val docs = Tables.documents(s, dir).select("doc_id", "lang")
    val outTable = JvmScratch.tableName("stream_sample_shards")
    def rank(h: DataFrame): DataFrame = {
      val uni = h.orderBy(col("hk"), col("doc_id")).limit(UniformK)
        .select(lit("uniform").as("sample_kind"),
          col("doc_id"), col("lang"), col("hk"))
      val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
      val strat = h.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= PerStratumK)
        .select(lit("stratified").as("sample_kind"),
          col("doc_id"), col("lang"), col("hk"))
      uni.unionByName(strat)
    }
    drainDrops(s, dir, "q160", "documents.parquet", replay,
        sinks = Seq(outTable -> Seq("sample_kind" -> "string",
          "doc_id" -> "bigint", "lang" -> "string", "hk" -> "bigint")),
        schema = Some(docs.schema)) {
      i => docs.filter(pmod(col("doc_id"), lit(3)) === i)
    } { (batch, batchId) =>
      // the batch's LOCAL sample shard — a pure function of the
      // batch, so the dynamic overwrite is replay-idempotent
      val h = batch.select(col("doc_id"), col("lang"),
        md5Hash48(concat(lit(s"$Salt:"), col("doc_id").cast("string")))
          .as("hk"))
      writeBatch(rank(h), batchId, outTable)
    } {
      // the fold: re-rank the combined shard pool (bounded — at most
      // 3 x (K + strata x k) rows) through the SAME rank tail; shards
      // carry their hash ranks, so no re-hash and no corpus touch.
      // Exactness over the POOL (not per-kind): every true global
      // winner is a winner within its own batch, so truth ⊆ pool ⊆
      // corpus — ranking the pool reproduces the corpus rank exactly,
      // for the uniform K and for every stratum
      rank(s.table(outTable).select("doc_id", "lang", "hk").distinct())
        .select("sample_kind", "doc_id", "lang")
    }
  }

  /** q123's body; `replay` as in [[DedupQueries.drainDrops]]. */
  private[queries] def streamContextPacking(s: org.apache.spark.sql.SparkSession,
      dir: String, replay: Replay = Replay.Off): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.LongType
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    // contiguous doc_id RANGES (not mod classes — order matters for
    // a prefix), dropped with strictly-increasing mtimes so the
    // stream processes them in doc_id order; lazy, so only a run that
    // stages its drops reads the max id
    lazy val bounds = {
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      Seq(0L, maxId / 3 + 1, 2 * maxId / 3 + 1, maxId + 1)
    }
    val outTable = JvmScratch.tableName("stream_pack_out")
    val totalsTable = JvmScratch.tableName("stream_pack_totals")
    drainDrops(s, dir, "q123", "documents.parquet", replay,
        sinks = Seq(
          outTable -> Seq("window_id" -> "bigint", "doc_id" -> "bigint",
            "tok_in_window" -> "bigint"),
          totalsTable -> Seq("n_tokens" -> "bigint")),
        width = DedupQueries.textStreamWidth(s, dir)) {
      i => docs.filter(col("doc_id") >= bounds(i) && col("doc_id") < bounds(i + 1))
    } { (batch, batchId) =>
      val ss = batch.sparkSession
      ss.catalog.refreshTable(outTable)
      ss.catalog.refreshTable(totalsTable)
      // offset = tokens committed BEFORE this batch, read from
      // the one-row-per-batch totals sidecar (O(batches), never
      // output-sized); the batch's own partition is excluded so
      // a replay — even one that crashed between the two writes
      // below — sees exactly the offset of its first delivery
      val offset = ss.table(totalsTable).filter(col("batch_id") =!= batchId)
        .agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0)
      val counts = batch.select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
        .localCheckpoint()
      writeBatch(counts.agg(coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens")),
        batchId, totalsTable)
      writeBatch(withTokenPrefixSumOf(ss, counts)
        .select(col("doc_id"), col("n_tokens"),
          (col("cumx") + offset).as("gx"))
        .select(col("doc_id"), col("n_tokens"), col("gx"),
          explode(sequence(expr(s"gx div $CtxWindow"),
            expr(s"(gx + n_tokens - 1) div $CtxWindow"))).as("window_id"))
        .select(col("window_id"), col("doc_id"),
          (least(col("gx") + col("n_tokens"), (col("window_id") + 1) * CtxWindow)
            - greatest(col("gx"), col("window_id") * CtxWindow))
            .as("tok_in_window")), batchId, outTable)
    } {
      s.table(outTable).select("window_id", "doc_id", "tok_in_window")
    }
  }
}
