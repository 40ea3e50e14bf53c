package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

/** SimHash Hamming near-dup family: bit-voted fingerprints, pigeonhole block index, incremental probe (q127/q128/q129).
  *
  * Pure round-16 refactor: split out of the 3,300-line DedupQueries.scala
  * verbatim (self-typed to the object so cross-family references keep
  * resolving; `private` widened to `private[queries]` — traits cannot
  * share plain-private members — and derived vals made lazy so trait
  * initialization order can never observe an unset field). */
trait DedupSimhash { self: DedupQueries.type =>
  // ---- SimHash Hamming near-dup family (q127/q128/q129) ----------------

  /** 48 fingerprint bits split 4 ways: pigeonhole guarantees any pair
    * within Hamming distance <= 3 agrees on at least one whole 12-bit
    * block, so block-equality candidate generation loses nothing at
    * threshold 3 (OperatorPropertiesSpec proves it against brute
    * force). */
  private[queries] val SimhashBlockCount = 4
  private[queries] val SimhashBlockBits = 12
  private[queries] lazy val HammingMax = SimhashBlockCount - 1

  /** (doc_id, simhash): 48-bit SimHash voted over the distinct word-
    * 3-gram SHINGLE hashes — q25's bit-voting arithmetic (48 aggregate
    * columns, no bit-explode) on q24's shingle domain. Token-level
    * votes (q25's declared output) are dominated by the shared
    * vocabulary: measured at sf0.01, 28% of ALL doc pairs land within
    * Hamming 3 of each other — blocking cannot prune that. Shingle-
    * level votes are bimodal like MinHash (22 pairs <= 3 vs a noise
    * floor past distance 6 at sf0.01), which is what makes the
    * fingerprint an INDEX, not just a sketch. */
  private[queries] def shingleSimhash(docs: DataFrame): DataFrame = {
    val votes = (0 until 48).map(b =>
      sum(expr(s"(shiftright(h, $b) & CAST(1 AS BIGINT)) * 2 - 1")).as(s"s$b"))
    val assembled = (0 until 48).map(b => expr(
        s"CASE WHEN s$b > 0 THEN shiftleft(CAST(1 AS BIGINT), $b) ELSE CAST(0 AS BIGINT) END"))
      .reduce(_ + _)
    shingle(docs)
      .select(col("doc_id"), tokenHash(col("sg")).as("h"))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), assembled.cast("long").as("simhash"))
  }

  /** (doc_id, simhash, block_key): the 4 x 12-bit Hamming blocks, block
    * index folded into the key (block_key = b*4096 + bits, the q24
    * band_key treatment) so candidate joins are single-column and the
    * 16-bucket layout covers them. The fingerprint travels WITH the
    * block row: verification is pure integer arithmetic on the two
    * fingerprints — no text ever re-read, the cheapest verify of the
    * whole dedup family. */
  private[queries] def simhashBlocks(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimhashBlockCount).map(b => expr(
        s"CAST($b * ${1 << SimhashBlockBits} + " +
          s"(shiftright(simhash, ${b * SimhashBlockBits}) & ${(1 << SimhashBlockBits) - 1}) AS BIGINT)")): _*))
        .as("block_key"))

  /** Oracle CTEs `sfp(doc_id, simhash)` / `sblocks(doc_id, simhash,
    * block_key)` — the SQL twin of [[shingleSimhash]] + [[simhashBlocks]]
    * (NB DuckDB `^` is exponentiation; bitwise xor is `xor()`). */
  private[queries] lazy val sqlSimhashBlockCtes: String =
    s"""$sqlShingleCte,
       |sth AS (SELECT doc_id, ${sqlTokenHash("sg")} AS h FROM sh),
       |sbits AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
       |  FROM sth CROSS JOIN (SELECT unnest(range(48)) AS b) bb
       |  GROUP BY doc_id, b),
       |sfp AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM sbits GROUP BY doc_id),
       |sblocks AS (SELECT doc_id, simhash,
       |    b * ${1 << SimhashBlockBits} + ((simhash >> (b * $SimhashBlockBits)) & ${(1 << SimhashBlockBits) - 1}) AS block_key
       |  FROM sfp CROSS JOIN (SELECT unnest(range($SimhashBlockCount)) AS b) bb)""".stripMargin

  /** The q128/q129 shared oracle: delta (doc_id%10==7) fingerprints vs
    * indexed-corpus fingerprints through the block join, Hamming <=
    * [[HammingMax]] — one contract however the probe executes (batch
    * broadcast plan or micro-batched stream). */
  private[queries] lazy val sqlSimhashIncrementalOracle: String =
    s"""WITH $sqlSimhashBlockCtes
       |SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id,
       |  CAST(bit_count(xor(d.simhash, c.simhash)) AS BIGINT) AS hamming
       |FROM sblocks d JOIN sblocks c ON d.block_key = c.block_key
       |WHERE d.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
       |  AND bit_count(xor(d.simhash, c.simhash)) <= $HammingMax""".stripMargin

  /** The PERSISTED corpus fingerprint index — the SimHash family's
    * standing artifact, through the same [[graft.sources.DurableIndex]]
    * contract as the MinHash band index and the semantic block index:
    * fingerprint-keyed external table bucketed 16 ways on block_key,
    * atomic rename publish, grace-window retirement. One row per
    * (doc, block) — 4 rows of 24 bytes per document, the smallest
    * standing index of the three families (no shingle sets, no
    * vectors), which is the point of SimHash at 100 TB: the whole
    * corpus's dedup state fits in ~1/1000th of the corpus. */
  private[graft] def simhashIndexTable(s: SparkSession, dir: String): DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "simhash_index", "documents.parquet", Some(("block_key", 16))) {
      simhashBlocks(shingleSimhash(
        Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 7)))
    }

  /** The q128/q129 shared probe: fingerprint `deltaDocs` fresh (delta-
    * sized work), block-join against the persisted fingerprint index,
    * keep pairs within Hamming [[HammingMax]]. Size-gated like every
    * probe in the family: a genuinely delta-sized batch broadcasts its
    * blocks into the bucketed scan (zero index-side Exchange —
    * PlanAuditSpec); past [[DeltaBroadcastMaxDocs]] fingerprints the
    * delta instead pays one shuffle into the index's
    * HashPartitioning(block_key, 16) and merge-joins. Verification is
    * a single `bit_count(xor)` projection on columns already in the
    * join output — unlike the MinHash verify there is NO second pass,
    * no corpus text read, no additional join: the probe IS one join. */
  private[graft] def simhashMatches(s: SparkSession, dir: String,
      deltaDocs: DataFrame, forceLarge: Option[Boolean] = None): DataFrame = {
    val deltaFp = shingleSimhash(deltaDocs).localCheckpoint()
    val large = forceLarge.getOrElse(deltaIsLarge(deltaFp))
    val idx = simhashIndexTable(s, dir)
    val d = simhashBlocks(deltaFp)
      .select(col("doc_id").as("dd"), col("simhash").as("df"), col("block_key"))
    (if (large) idx.hint("merge").join(d, Seq("block_key"))
     else idx.join(broadcast(d), Seq("block_key")))
      .select(col("dd"), col("doc_id").as("cd"),
        expr(s"CAST(bit_count(df ^ simhash) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .distinct()
      .select(col("dd").as("delta_id"), col("cd").as("corpus_id"), col("hamming"))
  }

  /** q129's body: q105's drain shape (3 file drops, checkpointed
    * AvailableNow, maxFilesPerTrigger=1, batch_id-partitioned dynamic-
    * overwrite sink, chaos/scratch/resume test hooks) with the per-
    * micro-batch work swapped for the SimHash probe. Per-batch matches
    * are globally exact because the index is static corpus-side and
    * the drops partition the delta — each arriving doc is fingerprinted
    * and scored in exactly one batch. */
  private[graft] def streamSimhashDedup(s: SparkSession, dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): DataFrame = {
    // force-build the fingerprint index on THIS session before the
    // stream starts (micro-batches run on a clone sharing the catalog)
    simhashIndexTable(s, dir)
    val table = JvmScratch.tableName("stream_simhash_dedup")
    drainDrops(s, "q129", chaos, scratch, resume, table,
        width = DedupQueries.textStreamWidth(s, dir)) { srcDir =>
      val delta = Tables.documents(s, dir).filter(col("doc_id") % 10 === 7)
      stageDropsCached(s, dir, "q129", "documents.parquet", srcDir, 3)(
        i => delta.filter(pmod(col("doc_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_simhash_dedup")
      createBatchSink(s, table, Seq(
        "delta_id" -> "bigint", "corpus_id" -> "bigint", "hamming" -> "bigint"))
    } { (batch, batchId) =>
      writeBatch(simhashMatches(batch.sparkSession, dir, batch), batchId, table)
    } {
      s.table(table).select("delta_id", "corpus_id", "hamming")
    }
  }

}
