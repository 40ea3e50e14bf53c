package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.CrossEngine._
import graft.sources.Tables

/** Mergeable-sketch aggregation (brief: "a novel sketch"). A count-min
  * sketch is the 100-TB frequency-estimation pattern: each partition
  * builds a (depth x width) counter grid with map-side combine, grids
  * merge by cell-wise addition (the groupBy does this for free), and a
  * point estimate reads one cell per depth and takes the min — the
  * sketch is O(d*w) regardless of key cardinality.
  *
  * Spark's own approx sketches (HLL, CountMinSketch) use engine-private
  * hashing the DuckDB oracle cannot reproduce, so this sketch is built
  * from the CrossEngine universal-hash family — every counter and every
  * estimate is deterministic and oracle-checked exactly. The estimate
  * >= true-count guarantee is asserted by the spec.
  */
object SketchQueries {

  private val Depth = 4
  private val Width = 64
  private val NumProbes = 10

  /** HLL registers: 32 buckets (5 low hash bits), rho over the remaining
    * 43 bits. MaxRho = 44 is the rho of w == 0 (all 43 bits zero). */
  private val HllM = 32
  private val HllMaxRho = 44
  /** alpha_32 * m^2 — the standard HLL bias constant for m = 32. The
    * string round-trips to the identical double on both engines. */
  private val HllA: String = (0.697 * HllM * HllM).toString

  /** Histogram-sketch bin width over o_totalprice (range ~[850, 560k]). */
  private val QWidth = 10000L

  /** The (event_type, k) projection shared by q51/q120/q121:
    * k = user:day, the DAU key. */
  private def evKeys(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.select(col("event_type"), concat(col("user_id").cast("string"), lit(":"),
      to_date(col("ts")).cast("string")).as("k"))

  /** The q51 register build — the sketch itself: one partial-agg-
    * friendly max per (event_type, bucket) cell. Because max is
    * associative and commutative, registers of a UNION of datasets ==
    * cellwise max of their registers: the mergeability q120/q121 lean
    * on (sketch the delta, never rescan the standing corpus). */
  private[queries] def hllRegisters(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    evKeys(ev).select(col("event_type"), md5Hash48(col("k")).as("h"))
      .select(col("event_type"), (col("h") % HllM).as("bucket"),
        expr(s"h div $HllM").as("w"))
      .select(col("event_type"), col("bucket"),
        when(col("w") === 0, lit(HllMaxRho))
          .otherwise(expr("bit_count((w & -w) - 1) + 1")).as("rho"))
      .groupBy("event_type", "bucket").agg(max(col("rho")).as("reg"))

  /** q120/q121 shared oracle: the q51 estimate over the FULL events
    * table (no truth column — an incremental estimator never rescans
    * the corpus, so exact truth is not part of its contract). Both the
    * merged standing+delta registers (q120) and the merged per-micro-
    * batch registers (q121) must reproduce it EXACTLY: sketch-of-union
    * == merge-of-sketches is an identity, not an approximation. */
  private val hllFullCorpusOracle: String =
    s"""WITH ev AS (SELECT event_type,
       |    user_id::VARCHAR || ':' || CAST(ts::DATE AS VARCHAR) AS k FROM events),
       |h AS (SELECT event_type, ${sqlMd5Hash48("k")} AS h FROM ev),
       |b AS (SELECT event_type, h % $HllM AS bucket, h // $HllM AS w FROM h),
       |r AS (SELECT event_type, bucket,
       |    max(CASE WHEN w = 0 THEN $HllMaxRho
       |             ELSE bit_count((w & -w) - 1) + 1 END) AS reg
       |  FROM b GROUP BY 1, 2),
       |grid AS (SELECT event_type, bucket
       |  FROM (SELECT DISTINCT event_type FROM events)
       |  CROSS JOIN (SELECT unnest(range($HllM)) AS bucket)),
       |regs AS (SELECT grid.event_type, coalesce(reg, 0) AS reg
       |  FROM grid LEFT JOIN r ON grid.event_type = r.event_type
       |                       AND grid.bucket = r.bucket),
       |agg AS (SELECT event_type,
       |    sum((1::BIGINT << ($HllMaxRho - reg)))::BIGINT AS isum,
       |    sum(CASE WHEN reg > 0 THEN 1 ELSE 0 END)::BIGINT AS nonzero_regs
       |  FROM regs GROUP BY 1)
       |SELECT event_type,
       |  CAST('$HllA' AS DOUBLE) * (1::BIGINT << $HllMaxRho) / isum AS hll_estimate,
       |  nonzero_regs
       |FROM agg""".stripMargin

  /** q121's body: register maintenance live. Mirrors the
    * [[DedupQueries]] drain shape (checkpointed AvailableNow,
    * maxFilesPerTrigger=1, batch_id-partitioned idempotent sink); the
    * per-batch work is just [[hllRegisters]] — sketching IS the only
    * state a streaming statistics job needs to write.
    *
    * Test hooks (`chaos`, `scratch`, `resume`) as in
    * [[DedupQueries.drainDrops]]. */
  private[queries] def streamHllMaintain(s: org.apache.spark.sql.SparkSession,
      dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): org.apache.spark.sql.DataFrame = {
    import DedupQueries.{createBatchSink, drainDrops, writeBatch}
    // stage the NORMALIZED events (ts as a real timestamp): the staged
    // copy then round-trips through parquet without the nano-long shape
    val ev = Tables.events(s, dir).select("event_id", "event_type", "user_id", "ts")
    val outTable = JvmScratch.tableName("stream_hll_regs")
    drainDrops(s, "q121", chaos, scratch, resume, outTable) { srcDir =>
      DedupQueries.stageDropsCached(s, dir, "q121", "events.parquet", srcDir, 3)(
        i => ev.filter(pmod(col("event_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_hll_regs")
      createBatchSink(s, outTable, Seq(
        "event_type" -> "string", "bucket" -> "bigint", "reg" -> "int"))
    } { (batch, batchId) =>
      writeBatch(hllRegisters(batch), batchId, outTable)
    } {
      // post-drain compaction, BATCH-PRESERVING (round-12 advice): the
      // HLL retraction contract is shard-grained — drop a deleted
      // ingest batch's register shard and re-max — and max-merge is
      // not invertible, so folding the shards to one batch_id=-1
      // generation would forfeit that capability on the real sink.
      // Each batch's fragments rewrite to one file; the shard grain
      // (and with it both replay idempotency and retraction) survives.
      graft.sources.DurableIndex.compactSinkBatched(s, outTable): Unit
      val merged = s.table(outTable)
        .groupBy("event_type", "bucket").agg(max(col("reg")).as("reg"))
      hllEstimateOf(s, merged)
    }
  }

  /** The q51 estimate over a (possibly merged) register table: dense
    * grid fill (empty buckets are reg=0), exact-integer harmonic sum,
    * one final double multiply+divide. */
  private[queries] def hllEstimateOf(s: org.apache.spark.sql.SparkSession,
      regs0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val grid = regs0.select("event_type").distinct()
      .crossJoin(broadcast(s.range(HllM).select(col("id").cast("int").as("bucket"))))
    val regs = grid.join(regs0, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), coalesce(col("reg"), lit(0)).as("reg"))
    regs.groupBy("event_type")
      .agg(sum(expr(s"shiftleft(cast(1 as bigint), $HllMaxRho - reg)")).as("isum"),
        sum(when(col("reg") > 0, 1L).otherwise(0L)).as("nonzero_regs"))
      .select(col("event_type"),
        (lit(HllA.toDouble) * expr(s"shiftleft(cast(1 as bigint), $HllMaxRho)")
          / col("isum")).as("hll_estimate"),
        col("nonzero_regs"))
  }

  /** q117 heavy-hitter mining: count-min gate sized for support 1/HHSupport
    * (w ~ 1.6/support keeps collision noise under the threshold, the
    * textbook CMS sizing), trigram shingles over documents.text. */
  private val HHDepth = 4
  private val HHWidth = 32768
  private[queries] val HHSupport = 20000L

  /** q117's gate: trigram occurrences that survive the count-min hot-cell
    * filter, plus the one-row corpus total. The gated stream is a
    * SUPERSET of the true heavy hitters (CMS never underestimates), so
    * the exact recount downstream is exact; pruning quality is the only
    * thing the gate hash affects. Shared with TechniqueSpec, which
    * asserts the superset and the pruning. */
  private[queries] def hhGatedOccurrences(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    hhGatedOccurrencesOf(trigramOcc(Tables.documents(s, dir)), HHSupport)

  /** Trigram occurrence stream of a document set (every occurrence,
    * not distinct) — the input side of q117 and the q135 store/delta/
    * recount legs. */
  private[queries] def trigramOcc(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(shinglesOf(col("t"), 3)).as("gram"))

  /** [[hhGatedOccurrences]] generalized over the occurrence stream and
    * the support denominator (q135's store build gates at 2x the query
    * support — the watermark — with the identical machinery). */
  private[queries] def hhGatedOccurrencesOf(occ: org.apache.spark.sql.DataFrame,
      support: Long): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val withCells = occ.select(col("gram") +: (0 until HHDepth).map(d =>
      pmod(xxhash64(lit(d), col("gram")), lit(HHWidth.toLong)).as(s"c$d")): _*)
    // pass 1: the grid. Explode to (depth, cell) pairs; partial
    // aggregation collapses them to <= d*w rows per task pre-shuffle.
    val grid = withCells
      .select(explode(array((0 until HHDepth).map(d =>
        struct(lit(d).as("d"), col(s"c$d").as("cell"))): _*)).as("dc"))
      .groupBy(col("dc.d").as("d"), col("dc.cell").as("cell"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // total + 4 hot-cell sides read one grid build
    // the corpus total, read off the sketch (depth 0 sums every
    // occurrence) — no third scan of the documents
    val total = grid.filter(col("d") === 0).agg(sum(col("c")).as("total"))
    val hot = grid.crossJoin(broadcast(total))
      .filter(col("c") * support >= col("total"))
    // pass 2: gate = all d cells hot (min-over-depths >= threshold)
    val gated = (0 until HHDepth).foldLeft(withCells) { (acc, d) =>
      acc.join(broadcast(hot.filter(col("d") === d).select(col("cell").as(s"c$d"))),
        Seq(s"c$d"), "left_semi")
    }
    (gated.select("gram"), total)
  }

  /** The q46 universal-hash cell index, shared by the grid build and
    * the probe side (and by q132/q133's maintenance variants). */
  private def cmsCellCol(h: org.apache.spark.sql.Column,
      d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (((h * ((lit(1000003L) * (d + 1)) % P) + (lit(7777777L) * (d + 1)) % P) % P) % Width)

  private def cmsDepths = explode(sequence(lit(0L), lit(Depth - 1L))).as("d")

  /** The q46 counter grid over events.user_id — the sketch itself: one
    * map-side-combinable groupBy to (d, cell, c). Because counts
    * partition over any row split, the grid of a UNION of datasets ==
    * cellwise SUM of their grids — the add-mergeability q132/q133 lean
    * on, the CMS twin of [[hllRegisters]]' max-merge. */
  private[queries] def cmsCells(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.select(tokenHash(col("user_id").cast("string")).as("h"))
      .select(col("h"), cmsDepths)
      .select(col("d"), cmsCellCol(col("h"), col("d")).as("cell"))
      .groupBy("d", "cell").agg(count(lit(1)).as("c"))

  /** The q46 report tail over a (possibly merged) grid: the probe keys'
    * min-over-depths point estimates joined against exact truth. The
    * grid is sketch-sized (<= d*w rows), so it broadcasts. */
  private[queries] def cmsEstimateOf(s: org.apache.spark.sql.SparkSession,
      dir: String, cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cmsEstimateOfEv(Tables.events(s, dir), cells)

  /** [[cmsEstimateOf]] parameterized over the event rows, so the
    * retraction query (q152) can probe and truth-check against
    * events-minus-deleted. */
  private[queries] def cmsEstimateOfEv(ev: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = ev
      .select(col("user_id"), tokenHash(col("user_id").cast("string")).as("h"))
    val probes = e.filter(col("user_id") < NumProbes).distinct()
      .select(col("user_id"), col("h"), cmsDepths)
      .select(col("user_id"), col("d").as("pd"), cmsCellCol(col("h"), col("d")).as("pcell"))
    val est = probes
      .join(broadcast(cells), col("pd") === col("d") && col("pcell") === col("cell"))
      .groupBy("user_id").agg(min(col("c")).as("cms_estimate"))
    val truth = ev.filter(col("user_id") < NumProbes)
      .groupBy("user_id").agg(count(lit(1)).as("true_n"))
    truth.join(est, Seq("user_id"))
      .select("user_id", "true_n", "cms_estimate")
  }

  /** q117's oracle, shared verbatim by q135: exact heavy hitters over
    * the FULL corpus — the maintained store must reproduce it exactly,
    * with no sketch or watermark in sight. */
  private def hhOracleFor(docWhere: String): String = {
    val w = if (docWhere.isEmpty) "" else s" WHERE $docWhere"
    s"""WITH d AS (SELECT string_split(text, ' ') AS t FROM documents$w),
       |g AS (SELECT unnest(list_transform(range(1, len(t) - 1),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram FROM d),
       |t AS (SELECT count(*) AS total FROM g)
       |SELECT gram, count(*) AS n_occurrences
       |FROM g CROSS JOIN t
       |GROUP BY gram, total
       |HAVING count(*) * $HHSupport >= total""".stripMargin
  }

  private val hhOracle: String = hhOracleFor("")

  /** The persisted heavy-hitter STORE of the standing corpus — q135's
    * maintained artifact: exact counts of every trigram whose standing
    * count clears the WATERMARK (half the query threshold, i.e.
    * support 1/(2*HHSupport)), built with the identical CMS-gate
    * machinery as q117 at the lower support, plus one sentinel row
    * (gram NULL, cnt 0) carrying the standing total so even an empty
    * store knows T0. Store size is bounded by ~2*HHSupport entries
    * (each needs >= T0/(2*HHSupport) occurrences) however large the
    * corpus — a true sketch-sized standing artifact. */
  private[queries] def hhStoreTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.sources.DurableIndex.attachOrBuild(
      s, dir, "hh_store", "documents.parquet", None) {
      hhStoreOf(Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 7))
        .coalesce(1)
    }

  /** The store build, parameterized over the standing docs for the
    * spec's synthetic scenarios. */
  private[queries] def hhStoreOf(standingDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (gated, total) = hhGatedOccurrencesOf(trigramOcc(standingDocs), 2 * HHSupport)
    val stored = gated.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * (2 * HHSupport) >= col("total"))
      .select(col("gram"), col("cnt"), col("total").as("standing_total"))
    val sentinel = total.select(lit(null).cast("string").as("gram"),
      lit(0L).as("cnt"), col("total").as("standing_total"))
    stored.unionByName(sentinel)
  }

  /** Deletion/retraction over the heavy-hitter STORE (q149) — the
    * q143 contract on an AGGREGATE artifact, which is the interesting
    * case: band/pair/contam/block rows are per-doc or per-pair facts
    * (deletion = tombstone), but a stored COUNT entangles every
    * standing document, so retraction must SUBTRACT, not drop. Given a
    * delete set D: D's text is recounted once (delta-sized — the only
    * text touched), stored grams get `cnt - rcnt`, zero-count rows
    * fall out, and the standing total drops to T1 = T0 - Tr.
    *
    * Exactness rests on the store's completeness bound: a NON-stored
    * gram has standing count < basis/(2*S) where `basis` is the
    * watermark basis the store was built (or last rebuilt) against.
    * Deletion only decreases counts, so non-stored grams stay
    * correctly absent — PROVIDED the final report threshold never
    * falls below the watermark: T1 > basis/2, the HALF-MASS DELETION
    * BUDGET. Inside the budget the retraction is exact with zero
    * standing-corpus work; PAST it the store REBUILDS (round-12
    * verdict #1): when the caller supplies the surviving corpus, the
    * past-budget branch degrades to a fresh [[hhStoreOf]] build over
    * corpus-minus-deleted — the one standing-corpus pass a half-mass
    * takedown has genuinely earned, resetting the watermark basis to
    * the post-delete total (the same discipline as tombstone-debt
    * major compaction in LSM stores). Without the surviving corpus
    * the boundary stays a loud `require` instead of silently wrong
    * results. The
    * returned store does NOT lower its eviction watermark: the
    * sentinel carries the pre-delete basis in `cnt`, so chained
    * [[hhMaintainFromCounts]] applies keep using the conservative
    * bound (q149 chains a retract THEN an ordinary delta apply and
    * still matches the batch oracle). */
  private[queries] def hhRetract(s: org.apache.spark.sql.SparkSession,
      deletedDocs: org.apache.spark.sql.DataFrame,
      store: org.apache.spark.sql.DataFrame,
      survivors: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val stored = store.filter(col("gram").isNotNull)
      .select(col("gram"), col("cnt"))
    val rCnts = trigramOcc(deletedDocs).groupBy("gram")
      .agg(count(lit(1)).as("rcnt")).localCheckpoint()
    val row = store
      .agg(coalesce(max(col("standing_total")), lit(0L)).as("t0"),
        coalesce(max(when(col("gram").isNull, col("cnt"))), lit(0L)).as("wb"),
        lit(0L).as("tr"))
      .unionByName(rCnts
        .agg(lit(0L).as("t0"), lit(0L).as("wb"),
          coalesce(sum(col("rcnt")), lit(0L)).as("tr")))
      .agg(max(col("t0")).as("t0"), max(col("wb")).as("wb"),
        max(col("tr")).as("tr"))
      .first()
    val t0 = row.getLong(0)
    val basis = math.max(row.getLong(1), t0)
    val t1 = t0 - row.getLong(2)
    if (2 * t1 <= basis) {
      // past the budget, subtraction would lose completeness (a
      // non-stored gram can now clear the report threshold): degrade
      // to the rebuild when the caller can supply the net corpus,
      // refuse loudly when it cannot
      require(survivors.isDefined,
        s"heavy-hitter retraction past the half-mass deletion budget " +
          s"(watermark basis $basis, post-delete total $t1): rebuild the store")
      return hhStoreOf(survivors.get)
    }
    val corrected = stored.join(rCnts, Seq("gram"), "left")
      .select(col("gram"),
        (col("cnt") - coalesce(col("rcnt"), lit(0L))).as("cnt"))
      .filter(col("cnt") > 0)
      .withColumn("standing_total", lit(t1))
    corrected.unionByName(s.range(1)
      .select(lit(null).cast("string").as("gram"), lit(basis).as("cnt"),
        lit(t1).as("standing_total")))
  }

  /** [[hhRetract]] over the DURABLE store (q149's artifact): the
    * store's standing corpus is KNOWN — `hh_store` is built over
    * doc_id % 10 != 7 of `dir`'s documents, keyed by content
    * fingerprint — so the past-the-budget rebuild branch constructs
    * corpus-minus-deleted ITSELF (one anti-join against the broadcast
    * delete ids) instead of requiring the caller to re-supply the
    * survivors (round-13 verdict #6: the loud `require` was honest but
    * lazy — a store that knows its corpus can rebuild alone). The
    * caller-supplied-survivors form of [[hhRetract]] remains for
    * synthetic stores whose corpus the library cannot name. */
  private[queries] def hhRetractDurable(s: org.apache.spark.sql.SparkSession,
      dir: String, deletedDocs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val standing = Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 7)
    // no broadcast hint: the survivors relation is only ever evaluated
    // on the PAST-half-mass branch, where the delete set is by
    // definition sweep-scale — exactly where AQE must choose
    val survivors = standing.join(
      deletedDocs.select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
    hhRetract(s, deletedDocs, hhStoreTable(s, dir), Some(survivors))
  }

  /** q135's core, parameterized over the inputs so the spec can drive
    * synthetic surge scenarios. Exactness argument, all on exact
    * integers: a stored gram's full count is store + delta (exact); a
    * non-stored gram has standing count <= B = floor((T0-1)/(2*S)),
    * so if (dcnt + B) * S < T1 it cannot be hot — and its (under-
    * counted) delta-only row is below the final threshold a fortiori,
    * so the undercount never surfaces; the remaining SURGE grams get
    * their exact standing count back from a targeted left-semi recount
    * — the only path that touches standing text, gated on surge
    * non-emptiness (lazy isEmpty, the S10 conditional-sink pattern).
    * The two driver-side scalars (T0, Td) ride ONE job: a union of the
    * two one-row aggregates collected together (round-11 verdict #6 —
    * three sequential driver hops per maintenance tick is latency), and
    * both coalesce to 0 so an empty store/delta cannot NPE. */
  private[queries] def hhMaintain(s: org.apache.spark.sql.SparkSession,
      standingDocs: org.apache.spark.sql.DataFrame,
      deltaDocs: org.apache.spark.sql.DataFrame,
      store: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hhMaintainFromCounts(s, standingDocs,
      trigramOcc(deltaDocs).groupBy("gram").agg(count(lit(1)).as("dcnt")),
      store)

  /** [[hhMaintain]] with the delta's per-gram counts precomputed — the
    * shared tail of the incremental q135 and the streaming q144, whose
    * micro-batches land count SHARDS that merge (by sum) into exactly
    * this relation. */
  private[queries] def hhMaintainFromCounts(s: org.apache.spark.sql.SparkSession,
      standingDocs: org.apache.spark.sql.DataFrame,
      dCnts0: org.apache.spark.sql.DataFrame,
      store: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stored = store.filter(col("gram").isNotNull)
      .select(col("gram"), col("cnt"))
    val dCnts = dCnts0.localCheckpoint()
    val row = store
      .agg(coalesce(max(col("standing_total")), lit(0L)).as("t0"),
        coalesce(max(when(col("gram").isNull, col("cnt"))), lit(0L)).as("wb"),
        lit(0L).as("td"))
      .unionByName(dCnts
        .agg(lit(0L).as("t0"), lit(0L).as("wb"),
          coalesce(sum(col("dcnt")), lit(0L)).as("td")))
      .agg(max(col("t0")).as("t0"), max(col("wb")).as("wb"),
        max(col("td")).as("td"))
      .first()
    val t0 = row.getLong(0)
    val td = row.getLong(2)
    val t1 = t0 + td
    // the non-stored-gram count bound rides the store's WATERMARK
    // BASIS, not the current total: a retraction (q149) shrinks the
    // total without re-admitting grams, so its sentinel carries the
    // pre-delete basis in `cnt` (0 on a fresh build) and the bound
    // stays conservative — a larger basis only ENLARGES the surge set
    val b = math.max(math.max(row.getLong(1), t0) - 1, 0L) / (2 * HHSupport)
    val merged = stored.join(dCnts, Seq("gram"), "full_outer")
      .select(col("gram"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dcnt"), lit(0L)))
          .as("n_occurrences"))
    val surge = dCnts.join(stored, Seq("gram"), "left_anti")
      .filter((col("dcnt") + b) * HHSupport >= t1)
      .localCheckpoint()
    val full =
      if (surge.isEmpty) merged
      else {
        val recount = trigramOcc(standingDocs)
          .join(broadcast(surge.select("gram")), Seq("gram"), "left_semi")
          .groupBy("gram").agg(count(lit(1)).as("scnt"))
        val surged = surge.join(recount, Seq("gram"), "left")
          .select(col("gram"),
            (coalesce(col("scnt"), lit(0L)) + col("dcnt")).as("n_occurrences"))
        merged.join(surge.select("gram"), Seq("gram"), "left_anti")
          .unionByName(surged)
      }
    full.filter(col("n_occurrences") * HHSupport >= t1)
      .select(col("gram"), col("n_occurrences"))
  }

  /** q144's body: the q135 maintenance contract LIVE, completing the
    * heavy-hitter {batch q117, incremental q135, streaming q144}
    * matrix. The arriving delta docs land as 3 drops; each micro-batch
    * writes ONLY its per-gram count shard (a pure function of the
    * batch, so the batch_id dynamic overwrite makes at-least-once
    * replays idempotent — the sharp case here: counts ADD-merge, so a
    * plain append would double-apply a replayed batch). The watermark
    * arithmetic, the surge test, and the targeted standing recount all
    * run POST-DRAIN on the summed shards — after the checkpoint
    * barrier, so the recount can never run against a half-delivered
    * delta or double-run on a replay. Summed shards == the one-shot
    * delta counts exactly (the drops partition docs; trigram counts
    * add across docs), so the result == q135 == batch q117: verbatim
    * oracle. Test hooks as in [[streamHllMaintain]]. */
  private[queries] def streamHeavyHitters(s: org.apache.spark.sql.SparkSession,
      dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false,
      compact: Boolean = true): org.apache.spark.sql.DataFrame = {
    import DedupQueries.{createBatchSink, drainDrops, writeBatch}
    val docs = Tables.documents(s, dir)
    // the standing artifact exists before a maintenance stream starts
    hhStoreTable(s, dir)
    val outTable = JvmScratch.tableName("stream_hh_counts")
    drainDrops(s, "q144", chaos, scratch, resume, outTable) { srcDir =>
      val delta = docs.filter(col("doc_id") % 10 === 7)
        .select("doc_id", "text")
      DedupQueries.stageDropsCached(s, dir, "q144", "documents.parquet", srcDir, 3)(
        i => delta.filter(pmod(col("doc_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_hh_counts")
      createBatchSink(s, outTable, Seq(
        "gram" -> "string", "dcnt" -> "bigint"))
    } { (batch, batchId) =>
      writeBatch(trigramOcc(batch).groupBy("gram")
        .agg(count(lit(1)).as("dcnt")), batchId, outTable)
    } {
      // post-drain (checkpoint barrier passed): fold the per-batch
      // count-shard fragments; the sum-merge below is row-order-blind,
      // so the rewrite is invisible to it (DurableArtifactsSpec)
      if (compact)
        graft.sources.DurableIndex.compactSink(s, outTable): Unit
      val merged = s.table(outTable)
        .groupBy("gram").agg(sum(col("dcnt")).as("dcnt"))
      hhMaintainFromCounts(s, docs.filter(col("doc_id") % 10 =!= 7),
        merged, hhStoreTable(s, dir))
    }
  }

  /** q56's oracle, shared verbatim by q140/q141: the maintained bin
    * tables must reproduce the full-corpus quantile lookups exactly. */
  private def histOracleFor(oWhere: String): String = {
    val w = if (oWhere.isEmpty) "" else s" WHERE $oWhere"
    s"""WITH hist AS (SELECT CAST(floor(o_totalprice / $QWidth.0) AS BIGINT) AS bin,
       |    count(*) AS c
       |  FROM orders$w GROUP BY 1),
       |cum AS (SELECT bin,
       |    sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM hist),
       |n AS (SELECT count(*) AS n FROM orders$w),
       |probs AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS p),
       |t AS (SELECT p, CAST(ceil(p * n) AS BIGINT) AS target_rank
       |  FROM probs CROSS JOIN n),
       |est AS (SELECT p, target_rank, min(bin) AS qbin
       |  FROM t JOIN cum ON cum >= target_rank GROUP BY p, target_rank)
       |SELECT p, target_rank,
       |  CAST((qbin + 1) * $QWidth AS BIGINT) AS est_upper_bound
       |FROM est""".stripMargin
  }

  private val histOracle: String = histOracleFor("")

  /** The q56 bin table — the sketch itself: one map-side-combinable
    * groupBy to (bin, c); grids of a UNION of datasets == cellwise SUM
    * of their grids, the add-mergeability q140/q141 lean on. */
  private[queries] def histBins(o: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    o.select(floor(col("o_totalprice") / QWidth.toDouble).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))

  /** The q56 quantile tail over a (possibly merged) bin table. n is
    * read off the bins themselves (sum of counts IS the row count —
    * every order lands in exactly one bin), so a maintained bin table
    * needs no second pass over the data. The cumulative window runs
    * over the sketch-sized bin table only. */
  private[queries] def histQuantilesOf(s: org.apache.spark.sql.SparkSession,
      hist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cum = hist.withColumn("cum",
      sum(col("c")).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("bin"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    val nDf = hist.agg(sum(col("c")).as("n"))
    val probs = s.range(1)
      .select(explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
    val targets = probs.crossJoin(broadcast(nDf))
      .select(col("p"), ceil(col("p") * col("n")).cast("long").as("target_rank"))
    targets.join(broadcast(cum), col("cum") >= col("target_rank"))
      .groupBy("p", "target_rank").agg(min(col("bin")).as("qbin"))
      .select(col("p"), col("target_rank"),
        ((col("qbin") + 1) * QWidth).cast("long").as("est_upper_bound"))
  }

  /** q141's body: [[streamHllMaintain]]'s drain shape with the
    * per-batch work swapped for [[histBins]] — bin shards are a pure
    * function of the batch, so the batch_id dynamic overwrite makes
    * replays idempotent; merge on read = cellwise SUM. Test hooks as
    * in the other drains. */
  private[queries] def streamHistMaintain(s: org.apache.spark.sql.SparkSession,
      dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): org.apache.spark.sql.DataFrame = {
    import DedupQueries.{createBatchSink, drainDrops, writeBatch}
    val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
    val outTable = JvmScratch.tableName("stream_hist_bins")
    drainDrops(s, "q141", chaos, scratch, resume, outTable) { srcDir =>
      DedupQueries.stageDropsCached(s, dir, "q141", "orders.parquet", srcDir, 3)(
        i => o.filter(pmod(col("o_orderkey"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_hist_bins")
      createBatchSink(s, outTable, Seq("bin" -> "bigint", "c" -> "bigint"))
    } { (batch, batchId) =>
      writeBatch(histBins(batch), batchId, outTable)
    } {
      graft.sources.DurableIndex.compactSink(s, outTable): Unit
      val merged = s.table(outTable)
        .groupBy("bin").agg(sum(col("c")).as("c"))
      histQuantilesOf(s, merged)
    }
  }

  /** q46's oracle, shared verbatim by q132/q133: the maintained grids
    * must reproduce the full-corpus sketch EXACTLY (add-merge is an
    * identity, not an approximation). */
  private def cmsOracleFor(evWhere: String): String = {
    val w = if (evWhere.isEmpty) "" else s" WHERE $evWhere"
    val colSql = (h: String, d: String) =>
      s"((($h * (1000003 * ($d + 1) % $P) + (7777777 * ($d + 1) % $P)) % $P) % $Width)"
    s"""WITH e AS (SELECT user_id, ${sqlTokenHash("user_id::VARCHAR")} AS h FROM events$w),
       |cells AS (SELECT d, ${colSql("h", "d")} AS cell, count(*) AS c
       |  FROM e CROSS JOIN (SELECT unnest(range($Depth)) AS d) dd
       |  GROUP BY 1, 2),
       |probes AS (SELECT DISTINCT user_id, h FROM e WHERE user_id < $NumProbes),
       |est AS (SELECT user_id, min(c) AS cms_estimate
       |  FROM probes CROSS JOIN (SELECT unnest(range($Depth)) AS d) dd
       |  JOIN cells ON cells.d = dd.d AND cells.cell = ${colSql("h", "dd.d")}
       |  GROUP BY user_id),
       |truth AS (SELECT user_id, count(*) AS true_n FROM events$w
       |  ${if (evWhere.isEmpty) "WHERE" else "AND"} user_id < $NumProbes GROUP BY user_id)
       |SELECT user_id, true_n, cms_estimate
       |FROM truth JOIN est USING (user_id)""".stripMargin
  }

  private val cmsOracle: String = cmsOracleFor("")

  /** q133's body: CMS grid maintenance live — [[streamHllMaintain]]'s
    * drain shape (checkpointed AvailableNow, maxFilesPerTrigger=1,
    * batch_id-partitioned idempotent sink) with the per-batch work
    * swapped for [[cmsCells]]. Grid shards are a pure function of the
    * batch, so an at-least-once replay dynamic-overwrites identical
    * rows; merge on read = cellwise SUM over all partitions. Test hooks
    * as in [[streamHllMaintain]]. */
  private[queries] def streamCmsMaintain(s: org.apache.spark.sql.SparkSession,
      dir: String,
      chaos: Long => Unit = _ => (),
      scratch: Option[(String, String)] = None,
      resume: Boolean = false): org.apache.spark.sql.DataFrame = {
    import DedupQueries.{createBatchSink, drainDrops, writeBatch}
    val ev = Tables.events(s, dir).select("event_id", "user_id")
    val outTable = JvmScratch.tableName("stream_cms_grid")
    drainDrops(s, "q133", chaos, scratch, resume, outTable) { srcDir =>
      DedupQueries.stageDropsCached(s, dir, "q133", "events.parquet", srcDir, 3)(
        i => ev.filter(pmod(col("event_id"), lit(3)) === i))
      JvmScratch.resetTable(s, "stream_cms_grid")
      createBatchSink(s, outTable, Seq(
        "d" -> "bigint", "cell" -> "bigint", "c" -> "bigint"))
    } { (batch, batchId) =>
      writeBatch(cmsCells(batch), batchId, outTable)
    } {
      graft.sources.DurableIndex.compactSink(s, outTable): Unit
      val merged = s.table(outTable)
        .groupBy("d", "cell").agg(sum(col("c")).as("c"))
      cmsEstimateOf(s, dir, merged)
    }
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q46_countmin_sketch",
      s"count-min sketch (${Depth}x$Width, universal-hash family) over events.user_id: build the mergeable counter grid, point-estimate $NumProbes probe keys as min-over-depths, report vs true counts",
      cmsOracle) { (s, dir) =>
      // the sketch: one groupBy builds AND merges the counter grid
      cmsEstimateOf(s, dir, cmsCells(Tables.events(s, dir)))
    },

    // ------------------------------------------------------------------
    // Distinct-count sketch (HLL-shaped), estimating daily-active-user
    // cardinality (distinct user:day) per event type. The 100-TB shape:
    // registers are ONE groupBy with map-side combine (merge = cellwise
    // max, so partial aggregation is the sketch merge), state is O(m)
    // per group regardless of input cardinality.
    //
    // Cross-engine exactness: Spark's own approx_count_distinct uses
    // engine-private hashing, so this sketch runs on the CrossEngine
    // md5-48 family, and — unlike textbook HLL — the harmonic mean stays
    // INTEGER until the final step: sum(2^(MaxRho - reg)) is a sum of
    // exact longs (order-free), and the estimate is one double multiply
    // + divide. No ln/pow libm calls whose last ulp could differ
    // between the JVM and DuckDB. m=32 keeps every tested SF in the raw
    // HLL regime (n > 2.5m), so no small-range correction branch.
    QueryDef(
      "q51_hll_distinct",
      s"HLL-shaped distinct-count sketch over events: ${HllM} integer registers per event_type estimate distinct user:day (DAU) cardinality; merge = max, estimate exact-integer until one final double divide; reported next to the true distinct count",
      s"""WITH ev AS (SELECT event_type,
         |    user_id::VARCHAR || ':' || CAST(ts::DATE AS VARCHAR) AS k FROM events),
         |h AS (SELECT event_type, ${sqlMd5Hash48("k")} AS h FROM ev),
         |b AS (SELECT event_type, h % $HllM AS bucket, h // $HllM AS w FROM h),
         |r AS (SELECT event_type, bucket,
         |    max(CASE WHEN w = 0 THEN $HllMaxRho
         |             ELSE bit_count((w & -w) - 1) + 1 END) AS reg
         |  FROM b GROUP BY 1, 2),
         |grid AS (SELECT event_type, bucket
         |  FROM (SELECT DISTINCT event_type FROM events)
         |  CROSS JOIN (SELECT unnest(range($HllM)) AS bucket)),
         |regs AS (SELECT grid.event_type, coalesce(reg, 0) AS reg
         |  FROM grid LEFT JOIN r ON grid.event_type = r.event_type
         |                       AND grid.bucket = r.bucket),
         |agg AS (SELECT event_type,
         |    sum((1::BIGINT << ($HllMaxRho - reg)))::BIGINT AS isum,
         |    sum(CASE WHEN reg > 0 THEN 1 ELSE 0 END)::BIGINT AS nonzero_regs
         |  FROM regs GROUP BY 1),
         |truth AS (SELECT event_type, count(DISTINCT k) AS true_distinct
         |  FROM ev GROUP BY 1)
         |SELECT event_type, true_distinct,
         |  CAST('$HllA' AS DOUBLE) * (1::BIGINT << $HllMaxRho) / isum AS hll_estimate,
         |  nonzero_regs
         |FROM truth JOIN agg USING (event_type)""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val est = hllEstimateOf(s, hllRegisters(ev))
      val truth = evKeys(ev).groupBy("event_type")
        .agg(countDistinct(col("k")).as("true_distinct"))
      truth.join(est, Seq("event_type"))
        .select("event_type", "true_distinct", "hll_estimate", "nonzero_regs")
    },

    // ------------------------------------------------------------------
    // Incremental statistics maintenance — the sketch family's q93: the
    // standing corpus's HLL registers are a PERSISTED artifact (built
    // once per JVM per source, a catalog table at 100 TB maintained by
    // the ingest job); a delta arrives and only the DELTA is sketched.
    // Merge = cellwise max over two register tables (O(types x m) rows,
    // corpus-size-independent), and because max is associative and
    // commutative, merged registers == full-corpus registers EXACTLY —
    // the oracle is the full-corpus q51 estimate, hash-exact, while the
    // incremental cost is one delta scan plus a sketch-sized merge.
    // This is why mergeable sketches (not exact distinct counts) are
    // what a 100 TB pipeline keeps as standing statistics.
    QueryDef(
      "q120_incremental_hll",
      s"incremental distinct-count maintenance: standing HLL registers persisted (built once per JVM), delta (event_id%10==7) sketched alone, cellwise-max merge -> estimate == full-corpus q51 estimate exactly (mergeability is an identity, not an approximation)",
      hllFullCorpusOracle) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val standing = ev.filter(pmod(col("event_id"), lit(10)) =!= 7)
      val delta = ev.filter(pmod(col("event_id"), lit(10)) === 7)
      // content-fingerprinted (not dir.hashCode): an in-place testdata
      // regeneration within one JVM must invalidate the standing grid,
      // the same drift contract as the DurableIndex artifacts
      val short = s"hll_standing_${
        graft.sources.DurableIndex.fingerprint(s, dir, "events.parquet")}"
      JvmScratch.ensure(s)
      val standingTable = JvmScratch.tableName(short)
      if (!s.catalog.tableExists(standingTable))
        hllRegisters(standing).write.format("parquet").saveAsTable(standingTable)
      val merged = s.table(standingTable).unionByName(hllRegisters(delta))
        .groupBy("event_type", "bucket").agg(max(col("reg")).as("reg"))
      hllEstimateOf(s, merged)
    },

    // ------------------------------------------------------------------
    // Streaming statistics maintenance — the sketch family's q105: the
    // register table grown BY THE STREAM. Events arrive as 3 drops;
    // each micro-batch is sketched alone inside foreachBatch and lands
    // in its own batch_id partition of the register sink (dynamic
    // overwrite -> replay-idempotent: registers are a pure function of
    // the batch, so an at-least-once redelivery rewrites identical
    // rows). The post-drain estimate merges ALL partitions cellwise —
    // and equals the full-corpus q51 estimate exactly, same oracle as
    // q120. The steady state this models: per-ingest-batch sketch
    // shards appended forever, merged on read in O(batches x m).
    QueryDef(
      "q121_stream_hll",
      "streaming distinct-count maintenance: 3 event drops -> checkpointed AvailableNow drain, per-micro-batch HLL registers into batch_id partitions (replay-idempotent), cellwise-max merge on read == full-corpus q51 estimate exactly",
      hllFullCorpusOracle) { (s, dir) =>
      streamHllMaintain(s, dir)
    },

    // ------------------------------------------------------------------
    // Incremental FREQUENCY-sketch maintenance — q120's contract on the
    // count-min side, completing the mergeable-sketch maintenance
    // matrix (HLL merges by max, CMS by ADD; both are identities, not
    // approximations, because counts partition over any row split).
    // The standing corpus's counter grid is the persisted artifact; a
    // delta arrives and only the DELTA is sketched; merge = cellwise
    // sum over two sketch-sized tables (O(d*w) rows, corpus-size-
    // independent). The probe estimates off the merged grid equal the
    // full-corpus q46 estimates EXACTLY — verbatim oracle.
    QueryDef(
      "q132_incremental_cms",
      s"incremental frequency-sketch maintenance: standing ${Depth}x$Width count-min grid persisted (built once per JVM), delta (event_id%10==7) sketched alone, cellwise-ADD merge -> probe estimates == full-corpus q46 exactly (add-mergeability is an identity)",
      cmsOracle) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val standing = ev.filter(pmod(col("event_id"), lit(10)) =!= 7)
      val delta = ev.filter(pmod(col("event_id"), lit(10)) === 7)
      val short = s"cms_standing_${
        graft.sources.DurableIndex.fingerprint(s, dir, "events.parquet")}"
      JvmScratch.ensure(s)
      val standingTable = JvmScratch.tableName(short)
      if (!s.catalog.tableExists(standingTable))
        cmsCells(standing).write.format("parquet").saveAsTable(standingTable)
      val merged = s.table(standingTable).unionByName(cmsCells(delta))
        .groupBy("d", "cell").agg(sum(col("c")).as("c"))
      cmsEstimateOf(s, dir, merged)
    },

    // ------------------------------------------------------------------
    // The same contract LIVE — q121's drain shape with the per-batch
    // work swapped for the counter grid: per-ingest-batch CMS shards
    // appended forever into batch_id partitions (replay-idempotent:
    // shards are a pure function of the batch), merged on read in
    // O(batches x d x w). Final estimates == full-corpus q46, verbatim
    // oracle — the steady state of a streaming frequency monitor.
    QueryDef(
      "q133_stream_cms",
      "streaming frequency-sketch maintenance: 3 event drops -> checkpointed AvailableNow drain, per-micro-batch count-min grids into batch_id partitions (replay-idempotent), cellwise-ADD merge on read == full-corpus q46 estimates exactly",
      cmsOracle) { (s, dir) =>
      streamCmsMaintain(s, dir)
    },

    // ------------------------------------------------------------------
    // Retraction over the count-min grid — the sketch member of the
    // q143 matrix, and the theoretically clean case: ADD-merge is
    // INVERTIBLE, so deletion is exact subtraction (sketch the deleted
    // events alone — delta-sized — and subtract cellwise; counts are
    // per-cell sums, so grid(S) - grid(D) == grid(S \ D) is an
    // identity, not an approximation). The contrast inside the sketch
    // family is the point: CMS and histograms retract exactly; HLL
    // CANNOT (max is not invertible — its retraction path is
    // shard-grained: drop the deleted batch's register shard and
    // re-max, which the q121 batch_id-sharded sink already supports
    // and TechniqueSpec proves). Zero cells are dropped so the
    // subtracted grid is bit-identical to a fresh build. Chains the
    // ordinary q132 delta merge on top — deletion composes with
    // maintenance. == q46 over events-minus-deleted exactly.
    QueryDef(
      "q152_cms_retraction",
      s"retraction over the ${Depth}x$Width count-min grid: deleted events sketched alone and SUBTRACTED cellwise (add-merge is invertible — an identity, not an approximation), zero cells dropped, then the ordinary delta merge chained on top; probe estimates == full q46 over events-minus-deleted exactly",
      cmsOracleFor("event_id % 10 != 3")) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val standing = ev.filter(pmod(col("event_id"), lit(10)) =!= 7)
      val deleted = ev.filter(pmod(col("event_id"), lit(10)) === 3)
      val delta = ev.filter(pmod(col("event_id"), lit(10)) === 7)
      val short = s"cms_standing_${
        graft.sources.DurableIndex.fingerprint(s, dir, "events.parquet")}"
      JvmScratch.ensure(s)
      val standingTable = JvmScratch.tableName(short)
      if (!s.catalog.tableExists(standingTable))
        cmsCells(standing).write.format("parquet").saveAsTable(standingTable)
      val merged = s.table(standingTable)
        .unionByName(cmsCells(deleted)
          .select(col("d"), col("cell"), (-col("c")).as("c")))
        .unionByName(cmsCells(delta))
        .groupBy("d", "cell").agg(sum(col("c")).as("c"))
        .filter(col("c") =!= 0L)
      cmsEstimateOfEv(ev.filter(pmod(col("event_id"), lit(10)) =!= 3), merged)
    },

    // ------------------------------------------------------------------
    // Quantile sketch: mergeable equi-width histogram + rank lookup —
    // the third classic sketch next to count-min (q46) and HLL (q51).
    // The 100-TB shape: the histogram is ONE groupBy with map-side
    // combine (merge = cellwise add), O(bins) state however large the
    // input; quantile estimation then runs on the bin table, which is
    // sketch-sized (the cumulative window over ~100 bins is constant
    // work, not data-scale work). Estimate convention: the p-quantile
    // is bounded above by the upper edge of the first bin whose
    // cumulative count reaches ceil(p*n) — error <= one bin width by
    // construction (asserted by TechniqueSpec against the exact order
    // statistic). All arithmetic is integer after one double
    // floor-divide, so the DuckDB oracle reproduces it exactly.
    QueryDef(
      "q56_histogram_quantiles",
      "mergeable equi-width histogram sketch over o_totalprice (merge = cellwise add) with p50/p90/p99 rank lookups on the cumulative bin table; estimate within one bin width of the exact order statistic",
      histOracle) { (s, dir) =>
      // the sketch: one partial-agg groupBy; merge = cellwise add
      histQuantilesOf(s, histBins(Tables.orders(s, dir)))
    },

    // ------------------------------------------------------------------
    // Incremental HISTOGRAM maintenance — the q120/q132 contract on the
    // third classic sketch, completing the {HLL max-merge, CMS
    // add-merge, histogram add-merge} x {batch, incremental, streaming}
    // matrix. Standing bin table persisted; only the delta is binned;
    // merge = cellwise add over two sketch-sized tables; the quantile
    // tail (which reads n off the merged bins — sum of counts IS the
    // row count, no second data pass) equals full-corpus q56 exactly.
    QueryDef(
      "q140_incremental_histogram",
      "incremental quantile-sketch maintenance: standing equi-width bin table persisted (built once per JVM), delta (o_orderkey%10==7) binned alone, cellwise-ADD merge -> p50/p90/p99 lookups == full-corpus q56 exactly",
      histOracle) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val standing = o.filter(pmod(col("o_orderkey"), lit(10)) =!= 7)
      val delta = o.filter(pmod(col("o_orderkey"), lit(10)) === 7)
      val short = s"hist_standing_${
        graft.sources.DurableIndex.fingerprint(s, dir, "orders.parquet")}"
      JvmScratch.ensure(s)
      val standingTable = JvmScratch.tableName(short)
      if (!s.catalog.tableExists(standingTable))
        histBins(standing).write.format("parquet").saveAsTable(standingTable)
      val merged = s.table(standingTable).unionByName(histBins(delta))
        .groupBy("bin").agg(sum(col("c")).as("c"))
      histQuantilesOf(s, merged)
    },

    // ------------------------------------------------------------------
    // The same contract LIVE — per-micro-batch bin shards into batch_id
    // partitions (replay-idempotent: shards are a pure function of the
    // batch), merged on read in O(batches x bins). == q56 verbatim.
    QueryDef(
      "q141_stream_histogram",
      "streaming quantile-sketch maintenance: 3 order drops -> checkpointed AvailableNow drain, per-micro-batch bin tables into batch_id partitions (replay-idempotent), cellwise-ADD merge on read == full-corpus q56 exactly",
      histOracle) { (s, dir) =>
      streamHistMaintain(s, dir)
    },

    // ------------------------------------------------------------------
    // Retraction over the quantile sketch — the q152 contract on the
    // equi-width bin table: deleted orders binned alone (delta-sized)
    // and subtracted cellwise, the ordinary delta merge chained on
    // top, zero bins dropped. n for the rank lookups comes off the
    // corrected bins (sum of counts IS the row count), so no second
    // data pass exists to get wrong. == q56 over orders-minus-deleted
    // exactly.
    QueryDef(
      "q153_histogram_retraction",
      "retraction over the equi-width quantile sketch: deleted orders binned alone and SUBTRACTED cellwise (add-merge is invertible), ordinary delta merge chained on top, zero bins dropped; p50/p90/p99 lookups == full q56 over orders-minus-deleted exactly",
      histOracleFor("o_orderkey % 10 != 3")) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val standing = o.filter(pmod(col("o_orderkey"), lit(10)) =!= 7)
      val deleted = o.filter(pmod(col("o_orderkey"), lit(10)) === 3)
      val delta = o.filter(pmod(col("o_orderkey"), lit(10)) === 7)
      val short = s"hist_standing_${
        graft.sources.DurableIndex.fingerprint(s, dir, "orders.parquet")}"
      JvmScratch.ensure(s)
      val standingTable = JvmScratch.tableName(short)
      if (!s.catalog.tableExists(standingTable))
        histBins(standing).write.format("parquet").saveAsTable(standingTable)
      val merged = s.table(standingTable)
        .unionByName(histBins(deleted)
          .select(col("bin"), (-col("c")).as("c")))
        .unionByName(histBins(delta))
        .groupBy("bin").agg(sum(col("c")).as("c"))
        .filter(col("c") =!= 0L)
      histQuantilesOf(s, merged)
    },

    // ------------------------------------------------------------------
    // Sketch-GATED exact heavy hitters — the two-pass frequent-pattern
    // shape (boilerplate/over-represented-n-gram mining) that survives
    // 100 TB: an exact `groupBy(gram)` shuffles every distinct n-gram
    // (billions at corpus scale, heavy-tailed); here a count-min grid
    // gates the shuffle instead. (q62 is the complementary bounded-
    // vocabulary case — plain top-k where the key domain is small; this
    // is the UNBOUNDED key domain, where the sketch bounds the shuffle.) Pass 1 builds the grid (one map-side-
    // combinable groupBy, O(d*w) state); cells with count >= threshold
    // ("hot cells", at most ~support^-1 * collision slack per depth)
    // broadcast; pass 2 admits an occurrence into the exact recount only
    // if ALL its d cells are hot — 4 chained broadcast semi-joins, O(1)
    // hash probes in one codegen stage. CMS never underestimates, so the
    // gate passes a superset of the true heavy hitters and the exact
    // recount + final threshold make the output EXACT — the DuckDB
    // oracle is the plain exact aggregation, with no sketch in sight.
    // (The gate hash therefore needs no cross-engine twin: a wrong hash
    // could only hurt pruning, never correctness — it uses native
    // xxhash64, unlike the oracle-visible sketches above.)
    QueryDef(
      "q117_heavy_hitters",
      s"sketch-gated exact heavy hitters over trigram shingles: ${HHDepth}x$HHWidth count-min grid -> hot-cell broadcast gate (no false negatives) -> exact recount of survivors at support 1/$HHSupport; shuffle carries near-frequent grams only",
      hhOracle) { (s, dir) =>
      val (gated, total) = hhGatedOccurrences(s, dir)
      gated.groupBy("gram").agg(count(lit(1)).as("n_occurrences"))
        .crossJoin(broadcast(total))
        .filter(col("n_occurrences") * HHSupport >= col("total"))
        .select(col("gram"), col("n_occurrences"))
    },

    // ------------------------------------------------------------------
    // Incremental EXACT heavy-hitter maintenance — the q117 result kept
    // current without the full-corpus pass, via a WATERMARKED store
    // (the two-threshold trick classical frequent-items maintenance
    // rests on). The store holds exact counts for every standing gram
    // above HALF the query threshold; a gram absent from it has
    // standing count <= B = floor((T0-1)/(2*support)) < the threshold,
    // so it can only become hot if its DELTA count alone bridges the
    // watermark gap — checkable from (dcnt + B) without touching the
    // corpus. Only those rare SURGE grams trigger a targeted standing
    // recount (left-semi on the surge set, the q117 pass-2 shape); the
    // steady state is store-merge + delta-count, both delta/sketch-
    // sized. Every exclusion above is an inequality on exact integers,
    // so the output is EXACT — verbatim q117 oracle.
    QueryDef(
      "q135_incremental_heavy_hitters",
      s"incremental exact heavy-hitter maintenance: watermarked standing store (trigrams above 1/(2x$HHSupport) support, exact counts + standing total) + delta-only counts; non-stored grams are provably cold unless the delta alone bridges the watermark gap, and only those surge grams trigger a targeted standing recount — == full-corpus q117 exactly",
      hhOracle) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      hhMaintain(s, docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7), hhStoreTable(s, dir))
    },

    // ------------------------------------------------------------------
    // The q135 contract LIVE — streaming heavy-hitter maintenance,
    // closing the family's {batch, incremental, streaming} matrix (the
    // last incomplete one, round-11 verdict #3). Per micro-batch ONLY a
    // count shard lands (pure function of the batch -> replay-
    // idempotent via the batch_id dynamic overwrite — the sharp case:
    // counts ADD-merge, so an appended replay would double-count); the
    // watermark/surge/recount arithmetic runs once POST-DRAIN on the
    // summed shards, behind the checkpoint barrier. == q135 == batch
    // q117 exactly, verbatim oracle.
    QueryDef(
      "q144_stream_heavy_hitters",
      s"STREAMING exact heavy-hitter maintenance: delta docs as 3 drops, per-micro-batch per-gram count shards into batch_id partitions (replay-idempotent — add-merged counts must never double-apply), post-drain watermark-store merge + surge-gated targeted recount == full-corpus q117 exactly",
      hhOracle) { (s, dir) =>
      streamHeavyHitters(s, dir)
    },

    // ------------------------------------------------------------------
    // Retraction over the heavy-hitter store — the q143 maintenance
    // direction on an AGGREGATE artifact, the case where deletion
    // cannot be a tombstone: a stored count entangles every standing
    // document, so retraction SUBTRACTS (the delete set's text is the
    // only text recounted — delta-sized), the standing total drops,
    // and the watermark basis is carried so the store's completeness
    // bound stays conservative (half-mass deletion budget, enforced
    // loudly by a require). The query then chains an ORDINARY q135
    // delta apply on the retracted store — deletion composes with
    // maintenance — and matches batch q117 over corpus-minus-deleted:
    // verbatim oracle.
    QueryDef(
      "q149_hh_retraction",
      "retraction over the heavy-hitter store: deleted docs' trigrams recounted once (delta-sized) and SUBTRACTED from the stored counts (aggregate artifact — no tombstone possible), watermark basis carried for the completeness bound, then an ordinary incremental delta apply chained on the retracted store — == batch heavy hitters over corpus-minus-deleted exactly",
      hhOracleFor("doc_id % 10 != 3")) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // the durable-store path: were this takedown past the half-mass
      // budget, the rebuild branch would derive corpus-minus-deleted
      // itself (fingerprint-known standing corpus — no caller-supplied
      // survivors)
      val retracted = hhRetractDurable(s, dir,
        docs.filter(col("doc_id") % 10 === 3))
      hhMaintain(s,
        docs.filter(col("doc_id") % 10 =!= 7 && col("doc_id") % 10 =!= 3),
        docs.filter(col("doc_id") % 10 === 7), retracted)
    },

    // ------------------------------------------------------------------
    // Equi-depth binning at scale (feature bucketing): decile edges are
    // derived from the q56-style histogram sketch — NOT from ntile(),
    // whose empty OVER () is a single-partition global sort that dies at
    // data scale. Pass 1 builds the equi-width histogram (one
    // map-side-combinable groupBy); the 9 decile edges come from rank
    // lookups on the sketch-sized cumulative bin table; pass 2 assigns
    // every row its bucket by counting edges <= value against the
    // broadcast 9-element edge array and aggregates per-bucket stats.
    // Buckets are equal-depth to within one histogram bin; the OUTPUT
    // is exactly deterministic (integer edge math, exact decimal sums).
    QueryDef(
      "q97_equidepth",
      "equi-depth decile binning via histogram-sketch edges + broadcast assignment (no global sort): per-bucket row count, min/max, exact decimal revenue",
      s"""WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
         |hist AS (SELECT CAST(floor(x / 100.0) AS BIGINT) AS bin, count(*) AS c
         |  FROM v GROUP BY 1),
         |cum AS (SELECT bin,
         |    sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM hist),
         |n AS (SELECT count(*) AS n FROM v),
         |ds AS (SELECT unnest(range(1, 10)) AS d),
         |t AS (SELECT d, CAST(ceil(d * n / 10.0) AS BIGINT) AS target_rank
         |  FROM ds CROSS JOIN n),
         |edge AS (SELECT d, CAST((min(bin) + 1) * 100 AS BIGINT) AS e
         |  FROM t JOIN cum ON cum >= target_rank GROUP BY d, target_rank),
         |earr AS (SELECT list_sort(list(e)) AS edges FROM edge)
         |SELECT CAST(len(list_filter(edges, e -> x >= e)) AS BIGINT) AS bucket,
         |  count(*) AS n_rows,
         |  min(x) AS min_x, max(x) AS max_x,
         |  CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sum_x
         |FROM v CROSS JOIN earr
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
      val hist = v.select(floor(col("x") / 100.0).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("c"))
      val cum = hist.withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val nDf = v.agg(count(lit(1)).as("n"))
      val targets = s.range(1, 10).select(col("id").as("d"))
        .crossJoin(broadcast(nDf))
        .select(col("d"), ceil(col("d") * col("n") / 10.0).cast("long").as("target_rank"))
      val edges = targets.join(broadcast(cum), col("cum") >= col("target_rank"))
        .groupBy("d", "target_rank")
        .agg(((min(col("bin")) + 1) * 100).cast("long").as("e"))
      val earr = edges.groupBy().agg(sort_array(collect_list(col("e"))).as("edges"))
      v.crossJoin(broadcast(earr))
        .select(col("x"),
          size(filter(col("edges"), e => col("x") >= e)).cast("long").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          sum(col("x").cast("decimal(18,2)")).cast("double").as("sum_x"))
    })
}
