package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Child-process halves of the CROSS-PROCESS durable-artifact specs,
  * launched only through [[ForkedProbe]]: ConcurrentPublishSpec races
  * threads over [[DurableIndex.commit]] and argues the exclusive create
  * sits below the JVM lock, so the interleaving equals two JVMs'. This
  * main makes the argument empirical — each invocation is a REAL
  * separate JVM with its own SparkSession, Hadoop FileSystem and
  * process lifetime.
  *
  * Protocol (file-based, no IPC):
  *   publish <warehouse> <destName> <idx> <rows> <barrierFile>
  *     stages a complete `rows`-row generation `<destName>.g<idx>`,
  *     drops `ready_<idx>`, spins on the barrier file, then races
  *     `commit` on the pointer `<destName>`; prints ONE line
  *     `RACE_RESULT WIN|LOSE <idx>` (a loser deletes its generation —
  *     the loser's contract).
  *   read <warehouse> <destName> <stopFile> <legalCounts>
  *     resolve-the-pointer-and-count loop until the stop file appears;
  *     prints ONE line `RACE_READS ok=<n> miss=<n> illegal=<n>` where
  *     `miss` counts probes that found no pointer (the legal state
  *     before publish) and `illegal` counts reads whose row count is not
  *     a MEMBER of the comma-separated legal set — exact membership,
  *     because a divisibility rule is unsound precisely in the torn case
  *     it exists to catch (round-17 ADVICE: staged counts 100 and 200
  *     torn together read 300, a multiple of 100). The spec stages
  *     counts NOT closed under addition as a second line of defense.
  *   attachLoop <warehouse> <dir> <family> <idx> <rows> <rounds> <syncDir>
  *     see below (AttachRaceSpec).
  *   storeCycle <warehouse>
  *     one attach -> supersede -> attachLatest -> retire cycle in a
  *     session whose warehouse is on [[ObjectStoreFs]]; prints
  *     `STORE <key>=<value>` facts for ObjectStoreCycleSpec.
  */
object RaceProbe {

  /** A minimal `local[2]` session, deliberately not GraftSession's:
    * N of these JVMs run at once as race children. */
  private def session(warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.warehouse.dir", warehouse)
      .config(s"spark.hadoop.${ObjectStoreFs.ImplKey}", classOf[ObjectStoreFs].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "publish" =>
      val Array(_, warehouse, destName, idx, rows, barrier) = args.take(6)
      val spark = session(warehouse)
      val base = new Path(warehouse, "graft_race2")
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(base)
      val gen = new Path(base, s"$destName.g$idx")
      spark.range(rows.toLong).coalesce(1).write.mode("overwrite")
        .parquet(gen.toString)
      Files.writeString(Paths.get(warehouse, s"ready_$idx"), "ready")
      while (!Files.exists(Paths.get(barrier))) Thread.sleep(2)
      val won = DurableIndex.commit(spark, new Path(base, destName), gen)
      if (!won) fs.delete(gen, true)
      println(s"RACE_RESULT ${if (won) "WIN" else "LOSE"} $idx")
      spark.stop()

    case "attachLoop" =>
      // N rounds of the FULL attachOrBuildFp layer raced cross-process
      // (round-19 verdict #2: the primitive-level race says nothing
      // about fallout ABOVE it — catalog-free plain publish here,
      // bucketed attach is JVM-serialized the same way).
      // Per round: signal ready_<r>_<idx>, spin on barrier_<r>, then
      // attach-or-build a FRESH fingerprint with this publisher's
      // distinct row count; print `ATTACH_RESULT <r> <idx> count=<n>
      // built=<b>` — the spec asserts every racer of a round agrees on
      // ONE count (losers must read the winner's generation, never
      // their own discarded one).
      val Array(_, warehouse, dir, family, idx, rows, rounds, sync) = args.take(8)
      val spark = session(warehouse)
      (0 until rounds.toInt).foreach { r =>
        val fp = f"feed$r%04x"
        Files.writeString(Paths.get(sync, s"ready_${r}_$idx"), "ready")
        val barrier = Paths.get(sync, s"barrier_$r")
        // bounded wait: if the parent (or a crashed sibling) never
        // drops the barrier, exit loudly instead of spinning forever
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        while (!Files.exists(barrier)) {
          if (System.nanoTime() > deadline)
            sys.error(s"attachLoop $idx: barrier_$r never dropped")
          Thread.sleep(2)
        }
        var built = false
        val df = DurableIndex.attachOrBuildFp(spark, dir, family, fp, None) {
          built = true
          spark.range(rows.toLong).select(col("id"))
        }
        println(s"ATTACH_RESULT $r $idx count=${df.count()} built=$built")
      }
      spark.stop()

    case "read" =>
      val Array(_, warehouse, destName, stopFile, legalCounts) = args.take(5)
      val legal = legalCounts.split(",").map(_.trim.toLong).toSet
      val spark = session(warehouse)
      val pointer = new Path(warehouse, "graft_race2/" + destName)
      var ok, miss, illegal = 0
      while (!Files.exists(Paths.get(stopFile))) {
        DurableIndex.resolve(spark, pointer) match {
          case None => miss += 1 // no pointer yet: the legal pre-publish state
          case Some(gen) =>
            val n = spark.read.parquet(gen.toString).count()
            if (legal.contains(n)) ok += 1 else illegal += 1
        }
      }
      println(s"RACE_READS ok=$ok miss=$miss illegal=$illegal")
      spark.stop()

    case "storeCycle" =>
      val spark = session(args(1))
      val (dir, family) = ("/store/corpus", "store_cycle")
      def ids(n: Long) = spark.range(n).select(col("id"))
      def fact(k: String, v: Any): Unit = println(s"STORE $k=$v")
      def gens = DurableIndex.generations(spark, dir, family)
      var built = 0
      def attach(fp: String, n: Long) =
        DurableIndex.attachOrBuildFp(spark, dir, family, fp, None) { built += 1; ids(n) }

      fact("first", attach("a1", 10).count())
      val genA = gens.live("a1")
      fact("reattach", attach("a1", 99).count())
      fact("builds", built)
      fact("second", attach("b2", 20).count())
      fact("live", gens.live.keys.toSeq.sorted.mkString(","))
      fact("retiredIsFirst", gens.retired == Seq(genA))
      fact("retiredReadable", spark.read.parquet(genA.toString).count())
      fact("latest", DurableIndex.attachLatest(spark, dir, family).map(_.count()))
      DurableIndex.retireIfLive(spark, dir, family, "b2")
      fact("liveAfterRetire", DurableIndex.liveExists(spark, dir, family, "b2"))
      fact("latestAfterRetire", DurableIndex.attachLatest(spark, dir, family).map(_.count()))
      fact("retiredAfterRetire", gens.retired.size)
      fact("third", attach("c3", 30).count())
      fact("retiredAfterRebuild", gens.retired.size)
      val bucketed = DurableIndex.attachOrBuildFp(spark, dir, "store_cycle_b", "d4",
        Some(("id", 4)))(ids(40))
      fact("bucketed", bucketed.count())
      val genD = DurableIndex.generations(spark, dir, "store_cycle_b").live("d4")
      fact("bucketedAt", bucketed.inputFiles.forall(f =>
        new Path(f).getParent.toUri.getPath == genD.toUri.getPath))
      spark.stop()

    case other => sys.error(s"unknown mode $other")
  }
}
