package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Child-process halves of the CROSS-PROCESS publisher race
  * (round-16 verdict #4): ConcurrentPublishSpec races threads over
  * [[graft.sources.DurableIndex.publishAtomic]] and argues the FS
  * primitive sits below the JVM lock, so the interleaving equals two
  * JVMs'. This main makes the argument empirical — each invocation is
  * a REAL separate JVM with its own SparkSession, Hadoop FileContext,
  * and process lifetime; CrossProcessPublishSpec forks N of them
  * against one destination plus a reader and asserts the same three
  * invariants (one winner, losers told, no torn read) cross-process.
  *
  * Protocol (file-based, no IPC):
  *   publish <warehouse> <destName> <idx> <rows> <barrierFile>
  *     stages a complete `rows`-row build, drops `ready_<idx>`, spins
  *     on the barrier file, then races publishAtomic; prints ONE line
  *     `RACE_RESULT WIN|LOSE <idx>` (losers delete their build — the
  *     loser's contract).
  *   read <warehouse> <destName> <stopFile> <legalCounts>
  *     attach-and-count loop until the stop file appears; prints ONE
  *     line `RACE_READS ok=<n> miss=<n> illegal=<n>` where `illegal`
  *     counts reads whose row count is not a MEMBER of the
  *     comma-separated legal set — exact membership, because a
  *     divisibility rule is unsound precisely in the torn case it
  *     exists to catch (round-17 ADVICE: staged counts 100 and 200
  *     torn together read 300, a multiple of 100). The spec stages
  *     counts NOT closed under addition as a second line of defense.
  */
object RaceProbe {

  /** A minimal `local[2]` session, deliberately not GraftSession's:
    * N of these JVMs run at once as race children. */
  private def session(warehouse: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.warehouse.dir", warehouse)
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
      val tmp = new Path(base, s"$destName.build_proc$idx")
      spark.range(rows.toLong).coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      Files.writeString(Paths.get(warehouse, s"ready_$idx"), "ready")
      while (!Files.exists(Paths.get(barrier))) Thread.sleep(2)
      val won = graft.sources.DurableIndex.publishAtomic(
        spark, tmp, new Path(base, destName))
      if (!won) fs.delete(tmp, true)
      println(s"RACE_RESULT ${if (won) "WIN" else "LOSE"} $idx")
      spark.stop()

    case "attachLoop" =>
      // N rounds of the FULL attachOrBuildFp layer raced cross-process
      // (round-19 verdict #2: the primitive-level race says nothing
      // about false-winner fallout ABOVE it — catalog-free plain
      // publish here, bucketed attach is JVM-serialized the same way).
      // Per round: signal ready_<r>_<idx>, spin on barrier_<r>, then
      // attach-or-build a FRESH fingerprint with this publisher's
      // distinct row count; print `ATTACH_RESULT <r> <idx> count=<n>
      // built=<b>` — the spec asserts every racer of a round agrees on
      // ONE count (losers must read the winner's build, never their
      // own discarded one, never a nested-polluted union).
      val Array(_, warehouse, dir, family, idx, rows, rounds, sync) = args.take(8)
      val spark = session(warehouse)
      import org.apache.spark.sql.functions.col
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
        val df = graft.sources.DurableIndex.attachOrBuildFp(
          spark, dir, family, fp, None) {
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
      val dest = new Path(warehouse, "graft_race2/" + destName)
      var ok, miss, illegal = 0
      while (!Files.exists(Paths.get(stopFile))) {
        try {
          val n = spark.read.parquet(dest.toString).count()
          if (legal.contains(n)) ok += 1 else illegal += 1
        } catch {
          // absent destination is the legal pre-publish state whatever
          // shape it surfaces as (same taxonomy as the thread spec)
          case e: Throwable
            if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
              .exists(c => c.isInstanceOf[java.io.FileNotFoundException]
                || String.valueOf(c.getMessage).contains("does not exist")
                || String.valueOf(c.getMessage).contains("PATH_NOT_FOUND")) =>
            miss += 1
        }
      }
      println(s"RACE_READS ok=$ok miss=$miss illegal=$illegal")
      spark.stop()

    case other => sys.error(s"unknown mode $other")
  }
}
