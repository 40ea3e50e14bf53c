package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.consume.{DateDimBuilder, DimBuilder, FactBuilder}
import graft.curate.CurateJob
import graft.ingest.SourceLoader
import graft.keys.SurrogateKeys
import graft.model.CountryConfig
import graft.pipeline.MedallionJob
import graft.sinks.TableSink

/** The benchmark's JVM side: runs one workload on an input that run.py
  * generated, times it, and writes what it saw to `--out` as JSON for
  * run.py to check and summarize.
  *
  * Usage: perfbench.Main --workload medallion|catalog
  *   --data DIR --out FILE --warehouse DIR --seed N --seconds S --trace 0|1
  *   [--queries FILE]
  *
  * Every workload is a closed loop with one client. The medallion
  * workload times its first pass, as a batch pipeline runs in a fresh
  * JVM, then reports what the warehouse holds for the output check. The
  * query workload first makes an untimed pass that warms up and writes
  * every result as parquet for the DuckDB oracle. Timed passes repeat
  * until `--seconds` have gone by. With `--trace 1` the same timed passes
  * run with the [[Trace]] listeners attached, so their times against an
  * untraced run's give the tracing overhead; the medallion workload then
  * also calls the pipeline's layers one by one inside spans.
  */
object Main {

  final case class Op(name: String, buildS: Double, execS: Double, error: Option[String])

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    Jvm.watchHeap()
    val spark = GraftSession.build(Some(opt("warehouse")))
    GraftSession.quietNoisyLoggers()
    val trace = if (traced) Some(new Trace(spark)) else None
    val out = new Json
    val run = new Run(spark, trace, seconds, out)
    workload match {
      case "medallion" => run.medallion(opt("data"))
      case _ => run.queries(opt("data"), opt("queries"), opt("seed").toLong,
        Paths.get(opt("out")).resolveSibling("results"))
    }
    out("gc_s") = Jvm.gcSeconds
    out("compile_s") = Jvm.compileSeconds
    out.obj("record") = record(spark)
    Files.writeString(Paths.get(opt("out")), out.render)
    spark.stop()
  }

  /** The settings actually used: cores, heap, every SPARK_GRAFT_*
    * variable and the session's confs (shuffle width, AQE initial width). */
  private def record(spark: SparkSession): Json = {
    val r = new Json
    r("cores") = GraftSession.cpus
    r("available_processors") = Runtime.getRuntime.availableProcessors.toLong
    r("heap_max_mb") = Runtime.getRuntime.maxMemory / (1L << 20)
    r.obj("env") = Json.of(sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq)
    r.obj("confs") = Json.of(spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver.memory")
    })
    r
  }

  final class Run(spark: SparkSession, trace: Option[Trace], seconds: Double, out: Json) {
    val ops = mutable.ArrayBuffer[Op]()
    val passes = mutable.ArrayBuffer[Double]()
    var firstTimedMs = 0L

    private def span[T](name: String)(body: => T): T =
      trace.fold(body)(_.span(name)(body))

    /** Timed passes until `seconds` have gone by, at least one. */
    private def timed(pass: => Unit): Unit = {
      firstTimedMs = System.currentTimeMillis()
      Jvm.watching = true
      val t0 = System.nanoTime()
      while (passes.isEmpty || secs(t0) < seconds) {
        val p0 = System.nanoTime()
        pass
        passes += secs(p0)
      }
      Jvm.watching = false
    }

    private def finish(): Unit = {
      out("first_timed_epoch_ms") = firstTimedMs
      out("live_heap_peak_mb") = Jvm.livePeakBytes / 1048576.0
      out.arr("passes_s") = passes.toSeq.map(Json.num)
      out.arr("ops") = ops.toSeq.map { o =>
        val j = new Json
        j("name") = o.name; j("build_s") = o.buildS; j("exec_s") = o.execS
        o.error.foreach(e => j("error") = e)
        j.render
      }
      trace.foreach(t => out.obj("spans") = spansJson(t))
    }

    // ---------------------------------------------------------------- medallion

    private def resetWarehouse(): Unit = {
      TableSink.Databases.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))
      spark.catalog.clearCache()
    }

    private def load(kind: String, dir: String, spanName: String): Option[MedallionJob.RunReport] = {
      val t0 = System.nanoTime()
      val name = s"MedallionJob.run($kind)"
      try {
        val r = span(spanName)(MedallionJob.run(spark, dir))
        ops += Op(name, secs(t0), 0.0, None)
        Some(r)
      } catch { case NonFatal(e) =>
        ops += Op(name, secs(t0), 0.0, Some(String.valueOf(e.getMessage)))
        None
      }
    }

    def medallion(data: String): Unit = {
      val drops = Seq("full" -> s"$data/full", "incr" -> s"$data/incr")
      val reports = mutable.ArrayBuffer[String]()
      def pass(spanName: String => String): Unit = {
        resetWarehouse()
        drops.foreach { case (kind, dir) =>
          load(kind, dir, spanName(kind)).foreach(r =>
            reports += s"""{"kind":"$kind","report":${reportJson(r).render}}""")
        }
      }
      trace.foreach(_.attach())
      // timed exactly as an untraced run, so a traced run's pass time
      // against an untraced run's gives the tracing overhead
      timed(pass(kind => s"timed.$kind"))
      trace.foreach { _ =>
        // the pipeline's layers called one by one, in MedallionJob.run's
        // order, on the same drops (plus, on the full drop, the parsers and
        // the fact's keys alone)
        resetWarehouse()
        drops.foreach { case (kind, dir) => layers(kind, dir) }
        out.obj("sinks") = sinks()
      }
      // the warehouse now holds the full load followed by the incremental one
      val checks = new Json
      checks.obj("tables") = tableFacts()
      trace.foreach { t =>
        // the whole pipeline on the full drop again, as warm as its layers
        // were, for the share of it the layer spans cover
        resetWarehouse()
        load("full", drops.head._2, "full.pipeline.run").foreach(r =>
          reports += s"""{"kind":"full","report":${reportJson(r).render}}""")
        t.detach()
      }
      checks.arr("reports") = reports.toSeq
      out.obj("checks") = checks
      finish()
    }

    private def layers(kind: String, dir: String): Unit = {
      val full = kind == "full"
      if (full) CountryConfig.all.foreach { cc =>
        span(s"$kind.ingest.read_${cc.format}")(noop(SourceLoader.readRaw(spark, dir, cc)))
      }
      TableSink.ensureDatabases(spark)
      span(s"$kind.ingest.load_all")(SourceLoader.loadAll(spark, dir))
      val forex = SourceLoader.loadForex(spark, dir)
      span(s"$kind.curate.run")(CurateJob.run(spark, forex))
      val all = MedallionJob.unionCurated(spark)
      span(s"$kind.consume.date_dim")(DateDimBuilder.build(spark, all))
      span(s"$kind.consume.dims")(DimBuilder.buildAll(spark, all))
      span(s"$kind.consume.fact")(FactBuilder.build(spark, all))
      // the fact's key assignment alone, keyed the way FactBuilder keys
      if (full) span(s"$kind.keys.dense")(noop(SurrogateKeys.dense(all,
        Seq(col("order_id"), col("order_dt")), "order_id_pk")))
    }

    /** Files and bytes each layer's database left in the warehouse. */
    private def sinks(): Json = {
      val j = new Json
      Seq("source", "curated", "consumption").foreach { db =>
        val loc = spark.sql(s"DESCRIBE DATABASE $db").collect()
          .find(_.getString(0) == "Location").map(_.getString(1)).get
        val files = Files.walk(Paths.get(new java.net.URI(loc))).filter(Files.isRegularFile(_))
          .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
          .toArray.map(_.asInstanceOf[Path])
        j(s"$db.files") = files.length.toLong
        j(s"$db.bytes") = files.map(Files.size).sum
      }
      j
    }

    private def reportJson(r: MedallionJob.RunReport): Json = {
      val j = new Json
      j.obj("source") = Json.ofJson(r.source.map { s =>
        val c = new Json; c("loaded") = s.loaded; c("skipped") = s.skipped; s.country -> c
      })
      j.obj("curated") = Json.ofLongs(r.curated)
      j.obj("dims") = Json.ofLongs(r.dims.toSeq.sortBy(_._1))
      j("date_dim") = r.dateDim
      j("fact") = r.fact
      j
    }

    /** What the warehouse holds after a load, for run.py to hold against
      * the generator's manifest and MedallionSpec's contracts: a few
      * union queries, so the checks stay cheap next to the timed loads. */
    private def tableFacts(): Json = {
      val j = new Json
      def rows(sql: String): Unit = spark.sql(sql).collect().foreach { r =>
        j.arr(r.getString(0)) = (1 until r.length).map(i => Json.num(r.get(i).toString.toDouble))
      }
      def keyStats(table: String, key: String): String =
        s"SELECT '$table.keys', count(*), min($key), max($key), count(DISTINCT $key) FROM $table"
      rows(CountryConfig.all.map { cc =>
        keyStats(s"source.${cc.code.toLowerCase}_sales_order", "sales_order_key")
      }.mkString(" UNION ALL "))
      rows(CountryConfig.all.map { cc =>
        s"SELECT 'curated.${cc.code}', count(*), CAST(sum(local_total_order_amt) * 100 AS BIGINT) " +
          s"FROM curated.${cc.code.toLowerCase}_sales_order"
      }.mkString(" UNION ALL "))
      val dims = Seq("date", "region", "customer", "payment", "product", "promo_code")
      rows(dims.map(d => keyStats(s"consumption.${d}_dim", s"${d}_id_pk")).mkString(" UNION ALL "))
      // a fact row whose key finds no dim row is an orphan (dim keys are
      // unique, checked above, so the left joins cannot fan out)
      rows("SELECT 'fact', count(*), " + dims.map(d => s"count_if($d.${d}_id_pk IS NULL)").mkString(", ") +
        " FROM consumption.sales_fact f " + dims.map(d =>
          s"LEFT JOIN consumption.${d}_dim $d ON f.${d}_id_fk = $d.${d}_id_pk").mkString(" "))
      rows("SELECT 'customer_name_keys', count(*) FROM (SELECT DISTINCT customer_name, country, region " +
        "FROM consumption.customer_dim)")
      j
    }

    // ------------------------------------------------------------------ queries

    def queries(sf: String, listFile: String, seed: Long, results: Path): Unit = {
      val defs = SparkEntry.registry.map(q => q.name -> q).toMap
      val names = Files.readAllLines(Paths.get(listFile)).toArray.map(_.toString.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
      val bad = names.filterNot(defs.contains)
      require(bad.isEmpty, s"unknown queries: ${bad.mkString(",")}")
      // untimed pass: each result written for the DuckDB oracle compare
      val unchecked = mutable.ArrayBuffer[String]()
      names.foreach { n =>
        try defs(n).run(spark, sf).coalesce(1).write.mode("overwrite")
          .parquet(results.resolve(n).toString)
        catch { case NonFatal(e) => unchecked += s"$n: ${e.getMessage}" }
      }
      out.arr("check_errors") = unchecked.toSeq.map(Json.str)
      // this run's oracles only, where tools/check_oracle.py reads them
      Files.createDirectories(results)
      Files.writeString(results.resolve("oracle_sql.json"),
        Json.of(SparkEntry.oracleSql.filter(o => names.contains(o._1)).toSeq.sortBy(_._1)).render)
      val rnd = new scala.util.Random(seed)
      def onePass(): Unit = rnd.shuffle(names).foreach { n =>
        val t0 = System.nanoTime()
        try {
          val df = span("queries.build") {
            val df = defs(n).run(spark, sf)
            trace.foreach(_.analyzed(df))
            df
          }
          val built = secs(t0)
          val t1 = System.nanoTime()
          span("queries.exec")(noop(df))
          ops += Op(n, built, secs(t1), None)
        } catch { case NonFatal(e) =>
          ops += Op(n, secs(t0), 0.0, Some(String.valueOf(e.getMessage)))
        }
      }
      trace.foreach(_.attach())
      timed(onePass())
      trace.foreach(_.detach())
      finish()
    }
  }

  private def spansJson(t: Trace): Json = {
    val j = new Json
    t.spans.foreach { case (name, c) =>
      val s = new Json
      s("calls") = c.calls; s("wall_s") = c.wallNs / 1e9; s("jobs") = c.jobs
      s("tasks") = c.tasks; s("empty_tasks") = c.emptyTasks; s("task_s") = c.taskMs / 1e3
      s("shuffle_write_bytes") = c.shuffleWriteBytes; s("spill_bytes") = c.spillBytes
      s("warn") = c.warn; s("error") = c.error
      s("analysis_s") = c.analysisMs / 1e3; s("optimization_s") = c.optimizationMs / 1e3
      s("planning_s") = c.planningMs / 1e3
      s.arr("batch_ms") = c.batchMs.toSeq.map(v => Json.num(v.toDouble))
      s.obj("batch_parts_ms") = Json.ofLongs(c.batchParts.toSeq.sortBy(_._1))
      j.obj(name) = s
    }
    j
  }
}

/** A minimal ordered JSON object builder (values are rendered on set). */
final class Json {
  private val fields = mutable.LinkedHashMap[String, String]()
  def update(k: String, v: String): Unit = fields(k) = Json.str(v)
  def update(k: String, v: Long): Unit = fields(k) = v.toString
  def update(k: String, v: Double): Unit = fields(k) = Json.num(v)
  object obj { def update(k: String, v: Json): Unit = fields(k) = v.render }
  object arr { def update(k: String, vs: Seq[String]): Unit = fields(k) = vs.mkString("[", ",", "]") }
  def render: String = fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def of(kv: Seq[(String, String)]): Json = { val j = new Json; kv.foreach { case (k, v) => j(k) = v }; j }
  def ofLongs(kv: Seq[(String, Long)]): Json = { val j = new Json; kv.foreach { case (k, v) => j(k) = v }; j }
  def ofJson(kv: Seq[(String, Json)]): Json = { val j = new Json; kv.foreach { case (k, v) => j.obj(k) = v }; j }
}
