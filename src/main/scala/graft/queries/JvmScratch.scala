package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of this JVM's local scratch: stream sources and
  * checkpoints ([[dir]]), the scratch database, the staged-input cache
  * ([[cached]]) and q89's workspace all live under a single root,
  * `graft_jvm_pid<pid>_t<JVM start epoch ms>`.
  *
  * The root sits on RAM-backed /dev/shm when it is writable (every
  * micro-batch sink commit, checkpoint write and stage-table rewrite
  * pays file-create + rename + fsync, which tmpfs makes free) and under
  * `java.io.tmpdir` otherwise. It is LOCAL bench/test scratch by
  * contract — a production pipeline's sources, checkpoints and sinks
  * live on durable shared storage. One shutdown hook removes the root
  * on exit; roots left by JVMs that skipped it (kill -9) are swept when
  * the next JVM creates its own. Naming by pid AND start instant keeps
  * concurrent JVMs (Verify during a Bench run, say) from sharing a path,
  * and keeps a new JVM that the OS gave a dead JVM's pid from adopting
  * that JVM's files.
  */
object JvmScratch {

  private val me = ProcessHandle.current()

  /** Per-JVM database name — distinct across JVMs, stable within one. */
  val dbName = s"graft_scratch_${me.pid()}"

  /** `graft_jvm_pid<pid>_t<start epoch ms>`; -1 when the OS does not
    * report a start instant. */
  private[graft] def rootName(p: ProcessHandle): String = {
    val start = p.info().startInstant().map[Long](_.toEpochMilli).orElse(-1L)
    s"graft_jvm_pid${p.pid()}_t$start"
  }

  private val RootName = """graft_jvm_pid(\d+)_t-?\d+""".r

  /** This JVM's scratch root, created (and dead siblings swept) on first
    * use. */
  lazy val root: Path = {
    val shm = Paths.get("/dev/shm")
    val parent = if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    val r = parent.resolve(rootName(me))
    sweepDead(parent, r)
    Files.createDirectories(r)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => rm(r), "graft-scratch-cleanup"))
    r
  }

  /** Whether `name` is the root of a live JVM: a process with its pid
    * is alive and started at its start instant. */
  private[graft] def liveRoot(name: String): Boolean = name match {
    case RootName(pid) => ProcessHandle.of(pid.toLong)
      .map[Boolean](h => h.isAlive && rootName(h) == name).orElse(false)
    case _ => false
  }

  /** Remove every dir under `parent` but `keep` that carries the root
    * name pattern and is not a [[liveRoot]] — roots of dead JVMs and of
    * an earlier JVM that held a now-reused pid. Names outside the
    * pattern are never touched. */
  private[graft] def sweepDead(parent: Path, keep: Path): Unit =
    try list(parent).foreach { p =>
      val nm = p.getFileName.toString
      if (RootName.matches(nm) && p != keep && !liveRoot(nm)) rm(p)
    } catch { case _: java.io.IOException => () }

  /** A fresh `tag`-prefixed dir under the root (stream sources,
    * checkpoints); callers delete it when done, the root bounds it
    * otherwise. */
  def dir(tag: String): String = Files.createTempDirectory(root, tag).toString

  /** The fixed subdir `name` of the root, created if absent. */
  private[graft] def sub(name: String): Path =
    Files.createDirectories(root.resolve(name))

  private def rm(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile): Unit

  private[graft] def list(p: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val st = Files.list(p)
    try st.iterator().asScala.toList finally st.close()
  }

  /** The staged-input cache: `<root>/cache/<family>_<dir tag>_<fp>`,
    * built once per key into a temp sibling and renamed into place, so a
    * build that throws never leaves a partial entry to serve. Building a
    * new fingerprint of a (family, dir) purges that pair's older ones (a
    * regenerated corpus or a re-sliced family must not accumulate). Only
    * this JVM writes its root, and calls serialize here, so no other
    * writer can race a build or a read. `fp` must be lowercase hex (the
    * purge matches exactly that shape). Returns the entry. */
  private[graft] def cached(family: String, dir: String, fp: String)
      (build: Path => Unit): Path = synchronized {
    val prefix = s"${family}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_"
    val base = sub("cache")
    val entry = base.resolve(prefix + fp)
    if (!Files.isDirectory(entry)) {
      list(base).filter { p =>
        val nm = p.getFileName.toString
        nm.startsWith(prefix) && nm.substring(prefix.length).matches("[0-9a-f]+")
      }.foreach(rm)
      val tmp = base.resolve(prefix + fp + ".build")
      rm(tmp)
      Files.createDirectories(tmp)
      build(tmp)
      Files.move(tmp, entry)
    }
    entry
  }

  private lazy val location: String = sub("db").toString

  /** Ensure the scratch database exists; returns its name. */
  def ensure(s: SparkSession): String = synchronized {
    s.sql(s"CREATE DATABASE IF NOT EXISTS $dbName LOCATION '$location'")
    dbName
  }

  /** Drop any prior catalog entry and on-disk copy of `table` (bare or
    * qualified by [[dbName]]), returning the fully qualified name ready
    * for a fresh write. */
  def resetTable(s: SparkSession, table: String): String = synchronized {
    val name = table.stripPrefix(s"$dbName.")
    ensure(s)
    s.sql(s"DROP TABLE IF EXISTS $dbName.$name")
    val loc = new org.apache.hadoop.fs.Path(s"$location/$name")
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    s"$dbName.$name"
  }

  /** The per-JVM STANDING table `<name>_<fp>` (a sketch grid, a packing
    * prefix), written from `build` once if absent and returned. `fp` is
    * the content fingerprint of the source the table summarises, so a
    * corpus regenerated in place within one JVM gets a new table instead
    * of a stale one. */
  def standing(s: SparkSession, name: String, fp: String)
      (build: => DataFrame): DataFrame = synchronized {
    ensure(s)
    val table = tableName(s"${name}_$fp")
    if (!s.catalog.tableExists(table)) build.write.format("parquet").saveAsTable(table)
    s.table(table)
  }

  /** Fully qualified name of an existing scratch table. */
  def tableName(table: String): String = s"$dbName.$table"
}
