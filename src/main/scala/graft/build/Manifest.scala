package graft.build

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.build.IndexBuild.DocStats

/** The index's commit log, after the reference's one LMDB write transaction
  * per command (`env.Update`, fts-lmdb.go:1679-1689) and Delta Lake's
  * ordered log of atomically created commit records (VLDB 2020).
  *
  * A commit is a [[Record]] in `_graft_log/<zero-padded version>.json`,
  * created only if absent (a temp file hard-linked to the version name);
  * the index state is the fold of the log ([[State]]). A write to live
  * data runs [[commitStaged]]: it writes under `_graft_log/staging/<v>/`
  * in the live layout, commits one record and [[publish]]es it by
  * idempotent moves, so the next writer ([[open]]) finishes a publish a
  * crash cut short. Writes a re-run repeats (the build's per-unit
  * partition overwrites) stay in place and only [[commit]] their records.
  * Readers list the table directories.
  *
  * == Iceberg seam (production swap, untestable in-sandbox) ==
  * No Iceberg or Delta jar ships in /opt/spark/jars, so parquet dirs and
  * this log stand in for catalog tables. The swap is confined to three
  * touch points, none of which change an operator's logical plan:
  *  1. [[IndexBuild.readTable]], the one reader of every engine-owned
  *     table, → `spark.table("graft.<name>")`;
  *  2. [[commit]] / [[commitStaged]] → one snapshot commit: the staged
  *     write becomes `writeTo(...).append()` / `overwritePartitions()`, and
  *     the record's entry, DocStats and resets become snapshot summary
  *     properties that [[State]] folds;
  *  3. tombstones → `DELETE FROM docs WHERE ...` row-level deletes, making
  *     compact() `rewrite_data_files` + `expire_snapshots`.
  * The query side keeps its pruning: Iceberg supplies the same partition
  * pruning (bucket/docpart spec) and min-max skipping the parquet layout's
  * directory partitioning + row-group stats provide today.
  */
object Manifest {
  /** One unit's lineage and metrics. */
  final case class Entry(stage: String, unit: String, rows: Long, bytes: Long,
                         watermark: String, wallMs: Long)

  /** One commit: its entry, the DocStats it sets, the stages whose entries
    * it resets and, for a staged write, its staging dir and the live paths
    * (relative to the index dir) its publish removes.
    */
  final case class Record(entry: Option[Entry], stats: Option[DocStats] = None,
                          resets: Seq[String] = Nil, removes: Seq[String] = Nil,
                          staging: Option[String] = None)

  /** Completed units, current DocStats, and the appends (adds, updates)
    * committed since the last dictionary rewrite.
    */
  final case class State(live: Vector[Entry], stats: Option[DocStats], pendingDict: Int) {
    def completed(stage: String): Set[String] = live.filter(_.stage == stage).map(_.unit).toSet
    /** A compact's swap record is committed and its rebuild is not. */
    def compactPending: Boolean = live.exists(_.stage == "compact")
    def docStats(dir: String): DocStats = stats.getOrElse(
      throw new IllegalStateException(s"$dir: no commit has set the index's doc stats"))

    /** Resets drop entries; a dictionary rewrite clears pending adds. */
    private[Manifest] def +(r: Record): State = State(
      live.filterNot(e => r.resets.contains(e.stage)) ++ r.entry,
      r.stats.orElse(stats),
      r.entry.map(_.stage) match {
        case Some("dictionary" | "upd_dict") => 0
        case Some("chunk_add" | "update") => pendingDict + 1
        case _ => pendingDict
      })
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
  private def logDir(dir: String): Path = Paths.get(dir, "_graft_log")
  private def stagingDir(dir: String): Path = logDir(dir).resolve("staging")
  private def name(v: Long): String = f"$v%020d"
  private def recordPath(dir: String, v: Long): Path = logDir(dir).resolve(name(v) + ".json")
  private val RecordName = """(\d{20})\.json""".r
  private val VersionName = """(\d{20})""".r
  private def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toVector.sortBy(_.toString) finally s.close() }

  /** True when `dir` holds an index: its log has set DocStats. */
  def exists(dir: String): Boolean = state(dir).stats.isDefined

  /** The fold of every record. Fails, naming the path, on an index written
    * before the log existed or on a record that does not parse.
    */
  def state(dir: String): State = {
    if (!Files.isDirectory(logDir(dir)))
      Seq("docstats.json", "manifest.jsonl").map(Paths.get(dir, _)).find(Files.exists(_))
        .foreach(p => throw new IllegalStateException(
          s"$p: index in an older format (no _graft_log commit log); rebuild it"))
    list(logDir(dir)).filter(p => RecordName.matches(p.getFileName.toString))
      .foldLeft(State(Vector.empty, None, 0))(_ + read(_))
  }

  /** The writer's view: finish every publish a crash cut short, delete what
    * no record committed (staging dirs, record temp files), then fold.
    * Every write operation starts here.
    */
  def open(dir: String): State = synchronized {
    list(stagingDir(dir)).foreach { stg =>
      stg.getFileName.toString match {
        case VersionName(v) if Files.exists(recordPath(dir, v.toLong)) =>
          publish(dir, v.toLong, read(recordPath(dir, v.toLong)).removes)
        case _ => org.apache.commons.io.FileUtils.deleteQuietly(stg.toFile)
      }
    }
    state(dir)
  }

  /** The live entries (resets applied) in commit order, one compact JSON
    * line each: `{"stage":…,"unit":…,"rows":…,"bytes":…,"watermark":…,
    * "wall_ms":…,"status":"complete"}`.
    */
  def entries(dir: String): Seq[String] = state(dir).live.map { e =>
    mapper.writeValueAsString(mapper.createObjectNode().put("stage", e.stage)
      .put("unit", e.unit).put("rows", e.rows).put("bytes", e.bytes)
      .put("watermark", e.watermark).put("wall_ms", e.wallMs).put("status", "complete"))
  }

  /** Commit a record that stages nothing. */
  def commit(dir: String, r: Record): Unit = synchronized(create(dir, nextVersion(dir), r))

  /** Stage, commit, publish: `write` gets a fresh staging dir, writes its
    * tables there in the live layout and returns the record to commit.
    */
  def commitStaged(dir: String)(write: String => Record): Unit = {
    val v = synchronized {
      val v = nextVersion(dir)
      Files.createDirectories(stagingDir(dir).resolve(name(v)))
      v
    }
    val r = write(stagingDir(dir).resolve(name(v)).toString)
    create(dir, v, r.copy(staging = Some(s"_graft_log/staging/${name(v)}")))
    publish(dir, v, r.removes)
  }

  private def nextVersion(dir: String): Long =
    (list(logDir(dir)) ++ list(stagingDir(dir))).map(_.getFileName.toString).collect {
      case RecordName(v) => v.toLong
      case VersionName(v) => v.toLong
    }.foldLeft(0L)(math.max) + 1

  private def create(dir: String, v: Long, r: Record): Unit = {
    Files.createDirectories(stagingDir(dir))
    durable(s"record ${r.entry.fold("-")(e => s"${e.stage} ${e.unit}")}") {
      val tmp = Files.createTempFile(stagingDir(dir), ".commit", ".tmp")
      try {
        Files.write(tmp, mapper.writeValueAsBytes(r))
        Files.createLink(recordPath(dir, v), tmp) // fails if a concurrent writer took v
      } finally Files.delete(tmp)
    }
  }

  private def read(p: Path): Record =
    try mapper.readValue(Files.readAllBytes(p), classOf[Record]) catch {
      case e: Exception => throw new IllegalStateException(s"$p: unreadable commit record: $e", e)
    }

  /** Publish version `v`, idempotently: a removed path moves into a trash
    * slot that marks it done (empty when the path was absent), staged files
    * move in by rename, and the staging dir is renamed away, then deleted.
    */
  private def publish(dir: String, v: Long, removes: Seq[String]): Unit = {
    val stg = stagingDir(dir).resolve(name(v))
    removes.zipWithIndex.foreach { case (p, i) =>
      val slot = stg.resolve("_removed").resolve(i.toString)
      if (!Files.exists(slot)) durable(s"remove $p") {
        Files.createDirectories(slot.getParent)
        if (Files.exists(Paths.get(dir, p))) Files.move(Paths.get(dir, p), slot)
        else Files.createDirectory(slot)
      }
    }
    def moveIn(src: Path, dst: Path): Unit =
      if (Files.isDirectory(dst) && Files.isDirectory(src))
        list(src).foreach(c => moveIn(c, dst.resolve(c.getFileName)))
      else durable(s"move ${stg.relativize(src)}")(
        Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING))
    list(stg).filterNot(_.getFileName.toString == "_removed")
      .foreach(c => moveIn(c, Paths.get(dir, c.getFileName.toString)))
    val done = stg.resolveSibling(name(v) + ".done")
    durable(s"finish $v")(Files.move(stg, done))
    org.apache.commons.io.FileUtils.deleteQuietly(done.toFile)
  }

  /** Thrown in place of a durable step by the test hook ([[arm]]). */
  private[graft] final class InjectedCrash(step: Long, label: String)
      extends RuntimeException(s"injected crash at durable step $step ($label)")

  private final case class Hook(crashIf: (Long, String) => Boolean,
                                steps: java.util.concurrent.atomic.AtomicLong)
  /** Per operation: the threads it starts ([[IndexBuild.inParallel]]) share
    * its hook and take its durable steps one at a time, so the hook sees the
    * index between steps; operations on other threads run unhooked.
    */
  private val hook = new InheritableThreadLocal[Hook]

  /** Test hook for the calling thread: before every durable step — a record
    * create, one publish move or remove, a publish's finish —
    * `f(step number, label)` decides whether it throws [[InjectedCrash]]
    * instead. Counts from 1.
    */
  private[graft] def arm(f: (Long, String) => Boolean): Unit =
    hook.set(Hook(f, new java.util.concurrent.atomic.AtomicLong))
  /** Disarm the hook; returns the durable steps taken since [[arm]]. */
  private[graft] def disarm(): Long =
    try Option(hook.get).fold(0L)(_.steps.get) finally hook.remove()

  private def durable[T](label: => String)(f: => T): T = hook.get match {
    case null => f
    case h => h.synchronized {
      val n = h.steps.incrementAndGet()
      if (h.crashIf(n, label)) throw new InjectedCrash(n, label)
      f
    }
  }
}
