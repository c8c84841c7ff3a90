package graft.build

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Per-partition lineage + metrics manifest — the engine's analog of the
  * reference's system record / mtime bookkeeping (fts-lmdb.go:799-833,
  * 987-1026), and the resume-from-checkpoint unit required by the north
  * rule. In production this maps to Iceberg snapshot properties; in the
  * sandbox it is a JSON-lines file appended after each completed unit.
  *
  * Entry: {"stage":"chunks","unit":"3","rows":123,"bytes":4567,
  *         "watermark":"...","wall_ms":88,"status":"complete"}
  *
  * == Iceberg seam (production swap, untestable in-sandbox) ==
  * No Iceberg jar ships in /opt/spark/jars, so parquet dirs + this manifest
  * stand in for Iceberg tables. The swap is confined to four touch points,
  * none of which change an operator's logical plan:
  *  1. [[IndexBuild.readTable]], the one reader of every engine-owned
  *     table, → `spark.table("graft.<name>")` (catalog tables for docs /
  *     postings_terms / postings_grams / dictionary / gram_dict /
  *     tombstones / empty_groups);
  *  2. every `write.mode("append"/"overwrite").partitionBy(...).parquet` →
  *     `writeTo(...).append()` / `overwritePartitions()` — the atomic-swap
  *     dance in [[graft.maint.Maintenance]] (tmp dir + move) collapses into
  *     Iceberg's snapshot commit;
  *  3. this manifest's (stage, unit) idempotence keys → snapshot summary
  *     properties (`snapshot.summary Map[String,String]`), with
  *     [[completed]]/[[invalidateStage]] reading/expiring snapshots;
  *  4. tombstones → `DELETE FROM docs WHERE ...` row-level deletes, making
  *     compact() `rewrite_data_files` + `expire_snapshots`.
  * The query side keeps its pruning: Iceberg supplies the same partition
  * pruning (bucket/docpart spec) and min-max skipping the parquet layout's
  * directory partitioning + row-group stats provide today.
  */
object Manifest {
  final case class Entry(stage: String, unit: String, rows: Long, bytes: Long,
                         watermark: String, wallMs: Long)

  private def path(indexDir: String) = Paths.get(indexDir, "manifest.jsonl")

  def append(indexDir: String, e: Entry): Unit = this.synchronized {
    // synchronized: independent stages may now commit from concurrent
    // driver threads (overlapped posting/dictionary jobs); each entry is a
    // single O_APPEND write, the lock just makes the ordering explicit
    Files.createDirectories(Paths.get(indexDir))
    val line = s"""{"stage":"${e.stage}","unit":"${e.unit}","rows":${e.rows},""" +
      s""""bytes":${e.bytes},"watermark":"${e.watermark}","wall_ms":${e.wallMs},""" +
      s""""status":"complete"}""" + "\n"
    Files.write(path(indexDir), line.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Completed units for a stage (only lines with status complete count). */
  def completed(indexDir: String, stage: String): Set[String] = this.synchronized {
    val p = path(indexDir)
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p).asScala.iterator
      .filter(_.contains(s""""stage":"$stage""""))
      .filter(_.contains(""""status":"complete""""))
      .flatMap { l =>
        val m = """"unit":"([^"]*)"""".r.findFirstMatchIn(l)
        m.map(_.group(1))
      }.toSet
  }

  def entries(indexDir: String): Seq[String] = this.synchronized {
    val p = path(indexDir)
    if (!Files.exists(p)) Seq.empty else Files.readAllLines(p).asScala.toSeq
  }

  /** Drop all entries of a stage (used by maintenance rebuild). Reads and
    * rewrites take [[append]]'s lock, so a rewrite never races a stage
    * committing from another driver thread ([[IndexBuild.inParallel]]).
    */
  def invalidateStage(indexDir: String, stage: String): Unit = this.synchronized {
    val p = path(indexDir)
    if (Files.exists(p)) {
      val keep = Files.readAllLines(p).asScala
        .filterNot(_.contains(s""""stage":"$stage""""))
      Files.write(p, keep.mkString("", "\n", if (keep.isEmpty) "" else "\n").getBytes("UTF-8"),
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.CREATE)
    }
  }
}
