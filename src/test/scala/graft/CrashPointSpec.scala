package graft

import graft.build.{IndexBuild, Manifest}
import graft.core.Gram
import graft.maint.Maintenance
import graft.query.Search
import graft.sources.WebCorpus
import org.apache.spark.sql.functions._
import java.io.File
import java.io.IOException
import java.nio.file.{FileVisitResult, Files, NoSuchFileException, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.commons.io.FileUtils
import scala.jdk.CollectionConverters._

/** A write killed at ANY durable step of the commit log — a record create,
  * one publish move or remove — resumes to the index an uninterrupted run
  * writes. For every step k of each operation on a copy of a prebuilt
  * index, the state a kill before step k leaves (captured through
  * [[Manifest]]'s fault hook) runs the same operation again, and the
  * result must equal the uninterrupted run's: digests of
  * both posting tables and both dictionaries, DocStats, the live
  * (url, chunk_seq) set, the tombstoned (url, warc_ts) set, one BM25 and
  * one search answer.
  */
class CrashPointSpec extends SparkSuite {
  import spark.implicits._

  // merge after every append, so the update under test splices segments
  private val cfg = IndexBuild.Config(nBuckets = 2, nRanges = 2, docParts = 2,
    shufflePartitions = 2, autoMergeSegments = 1)
  private val noMerge = cfg.copy(autoMergeSegments = 0)

  private lazy val docs = WebCorpus.generate(spark, 40, seed = 61L, partitions = 2).cache()
  private lazy val urls = docs.select("url").orderBy("url").as[String].collect().toSeq

  /** A changelog batch: three changed pages and one new page. */
  private def batch = {
    val changed = docs.where($"url".isin(urls.take(3): _*))
      .withColumn("text", concat($"text", lit("quagga wallaby the zebra\n")))
      .withColumn("warc_ts", lit("2023-01-01 00:00:00").cast("timestamp"))
    val added = Seq(("https://crash.example/new", "the okapi and the quagga\n"))
      .toDF("url", "text")
      .select($"url", lit("2023-01-02 00:00:00").cast("timestamp").as("warc_ts"),
        lit(Array.emptyByteArray).as("html"), $"text", lit("en").as("lang"))
    changed.select(docs.columns.map(col).toIndexedSeq: _*)
      .unionByName(added.select(docs.columns.map(col).toIndexedSeq: _*))
  }

  private lazy val built: String = {
    val dir = tmpDir("crash-built")
    IndexBuild.build(spark, docs, dir, cfg)
    dir
  }
  /** Built, then one update with merging off: multi-segment groups. */
  private lazy val appended: String = {
    val dir = copyOf(built)
    Maintenance.update(spark, dir, batch, noMerge, partialSnapshot = true)
    dir
  }
  /** Built, then two pages deleted: tombstones for compact. */
  private lazy val deleted: String = {
    val dir = copyOf(built)
    Maintenance.delete(spark, dir, urls.takeRight(2))
    dir
  }

  private def copyOf(src: String): String = {
    val dir = tmpDir("crash-copy")
    FileUtils.copyDirectory(new File(src), new File(dir))
    dir
  }

  private case class Snapshot(digests: Seq[String], stats: IndexBuild.DocStats,
                              live: Set[(String, Int)], dead: Set[(String, java.sql.Timestamp)],
                              bm25: Seq[(Long, Double)], search: Seq[String])

  private def snapshot(dir: String): Snapshot = {
    val s = new Search(spark, dir)
    Snapshot(IndexDigests(spark, dir), IndexBuild.readDocStats(dir),
      Maintenance.liveDocs(spark, dir).select($"url", $"chunk_seq").as[(String, Int)]
        .collect().toSet,
      Maintenance.tombstones(spark, dir).select($"url", $"warc_ts")
        .as[(String, java.sql.Timestamp)].collect().toSet,
      s.bm25TopK(Seq("the", "quagga"), 10, conjunctive = false).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      s.search(Seq("the")).collect().map(_.toString).sorted.toSeq)
  }

  /** A copy of the index at `src` as a process killed now would leave it:
    * files and dirs another thread removes during the walk are skipped.
    */
  private def capture(src: String): String = Capture.synchronized {
    val (from, to) = (Paths.get(src), Paths.get(tmpDir("crash-state")))
    Files.walkFileTree(from, new SimpleFileVisitor[Path] {
      private def target(p: Path) = to.resolve(from.relativize(p).toString)
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) = {
        Files.createDirectories(target(d)); FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        try Files.copy(f, target(f)) catch { case _: NoSuchFileException => }
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException) = FileVisitResult.CONTINUE
    })
    to.toString
  }
  private object Capture

  /** One uninterrupted run of `op` on a copy of `base` (an empty dir when
    * None), capturing the index before each of its durable steps: the
    * state a kill at that step leaves. Returns the finished copy and the
    * (label, captured dir) of steps 1 to n.
    */
  private def crashStates(base: Option[String])(
      op: String => Unit): (String, IndexedSeq[(String, String)]) = {
    val ref = base.fold(tmpDir("crash-empty"))(copyOf)
    val states = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]
    Manifest.arm((k, label) => { states.put(k, (label, capture(ref))); false })
    op(ref)
    val n = Manifest.disarm()
    (ref, (1L to n).map(states.get))
  }

  /** Every crash point of `op` on a copy of `base` resumes, by running
    * `op` again, to the uninterrupted result ([[crashStates]]); the
    * captured states are resumed three at a time. Returns the number of
    * crash points.
    */
  private def everyCrashPoint(base: Option[String])(op: String => Unit): Long = {
    val (ref, states) = crashStates(base)(op)
    val n = states.size.toLong
    val want = snapshot(ref)
    def check(k: Long): Option[String] = {
      val (label, dir) = states((k - 1).toInt)
      op(dir)
      val got = snapshot(dir)
      val differs = got.productElementNames.zip(got.productIterator.zip(want.productIterator))
        .collect { case (field, (a, b)) if a != b => field }.toSeq
      val at = s"crash at durable step $k of $n ($label)"
      val staging = list(Paths.get(dir, "_graft_log", "staging"))
      FileUtils.deleteQuietly(new File(dir))
      if (differs.nonEmpty) Some(s"$at: ${differs.mkString(", ")} differ")
      else if (staging.nonEmpty) Some(s"$at: staging left")
      else None
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val failures = pool.invokeAll((1L to n).map(k =>
        (() => check(k)): java.util.concurrent.Callable[Option[String]]).asJava)
        .asScala.flatMap(_.get)
      assert(failures.isEmpty, failures.mkString("\n"))
    } finally pool.shutdown()
    n
  }

  private def list(p: java.nio.file.Path): Seq[String] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.toArray.map(_.toString).toSeq finally s.close() }

  test("build: every crash point resumes to the uninterrupted index") {
    assert(everyCrashPoint(None)(IndexBuild.build(spark, docs, _, cfg)) > 10)
  }

  test("update (changelog batch, auto-merge): every crash point resumes") {
    everyCrashPoint(Some(built)) { dir =>
      Maintenance.update(spark, dir, batch, cfg, partialSnapshot = true)
    }
  }

  /** What recovery must leave whole: the live (url, chunk_seq) set, the
    * tombstoned (url, warc_ts) set and the DocStats.
    */
  private def visible(dir: String) = (
    Maintenance.liveDocs(spark, dir).select($"url", $"chunk_seq").as[(String, Int)]
      .collect().toSet,
    Maintenance.tombstones(spark, dir).select($"url", $"warc_ts")
      .as[(String, java.sql.Timestamp)].collect().toSet,
    IndexBuild.readDocStats(dir))

  /** True when a posting segment reaches a doc id past every docs row. */
  private def orphanPostings(dir: String): Boolean = {
    val maxDoc = IndexBuild.readTable(spark, dir, IndexBuild.DocsTable)
      .agg(max($"doc_id")).head().getLong(0)
    Seq(IndexBuild.TermPostingsTable, IndexBuild.GramPostingsTable).exists(t =>
      IndexBuild.readTable(spark, dir, t).agg(max($"last_doc")).head().getLong(0) > maxDoc)
  }

  /** The recovery every next writer runs ([[Manifest.open]]) leaves an
    * update killed at any durable step either not done or done: its
    * tombstones, appends and DocStats are one commit. This covers writers
    * only: a reader that lists the tables while a publish is moving files
    * in can still see part of a commit, until readers pin a log version.
    */
  test("update: recovery from every crash point leaves the index before or after it") {
    val before = visible(built)
    val (ref, states) = crashStates(Some(built)) { dir =>
      Maintenance.update(spark, dir, batch, cfg, partialSnapshot = true)
    }
    val after = visible(ref)
    assert(before != after)
    val failures = states.zipWithIndex.flatMap { case ((label, dir), i) =>
      Manifest.open(dir)
      val got = visible(dir)
      val orphans = orphanPostings(dir)
      FileUtils.deleteQuietly(new File(dir))
      val at = s"crash at durable step ${i + 1} of ${states.size} ($label)"
      if (got != before && got != after) Some(s"$at: neither the index before nor after")
      else if (orphans) Some(s"$at: postings of doc ids with no docs row")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("delete: every crash point resumes") {
    everyCrashPoint(Some(built))(Maintenance.delete(spark, _, urls.take(2)))
  }

  test("addChunk (deferred dictionary) + flushDict: every crash point resumes") {
    // an add is one commit; a caller re-runs it only when its record is
    // absent, and the flush finishes the merge a committed add triggered
    everyCrashPoint(Some(built)) { dir =>
      if (Manifest.state(dir).completed("chunk_add").isEmpty)
        Maintenance.addChunk(spark, dir, urls.head, "okapi payload the",
          Gram.gramsSorted(partial = false, Seq("zebra okapi")).toSeq,
          java.sql.Timestamp.valueOf("2023-01-03 00:00:00"), cfg, mergeDict = false)
      Maintenance.flushDict(spark, dir, cfg)
    }
  }

  test("mergeSegments: every crash point resumes") {
    everyCrashPoint(Some(appended)) { dir =>
      Maintenance.mergeSegments(spark, dir, gramsTable = false)
      Maintenance.mergeSegments(spark, dir, gramsTable = true)
    }
  }

  test("compact: every crash point resumes") {
    everyCrashPoint(Some(deleted))(Maintenance.compact(spark, _, cfg))
  }

  test("an update killed between its posting write and its record appends once") {
    // the posting segments are staged but uncommitted when the update dies;
    // the re-run must not append them a second time (a doubled append is
    // rejected by the merge's splice as shards out of order)
    val want = copyOf(built)
    Maintenance.update(spark, want, batch, cfg, partialSnapshot = true)
    val killed = copyOf(built)
    Manifest.arm((_, label) => label.startsWith("record update "))
    try intercept[Manifest.InjectedCrash](
      Maintenance.update(spark, killed, batch, cfg, partialSnapshot = true))
    finally Manifest.disarm()
    assert(list(Paths.get(killed, "_graft_log", "staging")).nonEmpty)
    // resume as a new process would: at a new path, so that no plan the
    // killed run cached is reused
    val dir = killed + "-resumed"
    Files.move(Paths.get(killed), Paths.get(dir))
    Maintenance.update(spark, dir, batch, cfg, partialSnapshot = true)
    assert(Manifest.state(dir).completed("seg_merge").nonEmpty)
    assert(snapshot(dir) == snapshot(want))
  }

  test("a delete issued while a compact is mid-rebuild survives the resumed compact") {
    val late = urls(5)
    val want = copyOf(deleted)
    Maintenance.compact(spark, want, cfg)
    Maintenance.delete(spark, want, Seq(late))
    val dir = copyOf(deleted)
    Manifest.arm((_, label) => label == "record postings_terms 0")
    try intercept[Manifest.InjectedCrash](Maintenance.compact(spark, dir, cfg))
    finally Manifest.disarm()
    assert(Manifest.state(dir).compactPending)
    Maintenance.delete(spark, dir, Seq(late))
    Maintenance.compact(spark, dir, cfg)
    assert(!Manifest.state(dir).compactPending)
    assert(snapshot(dir) == snapshot(want))
    assert(new Search(spark, dir).search(Seq("the")).where($"url" === late).isEmpty)
  }
}
