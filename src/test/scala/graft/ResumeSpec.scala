package graft

import graft.build.{IndexBuild, Manifest}
import graft.query.Search
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checkpoint/lineage resume semantics (north rule): a re-run skips
  * completed units; an invalidated unit is rebuilt without touching others
  * and without re-tokenizing completed chunk partitions.
  */
class ResumeSpec extends SparkSuite {

  private val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 4,
    shufflePartitions = 4)

  private def docs = graft.sources.WebCorpus.generate(spark, 120, seed = 11L, partitions = 2)

  private def fileMTimes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
  }

  test("full re-run is a no-op: every stage skipped, no file rewritten") {
    val dir = tmpDir("resume-idx")
    IndexBuild.build(spark, docs, dir, cfg)
    val before = fileMTimes(dir)
    assert(before.nonEmpty)
    IndexBuild.build(spark, docs, dir, cfg)
    assert(fileMTimes(dir) == before)
  }

  test("invalidating one postings bucket rebuilds only that bucket; results identical") {
    val dir = tmpDir("resume-idx2")
    val ref = tmpDir("resume-ref2")
    IndexBuild.build(spark, docs, ref, cfg)
    val q = Seq("the", "of")
    val baseline = new Search(spark, ref).bm25TopK(q, 20, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // a killed job: the build dies as it commits bucket 3 of
    // postings_terms (the last one), so that bucket and the dictionary,
    // which runs after postings, never complete
    Manifest.arm((_, label) => label == "record postings_terms 3")
    try intercept[Manifest.InjectedCrash](IndexBuild.build(spark, docs, dir, cfg))
    finally Manifest.disarm()
    // the docs store carries the chunked corpus — untouched docs == no
    // re-chunking
    val docsBefore = fileMTimes(IndexBuild.docsDir(dir))
    assert(docsBefore.nonEmpty)

    val otherBuckets = fileMTimes(IndexBuild.termPostingsDir(dir))
      .filter(!_._1.contains("bucket=3"))
    IndexBuild.build(spark, docs, dir, cfg)

    // docs store untouched -> no re-tokenization
    assert(fileMTimes(IndexBuild.docsDir(dir)) == docsBefore)
    // other postings buckets untouched
    val after = fileMTimes(IndexBuild.termPostingsDir(dir))
      .filter(!_._1.contains("bucket=3"))
    assert(after == otherBuckets)
    // and the rebuilt index answers identically
    val resumed = new Search(spark, dir).bm25TopK(q, 20, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(resumed == baseline)
  }

  test("a build killed as it commits the docs store redoes only that stage") {
    val dir = tmpDir("resume-ids")
    val ref = tmpDir("resume-ids-ref")
    IndexBuild.build(spark, docs, ref, cfg)
    Manifest.arm((_, label) => label == "record ids all")
    try intercept[Manifest.InjectedCrash](IndexBuild.build(spark, docs, dir, cfg))
    finally Manifest.disarm()
    // the docs store is written, uncommitted, and nothing downstream ran
    assert(fileMTimes(IndexBuild.docsDir(dir)).nonEmpty)
    assert(Manifest.state(dir).stats.isEmpty)
    Seq(IndexBuild.termPostingsDir(dir), IndexBuild.gramPostingsDir(dir), IndexBuild.dictDir(dir))
      .foreach(p => assert(!Files.exists(Paths.get(p)), p))
    IndexBuild.build(spark, docs, dir, cfg)
    assert(IndexDigests(spark, dir) == IndexDigests(spark, ref))
    val rows = (d: String) => IndexBuild.readTable(spark, d, IndexBuild.DocsTable)
    assert(rows(dir).exceptAll(rows(ref)).isEmpty && rows(ref).exceptAll(rows(dir)).isEmpty)
    assert(IndexBuild.readDocStats(dir) == IndexBuild.readDocStats(ref))
  }

  test("manifest records rows/bytes per unit (lineage metrics)") {
    val dir = tmpDir("resume-idx3")
    val stats = IndexBuild.build(spark, docs, dir, cfg)
    val lines = Manifest.entries(dir)
    assert(lines.count(_.contains(""""stage":"ids"""")) == 1)
    assert(lines.exists(l => l.contains(""""stage":"ids","unit":"all"""") &&
      l.contains(s""""rows":${stats.nDocs},""")))
    assert(stats.nDocs > 0)
    assert(lines.count(_.contains(""""stage":"postings_terms"""")) == cfg.nBuckets)
    assert(lines.forall(_.contains(""""status":"complete"""")))
  }

  test("the build leaves the session's partitionOverwriteMode as it found it") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    IndexBuild.build(spark, docs, tmpDir("resume-conf"), cfg)
    assert(spark.conf.get(key) == "static")
  }

  test("the build leaves the session conf as it found it, also when it fails") {
    val key = "spark.sql.files.maxPartitionBytes"
    for (callers <- Seq(Some("7m"), None)) {
      callers.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val before = spark.conf.getAll
      IndexBuild.build(spark, docs, tmpDir("resume-split"), cfg)
      assert(spark.conf.getAll == before, s"caller's $key: $callers")
      intercept[Exception](IndexBuild.build(spark, docs.drop("text"), tmpDir("resume-split"), cfg))
      assert(spark.conf.getAll == before, s"caller's $key: $callers, after a failed build")
    }
  }

  test("a source that changes between the build's two reads fails the build, naming the index") {
    val dir = tmpDir("resume-unstable")
    val n = 20
    // the first n evaluations (the count pre-pass) see two lines per page,
    // every later one (the docs write) one
    ResumeSpec.reads.set(0)
    val text = org.apache.spark.sql.functions.udf { () =>
      if (ResumeSpec.reads.getAndIncrement() < n) "one two\nthree four\n" else "one two\n"
    }.asNondeterministic()
    val unstable = spark.range(n).selectExpr("concat('https://u.example/', id) AS url",
        "timestamp'2020-01-01 00:00:00' AS warc_ts", "'en' AS lang")
      .withColumn("text", text())
    val e = intercept[IllegalStateException](IndexBuild.build(spark, unstable, dir, cfg))
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(Manifest.state(dir).stats.isEmpty)
  }
}

object ResumeSpec {
  /** Evaluations of the unstable source's text (tasks run in this JVM). */
  val reads = new java.util.concurrent.atomic.AtomicInteger
}
