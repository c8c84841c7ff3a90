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
    // the chunk scratch is dropped once the docs store commits; the docs
    // store carries the tokenized corpus — untouched docs == no
    // re-tokenization
    assert(fileMTimes(IndexBuild.chunksDir(dir)).isEmpty)
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

  test("manifest records rows/bytes per unit (lineage metrics)") {
    val dir = tmpDir("resume-idx3")
    IndexBuild.build(spark, docs, dir, cfg)
    val lines = Manifest.entries(dir)
    assert(lines.count(_.contains(""""stage":"chunks"""")) == cfg.docParts)
    assert(lines.count(_.contains(""""stage":"postings_terms"""")) == cfg.nBuckets)
    assert(lines.forall(_.contains(""""status":"complete"""")))
    assert(lines.exists(l => l.contains(""""stage":"chunks"""") && !l.contains(""""rows":0""")))
  }
}
