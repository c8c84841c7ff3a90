package graft

import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus
import org.apache.spark.sql.functions._

/** The transposed posting builds (one shuffle row per chunk / per
  * (chunk, bucket) slice, kernels keyed on sorted group breaks) must emit
  * identical segments no matter how groups co-locate in shuffle partitions.
  * shufflePartitions=1 forces EVERY (bucket, range) group through one task —
  * maximal group-break churn — and must equal a spread-out build.
  */
class TransposedBuildSpec extends SparkSuite {

  private def segDigest(dir: String, path: String => String): Map[(String, Int), String] =
    spark.read.parquet(path(dir))
      .select(col("key"), col("range_id"), col("first_doc"), col("last_doc"),
        col("n_docs"), col("sum_tf"), col("max_tf"), md5(col("postings")).as("h"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        s"${r.getLong(2)}/${r.getLong(3)}/${r.getLong(4)}/${r.getLong(5)}/${r.getInt(6)}/${r.getString(7)}")
      .toMap

  test("single-partition kernel == spread-out kernel, segment-byte-identical") {
    val docs = WebCorpus.generate(spark, 200, seed = 11L, partitions = 4)
    val one = tmpDir("transposed-one")
    val many = tmpDir("transposed-many")
    IndexBuild.build(spark, docs, one, IndexBuild.Config(
      nBuckets = 4, nRanges = 4, docParts = 2, shufflePartitions = 1))
    IndexBuild.build(spark, docs, many, IndexBuild.Config(
      nBuckets = 4, nRanges = 4, docParts = 2, shufflePartitions = 13))
    for (path <- Seq(IndexBuild.termPostingsDir _, IndexBuild.gramPostingsDir _)) {
      val a = segDigest(one, path)
      val b = segDigest(many, path)
      assert(a.keySet == b.keySet, "segment key sets differ")
      val diff = a.keys.filter(k => a(k) != b(k))
      assert(diff.isEmpty, s"segments differ for ${diff.take(5)}")
    }
  }

  test("resume with a subset of buckets emits only those buckets' segments") {
    val docs = WebCorpus.generate(spark, 120, seed = 12L, partitions = 2)
    val dir = tmpDir("transposed-resume")
    val ref = tmpDir("transposed-resume-ref")
    val cfgR = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 2,
      shufflePartitions = 4)
    IndexBuild.build(spark, docs, ref, cfgR)
    val full = segDigestWithBucket(ref)
    // simulate a half-done postings stage: the build dies as it commits
    // bucket 1 of postings_terms (buckets 1..3 stay uncommitted), two of
    // the bucket dirs are gone too; the resumed build must reproduce the
    // uninterrupted build's segments byte for byte
    import java.nio.file.Paths
    graft.build.Manifest.arm((_, label) => label == "record postings_terms 1")
    try intercept[graft.build.Manifest.InjectedCrash](IndexBuild.build(spark, docs, dir, cfgR))
    finally graft.build.Manifest.disarm()
    for (b <- Seq(1, 3)) {
      org.apache.commons.io.FileUtils.deleteDirectory(
        Paths.get(IndexBuild.termPostingsDir(dir), s"bucket=$b").toFile)
    }
    IndexBuild.build(spark, docs, dir, cfgR)
    assert(segDigestWithBucket(dir) == full, "resumed build diverged")
    // and the engine still answers
    assert(new Search(spark, dir).bm25TopK(Seq("the"), 5, conjunctive = false).count() > 0)
  }

  private def segDigestWithBucket(dir: String): Map[(Int, String, Int), String] =
    spark.read.parquet(IndexBuild.termPostingsDir(dir))
      .select(col("bucket"), col("key"), col("range_id"), md5(col("postings")).as("h"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)) -> r.getString(3))
      .toMap

  private def gramDigest(dir: String): Map[(Int, String, Int), String] =
    spark.read.parquet(IndexBuild.gramPostingsDir(dir))
      .select(col("bucket"), col("key"), col("range_id"), md5(col("postings")).as("h"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)) -> r.getString(3))
      .toMap

  test("wide-resume gram stage prunes the shuffle map-side (shuffle-bytes probe)") {
    import java.nio.file.Paths
    val docs = WebCorpus.generate(spark, 300, seed = 14L, partitions = 2)
    val cfgT = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 2,
      shufflePartitions = 4)

    val ref = tmpDir("transposed-gprune-ref")
    IndexBuild.build(spark, docs, ref, cfgT)
    val full = gramDigest(ref)

    // build until it dies committing gram bucket `missing.min` (buckets
    // missing.min.. stay uncommitted; `missing` must be that tail), wipe
    // the `missing` gram buckets, resume; return the resumed run's total
    // shuffle-write bytes and assert byte-identical reconstruction
    def resumeBytes(missing: Seq[Int]): Long = {
      val dir = tmpDir("transposed-gprune")
      graft.build.Manifest.arm((_, label) => label == s"record postings_grams ${missing.min}")
      try intercept[graft.build.Manifest.InjectedCrash](IndexBuild.build(spark, docs, dir, cfgT))
      finally graft.build.Manifest.disarm()
      for (b <- missing)
        org.apache.commons.io.FileUtils.deleteDirectory(
          Paths.get(IndexBuild.gramPostingsDir(dir), s"bucket=$b").toFile)
      val acc = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          acc.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        IndexBuild.build(spark, docs, dir, cfgT)
        Thread.sleep(1500) // listener bus drain
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(gramDigest(dir) == full, "pruned resume diverged")
      acc.get
    }

    val bytesAll = resumeBytes(Seq(0, 1, 2, 3))
    val bytesOne = resumeBytes(Seq(3))
    // 1 of 4 buckets missing must shuffle well under the full stage's bytes
    assert(bytesOne * 10 < bytesAll * 8,
      s"map-side prune ineffective: resumed=$bytesOne full=$bytesAll")
  }
}
