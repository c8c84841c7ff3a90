package graft

import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Exact Spark job counts of opening a Search and of its queries on a
  * tombstone-free index: table reads use declared schemas, so no query runs
  * a schema-inference job, and the relations are resolved once per Search.
  */
class SearchJobsSpec extends SparkSuite {
  private val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 4,
    shufflePartitions = 4)

  private lazy val dir = {
    val d = tmpDir("jobs-idx")
    IndexBuild.build(spark, WebCorpus.generate(spark, 60, seed = 9L, partitions = 2), d, cfg)
    d
  }

  /** Spark jobs started by `f` on this thread (counted by job group). */
  private def jobs(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try { f; ListenerBusDrain(sc); n.get }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("opening a Search and both dictionary lookups run at most 3 jobs") {
    val d = dir // the build's jobs are not counted
    val opened = jobs {
      val s = new Search(spark, d)
      assert(s.dictLookup(Seq("the")).nonEmpty)
      assert(s.gramDictLookup(graft.core.Gram.gramsSorted(partial = false, Seq("the")).toSeq).nonEmpty)
    }
    assert(opened <= 3, s"$opened jobs")
  }

  test("bm25TopK, candidates and fuzzy run exactly 2 jobs each, every time") {
    val s = new Search(spark, dir)
    s.dictLookup(Seq("the"))
    s.gramDictLookup(Seq(0))
    val queries = Seq[(String, () => Unit)](
      "bm25TopK" -> (() => s.bm25TopK(Seq("the", "of"), 5, conjunctive = false).collect()),
      "candidates" -> (() => s.candidates(Seq("the")).collect()),
      "fuzzy" -> (() => s.fuzzy(Seq("the"), 0.5).collect()))
    queries.foreach { case (name, q) =>
      val first = jobs(q())
      val second = jobs(q())
      assert(first == 2, s"$name: $first jobs on the first run")
      assert(second == first, s"$name: $second jobs on the second run, $first on the first")
    }
  }
}
