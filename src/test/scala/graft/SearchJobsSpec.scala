package graft

import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Exact Spark job counts of opening a Search and of its queries: table
  * reads use declared schemas, so no query runs a schema-inference job, the
  * relations are resolved once per Search, and a tombstoned index adds one
  * bounded dead-id probe per Search, not per query.
  */
class SearchJobsSpec extends SparkSuite {
  private val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 4,
    shufflePartitions = 4)

  private def built(name: String): String = {
    val d = tmpDir(name)
    IndexBuild.build(spark, WebCorpus.generate(spark, 60, seed = 9L, partitions = 2), d, cfg)
    d
  }
  private lazy val dir = built("jobs-idx")

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

  test("a tombstoned index: opening, lookups and the first bm25TopK run at most 7 jobs") {
    val d = built("jobs-tomb")
    val urls = spark.read.parquet(IndexBuild.docsDir(d)).select("url").distinct()
      .orderBy("url").collect().map(_.getString(0)).take(5).toSeq
    graft.maint.Maintenance.delete(spark, d, urls)
    var s: Search = null
    val q = () => s.bm25TopK(Seq("the", "of"), 5, conjunctive = false).collect()
    val first = jobs {
      s = new Search(spark, d)
      assert(s.dictLookup(Seq("the")).nonEmpty)
      assert(s.gramDictLookup(graft.core.Gram.gramsSorted(partial = false, Seq("the")).toSeq).nonEmpty)
      q()
    }
    // 3 jobs to open, 2 for the query, and the one bounded dead-id probe
    assert(first <= 7, s"$first jobs")
    assert(s.deadIds.exists(_.nonEmpty))
    val again = jobs(q())
    assert(again == 2, s"$again jobs on a repeat query")
  }
}
