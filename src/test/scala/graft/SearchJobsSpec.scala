package graft

import scala.util.chaining._
import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus

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

  test("opening a Search and both dictionary lookups run at most 2 jobs") {
    val d = dir // the build's jobs are not counted
    val opened = jobs {
      val s = new Search(spark, d)
      assert(s.dictLookup(Seq("the")).nonEmpty)
      assert(s.gramDictLookup(graft.core.Gram.gramsSorted(partial = false, Seq("the")).toSeq).nonEmpty)
    }
    // one bounded term-dictionary probe and one gram-dictionary collect
    assert(opened <= 2, s"$opened jobs")
  }

  /** Asserts each of bm25TopK, candidates and fuzzy runs exactly `want`
    * jobs, on a first and on a repeat run, on a Search with posting gate `gate`.
    */
  private def queryJobs(gate: Long, want: Int): Unit = {
    val s = new Search(spark, dir).tap(_.maxInlinePostings = gate)
    s.dictLookup(Seq("the"))
    s.gramDictLookup(Seq(0))
    assert(s.deadIds.contains(Set.empty)) // a clean index: the probe runs no job
    val queries = Seq[(String, () => Unit)](
      "bm25TopK" -> (() => s.bm25TopK(Seq("the", "of"), 5, conjunctive = false).collect()),
      "candidates" -> (() => s.candidates(Seq("the")).collect()),
      "fuzzy" -> (() => s.fuzzy(Seq("the"), 0.5).collect()))
    queries.foreach { case (name, q) =>
      val first = jobs(q())
      val second = jobs(q())
      assert(first == want, s"$name, gate $gate: $first jobs on the first run")
      assert(second == first, s"$name, gate $gate: $second jobs on the second run, $first on the first")
    }
  }

  // above the posting gate: the distributed per-range plans
  test("bm25TopK, candidates and fuzzy run exactly 2 jobs each, every time") {
    queryJobs(gate = 0L, want = 2)
  }

  test("bm25TopK, candidates and fuzzy run exactly 1 job each on the driver, every time") {
    queryJobs(gate = Search.DefaultMaxInlinePostings, want = 1)
  }

  test("a tombstoned index: opening, lookups and the first bm25TopK run at most 4 jobs") {
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
    // 2 jobs to open, 1 for the query, and the one bounded dead-id probe
    assert(first <= 4, s"$first jobs")
    assert(s.deadIds.exists(_.nonEmpty))
    val again = jobs(q())
    assert(again == 1, s"$again jobs on a repeat query")
  }
}
