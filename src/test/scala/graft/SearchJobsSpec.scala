package graft

import scala.util.chaining._
import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus

/** Exact Spark job counts of opening a Search and of its queries: table
  * reads use declared schemas, so no query runs a schema-inference job, the
  * relations are resolved once per Search, a tombstoned index adds one
  * bounded dead-id probe per Search, not per query, and a repeated query
  * key or search candidate is served from the Search's caches without a
  * job.
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

  /** Asserts each of bm25TopK, candidates and fuzzy runs exactly `cold`
    * jobs on a first run and `warm` on a repeat, each on a new Search with
    * posting gate `gate`.
    */
  private def queryJobs(gate: Long, cold: Int, warm: Int): Unit = {
    val queries = Seq[(String, Search => Unit)](
      "bm25TopK" -> (_.bm25TopK(Seq("the", "of"), 5, conjunctive = false).collect()),
      "candidates" -> (_.candidates(Seq("the")).collect()),
      "fuzzy" -> (_.fuzzy(Seq("the"), 0.5).collect()))
    queries.foreach { case (name, q) =>
      val s = opened(gate)
      val first = jobs(q(s))
      val second = jobs(q(s))
      assert(first == cold, s"$name, gate $gate: $first jobs on the first run")
      assert(second == warm, s"$name, gate $gate: $second jobs on the second run")
    }
  }

  /** A Search on the clean index with posting gate `gate` and hydration
    * gate `maxInlineCandidates`, its dictionary and dead-id probes already
    * run.
    */
  private def opened(gate: Long = Search.DefaultMaxInlinePostings,
                     maxInlineCandidates: Int = Search.DefaultMaxInlineCandidates): Search = {
    val s = new Search(spark, dir, maxInlineCandidates).tap(_.maxInlinePostings = gate)
    s.dictLookup(Seq("the"))
    s.gramDictLookup(Seq(0))
    assert(s.deadIds.contains(Set.empty)) // a clean index: the probe runs no job
    s
  }

  // above the posting gate: the distributed per-range plans
  test("bm25TopK, candidates and fuzzy run exactly 2 jobs each, every time") {
    queryJobs(gate = 0L, cold = 2, warm = 2)
  }

  test("bm25TopK, candidates and fuzzy run 1 job each on the driver, 0 on a repeat") {
    queryJobs(gate = Search.DefaultMaxInlinePostings, cold = 1, warm = 0)
  }

  test("a query whose keys are partly cached fetches only the missing keys") {
    val s = opened()
    s.bm25TopK(Seq("the"), 5, conjunctive = false).collect()
    val (n, plans) = executedPlans(jobs(s.bm25TopK(Seq("the", "and"), 5, conjunctive = false).collect()))
    assert(n == 1, s"$n jobs")
    val scans = plans.map(_._2).filter(_.contains("FileScan"))
    assert(scans.length == 1, scans.mkString("\n"))
    val pushed = "PushedFilters: .*?, ReadSchema".r.findFirstIn(scans.head).getOrElse("")
    assert(pushed.contains("and") && !pushed.contains("the"), s"key filter: $pushed")
    // and the fetched key is cached too
    assert(jobs(s.bm25TopK(Seq("and"), 5, conjunctive = false).collect()) == 0)
  }

  test("an inline search runs exactly 2 jobs cold and 0 warm") {
    val s = opened()
    val q = () => assert(s.search(Seq("the")).collect().nonEmpty)
    val first = jobs(q())
    val second = jobs(q())
    // the segment fetch and the row fetch; warm, both caches answer
    assert(first == 2 && second == 0, s"$first jobs cold, $second warm")
  }

  test("a search whose candidates are partly cached runs 1 job, and its id filter holds only the missing ids") {
    val ids = (q: Seq[String]) => opened().candidates(q).collect().map(_.getLong(0)).toSet
    val (cached, all) = (ids(Seq("the", "of")), ids(Seq("the")))
    // "the of" has the grams of "the" and more: its candidates are a subset
    assert(cached.nonEmpty && cached.subsetOf(all) && all.size > cached.size)
    val s = opened()
    s.search(Seq("the", "of")).collect()
    var n = 0
    val (_, qes) = queryExecutions { n = jobs(s.search(Seq("the")).collect()) }
    assert(n == 1, s"$n jobs")
    val scans = qes.flatMap { case (_, qe) =>
      PlanSpec.Adaptive.collect(qe.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    }
    assert(scans.length == 1, scans.mkString("\n"))
    val idSets = PlanSpec.docIdSets(scans.head.dataFilters)
    assert(idSets == Seq(all -- cached), s"id filter: $idSets")
    assert(PlanSpec.pushedDocIdIn(scans.head).isEmpty, s"doc_id In pushed down:\n${scans.head}")
  }

  test("a warm above-gate search with driver-held ids runs exactly 2 jobs") {
    val s = opened(maxInlineCandidates = 0)
    for (limit <- Seq(Int.MaxValue, 2)) {
      val q = () => assert(s.search(Seq("the"), limitPerGroup = limit).collect().nonEmpty)
      q() // the segments are cached from here on
      val warm = jobs(q())
      // the filtered docs scan's shuffle stage and the one-partition result
      assert(warm == 2, s"limit $limit: $warm jobs warm")
    }
  }

  test("the row cache never holds more than maxInlineCandidates rows, and evictions keep answers") {
    val qs = Seq(Seq("of"), Seq("and"), Seq("the", "of"), Seq("to"), Seq("of"))
    val want = qs.map(q => q -> new Search(spark, dir).search(q).collect().toSeq).toMap
    val probe = opened()
    // every query hydrates inline (its least frequent gram's df bounds its
    // candidates), but not every query's rows fit the cache at once
    val gate = qs.map { q =>
      probe.gramDictLookup(graft.core.Gram.gramsSorted(partial = false, q).toSeq).values.min
    }.max.toInt
    val candidates = qs.flatMap(q => probe.candidates(q).collect().map(_.getLong(0))).toSet
    assert(candidates.size > gate, s"${candidates.size} candidates fit the gate $gate")
    val s = new Search(spark, dir, maxInlineCandidates = gate)
    var peak = 0L
    for (_ <- 1 to 2; q <- qs) {
      assert(s.search(q).collect().toSeq == want(q), s"query $q")
      assert(s.cachedRows <= gate, s"${s.cachedRows} cached rows, gate $gate")
      peak = math.max(peak, s.cachedRows)
    }
    assert(peak > 0)
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
    assert(again == 0, s"$again jobs on a repeat query") // its segments are cached
  }
}
