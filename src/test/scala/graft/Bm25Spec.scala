package graft

import scala.util.chaining._
import graft.build.IndexBuild
import graft.query.Search

/** BM25 rank-identity: the block-max WAND path must return exactly the same
  * top-k (doc ids AND scores, bitwise doubles) as the brute-force oracle,
  * conjunctive and disjunctive, across k values — SURVEY §5.2(4) — with the
  * per-range kernels on the driver and distributed (posting gate 0).
  */
class Bm25Spec extends SparkSuite {

  private lazy val dir = {
    val d = tmpDir("bm25-idx")
    val docs = graft.sources.WebCorpus.generate(spark, 400, seed = 42L, partitions = 4)
    IndexBuild.build(spark, docs, d,
      IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 4,
        shufflePartitions = 8, blockSize = 16))
    d
  }
  private lazy val search = new Search(spark, dir)

  private val queries = Seq(
    Seq("the"),                      // hot single term
    Seq("the", "of", "and"),        // all-stopword conjunctive stress
    Seq("w12x84", "the"),           // rare + hot
    Seq("w3x21", "w7x49"),          // two tail terms
    Seq("one", "word", "use"),
    Seq("nosuchterm"),              // absent
    Seq("nosuchterm", "the")        // mixed absent
  )

  private def collectTopK(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Every named Search answers every query like the first one's
    * brute-force oracle.
    */
  private def assertWandIsBrute(searches: Seq[(String, Search)], qs: Seq[Seq[String]],
                                conjunctive: Boolean): Unit =
    for (q <- qs; k <- Seq(1, 10, 100)) {
      val brute = collectTopK(searches.head._2.bm25BruteForce(q, k, conjunctive))
      searches.foreach { case (name, s) =>
        val wand = collectTopK(s.bm25TopK(q, k, conjunctive))
        assert(wand == brute, s"$name conjunctive=$conjunctive q=$q k=$k")
      }
    }

  private lazy val placements = Seq("driver" -> search,
    "distributed" -> new Search(spark, dir).tap(_.maxInlinePostings = 0))

  test("WAND == brute force, disjunctive, k in {1,10,100}") {
    assertWandIsBrute(placements, queries, conjunctive = false)
  }

  test("WAND == brute force, conjunctive, k in {1,10,100}") {
    assertWandIsBrute(placements, queries, conjunctive = true)
  }

  test("after an update and a delete: WAND == brute force in every placement") {
    val d = ChurnedIndex(spark, tmpDir("bm25-churned"),
      graft.sources.WebCorpus.generate(spark, 200, seed = 42L, partitions = 2),
      IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 4,
        shufflePartitions = 8, blockSize = 16))
    val searches = Seq(
      "driver, inline dead set" -> new Search(spark, d),
      "distributed, inline dead set" -> new Search(spark, d).tap(_.maxInlinePostings = 0),
      "distributed, cogrouped dead set" -> new Search(spark, d, maxInlineTombstones = 0))
    assert(searches(0)._2.deadIds.exists(_.nonEmpty) && searches(2)._2.deadIds.isEmpty)
    val dead = ChurnedIndex.deadIds(spark, d)
    val qs = queries :+ Seq("quagga", "the") :+ Seq("wallaby")
    for (conjunctive <- Seq(false, true)) assertWandIsBrute(searches, qs, conjunctive)
    // there are tombstoned docs, and none of them is ranked
    assert(dead.size >= 8)
    assert(collectTopK(searches(0)._2.bm25TopK(Seq("the"), 10000, conjunctive = false))
      .forall(r => !dead.contains(r._1)))
  }

  /** Each query, both modes, k = 10: the oracle's answers. */
  private def bruteAnswers(s: Search, qs: Seq[Seq[String]]): Map[(Seq[String], Boolean), Seq[(Long, Double)]] =
    (for (q <- qs; conj <- Seq(false, true))
      yield (q, conj) -> collectTopK(s.bm25BruteForce(q, 10, conj))).toMap

  /** Runs every query forward then backward, `rounds` times, on `s` and
    * checks each answer against `want`; `after` runs after every query.
    */
  private def assertRepeatsAreBrute(s: Search, qs: Seq[Seq[String]], rounds: Int,
                                    want: Map[(Seq[String], Boolean), Seq[(Long, Double)]],
                                    after: () => Unit = () => ()): Unit =
    for (_ <- 1 to rounds; q <- qs ++ qs.reverse; conj <- Seq(false, true)) {
      assert(collectTopK(s.bm25TopK(q, 10, conj)) == want((q, conj)), s"q=$q conjunctive=$conj")
      after()
    }

  test("repeated and interleaved queries on one Search == brute force, fresh and churned") {
    val churned = ChurnedIndex(spark, tmpDir("bm25-repeat"),
      graft.sources.WebCorpus.generate(spark, 200, seed = 42L, partitions = 2),
      IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 4,
        shufflePartitions = 8, blockSize = 16))
    val qs = queries :+ Seq("quagga", "the") :+ Seq("wallaby")
    for (d <- Seq(dir, churned)) {
      val s = new Search(spark, d)
      assertRepeatsAreBrute(s, qs, rounds = 2, bruteAnswers(s, qs))
      assert(s.cachedPostings > 0)
    }
  }

  /** A Search whose posting gate holds the keys of the costliest query but
    * not of every query, so the segment cache must evict.
    */
  private def smallGate(): (Search, Long) = {
    val s = new Search(spark, dir)
    val dfs = queries.map(q => s.dictLookup(q.flatMap(graft.core.Tokenizer.terms)))
    val gate = dfs.map(_.values.sum).max
    assert(dfs.flatten.toMap.values.sum > gate, "every key fits the gate")
    (s.tap(_.maxInlinePostings = gate), gate)
  }

  test("the segment cache never holds more postings than the gate, and evictions keep answers") {
    val (s, gate) = smallGate()
    var peak = 0L
    assertRepeatsAreBrute(s, queries, rounds = 2, bruteAnswers(s, queries), () => {
      assert(s.cachedPostings <= gate, s"${s.cachedPostings} cached postings, gate $gate")
      peak = math.max(peak, s.cachedPostings)
    })
    assert(peak > 0)
  }

  test("two threads querying one Search both get the brute-force answers") {
    val (s, _) = smallGate()
    val want = bruteAnswers(s, queries)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = Seq(queries, queries.reverse).map { qs =>
      new Thread(() =>
        try assertRepeatsAreBrute(s, qs, rounds = 3, want)
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
  }

  test("conjunctive results are a subset of disjunctive with equal scores") {
    val conj = collectTopK(search.bm25TopK(Seq("the", "of"), 200, conjunctive = true)).toMap
    val disj = collectTopK(search.bm25TopK(Seq("the", "of"), 10000, conjunctive = false)).toMap
    conj.foreach { case (d, s) => assert(disj(d) == s) }
  }

  test("absent term: conjunctive empty, disjunctive ignores it") {
    assert(search.bm25TopK(Seq("nosuchterm", "the"), 10, conjunctive = true).count() == 0)
    val a = collectTopK(search.bm25TopK(Seq("nosuchterm", "the"), 10, conjunctive = false))
    val b = collectTopK(search.bm25TopK(Seq("the"), 10, conjunctive = false))
    assert(a == b)
  }

  test("scores are deterministic across repeated runs") {
    val a = collectTopK(search.bm25TopK(Seq("the", "of", "and"), 50, conjunctive = false))
    val b = collectTopK(search.bm25TopK(Seq("the", "of", "and"), 50, conjunctive = false))
    assert(a == b)
  }
}
