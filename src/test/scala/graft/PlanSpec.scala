package graft

import scala.util.chaining._
import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus

/** Physical-plan assertions: the plans must actually prune and push down —
  * "first plan that passed" is not enough at 100TB.
  */
class PlanSpec extends SparkSuite {

  private lazy val dir = {
    val d = tmpDir("plan-idx")
    IndexBuild.build(spark, WebCorpus.generate(spark, 300, seed = 5L, partitions = 4), d,
      IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 2, shufflePartitions = 4))
    d
  }
  private lazy val search = new Search(spark, dir)

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The query execution of a cold inline search's row fetch: the one
    * collect that scans the docs store's chunk text.
    */
  private def rowFetch(args: Seq[String]): org.apache.spark.sql.execution.QueryExecution = {
    val (_, qes) = queryExecutions(new Search(spark, dir).search(args))
    val fetch = qes.filter(_._2.executedPlan.toString.contains("chunk_text"))
    assert(fetch.map(_._1) == Seq("collect"), qes.map(_._2.executedPlan).mkString("\n"))
    fetch.head._2
  }

  test("postings scan prunes bucket partitions and pushes the key filter") {
    // posting gate 0: the distributed per-range plan is the returned frame
    val distributed = new Search(spark, dir).tap(_.maxInlinePostings = 0)
    val p = plan(distributed.bm25TopK(Seq("the"), 5, conjunctive = false))
    assert(p.contains("PartitionFilters"), p.take(500))
    assert(p.contains("bucket"), "bucket pruning missing")
    assert(p.contains("PushedFilters") && p.contains("key"), "key pushdown missing")
    // the wide binary postings column must not leak into the dictionary scan
    val d = plan(spark.read.parquet(IndexBuild.dictDir(dir))
      .where(org.apache.spark.sql.functions.col("term") === "the"))
    assert(d.contains("PushedFilters"), d.take(300))
  }

  test("the driver placement's one collect prunes bucket partitions and pushes the key filter") {
    val s = new Search(spark, dir)
    s.dictLookup(Seq("the")) // the dictionary and dead-id probes are not planned queries
    assert(s.deadIds.contains(Set.empty))
    val (top, plans) = executedPlans(s.bm25TopK(Seq("the"), 5, conjunctive = false))
    assert(plans.size == 1, plans.toString)
    val (f, p) = plans.head
    assert(f == "collect", f)
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(p).nonEmpty, s"bucket pruning missing:\n$p")
    assert("PushedFilters: \\[[^\\]]*key".r.findFirstIn(p).nonEmpty, s"key pushdown missing:\n$p")
    // the answer is a local relation: no scan, no sort left to run
    assert(plan(top).contains("LocalTableScan") && !plan(top).contains("Sort"), plan(top))
  }

  test("an inline search answer is a local relation with no sort left to run") {
    val p = plan(search.search(Seq("the")))
    assert(p.contains("LocalTableScan") && !p.contains("Sort"), p)
  }

  test("inline hydration fetches its rows under one DocIdIn id filter on the docs scan, not pushed to parquet") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val ids = search.candidates(Seq("the")).collect().map(_.getLong(0)).toSet
    assert(ids.size > 10)
    val qe = rowFetch(Seq("the"))
    val conditions = qe.analyzed.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
    assert(conditions.length == 1, qe.analyzed)
    // one predicate holding every id, not an IN list of one literal per id
    assert(PlanSpec.docIdSets(conditions) == Seq(ids), conditions.head)
    assert(conditions.head.collect { case l: Literal => l }.isEmpty, conditions.head)
    val scans = PlanSpec.Adaptive.collect(qe.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, qe.executedPlan)
    assert(PlanSpec.docIdSets(scans.head.dataFilters) == Seq(ids), scans.head.dataFilters)
    assert(PlanSpec.pushedDocIdIn(scans.head).isEmpty, s"doc_id In pushed down:\n${scans.head}")
  }

  test("driver-held ids above the hydration gate filter the docs scan map-side and sort in one partition") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def executed(s: Search, limit: Int) = {
      val df = s.search(Seq("the"), limitPerGroup = limit)
      assert(df.collect().nonEmpty)
      df.queryExecution.executedPlan
    }
    // hydration gate 0, default posting gate: the ids are on the driver
    for (limit <- Seq(Int.MaxValue, 2)) {
      val p = executed(new Search(spark, dir, maxInlineCandidates = 0), limit)
      assert(PlanSpec.Adaptive.collect(p) { case j: BaseJoinExec => j }.isEmpty, s"limit $limit joins:\n$p")
      val exchanges = PlanSpec.Adaptive.collect(p) { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(exchanges == Seq(SinglePartition), s"limit $limit exchanges $exchanges:\n$p")
      assert(!exchanges.exists(_.isInstanceOf[RangePartitioning]))
      assert(p.toString.contains("doc_id_in"), p)
    }
    // posting gate 0 too: the ids are distributed and still join
    val p = executed(new Search(spark, dir, maxInlineCandidates = 0).tap(_.maxInlinePostings = 0),
      Int.MaxValue)
    assert(p.toString.contains("ShuffledHashJoin"), p)
  }

  test("docs hydration scan prunes columns (no terms/grams for search output)") {
    val p = rowFetch(Seq("the")).executedPlan.toString
    // ReadSchema of the docs scan must not include the heavy token arrays
    val readSchemas = "ReadSchema: [^\\n]*".r.findAllIn(p).toList
    val docsScans = readSchemas.filter(_.contains("chunk_text"))
    assert(docsScans.nonEmpty)
    docsScans.foreach { rs =>
      assert(!rs.contains("terms") && !rs.contains("grams"),
        s"token arrays leaked into the search scan: $rs")
    }
  }

  test("dictionary lookup reads only term+df, never postings") {
    val p = plan(spark.read.parquet(IndexBuild.termPostingsDir(dir))
      .groupBy("key").count())
    val rs = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!rs.contains("postings"), s"postings column read for a count: $rs")
  }

  test("doc-id base join broadcast is size-gated (no broadcast above the url limit)") {
    import org.apache.spark.sql.functions._
    // chunk-shaped input: the docs store minus doc_id
    val chunks = spark.read.parquet(IndexBuild.docsDir(dir)).drop("doc_id")
    val counts = chunks.groupBy("url").agg(count(lit(1)).as("cnt"))
    def idPlan(limit: Long): org.apache.spark.sql.DataFrame = {
      val (withIds, _, cleanup) = IndexBuild.assignIds(spark, chunks, counts, 0L,
        IndexBuild.Config(shufflePartitions = 4, broadcastUrlLimit = limit))
      val df = withIds.select("url", "doc_id")
      cleanup(); df
    }
    // below the gate: our explicit broadcast hint is present in the logical plan
    val hinted = idPlan(Long.MaxValue).queryExecution.analyzed.toString
    assert(hinted.toLowerCase.contains("broadcast"),
      "expected broadcast hint below the gate")
    // above the gate (limit 0): no broadcast hint — at 10^12 docs the url
    // base map must never be broadcast
    val unhinted = idPlan(0L).queryExecution.analyzed.toString
    assert(!unhinted.toLowerCase.contains("broadcast"),
      "url base map broadcast despite exceeding the gate")
    // and both paths produce identical ids
    val a = idPlan(Long.MaxValue).collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    val b = idPlan(0L).collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    assert(a.toSeq == b.toSeq)
  }

  test("verify filter is a codegen'd native expression (no Scala UDF in the hot path)") {
    // expression semantics == the engine verifier, including the suffix-resume
    // quirk ("twotwo" whole-word-matches "two" at 3) and multi-arg AND
    val cases = Seq(
      ("the quick brown fox", Seq("quick"), false, 4),
      ("the quick brown fox", Seq("quick", "fox"), false, 4),
      ("the quick brown fox", Seq("quick", "absent"), false, -1),
      ("twotwo", Seq("two"), false, 3),
      ("Mixed CASE Words", Seq("case"), false, 6),
      ("partial-only hit", Seq("artia"), true, 1),
      ("partial-only hit", Seq("artia"), false, -1))
    cases.foreach { case (chunk, args, partial, want) =>
      assert(graft.functions.VerifyMatch.verify(chunk, args.toArray, partial) == want,
        s"verify($chunk, $args, partial=$partial)")
      assert(graft.core.Tokenizer.verifyAll(chunk, args, partial) == want,
        s"engine verifier disagrees on ($chunk, $args)")
    }
    // and through the SQL engine: codegen + interpreted paths agree
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = cases.map(_._1).distinct.toDF("chunk_text")
      .withColumn("off", graft.functions.VerifyMatch(col("chunk_text"), Seq("quick", "fox"), false))
    val got = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got("the quick brown fox") == 4 && got("twotwo") == -1)
    // the above-gate search plan must not contain a Scala UDF anywhere
    // (the inline path verifies on the driver with the same static verify)
    val joined = new Search(spark, dir, maxInlineCandidates = 0).search(Seq("the", "of"))
    joined.collect()
    val p = plan(joined)
    assert(!p.contains("UDF"), s"Scala UDF leaked into the search plan:\n${p.take(600)}")
    assert(p.contains("verify_match"), "native verify expression missing from the plan")
  }

  test("join-path hydration never sort-merge-joins the chunk store") {
    // inline gate 0: wherever the chunk-text rows are joined (fuzzySearch
    // always, search with the distributed kernels' ids at posting gate 0)
    // they must be hash-probed, not sorted by doc_id for the join
    for (joinPath <- Seq(new Search(spark, dir, maxInlineCandidates = 0),
                         new Search(spark, dir, maxInlineCandidates = 0).tap(_.maxInlinePostings = 0));
         df <- Seq(joinPath.search(Seq("the")), joinPath.fuzzySearch(Seq("the"), 0.3))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin"),
        s"chunk store sort-merge-joined:\n${p.take(600)}")
    }
  }

  test("searchFresh bad-url set anti-joins above the inline gate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // make EVERY hit url stale (newer current ts) and force the gate to 0:
    // the bad set must stay distributed — a left-anti join on url, never a
    // collected isInCollection filter (a changed-everything corpus under a
    // hot query must not land on the driver)
    val cur = spark.read.parquet(IndexBuild.docsDir(dir))
      .select($"url").distinct()
      .withColumn("warc_ts", lit("2030-01-01 00:00:00").cast("timestamp"))
    val gated = new Search(spark, dir, maxInlineCandidates = 0)
    val df = gated.searchFresh(Seq("the"), cur)
    assert(df.collect().isEmpty) // all urls stale -> everything skipped
    val p = plan(df)
    assert(p.contains("LeftAnti"), s"bad-url set not anti-joined:\n${p.take(600)}")
    // below the gate (default) the same query inlines: no anti-join on url
    val inl = search.searchFresh(Seq("the"), cur)
    inl.collect()
    assert(!plan(inl).contains("LeftAnti"))
  }

  test("contaminationPairs broadcasts the benchmark side, never the corpus") {
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, s"alpha beta gamma w$i x${i % 7} y${i % 5} z${i % 3} end"))
      .toDF("doc_id", "text")
    val bench = (0L until 3L).map(i => (i, s"alpha beta gamma w$i"))
      .toDF("bench_id", "text")
    val df = graft.ops.Dedup.contaminationPairs(docs, bench, 2)
    assert(df.count() >= 3) // the source docs at least
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(400))
  }

  test("cosineTopK broadcasts the query side, never the corpus") {
    import spark.implicits._
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val df = graft.ops.Similarity.cosineTopK(emb, 3, 5)
    val rows = df.collect()
    assert(rows.length == 15)
    // exact agreement with a driver-side brute force on the same fold order
    def cos(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      math.floor(dot / math.sqrt(na) / math.sqrt(nb) * 1000).toLong
    }
    val vecs = (0L until 40L).map(i =>
      i -> Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)).toMap
    val want = (0L until 3L).flatMap { q =>
      (3L until 40L).map(n => (q, n, cos(vecs(q), vecs(n))))
        .sortBy { case (_, n, c) => (-c, n) }.take(5).zipWithIndex
        .map { case ((qq, n, c), i) => (qq, n, c, i + 1) }
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq == want)
    // the one BroadcastExchange subtree must hold the (vec_id < 3) query
    // side — a corpus-side broadcast OOMs every executor at scale
    val p = df.queryExecution.executedPlan.toString
    val bIdx = p.indexOf("BroadcastExchange")
    assert(bIdx >= 0, p.take(600))
    // the broadcast subtree is printed below the exchange node; it must
    // carry the query-side columns (query_id/qe), not the corpus side
    // (neighbor_id/ne)
    val sub = p.substring(bIdx, math.min(p.length, p.indexOf('\n', bIdx + 1) + 200))
    assert(sub.contains("query_id"), s"broadcast side is not the query side:\n$sub")
    assert(!sub.contains("neighbor_id"), s"corpus side under the broadcast:\n$sub")
  }

  test("stripBoilerplate is map-side below the gate, joins above it, same rows") {
    import spark.implicits._
    // every doc shares two boilerplate lines; empty lines must survive
    val docs = (0L until 40L).map(i =>
      (i, s"unique body $i\n\nshared footer line\nother shared line"))
      .toDF("doc_id", "text")
    val below = graft.ops.TextOps.stripBoilerplate(docs, minDocs = 3)
    val above = graft.ops.TextOps.stripBoilerplate(docs, minDocs = 3,
      maxInlineLines = 1)
    val want = (0L until 40L).map(i => (i, s"unique body $i\n")).toList
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toList
    assert(rows(below) == want)
    assert(rows(above) == want) // the two shapes agree line-for-line
    // below the gate: a pure projection — no join anywhere in the plan
    val pBelow = plan(below)
    assert(!pBelow.toLowerCase.contains("join"),
      s"inline path grew a join:\n${pBelow.take(600)}")
    // above the gate: the removal set joins back through the hinted
    // SHUFFLE_HASH probe — never a driver collect of the line set
    val pAbove = plan(above)
    assert(pAbove.contains("ShuffledHashJoin"),
      s"above-gate path lost the distributed join:\n${pAbove.take(800)}")
  }

  test("stratifiedSample broadcasts the rates side; selection is map-side") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, s"text $i", "en"))
      .toDF("doc_id", "text", "lang")
    val rates = Seq(("en", 500)).toDF("lang", "rate_permille")
    val df = graft.ops.TextOps.stratifiedSample(docs, rates)
    assert(df.count() > 0)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "rates joined through a shuffle — the corpus must not move to sample it")
  }

  test("cleanPipeline: rates broadcast, no shuffle join touches the corpus") {
    import spark.implicits._
    val docs = (0L until 300L)
      .map(i => (i, "en", s"alpha beta gamma delta epsilon t$i\nshared footer"))
      .toDF("doc_id", "lang", "text")
    val rates = Seq(("en", 500)).toDF("lang", "rate_permille")
    val df = graft.ops.TextOps.cleanPipeline(docs, rates, minDocs = 3,
      minTokens = 3)
    assert(df.count() > 0)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    // below the strip gate the only join in the whole pipeline is the
    // broadcast rates join — the corpus text never crosses a shuffle join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus text crossed a shuffle join in the inline-strip pipeline")
  }

  test("global fuzzy rank runs distributed (no single-partition window)") {
    val df = search.fuzzySearch(Seq("the"), 0.3, sortGlobal = true)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), p.take(800))
    assert(!p.contains("Window"), "rank must not come from a partition-less window")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("rn")).toSeq == (1L to rows.length).toSeq)
    // ordering is the reference sortFuzzy contract: ratio asc, url asc
    val keys = rows.map(r => (r.getAs[Double]("ratio"), r.getAs[String]("url"),
      r.getAs[Long]("doc_id")))
    assert(keys.toSeq == keys.sortBy(identity).toSeq)
  }

  test("packSequences: window + agg only, document text never crosses a join") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"alpha beta gamma t$i"))
      .toDF("doc_id", "text")
    val df = graft.ops.TextOps.packSequences(docs, ctxLen = 16, nShards = 4)
    assert(df.count() > 0)
    val p = plan(df)
    assert(!p.toLowerCase.contains("join"),
      s"packing grew a join — the shape is window + partial agg only:\n${p.take(600)}")
    assert(p.contains("Window"), p.take(400))
    // token counts are taken map-side: no shuffle carries the text column
    "Exchange [^\\n]*".r.findAllIn(p).foreach { ex =>
      assert(!ex.contains("text"), s"text crossed a shuffle: $ex")
    }
  }

  test("hashedQualityScore is one map-side pass (no hash shuffle, no join)") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"some words here t$i"))
      .toDF("doc_id", "text")
    val p = plan(graft.ops.TextOps.hashedQualityScore(docs))
    assert(!p.toLowerCase.contains("join"), p.take(400))
    // the only exchange is the output ORDER BY's range partitioning
    assert(!p.contains("hashpartitioning"),
      s"scoring pass shuffled — it must scale with the scan:\n${p.take(600)}")
  }

  test("vocabCoverage: vocabulary broadcasts, corpus never shuffle-joins") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"alpha beta w$i"))
      .toDF("doc_id", "text")
    val df = graft.ops.TextOps.vocabCoverage(docs, vocabSize = 8)
    assert(df.count() > 0)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "vocab membership must resolve map-side via the broadcast join")
  }

  test("jaccardPairs and vocabCoverage compute their shared shuffle once (exchange reuse)") {
    import spark.implicits._
    // both ops read one shuffled frame (shingles, per-doc tf) several times
    // in one plan and persist nothing: exchange reuse is what computes it
    // once per action
    val docs = (0L until 40L).map(i => (i, s"alpha beta gamma delta w${i % 7} epsilon"))
      .toDF("doc_id", "text")
    val ops = Seq(
      "jaccardPairs" -> graft.ops.Dedup.jaccardPairs(docs, 400, maxShingleDf = 8),
      "vocabCoverage" -> graft.ops.TextOps.vocabCoverage(docs, vocabSize = 3))
    val recomputed = ops.filter { case (_, df) =>
      df.collect() // reuse shows in the final adaptive plan
      PlanSpec.Adaptive.collectWithSubqueries(df.queryExecution.executedPlan) {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }.isEmpty
    }
    assert(recomputed.isEmpty, recomputed.map { case (name, df) =>
      s"$name recomputes its shared exchange:\n${plan(df).take(1500)}" }.mkString("\n"))
  }

  test("dedupLinesKeepFirst probes text through a hinted SHUFFLE_HASH join") {
    import spark.implicits._
    val docs = (0L until 60L).map(i =>
      (i, s"unique body $i\nshared footer line")).toDF("doc_id", "text")
    val df = graft.ops.Dedup.dedupLinesKeepFirst(docs)
    assert(df.count() == 60)
    val p = plan(df)
    assert(p.contains("ShuffledHashJoin"),
      s"text probe lost the SHUFFLE_HASH hint (SortMergeJoin would sort the corpus):\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("whole-stage codegen covers the relational ops pipeline") {
    val df = graft.ops.TextOps.termDf(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    df.collect() // finalize the AQE plan first — codegen shows post-execution
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print as "*(n) Op" in the plan tree
    assert(p.contains("*("), p.take(400))
  }
}

object PlanSpec {
  /** Walks adaptive plans through their query stages and subqueries. */
  object Adaptive extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The id sets of every [[graft.functions.DocIdIn]] in `exprs`. */
  def docIdSets(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[Set[Long]] =
    exprs.flatMap(_.collect { case d: graft.functions.DocIdIn => d.ids.toSet })

  /** A doc_id `In` among the scan's parquet pushed filters, if any. */
  def pushedDocIdIn(scan: org.apache.spark.sql.execution.FileSourceScanExec): Option[String] =
    "PushedFilters: \\[[^\\]]*In\\(doc_id".r.findFirstIn(scan.toString)
}
