package perfbench

import org.apache.spark.sql.SparkSession
import graft.build.IndexBuild
import graft.core.{Chunker, Gram, Tokenizer}
import graft.maint.Maintenance
import graft.query.Search
import graft.sources.WebCorpus
import perfbench.Queries._
import perfbench.Util._
import scala.collection.mutable

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String, pages: Int, setups: Int)

/** One run of one workload: set-up, the timed loop with its answer checks,
  * and the metrics. Checks always run outside the timed calls.
  */
final class Bench(spark: SparkSession, o: Opts) {
  import spark.implicits._

  /** One index layout for build and maintenance (maintenance addresses
    * docparts with this modulus). Segment merges fire on every second
    * update, so every churn run sees at least one.
    */
  val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 4,
    shufflePartitions = 8, autoMergeSegments = 2)

  /** The engine's hydration gate scaled from its 40k-page design point to
    * this corpus, so hot searches still take the shuffle-join path and tail
    * searches the inline one.
    */
  val hydrationGate: Int =
    math.max(1, (Search.DefaultMaxInlineCandidates.toLong * o.pages / 40000L).toInt)

  val trace = new Trace(spark.sparkContext, o.trace)
  /** Queries issued after each churn write, the same every time: BM25 over
    * tombstones, an inline-hydrated search and a fuzzy overlap query, all
    * over the multi-segment postings that updates append.
    */
  private val Burst: Seq[Query] = Seq(Distinct(0), Distinct(2), Distinct(3))
  private val corpusDir = s"${o.work}/corpus"
  private val steal0 = stealAndTotal()

  var attempted = 0L
  var failed = 0L
  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] wrong answer: $what") }
  }

  // set-up results
  val setupS = mutable.ArrayBuffer.empty[Double]
  val genS = mutable.ArrayBuffer.empty[Double]
  val buildCost = mutable.ArrayBuffer.empty[Cost]
  var index = ""
  var textBytes = 0L
  /** Bytes of the index after set-up; on `churn`, after a fixed amount of
    * churn, so the size does not depend on how many writes a run fits in.
    */
  var indexBytes = 0L
  var nChunks = 0L
  var buildManifest: Map[String, Layers.StageRow] = Map.empty
  var stageBytes: Map[String, Long] = Map.empty
  var lastBuildMs = 0.0

  // loop results: the workload's own operation, and per-class query costs
  val opCost = mutable.ArrayBuffer.empty[Cost]
  val opTraced = mutable.ArrayBuffer.empty[Boolean]
  val queryCost = mutable.LinkedHashMap(Classes.map(_ -> mutable.ArrayBuffer.empty[Cost]): _*)
  /** `query` workload: the costs of each distinct query, by index. */
  val distinctCost = IndexedSeq.fill(Distinct.size)(mutable.ArrayBuffer.empty[Cost])
  val queryTraced = mutable.ArrayBuffer.empty[(Double, Boolean)]
  val updateCost = mutable.ArrayBuffer.empty[Cost]
  val deleteCost = mutable.ArrayBuffer.empty[Cost]
  val openMs = mutable.ArrayBuffer.empty[Double]
  val mergedBatch = mutable.ArrayBuffer.empty[Boolean]
  /** Pages per churn write batch: 1% of the corpus. */
  val pagesPerBatch: Int = math.max(1, o.pages / 100)
  var updatedPages = 0L
  var deletedUrls = 0L

  private val taskCpu = new TaskCpu(spark.sparkContext)

  /** One full build into `dir`, with its wall, process and task CPU cost. */
  private def build(dir: String): (IndexBuild.BuildStats, Cost) = {
    val t0 = taskCpu.total()
    val (st, c) = timed(trace.span("IndexBuild.build", trace.newOp()) {
      IndexBuild.build(spark, spark.read.parquet(corpusDir), dir, cfg)
    })
    val cost = c.copy(taskCpuMs = (taskCpu.total() - t0) / 1e6)
    System.err.println(f"[perfbench] build: wall ${cost.wallMs}%.0f ms, task cpu ${cost.taskCpuMs}%.0f ms")
    (st, cost)
  }

  /** Manifest and on-disk size of each build stage of a fresh index. */
  private def noteBuild(dir: String): Unit = {
    buildManifest = Layers.manifest(dir)
    stageBytes = Map(
      "chunks" -> buildManifest.get("chunks").map(_.bytes).getOrElse(0L),
      "ids" -> dirBytes(IndexBuild.docsDir(dir)),
      "postings_terms" -> dirBytes(IndexBuild.termPostingsDir(dir)),
      "postings_grams" -> dirBytes(IndexBuild.gramPostingsDir(dir)),
      "dictionary" -> (dirBytes(IndexBuild.dictDir(dir)) + dirBytes(IndexBuild.gramDictDir(dir))))
  }

  /** Generate the corpus and build the index `setups` times; keep the last.
    * The first set-up of a fresh JVM is cold (class loading, JIT, Spark code
    * generation) and costs about three warm ones; the median of three is warm.
    */
  def setup(): Unit = {
    for (i <- 1 to o.setups) {
      val (_, g) = timed(trace.span("WebCorpus.generate", trace.newOp()) {
        WebCorpus.generate(spark, o.pages, o.seed, 8).write.mode("overwrite").parquet(corpusDir)
      })
      val dir = s"${o.work}/index_$i"
      val (st, b) = build(dir)
      setupS += (g.wallMs + b.wallMs) / 1000.0
      genS += g.wallMs / 1000.0
      buildCost += b
      nChunks = st.nDocs
      lastBuildMs = b.wallMs
      if (index.nonEmpty) deleteDir(index)
      index = dir
    }
    noteBuild(index)
    indexBytes = dirBytes(index)
    textBytes = spark.read.parquet(corpusDir)
      .selectExpr("sum(octet_length(text))").head().getLong(0)
  }

  /** Runs `step` until the run's seconds are used and `enough` holds; the
    * first half without spans, the second with them, so the traced run can
    * report tracing overhead.
    */
  private def loop(step: () => Unit, enough: () => Boolean = () => true): Unit = {
    val t0 = System.nanoTime()
    val end = t0 + o.seconds * 1000000000L
    val half = t0 + o.seconds * 500000000L
    while (System.nanoTime() < end || !enough()) {
      trace.active = System.nanoTime() >= half
      step()
    }
    trace.active = true
  }

  private def recordOp(c: Cost): Unit = { opCost += c; opTraced += trace.active }

  // ------------------------------------------------------------- build

  /** Repeated full builds of the same corpus into fresh directories. Each
    * build's dictionaries must equal a brute-force count over the corpus.
    */
  def runBuild(): Unit = {
    val texts = spark.read.parquet(corpusDir).select("text").as[String].collect()
    val chunks = texts.flatMap(t => Chunker.linesLenient(t).map(_.text))
    val wantDf = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val wantGramDf = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    chunks.foreach { c =>
      Tokenizer.termFreqs(c).foreach { case (t, _) => wantDf(t) += 1 }
      Gram.gramsSorted(partial = false, Seq(c)).foreach(g => wantGramDf(g) += 1)
    }
    var n = 0
    loop { () =>
      n += 1
      val dir = s"${o.work}/build_$n"
      val (st, c) = build(dir)
      recordOp(c)
      lastBuildMs = c.wallMs
      noteBuild(dir)
      val df = spark.read.parquet(IndexBuild.dictDir(dir)).select("term", "df")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val gdf = spark.read.parquet(IndexBuild.gramDictDir(dir)).select("gram", "df")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      check(st.nDocs == chunks.length, s"build $n: ${st.nDocs} chunks, want ${chunks.length}")
      check(df == wantDf.toMap, s"build $n: term dictionary differs")
      check(gdf == wantGramDf.toMap, s"build $n: gram dictionary differs")
      deleteDir(dir)
    }
  }

  // ------------------------------------------------------------- query

  def open(dir: String): Search = trace.span("Search.open") {
    val s = new Search(spark, dir, maxInlineCandidates = hydrationGate)
    s.dictLookup(Seq("the"))
    s.gramDictLookup(Seq(Gram.gramForString("the")))
    s
  }

  private def timedQuery(s: Search, q: Query): (Array[org.apache.spark.sql.Row], Cost) = {
    val (rows, c) = timed(trace.span(q.cls, trace.newOp())(Answers.run(s, q)))
    queryCost(q.cls) += c
    queryTraced += ((c.wallMs, trace.active))
    (rows, c)
  }

  /** Closed loop, one client, over an index built in set-up; it runs on
    * until every distinct query has been timed at least once.
    */
  def runQuery(): Unit = {
    val (s, oc) = timed(open(index))
    openMs += oc.wallMs
    val ref = new Answers.Reference(spark, index)
    val want = Distinct.map(q => ref.expected(s, q))
    Distinct.foreach(q => Answers.run(s, q)) // warm-up, untimed
    System.err.println("[perfbench] answers ready")
    val stream = Queries.stream(o.seed)
    loop({ () =>
      val i = stream.next()
      val q = Distinct(i)
      val (rows, c) = timedQuery(s, q)
      recordOp(c)
      distinctCost(i) += c
      val got = Answers.canonical(q, rows)
      check(Answers.matches(got, want(i)), s"${q.label}: got $got want ${want(i)}")
    }, () => distinctCost.forall(_.nonEmpty))
  }

  // ------------------------------------------------------------- churn

  /** Alternating ~1% update and ~1% delete batches, each write followed
    * by a new `Search` and a burst of the query mix. After each delete one
    * sampled BM25 query must match `bm25BruteForce`, and no BM25 or search
    * hit may ever come from a deleted url. One untimed update and delete go
    * first, so no timed write pays for the first use of the maintenance
    * code; the loop runs on until it has timed a whole merge cycle of
    * updates and a delete, and the index is measured at that point.
    */
  def runChurn(): Unit = {
    val rng = new java.util.Random(o.seed * 31L + 7L)
    val urls = (0 until o.pages).map(i => WebCorpus.makeDoc(i.toLong, o.seed).url)
    val alive = mutable.ArrayBuffer.range(0, o.pages)
    val deleted = mutable.HashSet.empty[String]
    val bm25s = Distinct.collect { case b: Bm25 => b }
    def take(n: Int): Seq[Int] = (0 until n).map { _ =>
      val j = rng.nextInt(alive.length)
      val p = alive(j); alive(j) = alive.last; alive.remove(alive.length - 1); p
    }
    def noDeleted(q: Query, rows: Array[org.apache.spark.sql.Row]): Unit = q match {
      case _: Bm25 =>
        val hit = Answers.urlsOf(spark, index, rows.map(_.getLong(0)).toSeq).filter(deleted)
        check(hit.isEmpty, s"${q.label}: hits deleted urls $hit")
      case _: SearchQ =>
        val hit = rows.map(_.getString(0)).filter(deleted)
        check(hit.isEmpty, s"${q.label}: hits deleted urls ${hit.toSeq}")
      case _ =>
    }
    var s: Search = null
    def afterWrite(record: Boolean): Unit = {
      val (s1, oc) = timed(open(index))
      s = s1
      if (record) openMs += oc.wallMs
      Burst.foreach(q => noDeleted(q, if (record) timedQuery(s, q)._1 else Answers.run(s, q)))
    }
    var step = 0
    def churnStep(record: Boolean): Unit = {
      step += 1
      val round = (step + 1) / 2
      if (step % 2 == 1) {
        val upd = take(pagesPerBatch)
        upd.foreach(alive += _)
        val ts = new java.sql.Timestamp(1700000000000L + round * 3600000L)
        val newDocs = upd.map { i =>
          val text = "updated delta words " + WebCorpus.makeText(i.toLong, o.seed + 1000L + round)
          WebCorpus.WebDoc(urls(i), ts, WebCorpus.makeHtml(urls(i), text), text, "en")
        }.toDF()
        val merges0 = Layers.manifest(index).get("seg_merge").map(_.lines).getOrElse(0)
        val (res, uc) = timed(trace.span("Maintenance.update", trace.newOp()) {
          Maintenance.update(spark, index, newDocs, cfg, partialSnapshot = true)
        })
        check(res == ((0L, upd.size.toLong, 0L)), s"round $round: update returned $res")
        if (record) {
          recordOp(uc)
          updateCost += uc
          mergedBatch += Layers.manifest(index).get("seg_merge").map(_.lines).getOrElse(0) > merges0
          updatedPages += upd.size
        }
        afterWrite(record)
      } else {
        val delUrls = take(pagesPerBatch).map(urls)
        val (_, dc) = timed(trace.span("Maintenance.delete", trace.newOp()) {
          Maintenance.delete(spark, index, delUrls)
        })
        deleted ++= delUrls
        if (record) {
          recordOp(dc)
          deleteCost += dc
          deletedUrls += delUrls.size
        }
        afterWrite(record)
        val q = bm25s(round % bm25s.length)
        val rows = Answers.run(s, q)
        val got = Answers.canonical(q, rows)
        val want = Answers.canonical(q, s.bm25BruteForce(q.args, 10, q.conjunctive).collect())
        check(Answers.matches(got, want), s"round $round ${q.label}: got $got want $want")
        noDeleted(q, rows)
      }
    }
    churnStep(record = false)
    churnStep(record = false)
    System.err.println("[perfbench] maintenance warm-up done")
    var measured = false
    loop({ () =>
      churnStep(record = true)
      if (!measured && updateCost.size >= cfg.autoMergeSegments && deleteCost.nonEmpty) {
        indexBytes = dirBytes(index)
        measured = true
      }
    }, () => measured)
  }

  def steal(): Double = {
    val (s1, t1) = stealAndTotal()
    if (t1 == steal0._2) 0.0 else (s1 - steal0._1).toDouble / (t1 - steal0._2)
  }
}
