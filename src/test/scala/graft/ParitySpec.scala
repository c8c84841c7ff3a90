package graft

import scala.util.chaining._
import graft.build.IndexBuild
import graft.query.Search
import graft.sources.WebCorpus
import scala.util.Random

/** Reference-parity end-to-end: the 6-line README corpus (README.org:27-49)
  * indexed and searched with the reference's own semantics.
  */
class ParitySpec extends SparkSuite {

  private lazy val dir = {
    val d = tmpDir("parity-idx")
    IndexBuild.build(spark, WebCorpus.readmeCorpus(spark), d,
      IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 2,
        shufflePartitions = 4))
    d
  }
  private lazy val search = new Search(spark, dir)
  /** The same index with the per-range kernels forced onto the cluster. */
  private lazy val distributed = new Search(spark, dir).tap(_.maxInlinePostings = 0)

  private val candidateQueries = Seq(Seq("the") -> false, Seq("the", "of") -> false,
    Seq("and", "you", "that") -> false, Seq(WebCorpus.Vocab(60)) -> false,
    Seq("zzqx") -> false, Seq("the", "zzqx") -> false,
    Seq("ther") -> true, Seq("wit", "he") -> true)

  test("doc ids are dense 0..n-1 in (url, chunk_seq) order") {
    val ids = spark.read.parquet(IndexBuild.docsDir(dir))
      .select("doc_id", "chunk_seq", "line")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(ids.map(_._1).toSeq == (0L until 6L))
    assert(ids.map(_._3).toSeq == Seq(1, 2, 3, 4, 5, 6)) // single url: line order
  }

  test("search 'one two': candidates are lines 5 and 6; both verified (README.org:40-49)") {
    val cands = search.candidates(Seq("one", "two")).collect().map(_.getLong(0)).sorted
    assert(cands.toSeq == Seq(4L, 5L)) // doc ids of lines 5 and 6
    val res = search.search(Seq("one", "two")).collect()
    assert(res.map(_.getAs[Int]("line")).sorted.toSeq == Seq(5, 6))
    // reference ANDs terms without adjacency — 'one three two' matches too
    assert(res.forall(_.getAs[String]("chunk_text").contains("one")))
  }

  test("candidates equal a brute-force gram-containment scan of the docs store") {
    import graft.core.Gram
    val d = tmpDir("parity-web")
    IndexBuild.build(spark, WebCorpus.generate(spark, 80, seed = 13L, partitions = 2), d,
      IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 2, shufflePartitions = 4))
    assert(spark.read.parquet(IndexBuild.gramPostingsDir(d))
      .select("range_id").distinct().count() > 1, "expected a multi-range index")
    // every chunk's whole-word grams, straight from the docs store
    val docGrams = spark.read.parquet(IndexBuild.docsDir(d)).select("doc_id", "chunk_text")
      .collect().map(r => r.getLong(0) -> Gram.gramsSorted(partial = false, Seq(r.getString(1))))
    def covering(args: Seq[String], partial: Boolean): Seq[Long] = {
      val qg = Gram.gramsSorted(partial, args)
      if (qg.isEmpty) Seq.empty
      else docGrams.iterator.filter { case (_, g) =>
        qg.forall(x => java.util.Arrays.binarySearch(g, x) >= 0)
      }.map(_._1).toSeq.sorted
    }
    // twice over, forward then backward: repeated keys come from the driver
    // placement's segment cache
    for (s <- Seq(new Search(spark, d), new Search(spark, d).tap(_.maxInlinePostings = 0));
         (args, partial) <- candidateQueries ++ candidateQueries.reverse) {
      val got = s.candidates(args, partial).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == covering(args, partial), s"query $args partial=$partial")
    }
    // the queries exercise both outcomes: hits and an empty answer
    assert(covering(Seq("the"), partial = false).nonEmpty)
    assert(covering(Seq("zzqx"), partial = false).isEmpty)
  }

  test("after an update and a delete: candidates and fuzzy equal a brute-force scan in every placement") {
    import graft.core.Gram
    val d = ChurnedIndex(spark, tmpDir("parity-churned"),
      WebCorpus.generate(spark, 80, seed = 13L, partitions = 2),
      IndexBuild.Config(nBuckets = 4, nRanges = 4, docParts = 2, shufflePartitions = 4))
    val dead = ChurnedIndex.deadIds(spark, d)
    assert(dead.nonEmpty)
    val all = spark.read.parquet(IndexBuild.docsDir(d)).select("doc_id", "chunk_text")
      .collect().map(r => r.getLong(0) -> Gram.gramsSorted(partial = false, Seq(r.getString(1))))
    val indexed = all.iterator.flatMap(_._2).toSet // the gram dictionary's keys
    val live = all.filter { case (id, _) => !dead.contains(id) }
    def hits(qg: Array[Int], g: Array[Int]) = qg.count(x => java.util.Arrays.binarySearch(g, x) >= 0)
    def covering(args: Seq[String], partial: Boolean): Seq[Long] = {
      val qg = Gram.gramsSorted(partial, args)
      if (qg.isEmpty) Seq.empty
      else live.collect { case (id, g) if hits(qg, g) == qg.length => id }.toSeq.sorted
    }
    def overlapping(args: Seq[String], minRatio: Double): Seq[(Long, Long, Double)] = {
      val qg = Gram.gramsSorted(partial = true, args)
      if (qg.isEmpty || !qg.forall(indexed.contains)) Seq.empty
      else live.toSeq.map { case (id, g) => (id, hits(qg, g).toLong, hits(qg, g) / qg.length.toDouble) }
        .filter { case (_, h, r) => h > 0 && r >= minRatio }.sortBy(_._1)
    }
    val searches = Seq(new Search(spark, d), new Search(spark, d).tap(_.maxInlinePostings = 0),
      new Search(spark, d, maxInlineTombstones = 0))
    val fuzzyQueries = Seq(Seq("the") -> 1.0, Seq("quagga", "wallaby") -> 0.5,
      Seq("there", "with") -> 0.6, Seq("zzqx", "the") -> 0.1)
    // the driver placement answers twice, its keys then cached
    for ((s, i) <- searches.zipWithIndex :+ (searches.head -> 0)) {
      for ((args, partial) <- candidateQueries :+ (Seq("quagga") -> false)) {
        val got = s.candidates(args, partial).collect().map(_.getLong(0)).sorted.toSeq
        assert(got == covering(args, partial), s"search $i: candidates $args partial=$partial")
      }
      for ((args, minRatio) <- fuzzyQueries) {
        val got = s.fuzzy(args, minRatio).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
        assert(got == overlapping(args, minRatio), s"search $i: fuzzy $args $minRatio")
      }
    }
    // the queries see both live hits and tombstoned ones
    assert(covering(Seq("quagga"), partial = false).nonEmpty)
    assert(all.exists { case (id, g) =>
      dead.contains(id) && hits(Gram.gramsSorted(partial = false, Seq("the")), g) > 0 })
  }

  test("search single term 'one' hits lines 1, 5, 6") {
    val res = search.search(Seq("one")).collect().map(_.getAs[Int]("line")).sorted
    assert(res.toSeq == Seq(1, 5, 6))
  }

  test("missing gram short-circuits to empty (reference exits 1, fts-lmdb.go:1506-1508)") {
    assert(search.candidates(Seq("zzqx")).count() == 0)
    assert(search.search(Seq("zzqx")).count() == 0)
  }

  test("whole-word verify rejects substring-only candidates") {
    // 'our' grams (.OU OUR UR.) — OUR/UR. appear in 'four' but '.OU' does not
    // (word-boundary gram), so candidate set is already empty; 'fou' partial
    // candidates exist but verify must reject non-whole-word
    val res = search.search(Seq("fou"), partial = false)
    assert(res.count() == 0)
    val resP = search.search(Seq("fou"), partial = true)
    assert(resP.collect().map(_.getAs[Int]("line")).sorted.toSeq == Seq(3, 4))
  }

  test("fuzzy overlap scoring (fts-lmdb.go:1530-1550): partial grams, ratio filter") {
    // query 'three' partial grams: THR HRE REE — line 2,5,6 contain 'three'
    for (s <- Seq(search, distributed)) {
      val rows = s.fuzzy(Seq("three"), 1.0).collect()
      assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 4L, 5L))
      assert(rows.forall(_.getAs[Double]("ratio") == 1.0))
    }
  }

  test("fuzzy result framing: per-group best-match-first; -sort global (ratio asc, url asc)") {
    // args 'three four': partial grams THR HRE REE FOU OUR (5). Lines with
    // 'three' score 3/5, lines with 'four' score 2/5.
    val perGroup = search.fuzzySearch(Seq("three", "four"), 0.3).collect()
    assert(perGroup.nonEmpty)
    // within the single url, ratios are non-increasing with rank
    val ranked = perGroup.map(r => (r.getAs[Int]("rn"), r.getAs[Double]("ratio")))
    assert(ranked.map(_._1).toSeq == (1 to ranked.length))
    ranked.sliding(2).foreach {
      case Array((_, r1), (_, r2)) => assert(r1 >= r2)
      case _ =>
    }
    assert(ranked.head._2 == 0.6 && ranked.last._2 == 0.4)
    // per-group limit applies to the score-ranked frame
    assert(search.fuzzySearch(Seq("three", "four"), 0.3, limitPerGroup = 2).count() == 2)
    // global -sort: ascending ratio, ties by url/doc_id (sortFuzzy)
    val g = search.fuzzySearch(Seq("three", "four"), 0.3, sortGlobal = true).collect()
    // rn is Long in global mode (prefix-sum rank, not a window row_number)
    val gRanked = g.map(r => (r.getAs[Long]("rn"), r.getAs[Double]("ratio"), r.getAs[Long]("doc_id")))
    assert(gRanked.map(_._1).toSeq == (1L to g.length))
    gRanked.sliding(2).foreach {
      case Array((_, r1, d1), (_, r2, d2)) =>
        assert(r1 < r2 || (r1 == r2 && d1 < d2))
      case _ =>
    }
  }

  test("file-cover search (-file mode): AND across args, OR across chunks") {
    // url has 'one' (line 1) and 'five' (line 4) in different chunks
    assert(search.searchFiles(Seq("one", "five")).count() == 1)
    assert(search.searchFiles(Seq("one", "zzz")).count() == 0)
  }

  test("per-group limit truncates within url (reference -limit)") {
    assert(search.search(Seq("one"), limitPerGroup = 2).count() == 2)
  }

  test("inline-id and shuffle-join hydration paths return identical results") {
    // inline gate 0: shuffle-joined ids, from the driver kernels' local
    // relation or, with posting gate 0 too, from the distributed kernels
    val joinPaths = Seq(new Search(spark, dir, maxInlineCandidates = 0),
      new Search(spark, dir, maxInlineCandidates = 0).tap(_.maxInlinePostings = 0))
    for (q <- Seq(Seq("one"), Seq("one", "two")); joinPath <- joinPaths) {
      val a = search.search(q).collect().map(_.toSeq).toSeq
      val b = joinPath.search(q).collect().map(_.toSeq).toSeq
      assert(a == b, s"query $q")
    }
  }

  test("inline search orders urls by UTF-8 bytes and limits per url like the join path") {
    import spark.implicits._
    // UTF-16 order would put U+1F600 (a surrogate pair) before U+FFFF
    val urls = Seq("u\uFFFF", "u\uD83D\uDE00", "ua", "uZ")
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val d = tmpDir("utf8-idx")
    IndexBuild.build(spark, urls.map(u => (u, ts, "alpha beta\ngamma\nalpha delta\n", "en"))
      .toDF("url", "warc_ts", "text", "lang"), d,
      IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 2, shufflePartitions = 4))
    val inline = new Search(spark, d)
    val joined = new Search(spark, d, maxInlineCandidates = 0)
    for (limit <- Seq(Int.MaxValue, 1)) {
      val a = inline.search(Seq("alpha"), limitPerGroup = limit).collect().map(_.toSeq).toSeq
      val b = joined.search(Seq("alpha"), limitPerGroup = limit).collect().map(_.toSeq).toSeq
      assert(a == b, s"limit $limit")
      val want = Seq("uZ", "ua", "u\uFFFF", "u\uD83D\uDE00")
        .flatMap(u => Seq.fill(if (limit == 1) 1 else 2)(u))
      assert(a.map(_.head) == want, s"limit $limit")
    }
  }

  test("regex result filter drops non-matching chunks (reference -filter)") {
    val all = search.search(Seq("one")).count()
    val filtered = search.search(Seq("one"), filterRegex = Some("three"))
    assert(all == 3 && filtered.count() == 2) // lines 5 and 6 contain 'three'
  }

  test("info stats reflect the corpus (totalInfo analog)") {
    val r = search.info().head()
    assert(r.getAs[Long]("n_urls") == 1L)
    assert(r.getAs[Long]("n_chunks") == 6L)
    assert(r.getAs[Long]("total_terms") == 12L) // 12 words in the corpus
  }

  test("org-mode index end-to-end: chunkMode=org chunks by element and is searchable (S3)") {
    import spark.implicits._
    val orgText =
      "* Heading one\n" +
      "A paragraph about spark\nand indexes.\n\n" +
      "#+begin_src scala\nval engine = wand\n#+end_src\n" +
      "- list item alpha\n" +
      "| tbl | row |\n"
    val docs = Seq(("org://a", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
      orgText, "en")).toDF("url", "warc_ts", "text", "lang")
    val d = tmpDir("org-idx")
    IndexBuild.build(spark, docs, d, IndexBuild.Config(nBuckets = 4,
      nRanges = 2, docParts = 2, shufflePartitions = 4,
      chunkMode = IndexBuild.ChunkMode.Org))
    val rows = spark.read.parquet(IndexBuild.docsDir(d))
      .select("chunk_seq", "line", "byte_start", "byte_len", "chunk_text")
      .collect().sortBy(_.getInt(0))
    // engine chunks must equal the core chunker's (reference indexOrg
    // semantics, fts-lmdb.go:546-576)
    val expected = graft.core.OrgChunker.chunks(orgText)
    assert(rows.length == expected.length)
    rows.zip(expected).foreach { case (r, c) =>
      assert(r.getAs[String]("chunk_text") == c.text)
      assert(r.getAs[Int]("line") == c.line)
      assert(r.getAs[Long]("byte_start") == c.byteStart)
      assert(r.getAs[Long]("byte_len") == c.byteLen)
    }
    // element classes: headline / paragraph / block / list item / table line
    assert(expected.map(_.text).head == "* Heading one")
    assert(expected.exists(_.text.startsWith("#+begin_src")))
    // and the index is queryable: 'spark' appears in the paragraph element
    val s = new Search(spark, d)
    val hit = s.search(Seq("spark")).collect()
    assert(hit.length == 1 && hit.head.getAs[String]("chunk_text").contains("paragraph"))
    // block content is indexed too (blocks swallow to the terminator)
    assert(s.search(Seq("wand")).count() == 1)
  }

  test("info -groups analog: per-url totals + validity flag") {
    val g = search.infoGroups().collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("n_chunks") == 6L)
    assert(g.head.getAs[Long]("sum_dl") == 12L)
    assert(!g.head.getAs[Boolean]("deleted"))
    val chunks = search.infoChunks(g.head.getAs[String]("url")).collect()
    assert(chunks.length == 6 && chunks.map(_.getAs[Int]("line")).toSeq == (1 to 6))
  }

  test("explicit-gram candidates equal term-derived candidates (search -grams)") {
    val grams = graft.core.Gram.gramsSorted(partial = false, Seq("one", "two"))
    val byGrams = search.candidatesByGrams(grams.toSeq).collect().map(_.getLong(0)).sorted
    val byTerms = search.candidates(Seq("one", "two")).collect().map(_.getLong(0)).sorted
    assert(byGrams.toSeq == byTerms.toSeq)
    // literal parse forms (gramFor fts-lmdb.go:780-793)
    import graft.core.Gram
    assert(Gram.parseGram(".TH") == Gram.gramForString(".TH"))
    assert(Gram.parseGram(f"${Gram.gramForString(".TH")}%04x", hex = true) == Gram.gramForString(".TH"))
    assert(Gram.parseGram(Gram.gramForString(".TH").toString, dec = true) == Gram.gramForString(".TH"))
  }

  test("html extraction invariant: byte-identical text per url") {
    val r = new Random(6)
    (1 to 100).foreach { _ =>
      // sample whole code points (a lone surrogate can't round-trip UTF-8)
      val alphabet = Seq("a", "b", "<", ">", "&", "\"", " ", "€", "ñ", "😀", "\n", "\t", "z")
      val text = (0 to r.nextInt(80)).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
      assert(WebCorpus.extractText(WebCorpus.makeHtml("u", text)) == text)
    }
    // and over the generated corpus rows themselves
    val rows = WebCorpus.generate(spark, 50, seed = 7L, partitions = 2).collect()
    rows.foreach { row =>
      val html = row.getAs[Array[Byte]]("html")
      val text = row.getAs[String]("text")
      assert(WebCorpus.extractText(html) == text)
    }
  }
}
