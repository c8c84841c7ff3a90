package graft

import graft.core.{Gram, Tokenizer}
import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.functions._

/** The relational ops (pure Catalyst expressions) must agree with the core
  * engine's Scala tokenizer/gram extraction — one semantics, two engines.
  */
class OpsConsistencySpec extends SparkSuite {
  import spark.implicits._

  private val texts = Seq(
    "The fast KEY order-sort! table2 scan",
    "a", "", "  \t ", "añ b€c", "x1y2z3 9 99 . , ;;",
    "word word word different Words")

  private lazy val df = texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("TextOps words == Tokenizer.terms") {
    val sqlWords = TextOps.withWords(df).select($"doc_id", $"arr")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(sqlWords(i.toLong) == Tokenizer.terms(t).toList, s"text='$t'")
    }
  }

  test("TextOps docGrams == Gram.grams (whole-word, as strings)") {
    val sqlGrams = TextOps.docGrams(df)
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    texts.zipWithIndex.foreach { case (t, i) =>
      val expected = Gram.grams(partial = false, Seq(t)).map(Gram.gramString)
      assert(sqlGrams.getOrElse(i.toLong, Set.empty) == expected, s"text='$t'")
    }
  }

  test("jaccardPairs: df-capped candidates + exact verify == uncapped") {
    // near-dup cluster (docs 0-2 share most shingles), a hot boilerplate
    // shingle across ALL docs (df 6 > cap), and unrelated docs
    val boiler = "terms of service apply"
    val docs = Seq(
      s"alpha beta gamma delta epsilon zeta $boiler",
      s"alpha beta gamma delta epsilon eta $boiler",
      s"alpha beta gamma delta theta zeta $boiler",
      s"one two three four five six seven $boiler",
      s"red green blue cyan magenta yellow $boiler",
      s"lorem ipsum dolor sit amet consectetur $boiler")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val uncapped = graft.ops.Dedup.jaccardPairs(docs, 400, allowUncapped = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(uncapped.nonEmpty)
    for (cap <- Seq(2L, 4L)) {
      val capped = graft.ops.Dedup.jaccardPairs(docs, 400, maxShingleDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(capped == uncapped, s"cap=$cap")
    }
    // degenerate cap: every SHARED shingle has df >= 2, so cap 1 kills all
    // candidates — the cap bounds recall, never the emitted rows' values
    assert(graft.ops.Dedup.jaccardPairs(docs, 400, maxShingleDf = 1L)
      .collect().isEmpty)
  }

  test("jaccardPairs is safe by default: uncapped requires an explicit opt-in") {
    val docs = Seq((0L, "a b c d"), (1L, "a b c d")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.jaccardPairs(docs, 400)
    }
    // capped and explicitly-uncapped forms both run
    assert(graft.ops.Dedup.jaccardPairs(docs, 400, maxShingleDf = 8).count() == 1)
    assert(graft.ops.Dedup.jaccardPairs(docs, 400, allowUncapped = true).count() == 1)
  }

  test("exactDupGroups finds full-text duplicate groups (nonzero rows)") {
    val docs = Seq(
      (0L, "the same text"), (5L, "the same text"), (9L, "the same text"),
      (2L, "another dup"), (3L, "another dup"),
      (7L, "unique one"), (8L, "")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.exactDupGroups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((0L, 3L), (2L, 2L)))
  }

  test("repeatedSpans finds maximal hot-shingle runs (hand-computed fixture)") {
    // "alpha beta gamma delta epsilon" (5 words, shingle positions 1-3)
    // appears in docs 0,1,2 -> hot; each doc's surrounding words are
    // unique -> bridge shingles are cold, so the maximal span is exactly
    // positions 2..4 (after the 1-word prefix), 5 words. Doc 3 carries it
    // twice -> two spans. Doc 4 shares nothing.
    val core = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (0L, s"zero $core tail0 x0"),
      (1L, s"one $core tail1 y1"),
      (2L, s"two $core tail2 z2"),
      (3L, s"three $core mid3 w3 q3 $core end3"),
      (4L, "nothing shared here at all five")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.repeatedSpans(docs, minDocs = 3, minSpanWords = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((0L, 2L, 5L), (1L, 2L, 5L), (2L, 2L, 5L),
      (3L, 2L, 5L), (3L, 10L, 5L)))
    // a higher word floor drops the 5-word spans
    assert(graft.ops.Dedup.repeatedSpans(docs, 3, 6).collect().isEmpty)
  }

  test("stripRepeatedSpans cuts exactly the qualifying spans, token-level") {
    val core = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (0L, s"zero $core tail0 x0"),
      (1L, s"one $core tail1 y1"),
      (2L, s"two $core tail2 z2"),
      (3L, s"three $core mid3 w3 q3 $core end3"),
      (4L, "nothing shared here at all five")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.stripRepeatedSpans(docs, 3, 5).collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(got == List(
      (0L, "zero tail0 x0"), (1L, "one tail1 y1"), (2L, "two tail2 z2"),
      (3L, "three mid3 w3 q3 end3"),
      (4L, "nothing shared here at all five")))
    // below-floor spans survive in full
    assert(graft.ops.Dedup.stripRepeatedSpans(docs, 3, 6).collect()
      .map(_.getString(1)).toList ==
      docs.orderBy("doc_id").collect().map(_.getString(1)).toList
        .map(_.toLowerCase))
  }

  test("tfidfTopTerms ranks on floored micros with term tie-break") {
    val docs = Seq(
      (0L, "apple apple banana common common common"),
      (1L, "banana cherry common common"),
      (2L, "cherry cherry cherry common")).toDF("doc_id", "text")
    def micro(tf: Long, df: Long): Long =
      math.floor(tf.toDouble * math.log(3.0 / df.toDouble) * 1000000).toLong
    val got = graft.ops.TextOps.tfidfTopTerms(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toList
    // common is in all 3 docs -> ln(1) = 0 -> never beats a rarer term
    assert(got == List(
      (0L, "apple", micro(2, 1), 1L), (0L, "banana", micro(1, 2), 2L),
      (1L, "banana", micro(1, 2), 1L), (1L, "cherry", micro(1, 2), 2L),
      (2L, "cherry", micro(3, 2), 1L), (2L, "common", micro(1, 3), 2L)))
  }

  test("stratifiedSample is deterministic and respects zero-rate strata") {
    val docs = (0L until 200L)
      .map(i => (i, s"text $i", if (i % 2 == 0) "en" else "zz"))
      .toDF("doc_id", "text", "lang")
    val rates = Seq(("en", 500), ("zz", 0)).toDF("lang", "rate_permille")
    val a = graft.ops.TextOps.stratifiedSample(docs, rates).collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(a.nonEmpty && a.forall(_._2 == "en")) // zz fully dropped
    assert(a.size < 100)                          // en subsampled
    val b = graft.ops.TextOps.stratifiedSample(docs, rates).collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(a == b) // bit-stable across runs
  }

  test("dupClusters closes pair graphs into min-labeled components") {
    // path 10-20-30, pair 40-50, and a diameter-3 chain 100-200-300-400
    // (forces multiple propagation rounds)
    val pairs = Seq((20L, 10L), (20L, 30L), (40L, 50L),
      (100L, 200L), (200L, 300L), (300L, 400L)).toDF("da", "db")
    val got = graft.ops.Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L,
      50L -> 40L, 100L -> 100L, 200L -> 100L, 300L -> 100L, 400L -> 100L))
    // empty pair set -> empty output, no crash
    assert(graft.ops.Dedup.dupClusters(
      Seq.empty[(Long, Long)].toDF("da", "db")).collect().isEmpty)
  }

  test("dupClusters on a long chain returns a plan of bounded size") {
    // a 6-vertex path takes 6 hash-min rounds; without lineage cuts every
    // round's persisted labels nest the previous round's plan twice, and
    // the returned plan printed ~300k lines (18.7k on a 4-vertex path)
    val n = 6
    val pairs = (1 until n).map(i => (i.toLong, i + 1L)).toDF("da", "db")
    val got = Dedup.dupClusters(pairs)
    val lines = got.queryExecution.executedPlan.treeString.linesIterator.size
    assert(lines < 50, s"dupClusters returned a $lines-line plan")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toList ==
      (1L to n.toLong).map(_ -> 1L).toList)
  }

  test("piiScan counts and redacts emails/phones/IPs per row") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val clean = "no personal data here at all"
    val docs = Seq(
      (0L, "write a@b.com and c.d@e.org now\ncall +1 555-123-4567 ok\nip 10.1.2.3 end"),
      (1L, clean)).toDF("doc_id", "text")
    val got = TextOps.piiScan(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toList
    assert(got == List(
      (0L, 2L, 1L, 1L,
        md5hex("write [EMAIL] and [EMAIL] now\ncall [PHONE] ok\nip [IP] end")),
      (1L, 0L, 0L, 0L, md5hex(clean))))
  }

  test("cleanPipeline: sample -> strip -> redact -> length gate (hand-computed)") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val footer = "shared footer line"
    val docs = Seq(
      (0L, "en", s"mail me a@b.com please beta gamma delta\n$footer"),
      (1L, "zz", s"this stratum is dropped entirely here\n$footer"),
      (2L, "en", s"alpha beta gamma delta epsilon x2\n$footer"),
      (4L, "en", s"alpha beta gamma delta epsilon x4\n$footer"),
      (6L, "en", s"alpha beta gamma delta epsilon x6\n$footer"),
      (8L, "en", s"tiny\n$footer")).toDF("doc_id", "lang", "text")
    val rates = Seq(("en", 1000), ("zz", 0)).toDF("lang", "rate_permille")
    // footer is in >= 4 docs -> stripped; doc 1 dropped by rate 0; doc 8
    // drops to 1 token after the strip -> fails the 5-token gate; doc 0's
    // email redacts before hashing
    val got = graft.ops.TextOps.cleanPipeline(docs, rates, minDocs = 4,
        minTokens = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toList
    assert(got == List(
      (0L, "en", md5hex("mail me [EMAIL] please beta gamma delta")),
      (2L, "en", md5hex("alpha beta gamma delta epsilon x2")),
      (4L, "en", md5hex("alpha beta gamma delta epsilon x4")),
      (6L, "en", md5hex("alpha beta gamma delta epsilon x6"))))
  }

  test("domainStats aggregates canonical hosts with token totals") {
    val docs = Seq(
      (1L, "http://A.com/x", "one two three"),
      (2L, "http://a.com:80/y/", "four five"),
      (3L, "https://b.org/z?utm_source=t", "six")).toDF("doc_id", "url", "text")
    val got = TextOps.domainStats(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List(("a.com", 2L, 5L), ("b.org", 1L, 1L)))
  }

  test("doc length stats agree") {
    val dls = TextOps.docStats(df).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(dls(i.toLong) == Tokenizer.docLength(t), s"text='$t'")
    }
  }

  test("packSequences: concat-and-chunk boundaries (hand-computed fixture)") {
    // one shard (n % 1 == 0) so the stream order is just doc_id order:
    // doc 0 [0,3)  doc 1 [3,7)  doc 2 [7,13), ctx 5 =>
    //   seq 0 [0,5): docs 0+1, seq 1 [5,10): docs 1+2, seq 2 [10,13): doc 2
    val docs = Seq((0L, "a b c"), (1L, "d e f g"), (2L, "h i j k l m"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextOps.packSequences(docs, ctxLen = 5, nShards = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toList
    assert(got == List(
      (0L, 0L, 2L, 5L, 0L, 1L),
      (0L, 1L, 2L, 5L, 1L, 2L),
      (0L, 2L, 1L, 3L, 2L, 2L)))
  }

  test("packSequences: sharded run conserves tokens, one tail per shard") {
    val docs = (0L until 200L)
      .map(i => (i, (0 to (i % 7).toInt).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val total = TextOps.withWords(docs)
      .agg(sum(size(col("arr")))).collect()(0).getLong(0)
    val rows = TextOps.packSequences(docs, ctxLen = 16, nShards = 4).collect()
    assert(rows.map(_.getLong(3)).sum == total, "token conservation")
    // every sequence is full except at most one tail per shard
    val tails = rows.filter(_.getLong(3) < 16L)
    assert(tails.length <= 4)
    assert(tails.map(_.getLong(0)).distinct.length == tails.length)
    // bit-stable under a different input partitioning
    val re = TextOps.packSequences(docs.repartition(7), ctxLen = 16, nShards = 4)
    assert(re.collect().toList == rows.toList)
  }

  test("dedupLinesKeepFirst keeps only the first global occurrence") {
    val docs = Seq(
      (0L, "a\nb\nc"),
      (1L, "b\nx\n\nc"), // dup b, c removed; empty line is structural
      (2L, "c\nc\ny"),   // both c's lose to doc 0
      (3L, "a"),          // whole doc dedups away -> empty text
      (4L, "q\nq"))       // intra-doc dup: first q survives
      .toDF("doc_id", "text")
    val got = Dedup.dedupLinesKeepFirst(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(got == List((0L, "a\nb\nc"), (1L, "x\n"), (2L, "y"),
      (3L, ""), (4L, "q")))
  }

  test("hashedQualityScore == plain-Scala reimplementation of the hash") {
    def weight(w: String): Long =
      w.foldLeft(0L)((a, c) => (a * 131 + c.toLong) % 1000000007) % 2001 - 1000
    val got = TextOps.hashedQualityScore(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val score = Tokenizer.terms(t).map(weight).sum
      assert(got(i.toLong) == (score, if (score >= 0) 1L else 0L), s"text='$t'")
    }
  }

  test("nearDedupSurvivors keeps exactly one doc per near-dup component") {
    // component {0,1,2} (identical), component {5,6} (near-identical),
    // 9 unique -> survivors are the component minima + the unpaired doc
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, t1), (1L, t1), (2L, t1),
      (5L, "one two three four five six seven eight"),
      (6L, "one two three four five six seven nine"),
      (9L, "totally unrelated content with different words entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.nearDedupSurvivors(docs, 600).collect()
      .map(_.getLong(0)).toList
    assert(got == List(0L, 5L, 9L))
  }

  test("dedupLinesKeepFirst is idempotent (kept lines are globally unique)") {
    val docs = Seq(
      (0L, "a\nb\nc"), (1L, "b\nx\n\nc"), (2L, "c\nc\ny"), (3L, "a\n\n\na"))
      .toDF("doc_id", "text")
    val once = Dedup.dedupLinesKeepFirst(docs)
    val twice = Dedup.dedupLinesKeepFirst(once)
    assert(twice.collect().map(r => (r.getLong(0), r.getString(1))).toList ==
      once.collect().map(r => (r.getLong(0), r.getString(1))).toList)
  }

  test("nearDedupSurvivors is idempotent (no qualifying pair among survivors)") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, t1), (1L, t1), (2L, t1 + " iota"),
      (5L, "one two three four five six seven eight"),
      (6L, "one two three four five six seven nine"),
      (9L, "totally unrelated content with different words entirely"))
      .toDF("doc_id", "text")
    val s1 = Dedup.nearDedupSurvivors(docs, 600)
    val kept = docs.join(s1, Seq("doc_id"))
    val s2 = Dedup.nearDedupSurvivors(kept, 600)
    assert(s2.collect().map(_.getLong(0)).toList ==
      s1.collect().map(_.getLong(0)).toList)
  }

  test("vocabCoverage: top-cf vocab with term tie-break, per-doc OOV permille") {
    val docs = Seq((0L, "a a b c"), (1L, "a b b d"), (2L, "x y z"), (3L, ""))
      .toDF("doc_id", "text")
    // cf: a=3 b=3 c=d=x=y=z=1 -> top-2 = {a, b}; doc 3 has no tokens
    val got = TextOps.vocabCoverage(docs, vocabSize = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(got == List((0L, 4L, 250L), (1L, 4L, 250L), (2L, 3L, 1000L)))
  }

  test("IdHashPermilleSql: permille in [0,1000) and rate respected past the old 3.4e9 overflow bound") {
    // ids seeded at +10^12 (the north-rule doc-id magnitude): the round-5
    // form overflowed Long here, went negative, and kept every doc at ANY
    // rate. The reduce-first form must (a) stay in [0,1000), (b) agree with
    // exact BigInt arithmetic, (c) actually sample.
    val base = 1000000000000L
    val ids = (0 until 500).map(i => base + i * 2654435761L % 99991L)
    val df2 = ids.map(i => (i, "en", s"doc $i text")).toDF("doc_id", "lang", "text")
    val perm = df2.select($"doc_id",
        expr(TextOps.IdHashPermilleSql).as("p")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val want = ((BigInt(id) % 1000000007L) * 2654435761L % 1000000007L % 1000L).toLong
      assert(perm(id) == want, s"id=$id")
      assert(perm(id) >= 0 && perm(id) < 1000, s"id=$id -> ${perm(id)}")
    }
    val rates = Seq(("en", 500)).toDF("lang", "rate_permille")
    val kept = TextOps.stratifiedSample(df2, rates).collect().map(_.getLong(0)).toSet
    val wantKept = ids.filter(id => perm(id) < 500).toSet
    assert(kept == wantKept)
    assert(kept.nonEmpty && kept.size < ids.size, // a real sample, not all-kept
      s"kept ${kept.size}/${ids.size}")
    assert(TextOps.stratifiedSample(df2,
      Seq(("en", 0)).toDF("lang", "rate_permille")).count() == 0)
    // packSequences' shard hash shares the same reduce-first form: shards
    // must be non-negative at huge ids (round 5 emitted negative shards)
    val shards = TextOps.packSequences(df2, ctxLen = 8, nShards = 4)
      .select($"shard").distinct().collect().map(_.getLong(0))
    assert(shards.nonEmpty && shards.forall(s => s >= 0 && s < 4))
  }

  test("shingle/tf caches are bounded across repeated op calls (no leak)") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon eta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    // relative bound (the suite session is shared): these ops no longer
    // persist anything — intra-plan sharing comes from exchange reuse, so
    // 12 calls must leave ZERO new live cached frames; round 5 leaked one
    // per jaccardPairs call (would be +4 here)
    val before = spark.sparkContext.getPersistentRDDs.size
    (1 to 4).foreach { _ =>
      Dedup.jaccardPairs(docs, 400, maxShingleDf = 8).count()
      Dedup.minhashLshPairs(docs, 400).count()
      TextOps.vocabCoverage(docs, 3).count()
    }
    val grown = spark.sparkContext.getPersistentRDDs.size - before
    assert(grown <= 0, s"expected no new live cached frames, found $grown")
  }

  test("dedupLinesKeepFirst enforces its composite-key bound (fail fast, not aliasing)") {
    val over = (0L until 3L).map(i => (i, "ln a\nln b")).toDF("doc_id", "text")
      .union(Seq(((1L << 43) + 5L, "ln a\nln b")).toDF("doc_id", "text"))
    val e = intercept[Exception] { Dedup.dedupLinesKeepFirst(over).collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("composite key out of range")), e.toString)
    // in-bound docs still dedup normally
    val ok = Seq((0L, "x\ny"), (1L, "x\nz")).toDF("doc_id", "text")
    val got = Dedup.dedupLinesKeepFirst(ok).collect()
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(got == List((0L, "x\ny"), (1L, "z")))
  }
}
