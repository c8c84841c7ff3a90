package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.build.IndexBuild
import graft.core.Gram
import graft.ops.{Dedup, Similarity, TextOps}
import graft.query.Search

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + training-data ops), each with a DuckDB oracle over the
  * same parquet tables. Engine-backed entries (q10+) run the REAL inverted
  * index + WAND engine over a temp index built once per sf dir; the oracle
  * re-derives the same answer relationally in SQL.
  *
  * Determinism rules used throughout: integer permille/micro outputs via
  * integer division (`div` == DuckDB `//`) or floor of identically-shaped
  * double folds; every result has a total ORDER BY; every integer column is
  * cast to BIGINT to match DuckDB's int64.
  */
object SparkEntry {

  // bump when the on-disk index format changes (invalidates temp indexes)
  private final val IndexFormatVersion = 9
  private val indexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def docsTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** documents with deterministic synthetic boilerplate appended: one
    * footer shared by every doc, one by even doc_ids (q44/q45 inputs —
    * the natural corpus has almost no verbatim-repeated lines).
    */
  private def footered(spark: SparkSession, dir: String): DataFrame =
    docsTable(spark, dir).select(col("doc_id"),
      concat(col("text"), lit("\ncopyright example corp all rights reserved"),
        when(col("doc_id") % 2 === 0, lit("\nsubscribe to our newsletter"))
          .otherwise(lit(""))).as("text"))

  /** documents with deterministic exact duplicates seeded: every 53rd doc
    * reappears verbatim under doc_id + 10^7 (q20 input — the natural corpus
    * has NO exact full-text duplicates, which left q20 vacuously green on
    * two empty sets until round 4's verdict flagged it).
    */
  private def dupSeeded(spark: SparkSession, dir: String): DataFrame = {
    val d = docsTable(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 53 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
  }

  /** documents with TWO generations of exact clones seeded (every 53rd doc
    * at +10^7, every 106th ALSO at +2*10^7), so near-dup components of size
    * 2 AND 3 exist — the connected-components input (q51). The natural
    * corpus contributes its own >= 900-permille near-dup edges on top.
    */
  private def dupSeeded2(spark: SparkSession, dir: String): DataFrame = {
    val d = docsTable(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(d.where(col("doc_id") % 53 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .unionAll(d.where(col("doc_id") % 106 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
  }

  /** documents with deterministic PII seeded per doc_id: an email for every
    * doc, a phone for even ids, an IPv4 for ids % 3 == 0 (q52 input — the
    * natural corpus contains none of these shapes). Digit groups are
    * arithmetically forced to fixed widths (100..999, 1000..9999) so the
    * bounded-repetition regexes match without padding functions.
    */
  private def piiSeeded(spark: SparkSession, dir: String): DataFrame =
    docsTable(spark, dir).select(col("doc_id"), concat(
      col("text"),
      lit("\ncontact user"), col("doc_id").cast("string"),
      lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".example.com"),
      when(col("doc_id") % 2 === 0, concat(lit("\ncall +1 555-"),
        (col("doc_id") % 900 + 100).cast("string"), lit("-"),
        (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0, concat(lit("\nhost 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 250).cast("string"))).otherwise(lit("")))
      .as("text"))

  /** documents with BOTH the shared boilerplate footers of [[footered]] and
    * the per-doc PII lines of [[piiSeeded]] appended (footer lines first) —
    * the q54 cleaning-pipeline input, exercising strip and redaction in one
    * corpus while keeping `lang` for the sampling stage.
    */
  private def cleanInput(spark: SparkSession, dir: String): DataFrame =
    docsTable(spark, dir).select(col("doc_id"), col("lang"), concat(
      col("text"),
      lit("\ncopyright example corp all rights reserved"),
      when(col("doc_id") % 2 === 0, lit("\nsubscribe to our newsletter"))
        .otherwise(lit("")),
      lit("\ncontact user"), col("doc_id").cast("string"),
      lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".example.com"),
      when(col("doc_id") % 2 === 0, concat(lit("\ncall +1 555-"),
        (col("doc_id") % 900 + 100).cast("string"), lit("-"),
        (col("doc_id") % 9000 + 1000).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0, concat(lit("\nhost 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 250).cast("string"))).otherwise(lit("")))
      .as("text"))

  /** q42's candidate-generation df cap. Calibrated: the worst qualifying
    * pair's MIN shared-shingle df is 4 (sf0.001), 3 (sf0.01), 10 (sf0.1) —
    * Verify re-derives that number per corpus via
    * [[graft.ops.Dedup.requiredShingleDfCap]] and fails with a distinct
    * "cap miscalibrated" message if a regenerated corpus outgrows this.
    */
  final val JaccardOracleCap = 16L

  /** Build (once) a whole-doc-chunk index over documents.parquet.
    * url = zero-padded doc_id so engine doc ids == documents.doc_id.
    */
  def indexFor(spark: SparkSession, sfDir: String): String =
    indexCache.getOrElseUpdate(sfDir, {
      val dir = s"/tmp/graft_index_v${IndexFormatVersion}_" +
        sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      if (!graft.build.Manifest.exists(dir)) {
        val docs = docsTable(spark, sfDir).select(
          format_string("doc://%012d", col("doc_id")).as("url"),
          lit("2020-01-01 00:00:00").cast("timestamp").as("warc_ts"),
          col("text"), col("lang"))
        IndexBuild.build(spark, docs, dir, IndexBuild.Config(
          nBuckets = 8, nRanges = 8, docParts = 8, shufflePartitions = 16,
          chunkMode = IndexBuild.ChunkMode.Doc))
      }
      dir
    })

  private def engine(spark: SparkSession, sfDir: String): Search =
    new Search(spark, indexFor(spark, sfDir))

  /** Deterministic org-mode corpus derived from documents.parquet tokens: a
    * fixed 6-line template (headline, 2-line paragraph, blank, list item,
    * keyword) whose element boundaries/offsets are analytically computable,
    * so the DuckDB oracle can verify the engine's org chunking end-to-end.
    * Words are lowercase ASCII-alnum (no org metacharacters), indexed
    * modulo the doc's token count.
    */
  private def orgDocs(spark: SparkSession, dir: String): DataFrame = {
    val d = docsTable(spark, dir)
      .withColumn("arr", graft.ops.TextOps.wordsCol)
      .where(size(col("arr")) >= 1)
    def w(i: Int) = element_at(col("arr"), pmod(lit(i), size(col("arr"))) + 1)
    d.select(
      format_string("doc://%012d", col("doc_id")).as("url"),
      lit("2020-01-01 00:00:00").cast("timestamp").as("warc_ts"),
      concat(lit("* "), w(0), lit(" "), w(1), lit("\n"),
        w(2), lit(" "), w(3), lit("\n"), w(4), lit("\n\n- "),
        w(5), lit(" "), w(6), lit("\n#+title: "), w(7)).as("text"),
      col("lang"))
  }

  /** Build (once) an org-chunked index over the synthesized org corpus. */
  def orgIndexFor(spark: SparkSession, sfDir: String): String =
    indexCache.getOrElseUpdate(sfDir + "#org", {
      val dir = s"/tmp/graft_index_v${IndexFormatVersion}_org_" +
        sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      if (!graft.build.Manifest.exists(dir)) {
        IndexBuild.build(spark, orgDocs(spark, sfDir), dir, IndexBuild.Config(
          nBuckets = 8, nRanges = 8, docParts = 8, shufflePartitions = 16,
          chunkMode = IndexBuild.ChunkMode.Org))
      }
      dir
    })

  /** engine doc_id (dense by padded url) == documents.doc_id; still parse
    * from the url for robustness.
    */
  private def urlToDocId = expr("CAST(substring(url, 7) AS long)")

  // shared fixed query constants (embedded in the oracles below)
  private val QTerms = Seq("batch", "order", "window") // lex order
  private val FuzzyArgs = Seq("window", "scan")
  private val FuzzyGrams = Gram.gramsSorted(partial = true, FuzzyArgs).map(Gram.gramString)
  private val CandGramCodes = Gram.gramsSorted(partial = false, Seq("order", "batch")).toSeq
  private val CandGrams = CandGramCodes.map(Gram.gramString)

  /** Flagship: conjunctive BM25 top-10 through the WAND engine on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val s = engine(spark, "/root/testdata/sf0.001")
    s.bm25TopK(QTerms, 10, conjunctive = true)
  }

  private def bm25Out(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      expr("CAST(floor(score * 1000000) AS long)").as("score_micro"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- tokenizer / dictionary / stats (P1/P2/A2/A3/A4/A5/A7)
    "q01_terms_df" -> ((s, d) => TextOps.termDf(docsTable(s, d))),
    "q02_doc_stats" -> ((s, d) => TextOps.docStats(docsTable(s, d))
      .select(col("doc_id"), col("dl").cast("long"), col("n_terms").cast("long"))),
    "q03_gram_df" -> ((s, d) => TextOps.gramDf(docsTable(s, d))),
    "q04_gram_histogram" -> ((s, d) => TextOps.gramHistogram(docsTable(s, d))),
    "q05_corpus_info" -> ((s, d) => TextOps.corpusInfo(docsTable(s, d))),
    // ---- relational search shapes (J1/J4/P4/W1/W5)
    "q06_search_relational" -> ((s, d) =>
      TextOps.searchAnd(docsTable(s, d), Seq("order", "batch"))),
    "q07_cover_sources" -> ((s, d) =>
      TextOps.coverSources(docsTable(s, d), QTerms)),
    "q08_topk_per_source" -> ((s, d) =>
      TextOps.topKPerSource(docsTable(s, d), 3)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rn").cast("long"))),
    // ---- engine-backed: real index + candidates/verify/fuzzy/BM25-WAND
    "q10_candidates" -> ((s, d) => {
      val e = engine(s, d)
      val docs = IndexBuild.readTable(s, indexFor(s, d), IndexBuild.DocsTable)
      e.candidates(Seq("order", "batch")).join(docs.select("doc_id", "url"), "doc_id")
        .select(urlToDocId.as("doc_id")).orderBy("doc_id")
    }),
    "q11_search_and" -> ((s, d) =>
      engine(s, d).search(Seq("order", "batch"))
        .select(urlToDocId.as("doc_id")).orderBy("doc_id")),
    "q12_search_partial" -> ((s, d) =>
      engine(s, d).search(Seq("bat"), partial = true)
        .select(urlToDocId.as("doc_id")).orderBy("doc_id")),
    "q13_fuzzy" -> ((s, d) => {
      val e = engine(s, d)
      val docs = IndexBuild.readTable(s, indexFor(s, d), IndexBuild.DocsTable)
      e.fuzzy(FuzzyArgs, 0.5).join(docs.select("doc_id", "url"), "doc_id")
        .select(urlToDocId.as("doc_id"), col("hits").cast("long"),
          expr(s"CAST((hits * 1000) div ${FuzzyGrams.length} AS long)").as("permille"))
        .orderBy("doc_id")
    }),
    "q14_bm25_disjunctive" -> ((s, d) =>
      bm25Out(engine(s, d).bm25TopK(QTerms, 10, conjunctive = false))),
    "q15_bm25_conjunctive" -> ((s, d) =>
      bm25Out(engine(s, d).bm25TopK(QTerms, 10, conjunctive = true))),
    // ---- maintenance shapes (M1-M3)
    "q16_update_diff" -> ((s, d) => TextOps.updateDiff(docsTable(s, d))),
    "q17_compacted_df" -> ((s, d) => TextOps.compactedDf(docsTable(s, d))),
    // ---- dedup suite
    "q19_dedup_prefix" -> ((s, d) => Dedup.prefixDupGroups(docsTable(s, d), 8)),
    // over the dup-seeded corpus so the operator proves itself on nonzero
    // rows (the natural corpus has no exact duplicates)
    "q20_dedup_exact" -> ((s, d) => Dedup.exactDupGroups(dupSeeded(s, d))),
    "q21_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(docsTable(s, d), 500, allowUncapped = true)),
    // capped candidate generation + exact verify: agrees with q21 whenever
    // every qualifying pair shares at least one shingle with df <= cap.
    // Measured worst qualifying pair's MIN shared-shingle df: 4 (sf0.001),
    // 3 (sf0.01), 10 (sf0.1); max shingle df 9/7/25 — cap 16 drops 669
    // hot shingles at sf0.1 yet preserves every qualifying pair at all
    // three scales; Verify's self-check re-measures per corpus
    "q42_jaccard_capped" -> ((s, d) =>
      Dedup.jaccardPairs(docsTable(s, d), 500, maxShingleDf = JaccardOracleCap)),
    // ---- boilerplate-line detection + removal (C4-style cleaning) over a
    // corpus with a synthetic shared footer (every doc) and a second
    // footer on even doc_ids — plus whatever lines repeat naturally
    "q44_boilerplate_lines" -> ((s, d) =>
      TextOps.boilerplateLines(footered(s, d), minDocs = 3)),
    "q45_strip_boilerplate" -> ((s, d) =>
      TextOps.stripBoilerplate(footered(s, d), minDocs = 3)),
    // ---- Gopher-style repetition quality signals over the footered
    // corpus (the shared footer makes dup-line fractions non-trivial)
    "q47_repetition_signals" -> ((s, d) =>
      TextOps.repetitionSignals(footered(s, d))),
    // ---- URL canonicalization over deterministically messy urls (mixed
    // case, default ports, trailing slashes, utm params, fragments) — the
    // crawl-dedup key function
    "q46_url_canonical" -> ((s, d) =>
      docsTable(s, d).select(col("doc_id"),
          TextOps.canonicalizeUrl(messyUrl).as("url_canon"))
        .orderBy("doc_id")),
    // ---- benchmark decontamination: corpus docs sharing >= 2 shingles
    // with a synthetic "eval suite" (every 53rd doc's 12-word prefix) —
    // benchmark side broadcasts, corpus scanned once
    "q43_decontamination" -> ((s, d) => {
      val bench = TextOps.withWords(docsTable(s, d))
        .where(col("doc_id") % 53 === 0)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", slice(col("arr"), 1, 12)).as("text"))
      Dedup.contaminationPairs(docsTable(s, d), bench, minCommon = 2)
    }),
    "q22_minhash_lsh_pairs" -> ((s, d) => Dedup.minhashLshPairs(docsTable(s, d), 600)),
    "q23_simhash" -> ((s, d) => Dedup.simhash(docsTable(s, d))),
    // ---- ExactSubstr-style repeated spans over the footered corpus (the
    // shared footers + natural prefix dups make nonzero maximal spans)
    "q49_repeated_spans" -> ((s, d) =>
      Dedup.repeatedSpans(footered(s, d), minDocs = 3, minSpanWords = 5)),
    // ---- the trim itself: same corpus, qualifying spans cut token-level
    "q55_strip_repeated_spans" -> ((s, d) =>
      Dedup.stripRepeatedSpans(footered(s, d), minDocs = 3, minSpanWords = 5)),
    // ---- tf-idf keyword extraction (integer-micro ranked)
    "q56_tfidf_keywords" -> ((s, d) =>
      TextOps.tfidfTopTerms(docsTable(s, d), 3)),
    // ---- deterministic stratified sampling (data-mixing weights): fixed
    // per-lang permille rates incl. a 0 (dropped stratum)
    "q50_stratified_sample" -> ((s, d) => {
      import s.implicits._
      val rates = Seq(("en", 500), ("de", 250), ("es", 250), ("fr", 125),
        ("zh", 0)).toDF("lang", "rate_permille")
      TextOps.stratifiedSample(docsTable(s, d), rates)
    }),
    // ---- near-dup clustering: connected components over exact-Jaccard
    // >= 900 permille pairs of the doubly-dup-seeded corpus (components of
    // size 2 and 3 by construction; exact edges keep the oracle exact —
    // production composes dupClusters with minhashLshPairs instead)
    "q51_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(Dedup.jaccardPairs(dupSeeded2(s, d), 900,
        allowUncapped = true))),
    // ---- PII scan over deterministically seeded emails/phones/IPs
    "q52_pii_scan" -> ((s, d) => TextOps.piiScan(piiSeeded(s, d))),
    // ---- flagship composition: detect boilerplate corpus-wide, sample
    // strata map-side, strip + redact + length-gate only the kept docs
    "q54_clean_pipeline" -> ((s, d) => {
      import s.implicits._
      val rates = Seq(("en", 500), ("de", 250), ("es", 250), ("fr", 125),
        ("zh", 0)).toDF("lang", "rate_permille")
      TextOps.cleanPipeline(cleanInput(s, d), rates, minDocs = 3,
        minTokens = 5)
    }),
    // ---- per-domain mix report over the canonicalized messy urls
    "q53_domain_stats" -> ((s, d) => TextOps.domainStats(
      docsTable(s, d).select(col("doc_id"), messyUrl.as("url"), col("text")))),
    // ---- sequence packing: concat-and-chunk into 128-token training
    // contexts across 4 hash shards
    "q57_pack_sequences" -> ((s, d) =>
      TextOps.packSequences(docsTable(s, d), ctxLen = 128, nShards = 4)),
    // ---- CCNet-style keep-first line dedup over the footered corpus
    // (shared footers dedup to their first occurrence only)
    "q58_dedup_lines" -> ((s, d) =>
      Dedup.dedupLinesKeepFirst(footered(s, d))),
    // ---- hashed linear quality model (fastText-shape plumbing)
    "q59_quality_model" -> ((s, d) =>
      TextOps.hashedQualityScore(docsTable(s, d))),
    // ---- vocabulary coverage / OOV rate vs the top-64 cf vocabulary
    "q60_vocab_coverage" -> ((s, d) =>
      TextOps.vocabCoverage(docsTable(s, d), vocabSize = 64)),
    // ---- the one-call near-dup dedup composition: MinHash-LSH pairs ->
    // component closure -> keep-one survivors (doubly-dup-seeded corpus,
    // 600-permille threshold — q22's proven banding-coverage regime)
    "q61_neardup_survivors" -> ((s, d) =>
      Dedup.nearDedupSurvivors(dupSeeded2(s, d), 600)),
    // ---- similarity search
    "q24_ann_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(embTable(s, d), 3, 5)
        .select(col("query_id"), col("neighbor_id"), col("cos_permille"),
          col("rn").cast("long"))),
    "q25_ann_lsh_buckets" -> ((s, d) =>
      Similarity.lshBuckets(embTable(s, d)).orderBy("vec_id")),
    // ---- text analysis
    "q26_lang_id" -> ((s, d) => TextOps.langId(docsTable(s, d))),
    "q27_quality" -> ((s, d) => TextOps.qualityScore(docsTable(s, d))
      .select(col("doc_id"), col("n_tokens").cast("long"),
        col("len_chars").cast("long"), col("avg_wordlen_permille"),
        col("alpha_permille"), col("stopword_permille"))),
    "q28_token_counts" -> ((s, d) => TextOps.tokenCounts(docsTable(s, d))
      .select(col("doc_id"), col("ws_tokens").cast("long"),
        col("bpe_ish_tokens").cast("long"))),
    "q29_fingerprint" -> ((s, d) => TextOps.fingerprint(docsTable(s, d))),
    // ---- org-mode chunking end-to-end (S3): engine build with
    // chunkMode=org over the synthesized org corpus; oracle recomputes the
    // template's element boundaries analytically
    "q30_org_chunks" -> ((s, d) =>
      IndexBuild.readTable(s, orgIndexFor(s, d), IndexBuild.DocsTable)
        .select(urlToDocId.as("doc_id"), col("chunk_seq").cast("long"),
          col("line").cast("long"), col("rune_off"), col("rune_len"),
          col("byte_start"), col("byte_len"), col("chunk_text"))
        .orderBy("doc_id", "chunk_seq")),
    // ---- explicit-gram candidates (reference search -candidates -grams)
    "q31_candidates_by_grams" -> ((s, d) => {
      val e = engine(s, d)
      val docs = IndexBuild.readTable(s, indexFor(s, d), IndexBuild.DocsTable)
      e.candidatesByGrams(CandGramCodes)
        .join(docs.select("doc_id", "url"), "doc_id")
        .select(urlToDocId.as("doc_id")).orderBy("doc_id")
    }),
    // ---- per-group info view (reference info -groups)
    "q32_info_groups" -> ((s, d) =>
      engine(s, d).infoGroups()
        .select(urlToDocId.as("doc_id"), col("n_chunks").cast("long"),
          col("sum_dl"), col("sum_grams"),
          col("deleted").cast("long").as("deleted"))
        .orderBy("doc_id")),
    // ---- fuzzy global ordering (reference -fuzzy -sort, W2/W4)
    "q33_fuzzy_sorted" -> ((s, d) =>
      engine(s, d).fuzzySearch(FuzzyArgs, 0.5, sortGlobal = true)
        .select(urlToDocId.as("doc_id"), col("hits").cast("long"),
          expr(s"CAST((hits * 1000) div ${FuzzyGrams.length} AS long)").as("permille"),
          col("rn").cast("long"))
        .orderBy("rn")),
    // ---- SimHash Hamming-banded near-dup pairs
    "q34_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(docsTable(s, d), bands = 5, maxHamming = 1)),
    // ---- full-fidelity gram coverage CDF (reference info -grams)
    "q35_gram_coverage" -> ((s, d) => engine(s, d).gramCoverage()),
    // ---- LSH near-dup vector pairs (banded SRP collide -> exact verify)
    "q36_lsh_neardup_pairs" -> ((s, d) =>
      Similarity.lshNearDupPairs(embTable(s, d), 400)),
    // ---- IVF ANN: probe nearest coarse clusters, exact re-rank inside
    "q37_ann_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(embTable(s, d), nQueries = 3, k = 5, nProbe = 3)),
    // ---- IVF ANN over Lloyd-TRAINED coarse centroids: the fixed-point
    // long-accumulation kernel is bit-reproducible, so the oracle unrolls
    // the same k-means in SQL (assignment argmax + floor(v*2^24+0.5) sums
    // + s/2^24/n means) — no centroid literals, works at every SF
    "q48_ann_ivf_trained" -> ((s, d) =>
      Similarity.ivfTopK(embTable(s, d), nQueries = 3, k = 5, nProbe = 3,
        trainIters = 2)),
    // ---- multimodal decode plumbing: binary payloads -> batched decode;
    // the engine PARSES the binary headers, the oracle re-derives the same
    // values analytically from the generator formula — an end-to-end
    // encode->decode roundtrip check (feature vectors stay spec-tested)
    "q38_multimodal_features" -> ((s, _) =>
      graft.ops.Multimodal.extractFeatures(
          graft.ops.Multimodal.generate(s, 2000, partitions = 8)).toDF()
        .select(col("media_id"), col("kind"), col("width").cast("long"),
          col("height").cast("long"), col("n_frames").cast("long"),
          col("bytes_len").cast("long"))
        .orderBy("media_id")),
    // ---- image resize: decode -> nearest-neighbor /2 -> RE-ENCODE, then
    // round-trip the resized bytes through the feature extractor's decoder
    // (dims/sizes below are parsed from the re-encoded containers)
    "q62_multimodal_resize" -> ((s, _) =>
      graft.ops.Multimodal.extractFeatures(
          graft.ops.Multimodal.resizeImages(
            graft.ops.Multimodal.generate(s, 2000, partitions = 8), factor = 2))
        .toDF()
        .select(col("media_id"), col("kind"), col("width").cast("long"),
          col("height").cast("long"), col("bytes_len").cast("long"))
        .orderBy("media_id")),
    // ---- video frame-sampling plan (relational, no decode needed)
    "q39_frame_plan" -> ((s, _) =>
      graft.ops.Multimodal.sampleFramePlan(
          graft.ops.Multimodal.generate(s, 2000, partitions = 8).toDF(), everyK = 3)
        .select(col("media_id"), col("frame_idx").cast("long"))
        .orderBy("media_id", "frame_idx")),
    // ---- search-time staleness (reference findBadFiles + search -f):
    // current snapshot drops doc_id%17==0 (missing) and re-stamps
    // doc_id%10==0 (stale); fresh search excludes both
    "q40_search_fresh" -> ((s, d) => {
      val cur = docsTable(s, d)
        .where(col("doc_id") % 17 =!= 0)
        .select(format_string("doc://%012d", col("doc_id")).as("url"),
          when(col("doc_id") % 10 === 0, lit("2021-01-01 00:00:00"))
            .otherwise(lit("2020-01-01 00:00:00")).cast("timestamp").as("warc_ts"))
      engine(s, d).searchFresh(Seq("order", "batch"), cur)
        .select(urlToDocId.as("doc_id")).orderBy("doc_id")
    }),
    // ---- file-cover search over the ORG index (J4 engine path): a url
    // matches iff EVERY arg is whole-word-contained in SOME of its org
    // chunks (AND across args, OR across chunks — 4 chunks per doc make
    // the cover non-degenerate); oracle recomputes the chunk texts
    "q41_files_cover_org" -> ((s, d) =>
      new Search(s, orgIndexFor(s, d)).searchFiles(Seq("order", "batch"))
        .select(urlToDocId.as("doc_id")).orderBy("doc_id"))
  )

  // ---------------------------------------------------------------- oracles

  /** Deterministically messy url per doc (q46 input). */
  private def messyUrl = concat(
    lit("HTTP://ExAmple"), (col("doc_id") % 7).cast("string"), lit(".COM"),
    when(col("doc_id") % 3 === 0, ":80").otherwise(""),
    lit("/path/"), (col("doc_id") % 11).cast("string"),
    when(col("doc_id") % 2 === 0, "/").otherwise(""),
    when(col("doc_id") % 5 === 0, "?utm_source=x&b=2&a=1").otherwise("?b=2&a=1"),
    when(col("doc_id") % 4 === 0, "#frag").otherwise(""))

  /** Messy url + full canonicalization chain — the SQL mirror of
    * [[messyUrl]] + [[graft.ops.TextOps.canonicalizeUrl]], shared by
    * q46/q53. Yields `c(doc_id, url_canon)`.
    */
  private val CanonCte =
    """WITH m AS (SELECT doc_id,
         'HTTP://ExAmple' || (doc_id % 7) || '.COM' ||
         CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END ||
         '/path/' || (doc_id % 11) ||
         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&b=2&a=1' ELSE '?b=2&a=1' END ||
         CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS u
         FROM documents),
       s1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS nf FROM m),
       s2 AS (SELECT doc_id, nf,
         regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS pre FROM s1),
       s3 AS (SELECT doc_id, lower(pre) AS sh, substr(nf, length(pre) + 1) AS rest FROM s2),
       s4 AS (SELECT doc_id,
         CASE WHEN starts_with(sh, 'http://') THEN regexp_replace(sh, ':80$', '')
              WHEN starts_with(sh, 'https://') THEN regexp_replace(sh, ':443$', '')
              ELSE sh END AS sh2,
         regexp_replace(regexp_extract(rest, '^[^?]*', 0), '/+$', '') AS path,
         array_to_string(list_sort(list_filter(
           string_split(regexp_extract(rest, '^[^?]*[?](.*)$', 1), '&'),
           p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=|$)'))), '&') AS q2
         FROM s3),
       c AS (SELECT doc_id,
         sh2 || path || CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS url_canon
         FROM s4)"""

  /** documents + synthetic boilerplate — the SQL mirror of [[footered]]. */
  private val FooterCte =
    """WITH f AS (SELECT doc_id,
         text || chr(10) || 'copyright example corp all rights reserved' ||
         CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our newsletter'
              ELSE '' END AS text
       FROM documents)"""

  private val W =
    "SELECT doc_id, list_filter(string_split_regex(lower(text), '[^0-9a-z]+'), x -> x <> '') AS arr FROM documents"
  private val TOK = s"SELECT doc_id, unnest(arr) AS term FROM ($W)"
  private val GRAMS =
    s"""SELECT DISTINCT doc_id, substr(p, i, 3) AS gram
        FROM (SELECT doc_id, '.' || upper(term) || '.' AS p FROM ($TOK)),
             unnest(range(1, length(p) - 1)) AS u(i)"""

  private def ww(t: String) = s"regexp_matches(lower(text), '(^|[^0-9a-z])$t([^0-9a-z]|$$)')"
  private def inList(xs: Seq[String]) = xs.map("'" + _ + "'").mkString(", ")

  private val BM25Scored =
    s"""WITH w AS ($W),
        dl AS (SELECT doc_id, len(arr) AS dl FROM w),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                         CAST((SELECT sum(len(arr)) FROM w) AS DOUBLE) / count(*) AS avgdl
                  FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM ($TOK)
               WHERE term IN (${inList(QTerms)}) GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        scored AS (
          SELECT tf.doc_id,
                 sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) * (1.2 + 1)
                     * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)))) AS s,
                 count(*) AS nt
          FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
          GROUP BY tf.doc_id)"""

  private val ShingleCte =
    s"""WITH w AS ($W),
        sh AS (SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(list_transform(range(1, len(arr) - 1),
            i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS s
          FROM w WHERE len(arr) >= 3)),
        cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        jac AS (SELECT da, db, (common * 1000) // (ca.n + cb.n - common) AS jaccard_permille
                FROM pairs JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db)"""

  /** DuckDB cosine with the same left-to-right fold as the Spark-side
    * `aggregate` expressions (Similarity.cosineDoubleExpr) — identical
    * operation sequence, identical doubles.
    */
  private def cosSqlRaw(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(1, len($a) + 1),
           i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, v) -> acc + v)
       / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform($a, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))
       / sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform($b, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))"""

  private val CosExpr = cosSqlRaw("qe", "ne") + " * 1000"

  def oracleSql: Map[String, String] = Map(
    "q01_terms_df" ->
      s"SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM ($TOK) GROUP BY term ORDER BY term",
    "q02_doc_stats" ->
      s"SELECT doc_id, len(arr) AS dl, len(list_distinct(arr)) AS n_terms FROM ($W) ORDER BY doc_id",
    "q03_gram_df" ->
      s"SELECT gram, count(*) AS df FROM ($GRAMS) GROUP BY gram ORDER BY gram",
    "q04_gram_histogram" ->
      s"""SELECT CAST(floor(log2(df)) AS BIGINT) AS df_bucket, count(*) AS n_grams
          FROM (SELECT gram, count(*) AS df FROM ($GRAMS) GROUP BY gram)
          GROUP BY 1 ORDER BY 1""",
    "q05_corpus_info" ->
      s"""SELECT count(*) AS n_docs, count(DISTINCT source) AS n_sources,
          CAST((SELECT sum(len(arr)) FROM ($W)) AS BIGINT) AS total_tokens,
          CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents""",
    "q06_search_relational" ->
      s"SELECT doc_id FROM documents WHERE ${ww("order")} AND ${ww("batch")} ORDER BY doc_id",
    "q07_cover_sources" ->
      s"""SELECT source FROM documents GROUP BY source
          HAVING ${QTerms.map(t => s"bool_or(${ww(t)})").mkString(" AND ")}
          ORDER BY source""",
    "q08_topk_per_source" ->
      s"""SELECT source, doc_id, n_chars, rn FROM (
            SELECT source, doc_id, n_chars,
                   row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents) WHERE rn <= 3 ORDER BY source, rn""",
    "q10_candidates" ->
      s"""SELECT doc_id FROM ($GRAMS) WHERE gram IN (${inList(CandGrams.toSeq)})
          GROUP BY doc_id HAVING count(*) = ${CandGrams.length} ORDER BY doc_id""",
    "q11_search_and" ->
      s"SELECT doc_id FROM documents WHERE ${ww("order")} AND ${ww("batch")} ORDER BY doc_id",
    "q12_search_partial" ->
      "SELECT doc_id FROM documents WHERE lower(text) LIKE '%bat%' ORDER BY doc_id",
    "q13_fuzzy" ->
      s"""SELECT doc_id, count(*) AS hits,
          (count(*) * 1000) // ${FuzzyGrams.length} AS permille
          FROM ($GRAMS) WHERE gram IN (${inList(FuzzyGrams.toSeq)})
          GROUP BY doc_id HAVING count(*) * 2 >= ${FuzzyGrams.length} ORDER BY doc_id""",
    "q14_bm25_disjunctive" ->
      s"""$BM25Scored SELECT doc_id, CAST(floor(s * 1000000) AS BIGINT) AS score_micro
          FROM scored ORDER BY s DESC, doc_id LIMIT 10""",
    "q15_bm25_conjunctive" ->
      s"""$BM25Scored SELECT doc_id, CAST(floor(s * 1000000) AS BIGINT) AS score_micro
          FROM scored WHERE nt = ${QTerms.size} ORDER BY s DESC, doc_id LIMIT 10""",
    "q16_update_diff" ->
      "SELECT doc_id FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id",
    "q17_compacted_df" ->
      s"""SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
          FROM (SELECT doc_id, unnest(arr) AS term FROM ($W) WHERE doc_id % 7 <> 0)
          GROUP BY term ORDER BY term""",
    "q19_dedup_prefix" ->
      s"""SELECT min(doc_id) AS keeper, count(*) AS n_dups FROM ($W)
          GROUP BY array_to_string(arr[1:8], ' ') HAVING count(*) > 1 ORDER BY keeper""",
    "q20_dedup_exact" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 10000000, text FROM documents
                    WHERE doc_id % 53 = 0)
         SELECT min(doc_id) AS keeper, count(*) AS n_dups FROM d
         GROUP BY text HAVING count(*) > 1 ORDER BY keeper""",
    "q21_jaccard_pairs" ->
      s"$ShingleCte SELECT da, db, jaccard_permille FROM jac WHERE jaccard_permille >= 500 ORDER BY da, db",
    // the capped path reports TRUE Jaccard for every pair it emits, and at
    // cap 16 emits every qualifying pair on these corpora -> same oracle
    "q42_jaccard_capped" ->
      s"$ShingleCte SELECT da, db, jaccard_permille FROM jac WHERE jaccard_permille >= 500 ORDER BY da, db",
    "q47_repetition_signals" ->
      s"""$FooterCte,
          w AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
            '[^0-9a-z]+'), x -> x <> '') AS arr FROM f),
          ls AS (SELECT doc_id, list_filter(string_split(text, chr(10)),
            x -> x <> '') AS ls FROM f),
          l2 AS (SELECT doc_id, len(ls) AS nl, len(list_distinct(ls)) AS ndl
                 FROM ls),
          bg AS (SELECT doc_id, unnest(list_transform(range(1, len(arr)),
            i -> arr[i] || ' ' || arr[i+1])) AS b FROM w WHERE len(arr) >= 2),
          top AS (SELECT doc_id, max(c) AS maxc, sum(c)::BIGINT AS nb FROM (
            SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1)
          SELECT l2.doc_id,
            CASE WHEN nl = 0 THEN 0 ELSE ((nl - ndl) * 1000) // nl END
              AS dup_line_permille,
            coalesce((maxc * 1000) // nb, 0) AS top_bigram_permille
          FROM l2 LEFT JOIN top ON l2.doc_id = top.doc_id
          ORDER BY l2.doc_id""",
    "q46_url_canonical" ->
      s"$CanonCte SELECT doc_id, url_canon FROM c ORDER BY doc_id",
    "q44_boilerplate_lines" ->
      s"""$FooterCte,
          l AS (SELECT DISTINCT doc_id, line FROM (
            SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
              x -> x <> '')) AS line FROM f))
          SELECT line, count(*) AS n_docs FROM l
          GROUP BY 1 HAVING count(*) >= 3 ORDER BY line""",
    "q45_strip_boilerplate" ->
      s"""$FooterCte,
          l AS (SELECT DISTINCT doc_id, line FROM (
            SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
              x -> x <> '')) AS line FROM f)),
          bp AS (SELECT list(line) AS bp FROM (
            SELECT line FROM l GROUP BY 1 HAVING count(*) >= 3))
          SELECT doc_id, array_to_string(list_filter(string_split(f.text, chr(10)),
            x -> NOT list_contains(coalesce(bp.bp, []), x)), chr(10)) AS text
          FROM f, bp ORDER BY doc_id""",
    "q43_decontamination" ->
      s"""WITH w AS ($W),
          sh AS (SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(arr) - 1),
              i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS s
            FROM w WHERE len(arr) >= 3)),
          bw AS (SELECT doc_id AS bench_id, arr[1:12] AS arr FROM w
                 WHERE doc_id % 53 = 0),
          bsh AS (SELECT DISTINCT bench_id, s FROM (
            SELECT bench_id, unnest(list_transform(range(1, len(arr) - 1),
              i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS s
            FROM bw WHERE len(arr) >= 3))
          SELECT sh.doc_id, bsh.bench_id, count(*) AS common
          FROM sh JOIN bsh ON sh.s = bsh.s
          GROUP BY 1, 2 HAVING count(*) >= 2
          ORDER BY doc_id, bench_id""",
    "q22_minhash_lsh_pairs" ->
      s"$ShingleCte SELECT da, db, jaccard_permille FROM jac WHERE jaccard_permille >= 600 ORDER BY da, db",
    "q49_repeated_spans" ->
      s"""$FooterCte,
          w AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
            '[^0-9a-z]+'), x -> x <> '') AS arr FROM f),
          p AS (SELECT doc_id, i AS pos, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
                FROM w, unnest(range(1, len(arr) - 1)) u(i)
                WHERE len(arr) >= 3),
          hot AS (SELECT s FROM p GROUP BY s HAVING count(DISTINCT doc_id) >= 3),
          m AS (SELECT doc_id, pos FROM p JOIN hot USING (s)),
          r AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM m)
          SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                 CAST(max(pos) - min(pos) + 3 AS BIGINT) AS span_words
          FROM r GROUP BY doc_id, grp
          HAVING max(pos) - min(pos) + 3 >= 5
          ORDER BY doc_id, span_start""",
    "q55_strip_repeated_spans" ->
      s"""$FooterCte,
          w AS (SELECT doc_id, list_filter(string_split_regex(lower(text),
            '[^0-9a-z]+'), x -> x <> '') AS arr FROM f),
          p AS (SELECT doc_id, i AS pos, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS s
                FROM w, unnest(range(1, len(arr) - 1)) u(i)
                WHERE len(arr) >= 3),
          hot AS (SELECT s FROM p GROUP BY s HAVING count(DISTINCT doc_id) >= 3),
          m AS (SELECT doc_id, pos FROM p JOIN hot USING (s)),
          r AS (SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                FROM m),
          sp AS (SELECT doc_id, min(pos) AS st, max(pos) - min(pos) + 3 AS nw
                 FROM r GROUP BY doc_id, grp
                 HAVING max(pos) - min(pos) + 3 >= 5),
          rmp AS (SELECT doc_id, flatten(list(range(st, st + nw))) AS rmp
                  FROM sp GROUP BY doc_id)
          SELECT w.doc_id AS doc_id, coalesce(array_to_string(list_filter(arr,
            (x, i) -> NOT list_contains(coalesce(rmp.rmp, []), i)), ' '), '') AS text
          FROM w LEFT JOIN rmp ON w.doc_id = rmp.doc_id
          ORDER BY w.doc_id""",
    "q56_tfidf_keywords" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM ($TOK) GROUP BY 1, 2),
          df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents),
          sc AS (SELECT doc_id, term,
                 CAST(floor(CAST(tf AS DOUBLE) *
                   ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) * 1000000)
                   AS BIGINT) AS score_micro
                 FROM tf JOIN df USING (term), n),
          rk AS (SELECT doc_id, term, score_micro,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY score_micro DESC, term) AS rn FROM sc)
          SELECT doc_id, term, score_micro, rn FROM rk WHERE rn <= 3
          ORDER BY doc_id, rn""",
    "q50_stratified_sample" ->
      """WITH rates(lang, rate_permille) AS (VALUES
           ('en', 500), ('de', 250), ('es', 250), ('fr', 125), ('zh', 0))
         SELECT doc_id, lang FROM documents JOIN rates USING (lang)
         WHERE (doc_id * 2654435761) % 1000000007 % 1000 < rate_permille
         ORDER BY doc_id""",
    "q51_dup_clusters" ->
      """WITH RECURSIVE d2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
           UNION ALL SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 106 = 0),
         w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^0-9a-z]+'), x -> x <> '') AS arr FROM d2),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(arr) - 1),
             i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS s
           FROM w WHERE len(arr) >= 3)),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jac AS (SELECT da, db FROM pairs
                 JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
                 WHERE (common * 1000) // (ca.n + cb.n - common) >= 900),
         e AS (SELECT da AS v, db AS n FROM jac UNION SELECT db, da FROM jac),
         reach(v, n) AS (SELECT v, n FROM e
                         UNION SELECT r.v, e2.n FROM reach r JOIN e e2 ON r.n = e2.v)
         SELECT CAST(v AS BIGINT) AS doc_id,
                CAST(least(v, min(n)) AS BIGINT) AS cluster_id
         FROM reach GROUP BY v ORDER BY doc_id""",
    "q52_pii_scan" ->
      """WITH p AS (SELECT doc_id,
           text || chr(10) || 'contact user' || CAST(doc_id AS VARCHAR) ||
           '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
           CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'call +1 555-' ||
             CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
             CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END ||
           CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'host 10.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
             CAST(doc_id % 250 AS VARCHAR) ELSE '' END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
             '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')) AS redacted_md5
         FROM p ORDER BY doc_id""",
    "q54_clean_pipeline" ->
      """WITH ci AS (SELECT doc_id, lang,
           text || chr(10) || 'copyright example corp all rights reserved' ||
           CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END ||
           chr(10) || 'contact user' || CAST(doc_id AS VARCHAR) ||
           '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' ||
           CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'call +1 555-' ||
             CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
             CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END ||
           CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'host 10.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
             CAST(doc_id % 250 AS VARCHAR) ELSE '' END AS text
           FROM documents),
         l AS (SELECT DISTINCT doc_id, line FROM (
           SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
             x -> x <> '')) AS line FROM ci)),
         bp AS (SELECT list(line) AS bp FROM (
           SELECT line FROM l GROUP BY 1 HAVING count(*) >= 3)),
         rates(lang, rate_permille) AS (VALUES
           ('en', 500), ('de', 250), ('es', 250), ('fr', 125), ('zh', 0)),
         kept AS (SELECT doc_id, lang, text FROM ci JOIN rates USING (lang)
                  WHERE (doc_id * 2654435761) % 1000000007 % 1000 < rate_permille),
         st AS (SELECT doc_id, lang, array_to_string(list_filter(
                  string_split(text, chr(10)),
                  x -> NOT list_contains(coalesce(bp.bp, []), x)), chr(10)) AS text
                FROM kept, bp),
         red AS (SELECT doc_id, lang, regexp_replace(regexp_replace(regexp_replace(text,
                  '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
                  '\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
                  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS text
                 FROM st)
         SELECT doc_id, lang, md5(text) AS clean_md5 FROM red
         WHERE len(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
           x -> x <> '')) >= 5
         ORDER BY doc_id""",
    "q53_domain_stats" ->
      s"""$CanonCte, w AS ($W)
          SELECT regexp_extract(url_canon, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(arr)) AS BIGINT) AS sum_tokens
          FROM c JOIN w USING (doc_id)
          GROUP BY 1 ORDER BY 1""",
    "q57_pack_sequences" ->
      s"""WITH w AS ($W),
          d AS (SELECT doc_id, (doc_id * 2654435761) % 1000000007 % 4 AS shard,
                       CAST(len(arr) AS BIGINT) AS dl
                FROM w WHERE len(arr) > 0),
          s AS (SELECT doc_id, shard, dl,
                CAST(sum(dl) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS e
                FROM d),
          x AS (SELECT shard, doc_id, e - dl AS st, e, seq_id
                FROM s, unnest(range((e - dl) // 128, (e - 1) // 128 + 1)) u(seq_id))
          SELECT shard, seq_id, count(*) AS n_docs,
                 CAST(sum(least(e, (seq_id + 1) * 128) -
                          greatest(st, seq_id * 128)) AS BIGINT) AS n_tokens,
                 min(doc_id) AS first_doc, max(doc_id) AS last_doc
          FROM x GROUP BY 1, 2 ORDER BY 1, 2""",
    "q58_dedup_lines" ->
      s"""$FooterCte,
          la AS (SELECT doc_id, i - 1 AS idx, ls[i] AS line
                 FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM f),
                      unnest(range(1, len(ls) + 1)) u(i)),
          l AS (SELECT doc_id, idx, line FROM la WHERE line <> ''),
          k AS (SELECT line, min(doc_id * 1048576 + idx) AS keep_k
                FROM l GROUP BY line),
          r AS (SELECT doc_id, idx FROM l JOIN k USING (line)
                WHERE doc_id * 1048576 + idx <> keep_k),
          kept AS (SELECT la.doc_id, la.idx, la.line FROM la
                   LEFT JOIN r ON la.doc_id = r.doc_id AND la.idx = r.idx
                   WHERE r.idx IS NULL),
          agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
                  FROM kept GROUP BY doc_id)
          -- LEFT JOIN from f: a doc whose EVERY line is a later duplicate
          -- still appears, with empty text (8 such docs at sf0.1)
          SELECT f.doc_id, coalesce(agg.text, '') AS text
          FROM f LEFT JOIN agg USING (doc_id) ORDER BY f.doc_id""",
    "q59_quality_model" ->
      s"""WITH w AS ($W),
          s AS (SELECT doc_id,
                list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(arr, t ->
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(t) + 1),
                      i -> CAST(unicode(substr(t, i, 1)) AS BIGINT))),
                    (a, c) -> (a * 131 + c) % 1000000007) % 2001 - 1000)),
                  (acc, v) -> acc + v) AS model_score
                FROM w)
          SELECT doc_id, model_score,
                 CAST(CASE WHEN model_score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
          FROM s ORDER BY doc_id""",
    "q60_vocab_coverage" ->
      s"""WITH t AS ($TOK),
          v AS (SELECT term, 1 AS iv FROM t GROUP BY term
                ORDER BY count(*) DESC, term LIMIT 64),
          j AS (SELECT doc_id, iv FROM t LEFT JOIN v USING (term)),
          a AS (SELECT doc_id, count(*) AS n_tokens, count(iv) AS in_vocab
                FROM j GROUP BY doc_id)
          SELECT doc_id, n_tokens,
                 (n_tokens - in_vocab) * 1000 // n_tokens AS oov_permille
          FROM a ORDER BY doc_id""",
    // survivors = docs minus non-minimum members of >=600-permille
    // exact-Jaccard components (banding provably generates every
    // qualifying pair in this regime — the q22 oracle equality)
    "q61_neardup_survivors" ->
      """WITH RECURSIVE d2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
           UNION ALL SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 106 = 0),
         w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^0-9a-z]+'), x -> x <> '') AS arr FROM d2),
         sh AS (SELECT DISTINCT doc_id, s FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(arr) - 1),
             i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS s
           FROM w WHERE len(arr) >= 3)),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jac AS (SELECT da, db FROM pairs
                 JOIN cnt ca ON ca.doc_id = da JOIN cnt cb ON cb.doc_id = db
                 WHERE (common * 1000) // (ca.n + cb.n - common) >= 600),
         e AS (SELECT da AS v, db AS n FROM jac UNION SELECT db, da FROM jac),
         reach(v, n) AS (SELECT v, n FROM e
                         UNION SELECT r.v, e2.n FROM reach r JOIN e e2 ON r.n = e2.v),
         cl AS (SELECT v, least(v, min(n)) AS cluster_id FROM reach GROUP BY v)
         SELECT CAST(d2.doc_id AS BIGINT) AS doc_id
         FROM d2 LEFT JOIN cl ON d2.doc_id = cl.v
         WHERE cl.v IS NULL OR cl.cluster_id = d2.doc_id
         ORDER BY doc_id""",
    "q23_simhash" ->
      s"""WITH w AS ($W),
          tf AS (SELECT doc_id, term, count(*) AS f FROM ($TOK) GROUP BY 1, 2),
          h AS (SELECT doc_id, f,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split_regex(term, ''), c -> CAST(unicode(c) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 1000000007) AS hv FROM tf),
          bits AS (SELECT doc_id, b.i AS bit,
                   sum(CASE WHEN (hv >> CAST(b.i AS INT)) & 1 = 1 THEN f ELSE -f END) AS v
                   FROM h, (SELECT unnest(range(0, ${Dedup.SimHashBits})) AS i) b
                   GROUP BY 1, 2)
          SELECT doc_id,
                 CAST(sum(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id ORDER BY doc_id""",
    "q24_ann_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
          c AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings WHERE vec_id >= 3),
          s AS (SELECT query_id, neighbor_id,
                CAST(floor($CosExpr) AS BIGINT) AS cos_permille FROM q, c)
          SELECT query_id, neighbor_id, cos_permille, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_permille DESC, neighbor_id) AS rn FROM s)
          WHERE rn <= 5 ORDER BY query_id, rn""",
    "q25_ann_lsh_buckets" -> {
      val bitExprs = (0 until Similarity.LshPlanes).map { i =>
        s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(1, len(embedding) + 1), j ->
                CAST(embedding[j] AS DOUBLE) *
                (CASE WHEN ((CAST(j - 1 AS BIGINT) * 19349663 + $i * 73856093) % 97) % 2 = 0
                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))),
              (acc, v) -> acc + v) >= 0
            THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END"""
      }.mkString(" + ")
      s"SELECT vec_id, CAST($bitExprs AS BIGINT) AS bucket FROM embeddings ORDER BY vec_id"
    },
    "q26_lang_id" -> {
      // char-trigram profile counts, same derived lists as TextOps.langId
      val profCols = TextOps.LangProfiles.map { case (lang, gs) =>
        val inList = gs.map(g => "'" + g + "'").mkString(",")
        s"""CASE WHEN length(t) < 3 THEN 0 ELSE
              len(list_filter(list_transform(range(1, length(t) - 1),
                i -> substr(t, i, 3)), x -> x IN ($inList))) END AS c_$lang"""
      }.mkString(",\n            ")
      val langs = TextOps.LangProfiles.map(_._1)
      val bestOf = s"greatest(${langs.map("c_" + _).mkString(", ")})"
      val nWinners = langs
        .map(l => s"CASE WHEN c_$l = best THEN 1 ELSE 0 END").mkString(" + ")
      val pick = langs.init
        .map(l => s"WHEN c_$l = best THEN '$l'").mkString(" ") +
        s" ELSE '${langs.last}'"
      s"""WITH c AS (SELECT doc_id, $profCols
            FROM (SELECT doc_id, lower(text) AS t FROM documents)),
          g AS (SELECT *, $bestOf AS best FROM c)
          SELECT doc_id, CASE
            WHEN best = 0 THEN 'und'
            WHEN ($nWinners) > 1 THEN 'und'
            $pick END AS pred_lang
          FROM g ORDER BY doc_id"""
    },
    "q27_quality" ->
      s"""SELECT doc_id, len(arr) AS n_tokens, length(text) AS len_chars,
          CASE WHEN len(arr) = 0 THEN 0 ELSE
            (list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(arr, w -> length(w))), (a, v) -> a + v) * 1000) // len(arr) END AS avg_wordlen_permille,
          (length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 1000) // greatest(length(text), 1) AS alpha_permille,
          CASE WHEN len(arr) = 0 THEN 0 ELSE
            (len(list_filter(arr, w -> w IN ('the', 'of', 'and', 'to', 'in', 'a', 'is'))) * 1000) // len(arr) END AS stopword_permille
          FROM (SELECT d.doc_id, d.text, w.arr FROM documents d JOIN ($W) w USING (doc_id))
          ORDER BY doc_id""",
    "q28_token_counts" ->
      s"""SELECT doc_id,
          len(list_filter(string_split_regex(text, '[ \\t\\n]+'), x -> x <> '')) AS ws_tokens,
          len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
          FROM documents ORDER BY doc_id""",
    "q29_fingerprint" ->
      s"""SELECT doc_id, CASE WHEN len(arr) = 0 THEN 0 ELSE
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(arr, w -> CAST(unicode(substr(w, 1, 1)) AS BIGINT) * 1000 + length(w))),
            (acc, v) -> (acc * 131 + v) % 1000000007) END AS fp
          FROM ($W) ORDER BY doc_id""",
    // org template: "* w1 w2\nw3 w4\nw5\n\n- w6 w7\n#+title: w8" chunks into
    // HEADLINE(line1) / PARAGRAPH(lines2-3) / LIST_ITEM(line5) / KEYWORD(line6)
    // with analytic offsets (ASCII words: rune == byte)
    "q30_org_chunks" ->
      s"""WITH w AS ($W),
          base AS (SELECT doc_id, arr, len(arr) AS n FROM w WHERE len(arr) >= 1),
          ws AS (SELECT doc_id,
            arr[(0 % n) + 1] AS w1, arr[(1 % n) + 1] AS w2,
            arr[(2 % n) + 1] AS w3, arr[(3 % n) + 1] AS w4,
            arr[(4 % n) + 1] AS w5, arr[(5 % n) + 1] AS w6,
            arr[(6 % n) + 1] AS w7, arr[(7 % n) + 1] AS w8 FROM base),
          ls AS (SELECT *, length(w1) AS l1, length(w2) AS l2, length(w3) AS l3,
                 length(w4) AS l4, length(w5) AS l5, length(w6) AS l6,
                 length(w7) AS l7, length(w8) AS l8 FROM ws)
          SELECT doc_id, CAST(chunk_seq AS BIGINT) AS chunk_seq,
                 CAST(line AS BIGINT) AS line, CAST(rune_off AS BIGINT) AS rune_off,
                 CAST(rune_len AS BIGINT) AS rune_len, CAST(byte_start AS BIGINT) AS byte_start,
                 CAST(byte_len AS BIGINT) AS byte_len, chunk_text FROM (
            SELECT doc_id, 0 AS chunk_seq, 1 AS line, 0 AS rune_off,
                   3 + l1 + l2 AS rune_len, 0 AS byte_start, 3 + l1 + l2 AS byte_len,
                   '* ' || w1 || ' ' || w2 AS chunk_text FROM ls
            UNION ALL
            SELECT doc_id, 1, 2, 4 + l1 + l2, l3 + l4 + l5 + 2,
                   4 + l1 + l2, l3 + l4 + l5 + 2,
                   w3 || ' ' || w4 || chr(10) || w5 FROM ls
            UNION ALL
            SELECT doc_id, 2, 5, 8 + l1 + l2 + l3 + l4 + l5, 3 + l6 + l7,
                   8 + l1 + l2 + l3 + l4 + l5, 3 + l6 + l7,
                   '- ' || w6 || ' ' || w7 FROM ls
            UNION ALL
            SELECT doc_id, 3, 6, 12 + l1 + l2 + l3 + l4 + l5 + l6 + l7, 9 + l8,
                   12 + l1 + l2 + l3 + l4 + l5 + l6 + l7, 9 + l8,
                   '#+title: ' || w8 FROM ls)
          ORDER BY doc_id, chunk_seq""",
    "q31_candidates_by_grams" ->
      s"""SELECT doc_id FROM ($GRAMS) WHERE gram IN (${inList(CandGrams.toSeq)})
          GROUP BY doc_id HAVING count(*) = ${CandGrams.length} ORDER BY doc_id""",
    "q32_info_groups" ->
      s"""WITH w AS ($W),
          g AS (SELECT doc_id, count(*) AS n_grams FROM ($GRAMS) GROUP BY doc_id)
          SELECT w.doc_id, CAST(1 AS BIGINT) AS n_chunks,
                 CAST(len(w.arr) AS BIGINT) AS sum_dl,
                 CAST(coalesce(g.n_grams, 0) AS BIGINT) AS sum_grams,
                 CAST(0 AS BIGINT) AS deleted
          FROM w LEFT JOIN g ON w.doc_id = g.doc_id ORDER BY w.doc_id""",
    "q33_fuzzy_sorted" ->
      s"""WITH f AS (
            SELECT doc_id, count(*) AS hits,
                   (count(*) * 1000) // ${FuzzyGrams.length} AS permille
            FROM ($GRAMS) WHERE gram IN (${inList(FuzzyGrams.toSeq)})
            GROUP BY doc_id HAVING count(*) * 2 >= ${FuzzyGrams.length})
          SELECT doc_id, CAST(hits AS BIGINT) AS hits,
                 CAST(permille AS BIGINT) AS permille,
                 CAST(row_number() OVER (ORDER BY hits ASC, doc_id ASC) AS BIGINT) AS rn
          FROM f ORDER BY rn""",
    "q34_simhash_pairs" ->
      s"""WITH w AS ($W),
          tf AS (SELECT doc_id, term, count(*) AS f FROM ($TOK) GROUP BY 1, 2),
          h AS (SELECT doc_id, f,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(string_split_regex(term, ''), c -> CAST(unicode(c) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 1000000007) AS hv FROM tf),
          bits AS (SELECT doc_id, b.i AS bit,
                   sum(CASE WHEN (hv >> CAST(b.i AS INT)) & 1 = 1 THEN f ELSE -f END) AS v
                   FROM h, (SELECT unnest(range(0, ${Dedup.SimHashBits})) AS i) b
                   GROUP BY 1, 2),
          sims AS (SELECT doc_id,
                   CAST(sum(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
                   FROM bits GROUP BY doc_id),
          banded AS (SELECT doc_id, simhash, b.i AS band,
                     (simhash >> CAST(b.i * 6 AS INT)) & 63 AS bkey
                     FROM sims, (SELECT unnest(range(0, 5)) AS i) b),
          cands AS (SELECT DISTINCT a.doc_id AS da, a.simhash AS sa,
                           b.doc_id AS db, b.simhash AS sb
                    FROM banded a JOIN banded b
                    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
          SELECT da, db, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
          FROM cands WHERE bit_count(xor(sa, sb)) <= 1 ORDER BY da, db""",
    "q35_gram_coverage" -> {
      val th = graft.query.Search.CoverageThresholdsPpm.mkString(", ")
      s"""WITH gd AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM ($GRAMS) GROUP BY gram),
          n AS (SELECT CAST(count(*) AS BIGINT) AS chunks FROM documents),
          th AS (SELECT CAST(unnest([$th]) AS BIGINT) AS ppm)
          SELECT th.ppm,
                 CAST(sum(CASE WHEN gd.df * 1000000 <= th.ppm * n.chunks THEN 1 ELSE 0 END) AS BIGINT) AS n_grams
          FROM th CROSS JOIN n CROSS JOIN gd
          GROUP BY th.ppm ORDER BY th.ppm"""
    },
    "q36_lsh_neardup_pairs" -> {
      val bitExprs = (0 until Similarity.LshPlanes).map { i =>
        s"""CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(1, len(embedding) + 1), j ->
                CAST(embedding[j] AS DOUBLE) *
                (CASE WHEN ((CAST(j - 1 AS BIGINT) * 19349663 + $i * 73856093) % 97) % 2 = 0
                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))),
              (acc, v) -> acc + v) >= 0
            THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END"""
      }.mkString(" + ")
      val ppb = Similarity.LshPlanes / Similarity.LshBands
      s"""WITH bk AS (SELECT vec_id, embedding, CAST($bitExprs AS BIGINT) AS bucket FROM embeddings),
          banded AS (SELECT vec_id, embedding, b.i AS band,
                     (bucket >> CAST(b.i * $ppb AS INT)) & ${(1 << ppb) - 1} AS bkey
                     FROM bk, (SELECT unnest(range(0, ${Similarity.LshBands})) AS i) b),
          cands AS (SELECT DISTINCT a.vec_id AS va, a.embedding AS ea,
                           b.vec_id AS vb, b.embedding AS eb
                    FROM banded a JOIN banded b
                    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
          SELECT va, vb, cos_permille FROM (
            SELECT va, vb, CAST(floor(${cosSqlRaw("ea", "eb")} * 1000) AS BIGINT) AS cos_permille
            FROM cands)
          WHERE cos_permille >= 400 ORDER BY va, vb"""
    },
    "q37_ann_ivf_topk" -> {
      val (nq, stride, kC, nProbe, topK) =
        (3, Similarity.IvfStride, Similarity.IvfK, 3, 5)
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
                         WHERE vec_id >= $nq AND (vec_id - $nq) % $stride = 0
                         ORDER BY vec_id LIMIT $kC),
          cand AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= $nq),
          assign AS (SELECT vec_id, cid AS cluster FROM (
            SELECT c.vec_id, ct.cid,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY ${cosSqlRaw("c.embedding", "ct.cemb")} DESC, ct.cid) AS rn
            FROM cand c, cents ct) WHERE rn = 1),
          q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $nq),
          probes AS (SELECT query_id, cid AS cluster FROM (
            SELECT q.query_id, ct.cid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${cosSqlRaw("q.qe", "ct.cemb")} DESC, ct.cid) AS rn
            FROM q, cents ct) WHERE rn <= $nProbe),
          lists AS (SELECT a.cluster, a.vec_id AS neighbor_id, e.embedding AS ne
                    FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
          scored AS (SELECT p.query_id, l.neighbor_id,
                     CAST(floor(${cosSqlRaw("q.qe", "l.ne")}  * 1000) AS BIGINT) AS cos_permille
                     FROM probes p JOIN lists l USING (cluster) JOIN q USING (query_id))
          SELECT query_id, neighbor_id, cos_permille, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_permille DESC, neighbor_id) AS rn FROM scored)
          WHERE rn <= $topK ORDER BY query_id, rn"""
    },
    "q48_ann_ivf_trained" -> {
      val (nq, stride, kC, nProbe, topK) = (3, Similarity.IvfStride, Similarity.IvfK, 3, 5)
      val (iters, dim, scale) = (2, 64, Similarity.KMeansScale)
      // one Lloyd round, unrolled: assignment argmax over the previous
      // centroids (same cosine fold + tie-break as the kernel), then the
      // fixed-point mean — floor(e*2^24 + 0.5) summed exactly as BIGINTs
      // (cast: DuckDB sum() yields HUGEINT) and divided s/2^24/n in the
      // kernel's operation order; empty clusters keep the previous centroid
      def lloydIter(it: Int): String = {
        val prev = s"c${it - 1}"
        s"""a$it AS (SELECT vec_id, e, cid FROM (
              SELECT c.vec_id, c.e, ct.cid,
                     row_number() OVER (PARTITION BY c.vec_id
                       ORDER BY ${cosSqlRaw("c.e", "ct.cemb")} DESC, ct.cid) AS rn
              FROM cand c, $prev ct) WHERE rn = 1),
            s$it AS (SELECT cid, u.d AS d,
                     CAST(sum(CAST(floor(e[u.d] * ${scale}.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
                     count(*) AS n
                     FROM a$it, unnest(range(1, ${dim + 1})) u(d) GROUP BY 1, 2),
            m$it AS (SELECT cid, list(s / ${scale}.0 / n ORDER BY d) AS cemb
                     FROM s$it GROUP BY cid),
            c$it AS (SELECT p.cid, coalesce(m$it.cemb, p.cemb) AS cemb
                     FROM $prev p LEFT JOIN m$it USING (cid))"""
      }
      s"""WITH cand AS (SELECT vec_id, embedding,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                        FROM embeddings WHERE vec_id >= $nq),
          c0 AS (SELECT vec_id AS cid,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cemb
                 FROM embeddings WHERE vec_id >= $nq AND (vec_id - $nq) % $stride = 0
                 ORDER BY vec_id LIMIT $kC),
          ${(1 to iters).map(lloydIter).mkString(",\n          ")},
          assign AS (SELECT vec_id, cid AS cluster FROM (
            SELECT c.vec_id, ct.cid,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY ${cosSqlRaw("c.embedding", "ct.cemb")} DESC, ct.cid) AS rn
            FROM cand c, c$iters ct) WHERE rn = 1),
          q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $nq),
          probes AS (SELECT query_id, cid AS cluster FROM (
            SELECT q.query_id, ct.cid,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY ${cosSqlRaw("q.qe", "ct.cemb")} DESC, ct.cid) AS rn
            FROM q, c$iters ct) WHERE rn <= $nProbe),
          lists AS (SELECT a.cluster, a.vec_id AS neighbor_id, e.embedding AS ne
                    FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
          scored AS (SELECT p.query_id, l.neighbor_id,
                     CAST(floor(${cosSqlRaw("q.qe", "l.ne")} * 1000) AS BIGINT) AS cos_permille
                     FROM probes p JOIN lists l USING (cluster) JOIN q USING (query_id))
          SELECT query_id, neighbor_id, cos_permille, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_permille DESC, neighbor_id) AS rn FROM scored)
          WHERE rn <= $topK ORDER BY query_id, rn"""
    },
    // the engine PARSES real BMP / WAV / Y4M containers (Multimodal.
    // MediaCodec); the oracle re-derives every parsed fact from the
    // formats' closed forms: BMP = 54 + h*rowSize (rows 4-byte padded),
    // WAV = 44 + 2*samples with width=samples height=channels, Y4M =
    // header(37+digits) + frames*(6 + w*h*3/2) — an encode->decode
    // roundtrip check over the container layouts themselves
    "q38_multimodal_features" ->
      """SELECT i AS media_id,
           CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CASE i % 3 WHEN 1 THEN (32 + (i % 7) * 16) * (32 + (i % 5) * 16)
                      ELSE 32 + (i % 7) * 16 END AS width,
           CASE i % 3 WHEN 1 THEN 1 ELSE 32 + (i % 5) * 16 END AS height,
           CASE WHEN i % 3 = 2 THEN 8 + i % 4 ELSE 1 END AS n_frames,
           CASE i % 3
             WHEN 0 THEN 54 + (32 + (i % 5) * 16) * (((32 + (i % 7) * 16) * 3 + 3) // 4 * 4)
             WHEN 1 THEN 44 + 2 * (32 + (i % 7) * 16) * (32 + (i % 5) * 16)
             ELSE 37 + length(CAST(32 + (i % 7) * 16 AS VARCHAR))
                     + length(CAST(32 + (i % 5) * 16 AS VARCHAR))
                     + (8 + i % 4) * (6 + (32 + (i % 7) * 16) * (32 + (i % 5) * 16) * 3 // 2)
           END AS bytes_len
         FROM range(0, 2000) t(i) ORDER BY media_id""",
    "q39_frame_plan" ->
      """SELECT i AS media_id, f AS frame_idx
         FROM range(0, 2000) t(i), unnest(range(0, 8 + i % 4, 3)) u(f)
         WHERE i % 3 = 2 ORDER BY media_id, frame_idx""",
    // image dims/sizes halved and re-derived from the BMP layout closed
    // form; audio/video rows pass through with q38's formulas
    "q62_multimodal_resize" ->
      """SELECT i AS media_id,
           CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CASE i % 3 WHEN 0 THEN (32 + (i % 7) * 16) // 2
                      WHEN 1 THEN (32 + (i % 7) * 16) * (32 + (i % 5) * 16)
                      ELSE 32 + (i % 7) * 16 END AS width,
           CASE i % 3 WHEN 0 THEN (32 + (i % 5) * 16) // 2
                      WHEN 1 THEN 1 ELSE 32 + (i % 5) * 16 END AS height,
           CASE i % 3
             WHEN 0 THEN 54 + ((32 + (i % 5) * 16) // 2)
                           * (((32 + (i % 7) * 16) // 2 * 3 + 3) // 4 * 4)
             WHEN 1 THEN 44 + 2 * (32 + (i % 7) * 16) * (32 + (i % 5) * 16)
             ELSE 37 + length(CAST(32 + (i % 7) * 16 AS VARCHAR))
                     + length(CAST(32 + (i % 5) * 16 AS VARCHAR))
                     + (8 + i % 4) * (6 + (32 + (i % 7) * 16) * (32 + (i % 5) * 16) * 3 // 2)
           END AS bytes_len
         FROM range(0, 2000) t(i) ORDER BY media_id""",
    "q40_search_fresh" ->
      s"""SELECT doc_id FROM documents
          WHERE ${ww("order")} AND ${ww("batch")}
            AND doc_id % 17 <> 0 AND doc_id % 10 <> 0
          ORDER BY doc_id""",
    "q41_files_cover_org" -> {
      def wwc(t: String) =
        s"regexp_matches(lower(chunk_text), '(^|[^0-9a-z])$t([^0-9a-z]|$$)')"
      s"""WITH w AS ($W),
          base AS (SELECT doc_id, arr, len(arr) AS n FROM w WHERE len(arr) >= 1),
          ws AS (SELECT doc_id,
            arr[(0 % n) + 1] AS w1, arr[(1 % n) + 1] AS w2,
            arr[(2 % n) + 1] AS w3, arr[(3 % n) + 1] AS w4,
            arr[(4 % n) + 1] AS w5, arr[(5 % n) + 1] AS w6,
            arr[(6 % n) + 1] AS w7, arr[(7 % n) + 1] AS w8 FROM base),
          chunks AS (
            SELECT doc_id, '* ' || w1 || ' ' || w2 AS chunk_text FROM ws
            UNION ALL
            SELECT doc_id, w3 || ' ' || w4 || chr(10) || w5 FROM ws
            UNION ALL
            SELECT doc_id, '- ' || w6 || ' ' || w7 FROM ws
            UNION ALL
            SELECT doc_id, '#+title: ' || w8 FROM ws)
          SELECT doc_id FROM chunks GROUP BY doc_id
          HAVING bool_or(${wwc("order")}) AND bool_or(${wwc("batch")})
          ORDER BY doc_id"""
    }
  )
}
