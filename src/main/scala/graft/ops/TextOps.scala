package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for large-scale training-data pipelines, written
  * as pure Catalyst expressions (whole-stage-codegen friendly, no UDFs) so
  * every op is oracle-checkable in ANSI SQL and scales columnar.
  *
  * Tokenization matches the engine's BM25 tokenizer ([[graft.core.Tokenizer]],
  * word = maximal ASCII-alnum run, case-folded) and gram extraction matches
  * [[graft.core.Gram]] (per-word '.'-padded trigrams) — asserted by
  * OpsConsistencySpec.
  */
object TextOps {

  /** Lowercased word array of `text`. */
  val wordsCol: Column =
    filter(split(lower(col("text")), "[^0-9a-z]+"), w => w =!= "")

  def withWords(df: DataFrame): DataFrame = df.withColumn("arr", wordsCol)

  /** (doc_id, term) exploded, one row per occurrence. */
  def tokens(docs: DataFrame): DataFrame =
    withWords(docs).select(col("doc_id"), explode(col("arr")).as("term"))

  /** Dictionary: term -> document frequency + collection frequency. */
  def termDf(docs: DataFrame): DataFrame =
    tokens(docs).groupBy("term")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("cf"))
      .orderBy("term")

  /** Per-doc length stats: total tokens and distinct terms. */
  def docStats(docs: DataFrame): DataFrame =
    withWords(docs).select(col("doc_id"), size(col("arr")).as("dl"),
      size(array_distinct(col("arr"))).as("n_terms")).orderBy("doc_id")

  /** Distinct (doc_id, gram-string) rows — the trigram GIN relation.
    * gram(w) = all 3-char windows of '.' + upper(w) + '.'
    * (== graft.core.Gram whole-word semantics).
    */
  def docGrams(docs: DataFrame): DataFrame =
    withWords(docs)
      .select(col("doc_id"), explode(col("arr")).as("w"))
      .select(col("doc_id"), concat(lit("."), upper(col("w")), lit(".")).as("p"))
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, length(p)-2), i -> substring(p, i, 3))")).as("gram"))
      .distinct()

  /** Boilerplate-line detection (C4/RefinedWeb-style cleaning): lines that
    * appear verbatim in >= `minDocs` DISTINCT documents — navigation
    * chrome, cookie banners, footers. One shuffle keyed by the line text
    * with a map-side distinct (doc_id, line) projection; at 100 TB a
    * two-level hash (line digest first) keeps the key narrow — here the
    * aggregation key is md5(line) and the line rides along as a max()
    * payload, so raw text never forms the shuffle key.
    */
  def boilerplateLines(docs: DataFrame, minDocs: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(filter(split(col("text"), "\n"), l => l =!= "")).as("line"))
      .groupBy(md5(col("line")).as("h"))
      // countDistinct's partial-distinct key is (h, doc_id) — the line text
      // itself only ever rides as an aggregate payload, never a shuffle key
      .agg(max(col("line")).as("line"),
        countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("line"), col("n_docs"))
      .orderBy("line")

  /** Gate for [[stripBoilerplate]]'s inline path: a boilerplate set at or
    * below this many lines is collected once (bounded probe) and applied as
    * a map-side in-row filter. The set is data-dependent — at web scale with
    * a low `minDocs` the ≥N-docs line set is effectively unbounded (every
    * common sentence on the web) — so it must never be collected or
    * broadcast ungated.
    */
  final val MaxInlineBoilerplate = 4096

  /** [[boilerplateLines]] applied: documents with their boilerplate lines
    * removed (empty lines preserved as document structure).
    *
    * Size-gated two-shape plan (one bounded probe,
    * [[graft.Bounded.collect]]): at/below `maxInlineLines` boilerplate
    * lines, the set rides into a map-side in-row filter — the corpus is
    * rewritten in one pass, no shuffle. Above the gate the set stays
    * distributed: doc lines explode as narrow (doc_id, md5(line)) rows —
    * 16-byte digests, raw text never a join key — meet the boilerplate
    * digests, and matches collapse back to one bounded per-doc removal
    * set; the corpus text shuffles exactly once, through the final
    * SHUFFLE_HASH probe. Both shapes agree
    * line-for-line (digest equality stands in for line equality; an md5
    * collision between a kept and a boilerplate line is negligible).
    */
  def stripBoilerplate(docs: DataFrame, minDocs: Int,
                       maxInlineLines: Int = MaxInlineBoilerplate): DataFrame =
    stripWith(docs, boilerplateLines(docs, minDocs), maxInlineLines)

  /** [[stripBoilerplate]] with a caller-supplied boilerplate frame
    * (`line` column) — the composition form: detection can run over the
    * FULL corpus while the strip applies to any subset (e.g. a sampled
    * stratum in [[cleanPipeline]]), keeping the >= minDocs counts
    * corpus-global. Same size-gated two-shape plan; every non-`text`
    * input column passes through untouched.
    */
  def stripWith(docs: DataFrame, boilerplate: DataFrame,
                maxInlineLines: Int = MaxInlineBoilerplate): DataFrame = {
    val bp = boilerplate.select(col("line"))
    val stripped = graft.Bounded.collect(bp, maxInlineLines) match {
      case Some(rows) =>
        val lines = rows.map(_.getString(0)).toSeq
        docs.withColumn("text",
          array_join(filter(split(col("text"), "\n"),
            l => !array_contains(typedlit(lines), l)), "\n"))
      case None =>
        val bpH = bp.select(md5(col("line")).as("h"))
        val rm = docs.select(col("doc_id"),
            explode(array_distinct(transform(
              filter(split(col("text"), "\n"), l => l =!= ""),
              l => md5(l)))).as("h"))
          .join(bpH, Seq("h"))
          .groupBy("doc_id").agg(collect_set(col("h")).as("rm"))
        docs.join(rm.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
          .withColumn("text",
            array_join(filter(split(col("text"), "\n"),
              l => !array_contains(
                coalesce(col("rm"), typedlit(Seq.empty[String])), md5(l))),
              "\n"))
          .drop("rm")
    }
    stripped.orderBy("doc_id")
  }

  /** Gopher-style repetition quality signals, integer-exact permille:
    * duplicate-line fraction (boilerplate/spam marker) and the share of
    * the most frequent word bigram (keyword-stuffing marker). Line dedup
    * is in-row (array_distinct); the bigram share explodes to
    * (doc_id, bigram) and aggregates — one shuffle, partial-agg map-side,
    * never quadratic in-row work on long documents.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    // long arithmetic from the start: (nl - ndl) * 1000 in Int would wrap
    // on a ~2M-duplicate-line spam doc and diverge from the BIGINT oracle
    val lines = docs.select(col("doc_id"),
        filter(split(col("text"), "\n"), l => l =!= "").as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("nl"),
        size(array_distinct(col("ls"))).cast("long").as("ndl"))
    val bg = withWords(docs)
      .where(size(col("arr")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(arr)-1), i -> concat(element_at(arr,i), ' ', element_at(arr,i+1)))")).as("b"))
    val top = bg.groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("maxc"), sum(col("c")).as("nb"))
    lines.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("nl") === 0, lit(0L))
          .otherwise(expr("((nl - ndl) * 1000) div nl")).cast("long")
          .as("dup_line_permille"),
        coalesce(expr("(maxc * 1000) div nb"), lit(0L)).cast("long")
          .as("top_bigram_permille"))
      .orderBy("doc_id")
  }

  /** URL canonicalization for crawl dedup — pure Catalyst expression, one
    * map-side pass, no UDF. Rules (the standard crawl-frontier set):
    * fragment dropped; scheme+authority lowercased; default ports stripped
    * (`:80` http, `:443` https); trailing path slashes stripped; tracking
    * params removed (`utm_*`, `fbclid`, `gclid`) and the survivors SORTED
    * so param order never splits a dedup group. Strings without a
    * `scheme://authority` prefix pass through the path/query rules only.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val prefix = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val sh = lower(prefix)
    val sh2 = when(sh.startsWith("http://"), regexp_replace(sh, ":80$", ""))
      .when(sh.startsWith("https://"), regexp_replace(sh, ":443$", ""))
      .otherwise(sh)
    val rest = noFrag.substr(length(prefix) + 1, length(noFrag))
    val path = regexp_replace(regexp_extract(rest, "^[^?]*", 0), "/+$", "")
    val query = regexp_extract(rest, "^[^?]*[?](.*)$", 1)
    // (=|$): valueless click-ids ('?fbclid', '?utm_source') are tracking
    // params too — requiring '=' would split dedup groups on them
    val kept = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)")))
    val q2 = array_join(kept, "&")
    concat(sh2, path,
      when(q2 === "", lit("")).otherwise(concat(lit("?"), q2)))
  }

  /** Permille selector for [[stratifiedSample]]: Knuth multiplicative hash
    * of the doc_id, mod 1000 — deterministic across runs/retries (no
    * rand()), expressible identically in any SQL engine (unlike xxhash64),
    * and well-dispersed on consecutive ids (measured 249/500 at rate 500
    * over ids 0..499; a digit-string fold kept only 10).
    *
    * The doc_id is reduced mod p = 1000000007 BEFORE the multiply, so the
    * product is bounded by (p-1) * 2654435761 ≈ 2.65e18 < 2^63 — exact
    * BIGINT arithmetic at ANY doc_id (the pre-reduction form overflowed
    * silently past doc_id ≈ 3.4e9: wrapped products went negative, a
    * negative permille is below every rate, and those docs were kept
    * unconditionally). Congruent mod p with the unreduced form, so every
    * value below the old overflow bound — including every oracle fixture
    * id — is unchanged.
    */
  val IdHashPermilleSql: String =
    "(doc_id % 1000000007) * 2654435761 % 1000000007 % 1000"

  /** Deterministic stratified corpus sampling — the data-mixing primitive
    * a training pipeline uses to hit per-language (or per-quality-bucket)
    * target proportions: keep a doc iff hash(doc_id) % 1000 falls below
    * its stratum's `rate_permille`. `rates` is (lang, rate_permille), one
    * row per stratum — tiny by construction, so it broadcasts and the
    * selection is one map-side pass over the corpus; a rate of 0 drops
    * the stratum, 1000 keeps all of it. Reproducible: the same doc is
    * kept or dropped on every run, retry, and engine.
    */
  def stratifiedSample(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.join(broadcast(rates), Seq("lang"))
      .where(expr(IdHashPermilleSql) < col("rate_permille"))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** PII patterns, deliberately restricted to syntax that parses and
    * matches identically in Java regex (Spark) and RE2 (DuckDB oracle):
    * ASCII character classes, bounded repetition, `\b` word boundaries —
    * no backrefs, no lookaround, no unicode classes. `\d`-free on purpose
    * (`[0-9]` is unambiguous in both dialects).
    */
  final val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  final val PhoneRe = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{3}-[0-9]{4}"
  final val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII detection + redaction — the privacy-scrub pass a training-data
    * pipeline runs before anything else sees the text: per-doc counts of
    * email / international-phone / IPv4 literals plus the md5 of the text
    * with each class replaced by its `[EMAIL]`/`[PHONE]`/`[IP]` marker
    * (the digest keeps the oracle row narrow; the redacted text itself is
    * the same expression minus the md5). Entirely per-row Catalyst
    * expressions — codegen'd, zero shuffles, scales linearly with the
    * scan; counts are taken on the ORIGINAL text so redaction order can
    * never mask a count.
    */
  /** `text` with each PII class replaced by its marker (per-row, no
    * shuffle): emails -> `[EMAIL]`, then phones -> `[PHONE]`, then IPv4 ->
    * `[IP]` — the classes are mutually non-overlapping by construction, so
    * order never changes the result.
    */
  def piiRedacted(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("[EMAIL]")),
        lit(PhoneRe), lit("[PHONE]")),
      lit(Ipv4Re), lit("[IP]"))

  def piiScan(docs: DataFrame): DataFrame = {
    def n(re: String) =
      size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long")
    docs.select(col("doc_id"),
      n(EmailRe).as("n_emails"), n(PhoneRe).as("n_phones"),
      n(Ipv4Re).as("n_ipv4"), md5(piiRedacted(col("text"))).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** End-to-end cleaning pipeline — the composition a webtext corpus
    * actually ships through before training: corpus-global boilerplate
    * detection -> deterministic stratified sampling -> boilerplate strip
    * -> PII redaction -> minimum-length quality gate. Output is
    * (doc_id, lang, clean_md5) for the surviving docs.
    *
    * Scale shape: the >= `minDocs` boilerplate counts are computed over
    * the FULL corpus (one digest-keyed shuffle), but the sampling selector
    * reads only (doc_id, lang) — it commutes with every cleaning step —
    * so it runs FIRST as a broadcast-join map-side filter and the strip /
    * redact / gate stages touch only the kept fraction. Strip is the
    * size-gated two-shape plan of [[stripWith]]; redaction is a codegen'd
    * regexp chain and the token gate a per-row array expression.
    * Deterministic end to end:
    * same survivors, same digests, on every run, retry, and engine.
    */
  def cleanPipeline(docs: DataFrame, rates: DataFrame, minDocs: Int,
                    minTokens: Int): DataFrame = {
    val bp = boilerplateLines(docs, minDocs)
    val kept = docs.join(broadcast(rates), Seq("lang"))
      .where(expr(IdHashPermilleSql) < col("rate_permille"))
      .select(col("doc_id"), col("lang"), col("text"))
    stripWith(kept, bp)
      .withColumn("text", piiRedacted(col("text")))
      .where(size(wordsCol) >= minTokens)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Per-domain corpus mix report — the crawl-side aggregation behind
    * domain caps and mixing decisions: canonical host -> document count
    * and total token count. One map-side projection (canonicalize + host
    * extract + in-row token count) then a single partial-agg shuffle keyed
    * by the host; no row carries text past the map side, and hosts are a
    * naturally low-cardinality key so the aggregate output is tiny at any
    * corpus size.
    */
  def domainStats(docs: DataFrame): DataFrame =
    docs.select(
        regexp_extract(canonicalizeUrl(col("url")),
          "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1).as("host"),
        size(wordsCol).as("ntok"))
      .groupBy("host")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ntok")).cast("long").as("sum_tokens"))
      .orderBy("host")

  /** Tf-idf keyword extraction: top-`k` terms per document by
    * tf * ln(N / df) — the topicality signal used for tagging / routing /
    * domain-mix analysis. Scores are floored to integer micros and the
    * per-doc ranking runs ON THE FLOORED INTEGER (ties broken by term), so
    * rank order can never flip on a final-ulp double divergence between
    * engines — the BM25-oracle discipline applied to keywords.
    *
    * Scale shape: map-side partial tf aggregation, a vocabulary-sized df
    * aggregate co-shuffled on the term key, a 1-row broadcast for N, and a
    * per-doc row_number window (doc-partitioned, fully distributed); k
    * bounds the output, not the work — the window never materializes more
    * than each doc's term list.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val tf = tokens(docs).groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val sc = tf.join(dfT, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score_micro",
        floor(col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")) *
          lit(1000000)).cast("long"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("term"))
    sc.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select("doc_id", "term", "score_micro", "rn")
      .orderBy("doc_id", "rn")
  }

  /** Sequence packing — the concat-and-chunk step that turns a cleaned
    * corpus into fixed-length training contexts (GPT-style: concatenate
    * documents, cut every `ctxLen` tokens). Sharded so it parallelizes:
    * each doc goes to shard = knuth_hash(doc_id) % `nShards` (the same
    * multiplicative hash as [[stratifiedSample]], so shard fill is even
    * under consecutive ids), docs are concatenated in doc_id order WITHIN
    * a shard, and sequence boundaries fall every `ctxLen` tokens of the
    * shard stream. Output is one row per (shard, seq_id): how many docs
    * feed the sequence, how many tokens it holds (== ctxLen except each
    * shard's tail), and the first/last contributing doc.
    *
    * Scale shape: token counts are taken map-side (`size(words)`, no
    * explode) so text never shuffles; the only wide ops are a
    * shard-partitioned running-sum window over narrow (doc_id, dl) rows
    * and a (shard, seq_id)-keyed partial agg. Each doc explodes to at most
    * dl/ctxLen + 1 narrow span rows. `nShards` bounds the window
    * parallelism — set it to ~the cluster's task slots (tests use 4; a
    * 1000-executor run would use thousands). Entirely integer
    * arithmetic — bit-stable across runs, partitionings and engines.
    */
  def packSequences(docs: DataFrame, ctxLen: Int, nShards: Int): DataFrame = {
    val d = withWords(docs).select(
        col("doc_id"),
        // same overflow-proof reduce-first form as [[IdHashPermilleSql]]
        expr(s"(doc_id % 1000000007) * 2654435761 % 1000000007 % $nShards").as("shard"),
        size(col("arr")).cast("long").as("dl"))
      .where(col("dl") > 0)
    val w = Window.partitionBy("shard").orderBy("doc_id")
    d.withColumn("e", sum(col("dl")).over(w))
      .withColumn("st", col("e") - col("dl"))
      .select(col("shard"), col("doc_id"), col("st"), col("e"),
        explode(expr(s"sequence(st div $ctxLen, (e - 1) div $ctxLen)"))
          .as("seq_id"))
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("e"), (col("seq_id") + 1) * ctxLen) -
          greatest(col("st"), col("seq_id") * ctxLen)).as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard", "seq_id")
  }

  /** Model-based quality filtering plumbing — a fastText-style hashed
    * linear classifier applied at corpus scale: score(doc) = sum over
    * tokens of weight(token), where weight is a deterministic pseudo-
    * random permille in [-1000, 1000] derived from a polynomial character
    * hash (stand-in for trained weights; swapping in a real model changes
    * only the weight expression, not the plumbing). The entire scorer is
    * one nested higher-order Catalyst expression — per-row and ZERO
    * shuffles (higher-order lambdas evaluate interpreted, but the pass
    * stays inside the scan stage), so it scales exactly with the scan
    * like the real fastText pass in a production pipeline.
    * `keep` = score >= 0.
    */
  /** The scorer itself, over the `arr` word-array column — exposed as a
    * Column so it composes with Structured Streaming (the batch op below
    * ends in an orderBy, which streaming plans reject; a streaming
    * quality gate is `stream.withColumn("arr", wordsCol)
    * .where(modelScoreCol >= 0)` — stateless, so it needs no watermark).
    */
  val modelScoreCol: Column =
    expr("""aggregate(arr, 0L, (acc, w) ->
             acc + (aggregate(transform(sequence(1, length(w)), i ->
                      CAST(ascii(substring(w, i, 1)) AS BIGINT)),
                    0L, (a, c) -> (a * 131 + c) % 1000000007) % 2001 - 1000))
         """)

  def hashedQualityScore(docs: DataFrame): DataFrame =
    withWords(docs).select(col("doc_id"), modelScoreCol.as("model_score"))
      .select(col("doc_id"), col("model_score"),
        when(col("model_score") >= 0, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")

  /** Vocabulary coverage / OOV-rate report — the tokenizer-fit check run
    * before committing a vocab: build the top-`vocabSize` vocabulary by
    * collection frequency (ties broken by term so the cut is
    * deterministic), then per doc count tokens inside/outside it.
    * Returns (doc_id, n_tokens, oov_permille).
    *
    * Scale shape: the vocabulary is a global TakeOrdered of the term
    * aggregate (output bounded by `vocabSize`) and BROADCASTS to the
    * scoring pass, which is one narrow (doc_id)-keyed partial agg over
    * the token stream — vocab membership is resolved map-side by the
    * broadcast hash join, so the corpus shuffles once, as (doc_id, flag)
    * rows, never as text.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    // ONE tokenize pass: both the vocabulary cut (cf = sum f) and the
    // scoring pass re-aggregate the same (doc_id, term, f) frame —
    // identical values to the round-5 double-scan, but the corpus text is
    // read and tokenized once. No cache: the two tf instances are the same
    // canonical subtree, so exchange reuse computes the tf aggregation's
    // shuffle once per action (see the jaccardPairs note on why a persist
    // here is strictly worse).
    val tf = tokens(docs).groupBy("doc_id", "term").agg(count(lit(1)).as("f"))
    val vocab = tf.groupBy("term").agg(sum(col("f")).as("cf"))
      .orderBy(col("cf").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("iv"))
    tf.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum(col("f")).as("n_tokens"),
        coalesce(sum(when(col("iv").isNotNull, col("f"))), lit(0L)).as("in_vocab"))
      .select(col("doc_id"), col("n_tokens"),
        expr("(n_tokens - in_vocab) * 1000 div n_tokens").as("oov_permille"))
      .orderBy("doc_id")
  }

  /** Gram document frequencies (reference posting-list cardinality, A2). */
  def gramDf(docs: DataFrame): DataFrame =
    docGrams(docs).groupBy("gram").agg(count(lit(1)).as("df")).orderBy("gram")

  /** Gram selectivity histogram (reference info -grams, A5): log2 buckets. */
  def gramHistogram(docs: DataFrame): DataFrame =
    gramDf(docs)
      .select(floor(log2(col("df"))).cast("long").as("df_bucket"))
      .groupBy("df_bucket").agg(count(lit(1)).as("n_grams"))
      .orderBy("df_bucket")

  /** Whole-word containment predicate identical in Java and RE2 dialects. */
  def wholeWord(textCol: Column, term: String): Column =
    lower(textCol).rlike(s"(^|[^0-9a-z])${java.util.regex.Pattern.quote(term.toLowerCase)}([^0-9a-z]|$$)")

  /** Conjunctive whole-word search over the docs table (reference search
    * semantics J1+P4 composed relationally).
    */
  def searchAnd(docs: DataFrame, terms: Seq[String]): DataFrame =
    docs.where(terms.map(t => wholeWord(col("text"), t)).reduce(_ && _))
      .select(col("doc_id")).orderBy("doc_id")

  /** File-cover join (reference -file mode J4): group = `source`; a group
    * matches iff every term is whole-word-contained in SOME doc of it.
    */
  def coverSources(docs: DataFrame, terms: Seq[String]): DataFrame = {
    val perArg = terms.zipWithIndex.map { case (t, i) =>
      docs.where(wholeWord(col("text"), t))
        .select(col("source")).distinct().withColumn("arg_i", lit(i))
    }
    perArg.reduce(_ union _)
      .groupBy("source").agg(countDistinct("arg_i").as("n_args"))
      .where(col("n_args") === terms.size)
      .select("source").orderBy("source")
  }

  /** Per-group top-k (W1/W5 shape): top n docs per source by n_chars. */
  def topKPerSource(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    docs.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))
      .orderBy("source", "rn")
  }

  /** Corpus-level stats (reference info A4). */
  def corpusInfo(docs: DataFrame): DataFrame =
    withWords(docs).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      sum(size(col("arr")).cast("long")).as("total_tokens"),
      sum(col("n_chars").cast("long")).as("total_chars"))

  // ------------------------------------------------------ quality / lang

  private val StopwordsEn = Seq("the", "of", "and", "to", "in", "a", "is")

  /** Quality signals as exact integers (permille ratios — float-free). */
  def qualityScore(docs: DataFrame): DataFrame =
    withWords(docs).select(
      col("doc_id"),
      size(col("arr")).as("n_tokens"),
      length(col("text")).as("len_chars"),
      // permille ratios via INTEGER division (`div`) so DuckDB `//` mirrors
      // exactly — a double divide + cast would round differently per engine
      when(size(col("arr")) === 0, 0L).otherwise(
        expr("(aggregate(arr, 0L, (a, w) -> a + length(w)) * 1000) div size(arr)")
      ).cast("long").as("avg_wordlen_permille"),
      expr("(length(regexp_replace(lower(text), '[^a-z]', '')) * 1000) div greatest(length(text), 1)")
        .cast("long").as("alpha_permille"),
      when(size(col("arr")) === 0, 0L).otherwise(
        expr(s"(size(filter(arr, w -> w in (${StopwordsEn.map("'" + _ + "'").mkString(",")}))) * 1000) div size(arr)")
      ).cast("long").as("stopword_permille")
    ).orderBy("doc_id")

  /** Fixed per-language sample texts the trigram profiles derive from —
    * ordinary prose in each language (BMP only, no quotes, so the derived
    * trigrams embed into SQL literals verbatim).
    */
  private val LangSamples: Seq[(String, String)] = Seq(
    "en" -> ("the quick brown fox jumps over the lazy dog while the rain " +
      "in spain stays mainly on the plain and all the people with their " +
      "things went into the house because there was nothing better to do " +
      "than wait for the weather to change with the wind and the water"),
    "es" -> ("el rapido zorro marron salta sobre el perro perezoso mientras " +
      "la lluvia en espana cae sobre la llanura y toda la gente con sus " +
      "cosas entraron en la casa porque no habia nada mejor que hacer que " +
      "esperar a que el tiempo cambiara con el viento y el agua para todos"),
    "de" -> ("der schnelle braune fuchs springt ueber den faulen hund " +
      "waehrend der regen in spanien auf die ebene faellt und alle leute " +
      "mit ihren sachen ins haus gingen weil es nichts besseres zu tun gab " +
      "als auf besseres wetter zu warten mit dem wind und dem wasser"))

  /** Character-trigram language profiles: the top-30 trigrams by frequency
    * of each language's sample, computed deterministically at class load
    * (tie-break: trigram asc). This is the Cavnar-Trenkle n-gram-profile
    * shape with integer-exact scoring — public knowledge, fixed here so
    * the DuckDB oracle can embed the identical lists.
    */
  val LangProfiles: Seq[(String, Seq[String])] = LangSamples.map {
    case (lang, sample) =>
      val s = sample.toLowerCase
      val counts = (0 to s.length - 3).map(i => s.substring(i, i + 3))
        .groupBy(identity).map { case (g, xs) => (g, xs.size) }
      lang -> counts.toSeq.sortBy { case (g, c) => (-c, g) }.take(30).map(_._1)
  }

  private def profileCountExpr(lang: String, grams: Seq[String]): Column = {
    val inList = grams.map(g => "'" + g + "'").mkString(",")
    // guard: Spark sequence(1, n) DESCENDS for n < 1, so short texts must
    // short-circuit (DuckDB's half-open range is naturally empty there)
    expr(s"""CASE WHEN length(t) < 3 THEN 0 ELSE
               size(filter(transform(sequence(1, length(t) - 2),
                 i -> substring(t, i, 3)), x -> x IN ($inList))) END""")
      .as(s"c_$lang")
  }

  /** Deterministic char-trigram language ID: per-language occurrence count
    * of the profile trigrams in lower(text) (multiplicity kept), argmax;
    * zero evidence or a tie -> 'und'. Per-row, codegen-friendly, scales
    * columnar; integer-exact so the oracle hashes bit-stably.
    */
  def langId(docs: DataFrame): DataFrame = {
    val base = docs.withColumn("t", lower(col("text")))
    val counts = LangProfiles.map { case (lang, gs) => profileCountExpr(lang, gs) }
    val withCounts = base.select(col("doc_id") +: counts: _*)
    val best = greatest(LangProfiles.map(m => col(s"c_${m._1}")): _*)
    val winners = LangProfiles.map { case (lang, _) =>
      when(col(s"c_$lang") === best, 1).otherwise(0)
    }.reduce(_ + _)
    val pred = LangProfiles.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"c_$lang") === best && winners === 1, lang).otherwise(acc)
    }
    withCounts.select(col("doc_id"),
      when(best === 0, "und").otherwise(pred).as("pred_lang")).orderBy("doc_id")
  }

  /** Token counts: whitespace tokens + BPE-ish regex pieces. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(filter(split(col("text"), "[ \\t\\n]+"), w => w =!= "")).as("ws_tokens"),
      size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("bpe_ish_tokens")
    ).orderBy("doc_id")

  /** Rolling-hash document fingerprint over the word sequence — exact
    * integer arithmetic, order-sensitive (shuffle-proof because it is
    * computed per row).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    withWords(docs).select(
      col("doc_id"),
      expr("aggregate(arr, 0L, (acc, w) -> (acc * 131 + ascii(substring(w,1,1)) * 1000 + length(w)) % 1000000007)")
        .as("fp")
    ).orderBy("doc_id")

  // ------------------------------------------------------ maintenance shapes

  /** Incremental-update diff (reference update M3): docs in `current` but
    * not in the simulated indexed snapshot (doc_id % 10 != 0).
    */
  def updateDiff(docs: DataFrame): DataFrame = {
    val indexed = docs.where(col("doc_id") % 10 =!= 0).select("doc_id")
    docs.select("doc_id").join(indexed, Seq("doc_id"), "left_anti").orderBy("doc_id")
  }

  /** Compaction shape (reference compact M2): recompute term df after
    * dropping tombstoned docs (doc_id % 7 == 0).
    */
  def compactedDf(docs: DataFrame): DataFrame =
    termDf(docs.where(col("doc_id") % 7 =!= 0))
}
