package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes: exact dedup is a hash aggregation on a text digest (never
  * shuffle raw text to dedup it); shingle-join near-dup is exact but
  * pair-quadratic in hot shingles, so the 100TB path is MinHash+LSH:
  * signatures shrink each doc to `NumHashes` longs, banding buckets
  * candidates, and only bucket-colliding pairs are verified exactly.
  * All hash functions are integer-exact and SQL-expressible so every op is
  * oracle-checkable.
  */
object Dedup {

  /** Exact duplicate groups by full text equality (hash-groupBy shape):
    * (keeper = min doc_id, n_dups) for groups with >1 member.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
      .where(col("n_dups") > 1)
      .select("keeper", "n_dups").orderBy("keeper")

  /** Corpus-global line-level exact dedup with keep-FIRST semantics
    * (CCNet-style paragraph dedup, arXiv:1911.00359's dedup stage, at line
    * granularity): every non-empty line that appears verbatim more than
    * once in the corpus is kept only at its first occurrence — ordered by
    * (doc_id, line index) — and removed everywhere else; empty lines are
    * structural and always kept. Unlike [[TextOps.stripBoilerplate]]
    * (drop ALL occurrences above a df threshold), this preserves exactly
    * one copy of every duplicated line, the contract CCNet uses so shared
    * content survives the corpus once.
    *
    * Scale shape: lines explode to (doc_id, idx, md5(line)) — the digest
    * is the aggregation/join key, raw line text never shuffles. The
    * keeper per digest is one min-aggregation over the composite integer
    * key doc_id * 2^20 + idx (line index < 2^20 — larger docs would be
    * length-gated far earlier in a real pipeline — and doc_id < 2^43,
    * which holds with an order of magnitude to spare at the 10^12-doc
    * target); non-keeper occurrences
    * collapse to bounded per-doc removal-index arrays, and the corpus
    * text shuffles exactly once through a SHUFFLE_HASH probe of that
    * small side with an in-row indexed filter — the same trim shape as
    * [[stripRepeatedSpans]].
    */
  def dedupLinesKeepFirst(docs: DataFrame): DataFrame = {
    // ENFORCED composite-key bound (was prose-only): a doc with >= 2^20
    // lines or doc_id >= 2^43 would silently alias keeper keys and break
    // keep-FIRST ordering — fail fast instead (the jaccardPairs
    // safe-by-default discipline). The guard is one codegen'd comparison
    // per line row.
    val keyOk = col("idx") < lit(1048576) && col("doc_id") < lit(1L << 43)
    val l = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .toDF("doc_id", "idx", "line")
      .where(col("line") =!= "")
      .select(col("doc_id"), col("idx"),
        when(keyOk, col("doc_id") * 1048576 + col("idx"))
          .otherwise(raise_error(concat(
            lit("dedupLinesKeepFirst: composite key out of range (need "),
            lit("line idx < 2^20 and doc_id < 2^43): doc_id="), col("doc_id"),
            lit(" idx="), col("idx")))).as("k"),
        md5(col("line")).as("h"))
    val keep = l.groupBy("h").agg(min(col("k")).as("keep_k"))
    val rm = l.join(keep, Seq("h")).where(col("k") =!= col("keep_k"))
      .groupBy("doc_id").agg(collect_set(col("idx")).as("rmi"))
    docs.join(rm.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .select(col("doc_id"), array_join(filter(split(col("text"), "\n"),
          (x, i) => !array_contains(
            coalesce(col("rmi"), typedlit(Seq.empty[Int])), i)), "\n")
        .as("text"))
      .orderBy("doc_id")
  }

  /** Near-exact dedup by n-word-prefix fingerprint (URL/boilerplate-dedup
    * shape): groups sharing their first n words.
    */
  def prefixDupGroups(docs: DataFrame, n: Int): DataFrame =
    TextOps.withWords(docs)
      .groupBy(concat_ws(" ", slice(col("arr"), 1, n)).as("pfx"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
      .where(col("n_dups") > 1)
      .select("keeper", "n_dups").orderBy("keeper")

  /** Distinct word-3-shingles per doc: (doc_id, s). */
  def shingles(docs: DataFrame): DataFrame =
    TextOps.withWords(docs).where(size(col("arr")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(arr)-2), i -> concat(element_at(arr,i),' ',element_at(arr,i+1),' ',element_at(arr,i+2)))")).as("s"))
      .distinct()

  /** Exact n-gram Jaccard near-dup pairs >= threshold (permille, integer):
    * shingle self-join -> common counts -> |A ∪ B| = |A|+|B|-common.
    *
    * Safe by default: a call must either set `maxShingleDf > 0` or opt in
    * to the uncapped shape explicitly. `maxShingleDf = 0` with
    * `allowUncapped = true` (the oracle shape) self-joins EVERY shingle —
    * exact but pair-quadratic in hot shingles, so it must never run on a
    * real corpus; the signature enforces the choice instead of documenting
    * it. With `maxShingleDf > 0`, shingles whose document frequency exceeds
    * the cap are dropped from CANDIDATE GENERATION only; surviving
    * candidate pairs are then verified against the FULL shingle sets, so
    * every reported Jaccard is still the true one. The only approximation
    * is recall: a qualifying pair is missed iff ALL of its shared shingles
    * are hotter than the cap — for near-duplicates (many shared shingles,
    * most of them rare) that is vanishingly unlikely, and the capped path's
    * join cost is bounded by cap * df-capped shingle count instead of
    * sum(df^2). This is the 100 TB-safe way to call this operator directly;
    * MinHash+LSH remains the preferred scale path.
    */
  /** No `.cache()` on the shingle frames here or in [[minhashLshPairs]] —
    * round 5 leaked one cached frame per call, and the fix is REMOVAL, not
    * rotation: every scan of `sh` inside one returned plan is the same
    * canonical subtree, and Spark's exchange reuse (AQE stage cache /
    * ReuseExchange, on by default) computes the shingle `distinct`'s
    * exchange once per action and serves every other instance from it —
    * the compute-sharing the cache bought, without pinning storage blocks
    * or paying the columnar cache materialization (measured same-window at
    * sf0.01: the cached variant was ~30% slower on q21/q22/q61).
    */
  def jaccardPairs(docs: DataFrame, thresholdPermille: Int,
                   maxShingleDf: Long = 0L,
                   allowUncapped: Boolean = false): DataFrame = {
    require(maxShingleDf > 0 || allowUncapped,
      "uncapped jaccardPairs is pair-quadratic in hot shingles; pass " +
        "maxShingleDf > 0 (exactness-preserving candidate cap) or opt in " +
        "with allowUncapped = true on a corpus known to be small")
    val sh = shingles(docs)
    if (maxShingleDf > 0) {
      val cold = sh.join(
        sh.groupBy("s").agg(count(lit(1)).as("sdf"))
          .where(col("sdf") <= maxShingleDf).select("s"), Seq("s"))
      val cands = cold.as("a").join(cold.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
      return verifyJaccard(cands, sh, thresholdPermille)
    }
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(counts.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(counts.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jaccard_permille",
        expr("(common * 1000) div (na + nb - common)"))
      .where(col("jaccard_permille") >= thresholdPermille)
      .select("da", "db", "jaccard_permille").orderBy("da", "db")
  }

  /** Exact-Jaccard verification of candidate (da, db) pairs against the
    * full shingle table: common counts from the candidate-gated joins, true
    * |A ∪ B| from per-doc totals. Shared by the LSH and df-capped candidate
    * generators — the candidate set only bounds WHICH pairs are checked,
    * never the reported value.
    */
  private def verifyJaccard(cands: DataFrame, sh: DataFrame,
                            thresholdPermille: Int): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cands.join(sh.withColumnRenamed("doc_id", "da"), "da")
      .join(sh.withColumnRenamed("doc_id", "db").withColumnRenamed("s", "s2"), "db")
      .where(col("s") === col("s2"))
      .groupBy("da", "db").agg(count(lit(1)).as("common"))
      .join(counts.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(counts.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jaccard_permille", expr("(common * 1000) div (na + nb - common)"))
      .where(col("jaccard_permille") >= thresholdPermille)
      .select("da", "db", "jaccard_permille").orderBy("da", "db")
  }

  /** ExactSubstr-style repeated-span detection (the Lee et al.
    * "Deduplicating Training Data Makes Language Models Better" shape,
    * public): maximal word spans whose EVERY 3-word shingle occurs in >=
    * `minDocs` distinct documents — the passages a span-level dedup or
    * boilerplate trimmer would cut, found WITHOUT suffix arrays.
    * Returns (doc_id, span_start (1-based word index), span_words) for
    * spans of at least `minSpanWords` words.
    *
    * Scale shape: positioned shingles reduce to narrow (doc_id, pos,
    * md5) rows — raw shingle text is never a shuffle key (the
    * boilerplate-digest pattern); the hot set comes from one digest-keyed
    * countDistinct; only MATCHED positions shuffle again (by doc_id) for
    * the run segmentation window (consecutive positions collapse via the
    * pos - row_number trick). Document text itself never shuffles.
    */
  def repeatedSpans(docs: DataFrame, minDocs: Int, minSpanWords: Int): DataFrame = {
    val pos = TextOps.withWords(docs).where(size(col("arr")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(arr)-2), i -> struct(i AS pos, " +
          "concat(element_at(arr,i),' ',element_at(arr,i+1),' ',element_at(arr,i+2)) AS s))")).as("ps"))
      .select(col("doc_id"), col("ps.pos").as("pos"), md5(col("ps.s")).as("h"))
    val hot = pos.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("sdf"))
      .where(col("sdf") >= minDocs).select("h")
    val matched = pos.join(hot, Seq("h")).select("doc_id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    matched.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + lit(3)).cast("long").as("span_words"))
      .where(col("span_words") >= minSpanWords)
      .select("doc_id", "span_start", "span_words")
      .orderBy("doc_id", "span_start")
  }

  /** [[repeatedSpans]] applied — the ExactSubstr-style trim itself:
    * each document's word stream with every word inside a qualifying
    * repeated span removed. Token-level contract (output text is the
    * space-joined surviving words), matching the suffix-array original
    * which operates on the tokenized stream, not raw bytes.
    *
    * Scale shape: spans are already narrow (doc_id, start, len) rows;
    * they collapse to one bounded per-doc removal-position array, and the
    * corpus text shuffles exactly once — through the SHUFFLE_HASH join
    * against that small removal side (the stripBoilerplate above-gate
    * pattern); the cut is an in-row indexed filter (interpreted lambda,
    * but map-side — it never leaves the probe stage).
    */
  def stripRepeatedSpans(docs: DataFrame, minDocs: Int,
                         minSpanWords: Int): DataFrame = {
    val rm = repeatedSpans(docs, minDocs, minSpanWords)
      .select(col("doc_id"),
        expr("sequence(span_start, span_start + span_words - 1)").as("ps"))
      .groupBy("doc_id").agg(flatten(collect_list(col("ps"))).as("rmp"))
    TextOps.withWords(docs)
      .join(rm.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .select(col("doc_id"), array_join(filter(col("arr"),
          (w, i) => !array_contains(
            coalesce(col("rmp"), typedlit(Seq.empty[Long])),
            (i + 1).cast("long"))), " ").as("text"))
      .orderBy("doc_id")
  }

  /** Rounds between two lineage cuts of [[dupClusters]]' label frame: the
    * printed plan grows ~4x per uncut round (18.7k lines after 4 rounds).
    */
  private final val ClusterCheckpointRounds = 3

  /** Connected components over a near-duplicate pair graph — the
    * cluster-then-keep-one step that follows any pair generator
    * ([[exactDupGroups]]' groups, [[minhashLshPairs]], [[simhashPairs]]):
    * near-dup is not transitive, but dedup policy treats it as if it were,
    * so pairs must be closed into components before survivors are chosen.
    * Input is (da, db) pairs; output is (doc_id, cluster_id) for every doc
    * that appears in a pair, with cluster_id = the smallest doc_id in the
    * component — the canonical survivor (consumers drop rows where
    * doc_id != cluster_id).
    *
    * Algorithm: distributed hash-min label propagation (the classic
    * MapReduce-CC shape, cf. Kiveris et al. "Connected Components in
    * MapReduce and Beyond", public): every vertex starts labeled with
    * itself; each round every vertex takes the min of its own and its
    * neighbors' labels; done when nothing changes. Rounds = graph
    * diameter — near-dup components are band-collision near-cliques, so
    * diameters stay small at any corpus size. Each round is one shuffle
    * join (edges x labels) + one min-aggregation, all distributed; labels
    * only ever decrease, so convergence is detected by an unchanged 1-row
    * (count, sum) fingerprint — nothing but that scalar ever reaches the
    * driver. Superseded label frames are unpersisted each round.
    *
    * Lineage: each round's label frame reads the previous one twice (the
    * union and the join), so a persisted frame's plan nests every earlier
    * round's (q61's plan reached 15.7k lines at sf0.001). Every
    * [[ClusterCheckpointRounds]] rounds, and once more for the returned
    * frame, the labels are `localCheckpoint`ed — one job over the cached
    * labels — so no plan nests more than that many rounds and the result
    * reads a leaf scan. Checkpointed blocks are released when their frame
    * is garbage-collected.
    */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 50): DataFrame = {
    val e = pairs.select(col("da").as("v"), col("db").as("n"))
      .unionAll(pairs.select(col("db").as("v"), col("da").as("n")))
      .distinct().persist()
    var lab = e.select(col("v")).distinct().withColumn("l", col("v")).persist()
    // (vertex count, label sum): labels only decrease, so an unchanged
    // fingerprint == no label changed (sum is null only on an empty graph)
    // decimal(38,0) sum: at 10^12-doc id magnitudes a LongType label sum
    // can silently wrap, and a wrap of exactly 2^64 between rounds would
    // fake convergence — decimal keeps the monotone-decrease argument exact
    def fingerprint(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("l").cast("decimal(38,0)"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var fp = fingerprint(lab)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val prop = e.join(
          lab.select(col("v").as("n"), col("l").as("nl")), Seq("n"))
        .select(col("v"), col("nl").as("l"))
      val nxt = lab.unionAll(prop)
        .groupBy("v").agg(min(col("l")).as("l")).persist()
      val nfp = fingerprint(nxt)
      done = nfp == fp
      lab.unpersist()
      rounds += 1
      lab = if (done || rounds % ClusterCheckpointRounds == 0) {
        val cut = nxt.localCheckpoint()
        nxt.unpersist()
        cut
      } else nxt
      fp = nfp
    }
    if (!done) { // release BOTH frames before failing (round-5 nit: the
      e.unpersist(blocking = false) // failure path leaked them)
      lab.unpersist(blocking = false)
      require(done, s"dupClusters did not converge in $maxRounds rounds " +
        "(graph diameter exceeds the round cap)")
    }
    e.unpersist()
    lab.select(col("v").cast("long").as("doc_id"),
        col("l").cast("long").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** The end-to-end near-duplicate corpus dedup — the one-call composition
    * a pipeline actually runs (RefinedWeb/Gopher's "keep one document per
    * near-dup cluster"): [[minhashLshPairs]] generates exact-verified
    * >= `thresholdPermille` pairs from banded signature collisions,
    * [[dupClusters]] closes them into components, and every document
    * that is not its component's minimum id is dropped. Returns the
    * surviving doc_ids.
    *
    * Scale shape: inherits the banded-LSH candidate bound (no all-pairs
    * work) and the per-round shuffle join + min-agg of the closure; the
    * final membership check is a SHUFFLE_HASH left join against the
    * cluster table, whose size is bounded by the paired-document count,
    * not the corpus.
    */
  def nearDedupSurvivors(docs: DataFrame, thresholdPermille: Int): DataFrame = {
    val clusters = dupClusters(minhashLshPairs(docs, thresholdPermille))
    docs.join(clusters.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .where(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id")).orderBy("doc_id")
  }

  /** Cap-calibration probe for the df-capped [[jaccardPairs]]: over all
    * pairs whose TRUE Jaccard >= threshold, the largest "min shared-shingle
    * df" — i.e. the smallest cap that still generates every qualifying pair
    * as a candidate. None when no pair qualifies. Quadratic (it runs the
    * uncapped shape) — a harness/self-check tool, never a production path:
    * the verify harness uses it to fail with a distinct "cap miscalibrated"
    * message instead of a generic parity mismatch when a regenerated corpus
    * silently outgrows the oracle's cap.
    */
  def requiredShingleDfCap(docs: DataFrame, thresholdPermille: Int): Option[Long] = {
    val sh = shingles(docs).cache()
    try {
      val sdf = sh.groupBy("s").agg(count(lit(1)).as("sdf"))
      val qual = jaccardPairs(docs, thresholdPermille, allowUncapped = true)
        .select("da", "db")
      val worst = qual
        .join(sh.withColumnRenamed("doc_id", "da"), "da")
        .join(sh.withColumnRenamed("doc_id", "db").withColumnRenamed("s", "s2"), "db")
        .where(col("s") === col("s2"))
        .join(sdf, "s")
        .groupBy("da", "db").agg(min(col("sdf")).as("min_df"))
        .agg(max(col("min_df")).as("cap")).collect()
      worst.headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
    } finally sh.unpersist()
  }

  /** Benchmark decontamination: flag (corpus doc, benchmark doc) pairs that
    * share >= `minCommon` distinct word-3-shingles — the standard
    * eval-suite leakage check a training-data pipeline runs before a model
    * sees the corpus. `benchmark` is (bench_id, text) and is TINY by
    * construction (eval suites are thousands of rows), so its shingle set
    * broadcasts; the corpus is scanned ONCE, shingled map-side, and only
    * matching (doc_id, bench_id, shingle) rows enter the count aggregate —
    * no corpus shuffle, no self-join, the right 100 TB shape.
    */
  def contaminationPairs(docs: DataFrame, benchmark: DataFrame,
                         minCommon: Int): DataFrame = {
    val bs = shingles(benchmark.select(col("bench_id").as("doc_id"), col("text")))
      .select(col("doc_id").as("bench_id"), col("s"))
    shingles(docs).join(broadcast(bs), Seq("s"))
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
      .select("doc_id", "bench_id", "common").orderBy("doc_id", "bench_id")
  }

  /** Integer shingle hash, identical in Spark and DuckDB SQL:
    * fold chars: (acc*31 + codepoint) % 1000000007.
    */
  // NB: Spark split(s,'') keeps a trailing '' (limit -1); filter it so the
  // char list matches DuckDB's string_split_regex(s,'') exactly.
  val ShingleHashSql =
    "aggregate(filter(split(s, ''), c -> c <> ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"

  final val NumHashes = 16
  final val BandRows = 2 // 8 bands x 2 rows
  final val MinHashP = 2147483647L // 2^31-1, keeps a*h+b within BIGINT
  /** Fixed affine coefficients (deterministic, embedded in oracle SQL too). */
  val HashA: Seq[Long] = (1 to NumHashes).map(i => 2L * i * 104729L + 1L)
  val HashB: Seq[Long] = (1 to NumHashes).map(i => i * 7919L)

  /** MinHash signatures: (doc_id, sig: array[NumHashes] of long). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesOf(shingles(docs))

  /** [[minhashSignatures]] from a prepared (doc_id, s) shingle frame —
    * lets [[minhashLshPairs]] share ONE cached shingle table between the
    * signature pass and the exact-verify pass instead of tokenizing and
    * shingling the corpus twice.
    */
  private def minhashSignaturesOf(sh: DataFrame): DataFrame = {
    val hashed = sh.withColumn("hv", expr(ShingleHashSql))
    val minCols = (0 until NumHashes).map { i =>
      min(expr(s"(${HashA(i)} * hv + ${HashB(i)}) % $MinHashP")).as(s"m$i")
    }
    hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** MinHash+LSH candidate pairs, exactly verified: band on BandRows-tuples
    * of the signature, join colliding docs, then verify TRUE Jaccard >=
    * threshold. The verify step makes the output exact whenever LSH recall
    * is 1.0 on the dataset (the banding only bounds the candidate set).
    */
  def minhashLshPairs(docs: DataFrame, thresholdPermille: Int): DataFrame = {
    val sh = shingles(docs) // one frame, shared via exchange reuse (see above)
    val sig = minhashSignaturesOf(sh)
    val nBands = NumHashes / BandRows
    // ONE pass over the signatures: explode an in-row array of (band, key)
    // structs instead of unioning nBands re-scans of the aggregate
    val bandStructs = (0 until nBands).map { bIdx =>
      val cols = (bIdx * BandRows until (bIdx + 1) * BandRows).map(i => col(s"m$i"))
      struct(lit(bIdx).as("band"), concat_ws("_", cols: _*).as("bkey"))
    }
    val bands = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
    // exact verify over the SAME shingle frame the signatures came from —
    // its exchange is computed once per action and reused
    verifyJaccard(cands, sh, thresholdPermille)
  }

  /** Word hash for SimHash — same fold as shingle hash but over a word. */
  val WordHashSql =
    "aggregate(filter(split(w, ''), c -> c <> ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"

  final val SimHashBits = 30 // < 31 so hv bit extraction stays in range

  /** SimHash near-dup pairs: band the signatures (OR-amplification), pair
    * on band collisions only, then verify by exact Hamming distance —
    * never all-pairs, the same 100 TB shape as the MinHash+LSH path.
    * `bands` must divide [[SimHashBits]].
    */
  def simhashPairs(docs: DataFrame, bands: Int, maxHamming: Int): DataFrame = {
    require(SimHashBits % bands == 0, s"bands must divide $SimHashBits")
    val bandBits = SimHashBits / bands
    val mask = (1L << bandBits) - 1
    val sh = simhash(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"))
      .withColumn("bkey",
        expr(s"shiftright(simhash, cast(band * $bandBits AS int)) & ${mask}L"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("a.simhash").as("sa"),
        col("b.doc_id").as("db"), col("b.simhash").as("sb"))
      .distinct()
    cands.withColumn("hamming", expr("bit_count(sa ^ sb)"))
      .where(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming").cast("long").as("hamming"))
      .orderBy("da", "db")
  }

  /** 30-bit SimHash per doc from tf-weighted word-hash bit votes. */
  def simhash(docs: DataFrame): DataFrame = {
    val wordTf = TextOps.tokens(docs)
      .groupBy(col("doc_id"), col("term").as("w"))
      .agg(count(lit(1)).as("f"))
      .withColumn("hv", expr(WordHashSql))
    val bits = wordTf.select(col("doc_id"), col("f"), col("hv"),
        explode(expr(s"sequence(0, ${SimHashBits - 1})")).as("bit"))
      .withColumn("vote",
        expr("CASE WHEN (shiftright(hv, cast(bit AS int)) & 1) = 1 THEN f ELSE -f END"))
      .groupBy("doc_id", "bit").agg(sum(col("vote")).as("v"))
    bits.withColumn("contrib",
        expr("CASE WHEN v >= 0 THEN shiftleft(1L, cast(bit AS int)) ELSE 0L END"))
      .groupBy("doc_id").agg(sum(col("contrib")).as("simhash"))
      .orderBy("doc_id")
  }
}
