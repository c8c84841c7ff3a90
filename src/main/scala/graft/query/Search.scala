package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import graft.build.IndexBuild
import graft.build.IndexBuild.readTable
import graft.core.{Gram, Tokenizer}

/** Query engine over a built index directory — the Spark-native rebuild of
  * the reference's `search` path (reference: cmdSearch fts-lmdb.go:1046-1081,
  * findCandidates 1128-1165, intersectGrams 1497-1528, fuzzyMatch 1530-1550,
  * hasArg verify 1299-1311) plus BM25 top-k with block-max WAND per the
  * north rule.
  *
  * Plan shapes:
  *  - candidate retrieval prunes the gram-postings scan to the query grams'
  *    bucket partitions (partition pruning) + key pushdown, groups the
  *    segments by doc range and intersects them per range with the
  *    leapfrog [[Wand.intersect]] kernel — only matching doc ids leave a
  *    range;
  *  - candidates are verified against chunk text AFTER hydration, exactly
  *    like the reference's candidates-then-verify split;
  *  - BM25 groups the query terms' segments by doc range (range_id) so the
  *    WAND kernel runs document-partitioned; only per-range top-k rows
  *    reach the global merge;
  *  - the per-range kernels (BM25, candidates, fuzzy) have two placements,
  *    decided per query by the df sum of the query keys — the exact number
  *    of postings the pruned scan reads ([[perRangeKernel]]): at most
  *    `maxInlinePostings` ([[Search.DefaultMaxInlinePostings]]) with the
  *    dead-doc set inline, the kernels run on the driver over the keys'
  *    segments, which the Search keeps in a driver cache
  *    ([[Search.SegmentCache]], bounded by the same gate): the keys it
  *    misses are fetched by ONE collect of the pruned scan, and a query
  *    whose keys are all cached runs no Spark job. The driver kernels
  *    return a local relation (BM25 already merged to the global top-k).
  *    Above the gate, or with the dead-doc set distributed, the segments
  *    are grouped by range_id across the cluster (two jobs: the scan's
  *    shuffle and the result);
  *  - a search whose candidates fit the hydration gate
  *    (`maxInlineCandidates`) collects its verified rows in ONE job and
  *    sorts them on the driver into a local relation; above it the ids are
  *    shuffle-joined to the docs store and sorted across the cluster.
  *
  * Snapshot contract: a Search pins the index as it is at construction —
  * `stats` and the file lists of the docs, postings, dictionary,
  * tombstone and empty-groups tables are fixed then, and every query
  * filters those relations (reference analog: one read transaction per
  * search, fts-lmdb.go:1691-1721). So the posting segments it caches never
  * go stale: they are the segments of the index it pinned. Open a new
  * Search after any write. A Search opened before a `compact`,
  * `mergeSegments` or dictionary rewrite may hit files those operations
  * deleted.
  */
class Search(spark: SparkSession, dir: String,
             /** see [[Search.DefaultMaxInlineCandidates]]; tests inject 0
               * to force the join-hydration path */
             maxInlineCandidates: Int = Search.DefaultMaxInlineCandidates,
             /** see [[Search.DefaultMaxInlineTombstones]]; tests inject 0
               * to force the distributed dead-id path */
             maxInlineTombstones: Long = Search.DefaultMaxInlineTombstones)
    extends Serializable {
  import spark.implicits._
  import Search.Seg

  /** see [[Search.DefaultMaxInlinePostings]]; tests set 0 to force the
    * distributed per-range kernels */
  private[graft] var maxInlinePostings: Long = Search.DefaultMaxInlinePostings

  val stats: IndexBuild.DocStats = IndexBuild.readDocStats(dir)
  @transient private val docs = readTable(spark, dir, IndexBuild.DocsTable)
  @transient private val termPostings = readTable(spark, dir, IndexBuild.TermPostingsTable)
  @transient private val gramPostings = readTable(spark, dir, IndexBuild.GramPostingsTable)
  @transient private val dictionary = readTable(spark, dir, IndexBuild.DictTable)
  @transient private val gramDictionary = readTable(spark, dir, IndexBuild.GramDictTable)
  @transient private val tombstones = graft.maint.Maintenance.tombstones(spark, dir)
  @transient private val emptyGroups = graft.maint.Maintenance.emptyGroupUrls(spark, dir)

  /** The dead-doc view (reference validity filter P5,
    * fts-lmdb.go:1151-1162): the exact tombstoned doc-id set when at most
    * `maxInlineTombstones` ids are dead, else `None` — a bulk-delete
    * backlog never collects to the driver and stays distributed. One
    * bounded probe per Search decides ([[graft.Bounded.collect]]);
    * [[graft.maint.Maintenance.compact]] empties the set.
    */
  lazy val deadIds: Option[Set[Long]] =
    graft.Bounded.collect(tombstones.select($"doc_id").as[Long], maxInlineTombstones)
      .map(_.toSet)

  /** Drop dead docs from a relational input with a `doc_id` column: a
    * pushed-down id filter over [[deadIds]], or a left-anti join against
    * the tombstone table above the gate.
    */
  private def liveFilter(df: DataFrame): DataFrame = deadIds match {
    case Some(dead) if dead.isEmpty => df
    case Some(dead) => df.where(!$"doc_id".isInCollection(dead))
    case None => df.join(tombstones.select("doc_id"), Seq("doc_id"), "left_anti")
  }

  /** The driver placement's posting segments, kept for the life of this
    * Search (see [[Search.SegmentCache]]); never shipped in a closure.
    */
  @transient private val segCache = new Search.SegmentCache

  /** Dictionary df total of the keys [[segCache]] holds; at most
    * `maxInlinePostings` as it stood at the last fetch.
    */
  private[graft] def cachedPostings: Long = segCache.postings

  /** Run a per-range posting kernel over the segments of `keys` (each with
    * its dictionary df, the key's `n_docs` summed over its segments, so
    * the dfs sum to exactly the number of postings the scan reads):
    *  - `Left`, on the driver: with [[deadIds]] inline and at most
    *    `maxInlinePostings` postings, the keys' segments come from
    *    [[segCache]], whose misses are fetched by one collect of the
    *    pruned scan (no job when every key is cached); they are grouped by
    *    range_id, and each range's kernel runs with the exact dead set;
    *  - `Right`, distributed: the segments are grouped by range_id across
    *    the cluster, the inline dead set travelling in the closure or,
    *    above the tombstone gate, the tombstone ids cogrouped into each
    *    range by range_id — a hot key's postings and a bulk-delete backlog
    *    never reach the driver.
    */
  private def perRangeKernel[T: Encoder](keys: Seq[(String, Long)], gramsTable: Boolean)(
      kernel: (Iterator[Seg], Long => Boolean) => Iterator[T]): Either[Seq[T], Dataset[T]] = {
    def segs = segments(keys.map(_._1), gramsTable)
    val gate = maxInlinePostings
    deadIds match {
      case Some(dead) =>
        val live: Long => Boolean =
          if (dead.isEmpty) _ => true else d => !dead.contains(d)
        if (keys.map(_._2).sum <= gate)
          Left(segCache.rows(gramsTable, keys, gate)(segments(_, gramsTable).collect())
            .groupBy(_.range_id).toSeq.sortBy(_._1)
            .flatMap { case (_, rows) => kernel(rows.iterator, live) })
        else Right(segs.groupByKey(_.range_id).flatMapGroups((_, it) => kernel(it, live)))
      case None =>
        val rs = stats.rangeSize
        val deadByRange = tombstones.select($"doc_id").as[Long]
          .map(id => ((id / rs).toInt, id))
          .groupByKey(_._1)
        Right(segs.groupByKey(_.range_id).cogroup(deadByRange) { (_, segIt, deadIt) =>
          val ds = new scala.collection.mutable.HashSet[Long]
          deadIt.foreach(ds += _._2)
          kernel(segIt, d => !ds.contains(d))
        })
    }
  }

  /** A [[perRangeKernel]] result as a Dataset: the driver rows as a local
    * relation, which `collect` answers without a job.
    */
  private def asDataset[T: Encoder](r: Either[Seq[T], Dataset[T]]): Dataset[T] =
    r.fold(spark.createDataset(_), identity)

  /** Delegates to the build-side definition so the hash/seed/floorMod
    * contract lives in exactly one place — query-time bucket pruning must
    * never diverge from build-time bucket assignment.
    */
  private def termBucket(t: String): Int =
    IndexBuild.termBucket(t, stats.nBuckets)

  /** Size-gated driver cache of the whole term dictionary: at or below
    * [[Search.MaxInlineDictTerms]] rows (one bounded probe,
    * [[graft.Bounded.collect]]) the (term, df) map is collected once per
    * Search instance and every query's dictionary slice is a driver map
    * probe instead of a Spark job. Above the gate (web-scale vocabularies)
    * the cache stays empty and [[dictLookup]] falls back to the pruned
    * per-query scan. Bound to the index state at construction, like
    * `stats`.
    */
  private lazy val inlineDict: Option[Map[String, Long]] =
    graft.Bounded.collect(dictionary.select($"term", $"df".cast("long")), Search.MaxInlineDictTerms)
      .map(_.map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** Dictionary lookup for query terms (term -> df). Tiny collect: the
    * north rule's "broadcast dictionary" slice for this query.
    */
  def dictLookup(terms: Seq[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    inlineDict match {
      case Some(m) => terms.iterator.flatMap(t => m.get(t).map(t -> _)).toMap
      case None =>
        dictionary.where($"term".isin(terms: _*))
          .select($"term", $"df".cast("long"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** The whole gram dictionary, cached driver-side: it is bounded by the
    * gram space (37^3 = 50,653 entries) at ANY corpus size, so one small
    * job per Search instance replaces a dictionary-scan job per query.
    */
  private lazy val gramDict: Map[Int, Long] =
    gramDictionary.select($"gram", $"df".cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def gramDictLookup(grams: Seq[Int]): Map[Int, Long] =
    grams.iterator.flatMap(g => gramDict.get(g).map(g -> _)).toMap


  /** Pruned scan of a postings table for the given keys. */
  private def segments(keys: Seq[String], gramsTable: Boolean): Dataset[Seg] = {
    val buckets =
      if (gramsTable) keys.map(k => IndexBuild.gramCode(k) % stats.nBuckets).distinct
      else keys.map(termBucket).distinct
    (if (gramsTable) gramPostings else termPostings)
      .where($"bucket".isin(buckets: _*) && $"key".isin(keys: _*))
      .select($"key", $"range_id", $"first_doc", $"postings")
      .as[Seg]
  }

  // ---------------------------------------------------------------- BM25

  /** BM25 top-k (conjunctive = every term must match). Returns
    * (doc_id, score) sorted (score desc, doc_id asc), exactly k rows max.
    */
  def bm25TopK(query: Seq[String], k: Int, conjunctive: Boolean): DataFrame = {
    val terms = query.flatMap(Tokenizer.terms).distinct.sorted
    val dict = dictLookup(terms)
    val present = terms.filter(dict.contains)
    val effective = if (conjunctive) {
      if (present.size != terms.size) Seq.empty else terms
    } else present
    if (effective.isEmpty)
      return spark.emptyDataset[Wand.ScoredDoc].toDF("doc_id", "score")
    val n = stats.nDocs
    val idfs: Map[String, Double] = effective.map(t => t -> Wand.idf(n, dict(t))).toMap
    val (k1, b, avgdl) = (stats.k1, stats.b, stats.avgdl)
    val nTerms = effective.size
    val conj = conjunctive
    perRangeKernel(effective.map(t => t -> dict(t)), gramsTable = false) {
      (rows, live) =>
        val cursors = Search.cursors(rows, idfs, k1, b)
        if (conj && cursors.length != nTerms) Iterator.empty
        else Wand.topK(cursors, k, conj, k1, b, avgdl, live).iterator
    } match {
      case Left(perRange) =>
        perRange.sortWith((x, y) => x.score > y.score || (x.score == y.score && x.doc_id < y.doc_id))
          .take(k).toDF("doc_id", "score")
      case Right(perRange) =>
        perRange.toDF("doc_id", "score")
          .orderBy($"score".desc, $"doc_id".asc)
          .limit(k)
    }
  }

  /** Brute-force BM25 (oracle / small scale): same contributions summed in
    * the same lexicographic term order — must be rank- and score-identical
    * to [[bm25TopK]].
    */
  def bm25BruteForce(query: Seq[String], k: Int, conjunctive: Boolean): DataFrame = {
    val terms = query.flatMap(Tokenizer.terms).distinct.sorted
    val dict = dictLookup(terms)
    if (terms.isEmpty || (conjunctive && !terms.forall(dict.contains)))
      return spark.emptyDataset[Wand.ScoredDoc].toDF("doc_id", "score")
    val present = terms.filter(dict.contains)
    val n = stats.nDocs
    val idfs = present.map(t => t -> Wand.idf(n, dict(t))).toMap
    val (k1, b, avgdl) = (stats.k1, stats.b, stats.avgdl)
    val termsB = present.toArray // lex-sorted
    // same live view as the WAND kernels (size-gated via liveFilter).
    // Term freqs are re-derived from the chunk text (the docs store keeps
    // no token arrays) — deterministic, identical to the indexed postings.
    val rows = liveFilter(docs.select($"doc_id", $"dl", $"chunk_text"))
      .as[(Long, Int, String)]
      .flatMap { case (docId, dl, text) =>
        {
        val m = Tokenizer.termFreqs(text).toMap
        if (conjunctive && !termsB.forall(m.contains)) Iterator.empty
        else {
          var s = 0.0
          var matched = false
          termsB.foreach { t =>
            m.get(t).foreach { f =>
              s += Wand.contribution(idfs(t), f, dl.toLong, k1, b, avgdl)
              matched = true
            }
          }
          if (matched) Iterator(Wand.ScoredDoc(docId, s)) else Iterator.empty
        }
        }
      }
    rows.toDF("doc_id", "score").orderBy($"score".desc, $"doc_id".asc).limit(k)
  }

  // ------------------------------------------------- candidate retrieval

  /** Conjunctive gram-candidate retrieval (reference intersectGrams,
    * fts-lmdb.go:1497-1528): per doc range, a leapfrog block-skipping
    * intersection kernel over the query grams' segments — only matching
    * doc ids leave each partition (no posting-list explosion, no shuffle
    * beyond the pruned segment scan). Missing gram short-circuits to empty
    * (reference exits 1).
    */
  def candidates(args: Seq[String], partial: Boolean = false): DataFrame = {
    val grams = Gram.gramsSorted(partial, args)
    asDataset(candidatesFromGrams(grams, gramDictLookup(grams.toSeq))).toDF("doc_id")
  }

  /** Explicit-gram candidate retrieval (reference `search -candidates
    * -grams/-gx/-gd`, gramFor fts-lmdb.go:780-793): same kernel as
    * [[candidates]] but the caller supplies gram codes directly — parse
    * literal forms with [[Gram.parseGram]].
    */
  def candidatesByGrams(grams: Seq[Int]): DataFrame = {
    val gs = grams.distinct.sorted.toArray
    asDataset(candidatesFromGrams(gs, gramDictLookup(gs.toSeq))).toDF("doc_id")
  }

  /** Kernel shared by [[candidates]]/[[search]] so the dictionary slice is
    * looked up exactly once per query. The ids are on the driver (`Left`)
    * or distributed (`Right`), wherever [[perRangeKernel]] ran.
    */
  private def candidatesFromGrams(grams: Array[Int],
                                  df: Map[Int, Long]): Either[Seq[Long], Dataset[Long]] = {
    if (Search.unmatchable(grams, df)) return Left(Seq.empty)
    val nKeys = grams.length
    perRangeKernel(Search.gramKeys(grams, df), gramsTable = true) { (rows, live) =>
      val cursors = Search.cursors(rows, _ => 0.0, 1.2, 0.75)
      if (cursors.length != nKeys) Iterator.empty
      else Wand.intersect(cursors, live)
    }
  }

  /** Fuzzy gram-overlap scoring (reference fuzzyMatch fts-lmdb.go:1530-1550;
    * forces partial grams per 1056-1061; any missing gram -> empty).
    * Returns (doc_id, hits, ratio) for ratio >= minRatio. Implemented as a
    * per-range k-way merge kernel ([[perRangeKernel]]): only the docs at or
    * above the ratio leave a range.
    */
  def fuzzy(args: Seq[String], minRatio: Double): DataFrame = {
    val grams = Gram.gramsSorted(partial = true, args)
    val df = gramDictLookup(grams.toSeq)
    if (Search.unmatchable(grams, df))
      return spark.range(0).select($"id".as("doc_id"), lit(0L).as("hits"),
        lit(0.0).as("ratio"))
    val q = grams.length.toDouble
    val minR = minRatio
    asDataset(perRangeKernel(Search.gramKeys(grams, df), gramsTable = true) { (rows, live) =>
        Wand.overlapCounts(Search.cursors(rows, _ => 0.0, 1.2, 0.75), live)
          .filter { case (_, hits) => hits / q >= minR }
          .map { case (d, hits) => (d, hits.toLong, hits / q) }
    }).toDF("doc_id", "hits", "ratio")
  }

  /** Fuzzy search with the reference's result framing (W2/W4). Hydrates
    * [[fuzzy]] doc rows to chunks and orders them like the reference:
    *  - default: per-group best-match-first (chunkInfo fts-lmdb.go:1366-1371)
    *    — rows ranked within each url by (ratio desc), output ordered
    *    (url asc, rn asc), optional per-group limit;
    *  - `sortGlobal=true` (`-fuzzy -sort`, sortFuzzy fts-lmdb.go:1390-1408):
    *    one global ordering (ratio ASC, url ASC) ignoring group framing.
    * The reference's equal-ratio order is map-iteration nondeterministic;
    * we tie-break by doc_id for reproducibility.
    *
    * The global rank is computed WITHOUT a single-partition window: rows
    * are range-partitioned + sorted on the total key (ratio, url, doc_id)
    * and the rank is per-partition offset + local index (the same prefix-
    * sum trick as doc-id assignment, here via `zipWithIndex`) — a hot
    * query at a low minRatio ranks distributed instead of dragging every
    * match through one task. Cost: the count pass evaluates the (cheap,
    * kernel-side-filtered) fuzzy scoring twice.
    */
  def fuzzySearch(args: Seq[String], minRatio: Double,
                  sortGlobal: Boolean = false,
                  limitPerGroup: Int = Int.MaxValue,
                  /** also emit `position` (rune_off+1, the reference
                    * chunkInfo start field) for display rendering; off by
                    * default so the relational output schema is stable */
                  includePosition: Boolean = false): DataFrame = {
    val hydrated0 = docs.join(fuzzy(args, minRatio).hint("SHUFFLE_HASH"),
      Seq("doc_id"))
    // the reference's -limit caps results PER GROUP at chunk fetch, BEFORE
    // any global sort (chunkInfo `len(result) >= cfg.limit`, fts-lmdb.go:
    // 1359-1362) — so it applies in both framings. Its truncation order is
    // map-random; we keep the group's BEST matches (ratio desc, doc_id) for
    // a deterministic, strictly-more-useful cut. Window only when a limit
    // is set (same rule as search's W5).
    val hydrated =
      if (limitPerGroup == Int.MaxValue) hydrated0
      else {
        val wl = Window.partitionBy($"url").orderBy($"ratio".desc, $"doc_id".asc)
        hydrated0.withColumn("lrn", row_number().over(wl))
          .where($"lrn" <= limitPerGroup).drop("lrn")
      }
    val framed = if (sortGlobal) {
      val np = spark.sessionState.conf.numShufflePartitions
      val sorted = hydrated
        .select($"url", $"doc_id", $"line", $"hits", $"ratio", $"chunk_text",
          ($"rune_off" + 1).as("position"))
        .repartitionByRange(np, $"ratio".asc, $"url".asc, $"doc_id".asc)
        .sortWithinPartitions($"ratio".asc, $"url".asc, $"doc_id".asc)
        .as[(String, Long, Int, Long, Double, String, Long)]
      // the sort key is total (doc_id is unique), so offset+local-index
      // reproduces row_number exactly, independent of range boundaries
      val ranked = sorted.rdd.zipWithIndex().map {
        case ((url, id, line, hits, ratio, text, pos), i) =>
          (url, id, line, hits, ratio, text, pos, i + 1)
      }
      spark.createDataFrame(ranked)
        .toDF("url", "doc_id", "line", "hits", "ratio", "chunk_text",
          "position", "rn")
        .orderBy($"rn")
    } else {
      val w = Window.partitionBy($"url").orderBy($"ratio".desc, $"doc_id".asc)
      hydrated.withColumn("rn", row_number().over(w))
        .select($"url", $"doc_id", $"line", $"hits", $"ratio", $"chunk_text",
          ($"rune_off" + 1).as("position"), $"rn")
        .orderBy($"url", $"rn")
    }
    if (includePosition) framed
    else framed.drop("position")
  }

  // ------------------------------------------------------- full search

  /** Whole-word verify as a codegen'd Catalyst expression — see
    * [[graft.functions.VerifyMatch]] (stays inside whole-stage codegen; no
    * per-row args conversion like the UDF form it replaced).
    */
  private def verifyCol(chunk: Column, args: Seq[String], partial: Boolean): Column =
    graft.functions.VerifyMatch(chunk, args, partial)

  /** Full reference search semantics: gram candidates -> hydrate chunk rows
    * -> exact whole-word verify (AND of args) -> per-url ordering by
    * position with optional per-url limit (reference -limit,
    * fts-lmdb.go:1355-1365). Output columns mirror chunkInfo
    * (fts-lmdb.go:1328-1350).
    */
  def search(args: Seq[String], partial: Boolean = false,
             limitPerGroup: Int = Int.MaxValue,
             filterRegex: Option[String] = None): DataFrame = {
    // |candidates| <= min gram df, so the broadcast dictionary decides the
    // hydration plan BEFORE any kernel runs: small bound -> the ids go into
    // the docs scan; huge bound -> shuffle join, and distributed ids never
    // touch the driver.
    val grams = Gram.gramsSorted(partial, args)
    val dfs = gramDictLookup(grams.toSeq)
    val minDf = if (Search.unmatchable(grams, dfs)) 0L else grams.map(dfs).min
    val cands = candidatesFromGrams(grams, dfs) // dictionary looked up once
    val inline = minDf <= maxInlineCandidates
    val hydrated0 =
      if (inline)
        docs.where($"doc_id".isInCollection(cands.fold(identity, _.collect().toSeq)))
      else
        // SHUFFLE_HASH with the id-only candidate side as build: a sort-
        // merge join would sort the heavy chunk-text rows by doc_id just
        // to probe them (the same anti-pattern the id stamp avoids)
        docs.join(asDataset(cands).toDF("doc_id").hint("SHUFFLE_HASH"), Seq("doc_id"))
    val regexFiltered = filterRegex match {
      // reference -filter (fts-lmdb.go:1094-1099, applied at 1272); Java
      // dialect here vs the reference's RE2 — documented divergence
      case Some(re) => hydrated0.where($"chunk_text".rlike(re))
      case None => hydrated0
    }
    val hydrated = regexFiltered
      .withColumn("offset", verifyCol($"chunk_text", args, partial))
      .where($"offset" >= 0)
    val cols = Seq($"url", $"doc_id", $"line", ($"rune_off" + 1).as("position"),
      $"offset", $"chunk_text", $"byte_start")
    if (inline) return sortedOnDriver(hydrated.select(cols: _*), limitPerGroup)
    // W5 limit-per-group window only when a limit is actually set — with
    // the default unlimited it would add a whole shuffle just to compute a
    // row number the projection drops
    val limited =
      if (limitPerGroup == Int.MaxValue) hydrated
      else {
        val w = Window.partitionBy($"url").orderBy($"byte_start".asc, $"doc_id".asc)
        hydrated.withColumn("rn", row_number().over(w))
          .where($"rn" <= limitPerGroup)
      }
    limited.select(cols: _*)
      .orderBy($"url", $"byte_start")
      .drop("byte_start")
  }

  /** [[search]]'s output below the hydration gate, where the rows number
    * at most `maxInlineCandidates`: `rows` (url, doc_id, ..., byte_start)
    * collected in one job, sorted like `orderBy(url, byte_start)` (url in
    * UTF-8 byte order, as Spark compares strings, not Java's UTF-16 order;
    * ties by doc_id), cut to the first `limitPerGroup` rows of each url and
    * returned without byte_start as a local relation.
    */
  private def sortedOnDriver(rows: DataFrame, limitPerGroup: Int): DataFrame = {
    val sorted = rows.collect()
      .map(r => ((UTF8String.fromString(r.getString(0)), r.getLong(6), r.getLong(1)), r))
      .sortBy(_._1)(Ordering.Tuple3(Search.Utf8Order, Ordering.Long, Ordering.Long))
      .map(_._2)
    val perUrl = scala.collection.mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val kept =
      if (limitPerGroup == Int.MaxValue) sorted
      else sorted.filter { r => perUrl(r.getString(0)) += 1; perUrl(r.getString(0)) <= limitPerGroup }
    spark.createDataFrame(java.util.Arrays.asList(kept.map(r => Row.fromSeq(r.toSeq.init)): _*),
      StructType(rows.schema.init))
  }

  /** Search-time staleness check (reference findBadFiles,
    * fts-lmdb.go:1109-1126, which stats each hit's file): compare the
    * given urls' newest live indexed version against a current docs table.
    * Returns (url, status) with status `missing` (url absent from
    * `currentDocs` — reference exit 2) or `stale` (current version strictly
    * NEWER than the indexed one — reference exit 3). Strictly newer, not
    * merely different: the reference flags `ModTime().After(lastChanged)`
    * (fts-lmdb.go:1118), so a current version OLDER than the indexed one is
    * fresh — e.g. a file restored from backup after indexing a newer edit.
    *
    * Scale shape: `urls` is the hit-url set (bounded by the result), so
    * the indexed-version lookup runs docpart-pruned over the docs store
    * ([[graft.maint.Maintenance.docsOfUrls]]) and the join against the
    * (possibly huge) current table broadcasts the url set — the current
    * corpus is scanned once, never shuffled.
    */
  def badFiles(urls: DataFrame, currentDocs: DataFrame): DataFrame = {
    val indexed = liveFilter(graft.maint.Maintenance.docsOfUrls(docs, stats.docParts, urls))
      .groupBy($"url").agg(max($"warc_ts").as("indexed_ts"))
    // one row per url even if the current table carries multiple versions
    // (changelog-style): the NEWEST version is "the file's mtime" — a url
    // is fresh iff that newest version is the indexed one
    val cur = currentDocs.select($"url", $"warc_ts")
      .join(broadcast(indexed.select("url")), Seq("url"), "left_semi")
      .groupBy($"url").agg(max($"warc_ts").as("cur_ts"))
    indexed.join(cur, Seq("url"), "left_outer")
      .select($"url", when($"cur_ts".isNull, "missing")
        .when($"cur_ts" > $"indexed_ts", "stale").as("status"))
      .where($"status".isNotNull)
  }

  /** [[search]] with stale/missing groups dropped (reference `search -f`:
    * skip bad files instead of erroring, fts-lmdb.go:1117-1120).
    * At or below `maxInlineCandidates` bad urls, the set is collected once
    * (one bounded probe, [[graft.Bounded.collect]]) and applied as a
    * pushed-down filter; above the gate — a changed-everything corpus
    * under a hot query — the bad set stays distributed and is removed
    * with a left-anti join, the same pattern as the tombstone path. In
    * both shapes the search pipeline executes twice total (badFiles
    * derivation + the returned frame), not once more per join input.
    */
  def searchFresh(args: Seq[String], currentDocs: DataFrame,
                  partial: Boolean = false,
                  limitPerGroup: Int = Int.MaxValue,
                  filterRegex: Option[String] = None): DataFrame = {
    val hits = search(args, partial, limitPerGroup, filterRegex)
    // cache the (small: url+status) bad set so the probe AND the anti-join
    // consumer read one materialization — without it the anti-join's build
    // side would re-run the whole search pipeline a third time
    val bad = badFiles(hits.select("url").distinct(), currentDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Bounded.collect(bad.select("url").as[String], maxInlineCandidates) match {
      case Some(badUrls) =>
        bad.unpersist()
        if (badUrls.isEmpty) hits
        else hits.where(!$"url".isInCollection(badUrls.toSeq))
      case None =>
        // above the gate, materialize the (bounded: one row per bad url) set
        // as a scratch parquet and unpersist — a long-lived session running
        // many above-gate calls must not pin cached blocks until LRU
        // pressure evicts them; the lazy consumer re-reads a tiny file
        // instead. The scratch lives INSIDE the index dir: that is shared
        // storage by construction (every executor reads/writes it), whereas
        // a driver-local temp path would shred across executor-local disks
        // on a real cluster. The path is UNIQUE PER CALL (a process-wide
        // counter + a random session token), so an earlier call's
        // still-unevaluated result can never silently read a later call's
        // bad-url set or hit a missing file — the fixed-path overwrite bug.
        // Scratch files are one tiny url list each; they are removed with the
        // index dir (delete/compact/rebuild), and a caller that keeps an
        // index for years can clear `badurls_scratch_*` whenever no returned
        // frame is still live. Note the write also means searchFresh's
        // above-gate shape requires a WRITABLE index dir — the documented
        // trade-off for not pinning cached blocks.
        val scratch = IndexBuild.Table(s"badurls_scratch_${Search.scratchToken}_" +
          s"${Search.scratchCounter.incrementAndGet()}", Search.UrlSchema)
        bad.select("url").write.mode("overwrite").parquet(scratch.path(dir))
        bad.unpersist()
        hits.join(readTable(spark, dir, scratch), Seq("url"), "left_anti")
    }
  }

  /** File-cover search (reference -file mode, intersectFileGrams
    * fts-lmdb.go:1449-1495): a url matches iff for EVERY arg there exists a
    * chunk of that url whole-word-containing the arg (AND across args, OR
    * across chunks), gram-prefiltered per arg.
    */
  def searchFiles(args: Seq[String], partial: Boolean = false): DataFrame = {
    val perArg = args.zipWithIndex.map { case (a, i) =>
      val cands = candidates(Seq(a), partial)
      docs.join(cands.hint("SHUFFLE_HASH"), Seq("doc_id"))
        .where(verifyCol($"chunk_text", Seq(a), partial) >= 0)
        .select($"url").distinct()
        .withColumn("arg_i", lit(i))
    }
    perArg.reduce(_ union _)
      .groupBy($"url").agg(countDistinct($"arg_i").as("n_args"))
      .where($"n_args" === args.size)
      .select($"url")
      .orderBy($"url")
  }

  // ------------------------------------------------------- maintenance views

  /** DB-wide stats (reference `info`, totalInfo fts-lmdb.go:257-317). */
  def info(): DataFrame =
    docs.agg(countDistinct($"url").as("n_urls"), count(lit(1)).as("n_chunks"),
      sum($"dl".cast("long")).as("total_terms"))
      .crossJoin(dictionary.agg(count(lit(1)).as("n_terms")))
      .crossJoin(gramDictionary.agg(count(lit(1)).as("n_grams")))

  /** Per-group info view (reference `info -groups` / `info DB GROUP`,
    * fts-lmdb.go:273-317, 383-446): one row per url with chunk/term/gram
    * totals, latest warc_ts, and validity (tombstone flag). Aggregates the
    * live docs store — one shuffle on url, no posting scan.
    */
  def infoGroups(): DataFrame = {
    val liveAgg = liveFilter(docs).groupBy($"url").agg(count(lit(1)).as("n_chunks"),
      sum($"dl".cast("long")).as("sum_dl"),
      sum($"n_grams".cast("long")).as("sum_grams"),
      max($"warc_ts").as("last_changed"))
      .withColumn("deleted", lit(false))
    // fully-tombstoned groups surface with zero chunks (reference shows
    // deleted groups in info -groups); empty groups (S8) likewise
    val deletedRows = tombstones.select($"url").distinct()
      .join(liveAgg.select($"url"), Seq("url"), "left_anti")
      .select($"url", lit(0L).as("n_chunks"), lit(0L).as("sum_dl"),
        lit(0L).as("sum_grams"), lit(null).cast("timestamp").as("last_changed"),
        lit(true).as("deleted"))
    val emptyRows = emptyGroups.select($"url").distinct()
      .join(liveAgg.select($"url"), Seq("url"), "left_anti")
      .join(tombstones.select($"url").distinct(), Seq("url"), "left_anti")
      .select($"url", lit(0L).as("n_chunks"), lit(0L).as("sum_dl"),
        lit(0L).as("sum_grams"), lit(null).cast("timestamp").as("last_changed"),
        lit(false).as("deleted"))
    liveAgg.unionByName(deletedRows).unionByName(emptyRows).orderBy($"url")
  }

  /** Per-group chunk listing (reference `info DB GROUP -chunks`,
    * fts-lmdb.go:383-446): chunk rows for one url in position order.
    */
  def infoChunks(url: String): DataFrame = {
    val u = url
    liveFilter(docs.where($"url" === u))
      .select($"url", $"doc_id", $"chunk_seq", $"line", $"rune_off",
        $"rune_len", $"byte_start", $"byte_len", $"dl", $"n_grams", $"chunk_text")
      .orderBy($"byte_start")
  }

  /** Full-fidelity gram coverage CDF (reference `info -grams`,
    * displayGrams fts-lmdb.go:319-381): for each of the reference's 15
    * thresholds, how many grams appear in <= that fraction of chunks.
    * Integer-exact (thresholds in ppm: df*10^6 <= ppm*nChunks) so the
    * DuckDB oracle hashes bit-stably. The gram dictionary is bounded by
    * 37^3 rows, so the threshold cross join is O(1) at any corpus size.
    */
  def gramCoverage(): DataFrame = {
    val nChunks = stats.nDocs
    val thDf = Search.CoverageThresholdsPpm.toDF("ppm")
    val gd = gramDictionary.select($"df".cast("long").as("df"))
    val counts = gd.crossJoin(thDf)
      .where($"df" * lit(1000000L) <= $"ppm" * lit(nChunks))
      .groupBy($"ppm").agg(count(lit(1)).as("n_grams"))
    thDf.join(counts, Seq("ppm"), "left")
      .select($"ppm", coalesce($"n_grams", lit(0L)).as("n_grams"))
      .orderBy($"ppm")
  }

  /** Storage byte totals (reference displayGrams totalBytes/chunkBytes/
    * gramBytes): logical payload bytes from segment metadata (n_bytes) and
    * chunk byte lengths — metadata-only scans, postings column pruned.
    */
  def indexSizes(): DataFrame = {
    val chunkBytes = docs.agg(sum($"byte_len").as("chunk_bytes"))
    val gramBytes = gramPostings.agg(sum($"n_bytes".cast("long")).as("gram_bytes"))
    val termBytes = termPostings.agg(sum($"n_bytes".cast("long")).as("term_bytes"))
    chunkBytes.crossJoin(gramBytes).crossJoin(termBytes)
      .withColumn("total_bytes", $"chunk_bytes" + $"gram_bytes" + $"term_bytes")
  }

  /** Gram selectivity histogram (reference `info -grams`, displayGrams
    * fts-lmdb.go:319-381) — the skew diagnostic that motivates salting.
    */
  def gramHistogram(): DataFrame =
    gramDictionary.agg(count(lit(1)).as("n_grams"), min($"df").as("min_df"),
      max($"df").as("max_df"), sum($"df").as("total_postings"),
      expr("percentile_approx(df, array(0.5, 0.9, 0.99), 10000)").as("df_pcts"))
}

object Search {
  /** Candidate sets up to this size hydrate via a pushed-down id filter
    * (the docs files are doc_id-ascending, so parquet row-group stats prune
    * the scan) instead of a shuffle join against the full chunk store — the
    * distributed analog of the reference's per-OID chunk lookups
    * (getChunk fts-lmdb.go:1640-1642). Above it, fall back to the join:
    * a hot-term candidate list must never be collected to the driver.
    */
  final val DefaultMaxInlineCandidates = 100000

  /** Per-call scratch-path uniqueness for [[Search.searchFresh]]'s
    * above-gate bad-url set: a random per-process token (two concurrent
    * driver processes must not collide) plus a monotone counter.
    */
  private[query] val scratchToken: String =
    java.lang.Long.toHexString(new java.security.SecureRandom().nextLong())
  private[query] val scratchCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val UrlSchema = org.apache.spark.sql.types.StructType.fromDDL("url STRING")

  /** Term dictionaries up to this many rows are collected once per Search
    * instance and probed driver-side per query (~40 B/entry: ≤ ~20 MB at
    * the gate); above it every query runs the pruned dictionary scan —
    * a web-scale vocabulary must never be collected to the driver.
    */
  final val MaxInlineDictTerms = 500000L

  /** Tombstone sets up to this size ship as an exact driver-collected set
    * in kernel closures (16 MB of longs at the limit); above it dead ids
    * stay distributed and are cogrouped into the range kernels / anti-
    * joined in relational paths — a bulk-delete backlog must never OOM the
    * driver. Compaction resets the set.
    */
  final val DefaultMaxInlineTombstones = 2000000L

  /** Queries whose keys' df sum (the postings their pruned scan reads) is
    * at most this run their per-range kernels on the driver over one
    * collect of the scan, instead of a grouped scan across the cluster:
    * one Spark job per BM25, candidates or fuzzy query instead of two and a
    * shuffle, but the ranges' kernels run one after another on one driver
    * thread. Measured on a 5k-page index (4 ranges, local[4], 4 vCPUs),
    * median of 11 interleaved calls, driver vs distributed: candidates
    * 97 vs 148 ms at 252k postings, 111 vs 160 at 510k, 115 vs 157 at 752k
    * and 177 vs 181 at 1.0M, the crossover; fuzzy 198 vs 268 ms at 254k
    * and 177 vs 245 at 501k; BM25 (OR, 29 terms) 271 vs 396 ms at 101k
    * (5 calls). Fuzzy above 501k and BM25 above 101k postings are
    * unmeasured (the index's vocabulary runs out first). Hot slices of that
    * index sit far below the gate: BM25 `the of and` 33,264 term postings,
    * candidates `the and` 72,996 gram postings, search `the` 48,081. A hot
    * key of a 10^12-doc corpus never reaches the driver. The gate also
    * bounds the df total of the segments a Search keeps cached on the
    * driver ([[SegmentCache]]): about 1 MB per million postings on that
    * index, so a few MB at most.
    */
  final val DefaultMaxInlinePostings = 1000000L

  /** The reference's 15 coverage thresholds (fts-lmdb.go:322-339) in parts
    * per million, ascending.
    */
  final val CoverageThresholdsPpm: Seq[Long] = Seq(1L, 10L, 100L, 1000L,
    10000L, 50000L, 100000L, 200000L, 300000L, 700000L, 750000L, 800000L,
    900000L, 950000L, 990000L)

  /** Posting-segment row projection used by query scans (top-level so the
    * Dataset encoder's generated code can construct it).
    */
  final case class Seg(key: String, range_id: Int, first_doc: Long,
                       postings: Array[Byte])

  /** The cursors of one doc range for the per-range kernels: one per key
    * present, in ascending key order (the scoring order of
    * [[Wand.topK]]), each over its segments by first_doc.
    */
  private def cursors(rows: Iterator[Seg], idf: String => Double,
                      k1: Double, b: Double): Array[Wand.TermCursor] =
    rows.toArray.groupBy(_.key).toArray.sortBy(_._1).zipWithIndex.map {
      case ((key, segs), i) =>
        new Wand.TermCursor(i, idf(key), segs.sortBy(_.first_doc).map(_.postings), k1, b)
    }

  /** Spark's string order: UTF-8 bytes, unsigned. */
  private val Utf8Order: Ordering[UTF8String] = _ compareTo _

  /** The (gram-postings key, df) pairs of a gram query's grams. */
  private def gramKeys(grams: Array[Int], df: Map[Int, Long]): Seq[(String, Long)] =
    grams.toSeq.map(g => IndexBuild.gramKey(g) -> df(g))

  /** The driver placement's posting segments of one Search: for each
    * (table, key), that key's `Seg` rows for every range and its
    * dictionary df. The dfs of the held keys sum to at most the bound of
    * the last [[rows]] call, the same gate that bounds what one query may
    * hold on the driver (on a 5k-page index about 1 byte per posting:
    * 34,622 segment bytes for the 33,264 postings of BM25 `the of and`).
    * The index a Search pins never changes under it, so an entry never
    * goes stale; least-recently-used keys make room. A lock guards the
    * map and the fetch job runs outside it, so concurrent queries on one
    * Search are safe and wait for each other only at the map.
    */
  private[query] final class SegmentCache {
    private val lru =
      new java.util.LinkedHashMap[(Boolean, String), (Long, Array[Seg])](16, 0.75f, true)
    private var total = 0L

    def postings: Long = synchronized(total)

    /** The segments of `keys` (key, df) of one table, whose dfs sum to at
      * most `bound`: cached keys are read from the map, the missing ones
      * fetched together by `fetch` (no call when none is missing) and kept
      * after evicting least-recently-used keys outside `keys` until the
      * held dfs plus theirs fit `bound`.
      */
    def rows(gramsTable: Boolean, keys: Seq[(String, Long)], bound: Long)(
        fetch: Seq[String] => Array[Seg]): Array[Seg] = {
      val (hits, missing) = synchronized {
        keys.partitionMap { case kd @ (k, _) =>
          Option(lru.get((gramsTable, k))).map(_._2).toLeft(kd)
        }
      }
      if (missing.isEmpty) return hits.flatten.toArray
      val fetched = fetch(missing.map(_._1))
      synchronized {
        val query = keys.map(k => (gramsTable, k._1)).toSet
        // a concurrent query may have fetched some of them meanwhile
        val incoming = missing.filterNot(k => lru.containsKey((gramsTable, k._1)))
        val need = incoming.map(_._2).sum
        val it = lru.entrySet.iterator // least recently used first
        while (total + need > bound && it.hasNext) {
          val e = it.next()
          if (!query(e.getKey)) { total -= e.getValue._1; it.remove() }
        }
        if (total + need <= bound) {
          val byKey = fetched.groupBy(_.key)
          incoming.foreach { case (k, df) =>
            lru.put((gramsTable, k), (df, byKey.getOrElse(k, Array.empty[Seg])))
            total += df
          }
        }
      }
      hits.flatten.toArray ++ fetched
    }
  }

  /** A gram query matches nothing when it has no grams or one of them is
    * absent from the gram dictionary (reference exits 1,
    * fts-lmdb.go:1506-1508).
    */
  private def unmatchable(grams: Array[Int], df: Map[Int, Long]): Boolean =
    grams.isEmpty || grams.exists(g => !df.contains(g))
}
