package graft.maint

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.build.{IndexBuild, Manifest}
import graft.build.Manifest.{Entry, Record}
import graft.build.IndexBuild.{DocsTable, Table, readTable}
import graft.core.Postings

/** Index maintenance — the Spark-native rebuild of the reference's
  * delete / compact / update commands (reference: cmdDelete
  * fts-lmdb.go:893-903, cmdCompact 919-985, cmdUpdate 987-1026).
  *
  * Mutability model (mirrors the reference's): the index is append-only
  * between compacts, with monotone doc-id allocation and tombstones.
  *  - delete(urls): append (url, warc_ts, doc_id) tombstone rows for the
  *    urls' live doc rows; queries anti-join/filter them (the reference's
  *    validity byte, fts-lmdb.go:66-69). O(deleted), no index rewrite —
  *    "DOES NOT RECLAIM SPACE" (fulltext.go:403-404).
  *  - update(newDocs): diff (url, warc_ts) against the live chunk-store
  *    view; tombstone stale versions and APPEND the delta only — new doc
  *    ids from the nextDocId high-water mark (reference: changed file ->
  *    old group tombstoned, re-added with fresh OIDs, openInputFile
  *    fts-lmdb.go:533-544), delta posting segments appended per
  *    (key, range_id), dictionary merged. Work is O(delta); untouched
  *    chunk/posting files are never rewritten. The tombstones, the
  *    appends and the advanced DocStats are one commit, as the
  *    reference's one write transaction (cmdUpdate through `env.Update`).
  *  - compact(): drop every tombstoned (url, warc_ts) version from the
  *    chunk store and rebuild the derived stages — the reference's 3-scan
  *    space reclamation; ids re-densify, avgdl/df refresh.
  *
  * Every write is one staged commit of the log ([[Manifest]]). Each
  * operation starts with [[Manifest.open]], which finishes any publish a
  * crash cut short, and reads its state from that one fold.
  *
  * Stats freshness matches the reference: after update, nDocs/df still
  * count tombstoned postings (idf base), and avgdl / rangeSize / k1 / b are
  * FROZEN (posting block-max bounds were built with them) until compact.
  *
  * Appends take the index's parameters (bucket count, k1/b, chunk mode,
  * docParts) from its committed DocStats, not from the caller's `cfg`: docpart =
  * hash(url) % docParts addresses the docs store, and the buckets and
  * block maxima must match what queries prune to and score with.
  */
object Maintenance {

  /** Tombstone rows (url, warc_ts, doc_id): one row per doc of every stale
    * VERSION of a group. Doc ids are recorded at tombstone time so queries
    * never re-scan the docs store to resolve them.
    */
  private[graft] val TombstonesTable = Table("tombstones",
    StructType.fromDDL("url STRING, warc_ts TIMESTAMP, doc_id BIGINT"), optional = true)
  private[graft] val EmptyGroupsTable = Table("empty_groups",
    StructType.fromDDL("url STRING"), optional = true)

  /** The stages compact resets: the build stages its rebuild re-runs, and
    * the appends, merges and dictionary rewrites of the index it replaces.
    */
  private val DerivedStages = Seq("ids", "postings_terms", "postings_grams", "dictionary",
    "cleanup", "seg_merge", "chunk_add", "update", "upd_dict")

  /** Target delta chunks per shuffle partition for [[update]]'s adaptive
    * partition count — ~the full build's measured rows-per-partition
    * density (720k chunks / 64 partitions ≈ 11k at the bench scale), so an
    * update that ingests a full-corpus-sized delta converges to the same
    * layout the build uses, while a 1% changelog batch runs in a handful
    * of tasks instead of `shufflePartitions` mostly-empty ones.
    */
  final val UpdateChunksPerPartition = 12000L

  def tombstones(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, TombstonesTable)

  /** M1: tombstone groups by url (reference cmdDelete). */
  def delete(spark: SparkSession, dir: String, urls: Seq[String]): Unit = {
    import spark.implicits._
    tombstoneRows(spark, dir, batchDocs(spark, dir, Manifest.open(dir).docStats(dir),
      urls.toDF("url")))
  }

  /** Docs-store rows of `urls`, with the scan pruned to the urls' docparts
    * (docpart = pmod(xxhash64(url), docParts), the same addressing as the
    * build and diffVersions) — a delete/update batch touches O(dirty parts)
    * of the store, never all of it. The distinct-docpart collect is bounded
    * by docParts values.
    */
  private[graft] def docsOfUrls(docs: DataFrame, docParts: Int,
                                urls: DataFrame): DataFrame = {
    val u = urls.select("url").distinct()
    val parts = u.select(pmod(xxhash64(col("url")), lit(docParts)).cast("int"))
      .distinct().collect().map(_.getInt(0))
    docs.where(col("docpart").isin(parts.toSeq: _*)).join(u, Seq("url"))
  }

  /** The (url, warc_ts, doc_id) docs-store rows of `urls`, docpart-pruned
    * ([[docsOfUrls]]).
    */
  private def batchDocs(spark: SparkSession, dir: String, stats: IndexBuild.DocStats,
                        urls: DataFrame): DataFrame =
    docsOfUrls(readTable(spark, dir, DocsTable), stats.docParts, urls)
      .select(col("url"), col("warc_ts"), col("doc_id"))

  /** The not-yet-tombstoned ones of (url, warc_ts, doc_id) `docRows`
    * (anti-join on doc_id), cached, and their count.
    */
  private def newTombstones(spark: SparkSession, dir: String,
                            docRows: DataFrame): (DataFrame, Long) = {
    val rows = docRows
      .select(col("url"), col("warc_ts"), col("doc_id"))
      .join(tombstones(spark, dir).select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("url"), col("warc_ts"), col("doc_id"))
      .cache()
    (rows, rows.count())
  }

  /** Commit tombstone rows for [[newTombstones]] of `docRows`. Idempotent:
    * re-running tombstones nothing new.
    */
  private def tombstoneRows(spark: SparkSession, dir: String, docRows: DataFrame): Unit = {
    val (rows, n) = newTombstones(spark, dir, docRows)
    if (n > 0) Manifest.commitStaged(dir) { stg =>
      rows.write.mode("append").parquet(TombstonesTable.path(stg))
      Record(None)
    }
    rows.unpersist()
  }

  /** Query-side live view (validity check P5): docs minus tombstoned ids. */
  def liveDocs(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, DocsTable)
      .join(tombstones(spark, dir).select("doc_id"), Seq("doc_id"), "left_anti")

  /** S8 `empty`: register chunk-less groups, skipping urls that already
    * exist as docs or empty groups (reference cmdEmpty,
    * fts-lmdb.go:1028-1044). Returns the number of groups added.
    */
  def emptyGroups(spark: SparkSession, dir: String, urls: Seq[String]): Long = {
    import spark.implicits._
    Manifest.open(dir)
    val docsUrls = readTable(spark, dir, DocsTable).select("url").distinct()
    val toAdd = urls.toDF("url").distinct()
      .join(emptyGroupUrls(spark, dir), Seq("url"), "left_anti")
      .join(docsUrls, Seq("url"), "left_anti")
      .cache()
    val n = toAdd.count()
    if (n > 0) Manifest.commitStaged(dir) { stg =>
      toAdd.write.mode("append").parquet(EmptyGroupsTable.path(stg))
      Record(None)
    }
    toAdd.unpersist()
    n
  }

  def emptyGroupUrls(spark: SparkSession, dir: String): DataFrame =
    readTable(spark, dir, EmptyGroupsTable)

  /** M2: reclaim space — rewrite the corpus without tombstoned
    * (url, warc_ts) versions (docs store minus doc_id, back into the
    * build's chunk-scratch layout), then rebuild ids/postings/dictionary
    * via the normal build stages (ids re-densify, stats refresh, scratch
    * dropped again at the end).
    *
    * The swap record stages the kept rows as the chunk scratch, resets
    * every derived stage and removes the docs store, the tombstones and
    * the derived tables; its `compact` entry marks the compact unfinished
    * ([[Manifest.State.compactPending]]) until the final record resets it. A crash before
    * the swap leaves the old index intact (a re-run starts over); after it,
    * a re-run resumes the rebuild. Publish removes the tombstones once, so
    * a delete issued during a crashed rebuild survives the re-run. Publish
    * removes the docs store before the tombstones, so a search during a
    * crashed compact sees the tombstone-filtered view or fails fast on the
    * missing docs dir, never resurrected documents.
    */
  def compact(spark: SparkSession, dir: String, cfg: IndexBuild.Config): Unit = {
    import spark.implicits._
    if (!Manifest.open(dir).compactPending) {
      val t = tombstones(spark, dir)
      if (t.isEmpty) return
      val docs = readTable(spark, dir, DocsTable)
      // pure projection: the scratch carries no token arrays (posting stages
      // re-derive them from chunk text; explicit grams are data and ride in
      // their own column), so compaction is an anti-join + rewrite
      val kept = docs.join(t.select("url", "warc_ts").distinct(),
          Seq("url", "warc_ts"), "left_anti")
        .select(IndexBuild.ChunksTable.schema.fieldNames.map(col).toIndexedSeq: _*)
      Manifest.commitStaged(dir) { stg =>
        kept.write.mode("overwrite").partitionBy("docpart").parquet(IndexBuild.chunksDir(stg))
        Record(Some(Entry("compact", "swap", 0L, 0L, "", 0L)),
          resets = DerivedStages,
          removes = Seq(DocsTable, TombstonesTable, IndexBuild.ChunksTable,
            IndexBuild.TermPostingsTable, IndexBuild.GramPostingsTable,
            IndexBuild.DictTable, IndexBuild.GramDictTable).map(_.name))
      }
    }
    // re-run the build with chunks complete: only derived stages execute
    IndexBuild.build(spark, IndexBuild.emptyTable(spark, IndexBuild.ChunksTable)
      .select(col("url"), col("warc_ts"), col("lang"), col("chunk_text").as("text")), dir, cfg)
    Manifest.commit(dir, Record(None, resets = Seq("compact")))
  }

  /** M3 `-t` dry run (reference cmdUpdate print-plan, fts-lmdb.go:987-1026):
    * the update plan as (url, action in added|changed|deleted) without
    * executing anything.
    */
  def updatePlan(spark: SparkSession, dir: String, newDocs: DataFrame,
                 cfg: IndexBuild.Config,
                 partialSnapshot: Boolean = false): DataFrame =
    diffVersions(spark, dir, newDocs,
      if (partialSnapshot) Some(batchDocs(spark, dir, IndexBuild.readDocStats(dir), newDocs))
      else None)
      .select(col("url"), col("action"))

  /** Diff the incoming snapshot against the live indexed view. Output:
    * (url, n_ts, action) where action in added|changed|deleted (n_ts null
    * for deleted). `batchRows` (the changelog batch urls' doc rows,
    * [[batchDocs]]) treats `newDocs` as a changelog batch: urls absent from
    * it are NOT deleted, and the chunk-store scan is pruned to the batch's
    * docparts — [[update]] caches ONE such scan and shares it with the
    * tombstone pass. `None` diffs a full snapshot.
    */
  private def diffVersions(spark: SparkSession, dir: String, newDocs: DataFrame,
                           batchRows: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val partialSnapshot = batchRows.isDefined
    val incoming = newDocs
      .select($"url".as("n_url"), $"warc_ts".as("n_ts"))
    val tomb = tombstones(spark, dir).select($"url", $"warc_ts").distinct()
    val chunkVersions = batchRows
      .getOrElse(readTable(spark, dir, DocsTable))
      .select($"url", $"warc_ts")
    // one row per url: the group's current version is its newest live
    // timestamp (addChunk can add rows under a newer ts without making a
    // new "version"; reference lastChanged is likewise the most recent)
    val indexed = chunkVersions.select($"url", $"warc_ts").distinct()
      .join(tomb, Seq("url", "warc_ts"), "left_anti")
      .groupBy($"url").agg(max($"warc_ts").as("warc_ts"))
    val joinType = if (partialSnapshot) "right_outer" else "full_outer"
    indexed.join(incoming, $"url" === $"n_url", joinType)
      .select(coalesce($"n_url", $"url").as("url"), $"n_ts",
        when($"n_url".isNull, "deleted")
          .when($"url".isNull, "added")
          .when($"warc_ts" =!= $"n_ts", "changed")
          .as("action"))
      .where($"action".isNotNull)
  }

  /** M3: incremental reindex from a docs snapshot (or changelog batch with
    * `partialSnapshot=true`). Returns (nNew, nChanged, nDeleted). See the
    * object scaladoc for the append-only model.
    *
    * The stale versions' tombstones, the delta's segments of both posting
    * families, its docs rows and the DocStats they advance to are ONE
    * commit, the `update` record (its unit is the delta's first doc id): a
    * kill before it leaves no trace, so a re-run redoes the whole update.
    * The dictionary rewrite and the segment merge follow as their own
    * commits, as [[addChunk]]'s do; a re-run after a kill past the
    * `update` record finds nothing changed and finishes them
    * ([[flushDict]]).
    */
  def update(spark: SparkSession, dir: String, newDocs: DataFrame,
             cfg: IndexBuild.Config,
             partialSnapshot: Boolean = false): (Long, Long, Long) = {
    import spark.implicits._
    val log = Manifest.open(dir)
    // an older writer committed an update as six records; one it left
    // unfinished (ids reserved, postings maybe appended, no docs rows)
    // would be appended again here under fresh ids
    val unfinished = log.completed("upd_stats") -- log.completed("upd_docs")
    if (unfinished.nonEmpty) throw new IllegalStateException(
      s"$dir: an update an older writer left unfinished (upd_stats " +
        s"${unfinished.mkString(", ")}); finish it with that writer or rebuild the index")
    val stats0 = log.docStats(dir)
    // partial mode: ONE cached docpart-pruned scan of the batch urls' doc
    // rows feeds BOTH the version diff and the stale-row tombstone pass
    // (round 5 scanned the docs store twice). Bounded by the batch size —
    // never cached in full-snapshot mode, where it would be the whole
    // store.
    val batchRows =
      if (partialSnapshot) Some(batchDocs(spark, dir, stats0, newDocs).cache())
      else None
    val diff = diffVersions(spark, dir, newDocs, batchRows).cache()
    // ONE job for the three action counts: at changelog scale each driver
    // job is pure latency
    val cRow = diff.agg(
      count(when($"action" === "deleted", 1)).as("nd"),
      count(when($"action" === "added", 1)).as("na"),
      count(when($"action" === "changed", 1)).as("nc")).head()
    val (nDeleted, nNew, nChanged) = (cRow.getLong(0), cRow.getLong(1), cRow.getLong(2))
    if (nDeleted + nNew + nChanged == 0) {
      diff.unpersist(); batchRows.foreach(_.unpersist())
      // a re-run after a kill past the update record: finish its
      // dictionary rewrite and segment merge
      flushDict(spark, dir, cfg)
      return (0, 0, 0)
    }

    // 1. the tombstone rows of every stale version (changed urls' old docs
    //    + deleted urls)
    val staleUrls = diff.where($"action".isin("changed", "deleted")).select($"url")
    val staleDocs = batchRows match {
      case Some(rows) => rows.join(staleUrls.distinct(), Seq("url"))
      case None => batchDocs(spark, dir, stats0, staleUrls)
    }
    if (nNew + nChanged == 0) {
      // deletion-only snapshot: the tombstones are the whole update
      tombstoneRows(spark, dir, staleDocs)
      diff.unpersist(); batchRows.foreach(_.unpersist())
      return (0L, 0L, nDeleted)
    }
    // cached while the diff they come from still is
    val (stale, nStale) = newTombstones(spark, dir, staleDocs)

    // 2. chunk + tokenize the delta only, with the index's own chunker
    //    and docpart modulus (docsOfUrls prunes with the persisted one)
    val delta = diff.where($"action".isin("added", "changed")).select($"url")
    val deltaChunks = newDocs.join(delta, Seq("url"))
      .withColumn("docpart", pmod(xxhash64($"url"), lit(stats0.docParts)).cast("int"))
      .select($"url", $"warc_ts", $"lang", $"text", $"docpart")
      .as[(String, java.sql.Timestamp, String, String, Int)]
      .flatMap { case (url, ts, lang, text, part) =>
        IndexBuild.chunkDocMeta(url, ts, lang, part, text, stats0.chunkMode)
      }.toDF().cache()
    val aggRow = deltaChunks.agg(count(lit(1)), sum($"dl".cast("long")),
      max($"warc_ts").cast("string")).head()
    // the delta is materialized in its own cache now — release the diff
    // and batch-scan caches (unpersisting earlier would force the
    // deltaChunks join to recompute the whole diff lineage)
    diff.unpersist()
    batchRows.foreach(_.unpersist())
    val nDeltaChunks = aggRow.getLong(0)
    val deltaSumDl = if (aggRow.isNullAt(1)) 0L else aggRow.getLong(1)
    val deltaWm = if (aggRow.isNullAt(2)) "" else aggRow.getString(2)
    val base = stats0.nextDocId

    // SCALE-ADAPTIVE shuffle partitioning (not the full-build constant): a
    // changelog delta is usually a tiny fraction of the corpus, and pushing
    // its few thousand rows through the full build's partition count pays
    // ~cfg.shufflePartitions empty-task overheads per stage. Derive the
    // count from the measured delta size (target ~the full build's
    // rows-per-partition density), capped at the configured value so a
    // full-corpus "delta" still gets full parallelism on a cluster.
    val deltaCfg = cfg.copy(shufflePartitions = math.max(
      math.min(8L, cfg.shufflePartitions.toLong), // floor: never a serial kernel
      math.min(cfg.shufflePartitions.toLong,
        (nDeltaChunks + UpdateChunksPerPartition - 1) / UpdateChunksPerPartition)).toInt)
    val (withIds0, cleanup) = IndexBuild.assignIds(spark, deltaChunks, base, deltaCfg)
    // cache the id-stamped delta: three consumers (two posting appends +
    // the docs append) would otherwise each re-run the sort + url-base join
    val withIds = withIds0.cache()
    // 3. the one commit: tombstones, both posting families, docs rows and
    //    the advanced DocStats
    Manifest.commitStaged(dir) { stg =>
      val t0 = System.nanoTime()
      if (nStale > 0) stale.write.mode("append").parquet(TombstonesTable.path(stg))
      appendDelta(spark, withIds, deltaCfg, stats0, stg)
      Record(Some(Entry("update", base.toString, nDeltaChunks, 0L, deltaWm,
          (System.nanoTime() - t0) / 1000000)),
        stats = Some(stats0.copy(
          nDocs = stats0.nDocs + nDeltaChunks,
          sumDl = stats0.sumDl + deltaSumDl,
          nextDocId = base + nDeltaChunks,
          watermark = if (deltaWm > stats0.watermark) deltaWm else stats0.watermark)))
    }
    stale.unpersist()
    cleanup()
    withIds.unpersist()
    deltaChunks.unpersist()
    // 4. the dictionary recompute (from segment metadata: this batch's
    //    segments AND any pending deferred-add contributions), then the merge
    rebuildDictionaries(spark, dir, s"update_$base", deltaWm)
    autoMergeIfNeeded(spark, dir, cfg.autoMergeSegments, log, appended = 1)
    (nNew, nChanged, nDeleted)
  }

  /** S4 `chunk` command analog (cmdChunk fts-lmdb.go:476-507): append ONE
    * caller-supplied chunk with EXPLICIT grams, bypassing the gram
    * extractor (parse literal forms with [[graft.core.Gram.parseGram]]).
    * Like the reference, the chunk accumulates under its group — nothing
    * is tombstoned; chunk_seq continues the group's live sequence so ids
    * stay dense after compact. Term postings come from the data's word
    * tokens; gram postings from the given grams. Driver-side id
    * allocation — this is the reference's single-chunk CLI op, not a bulk
    * path (use [[update]] for bulk). Returns the new doc id.
    *
    * The chunk's postings, docs row and reserved id are ONE commit (the
    * `chunk_add` record): a crash before it leaves no trace, so a caller
    * re-runs an add whose record is absent. The segment merge the add
    * triggers runs after that commit; [[flushDict]] finishes it after a
    * crash.
    *
    * `mergeDict=false` defers the dictionary rewrite: the log counts the
    * add as pending and N deferred adds pay ONE dictionary recompute at
    * the next [[flushDict]] / merging add / update (the recompute
    * aggregates segment metadata, so batching is free and idempotent).
    * Between the add and the flush the chunk is INVISIBLE to
    * dictionary-gated retrieval (a gram/term absent from the dictionary
    * short-circuits to empty) — deferral trades read-your-write for O(1)
    * dictionary work per add.
    */
  def addChunk(spark: SparkSession, dir: String, url: String, data: String,
               grams: Seq[Int], warcTs: java.sql.Timestamp,
               cfg: IndexBuild.Config, mergeDict: Boolean = true): Long = {
    import spark.implicits._
    val log = Manifest.open(dir)
    val stats0 = log.docStats(dir)
    val docId = stats0.nextDocId
    val seqRow = liveDocs(spark, dir).where($"url" === url)
      .agg(max($"chunk_seq")).head()
    val nextSeq = if (seqRow.isNullAt(0)) 0 else seqRow.getInt(0) + 1
    val gs = grams.distinct.sorted.toArray
    val dl = graft.core.Tokenizer.docLength(data)
    val part = IndexBuild.termBucket(url, stats0.docParts)
    val byteLen = data.getBytes("UTF-8").length.toLong
    val row = IndexBuild.ChunkMeta(url, warcTs, "", part, nextSeq, nextSeq + 1,
      0L, data.codePointCount(0, data.length).toLong, 0L, byteLen, dl,
      gs.length, data, explicit_grams = gs)
    val withId = Seq(row).toDS().toDF().withColumn("doc_id", lit(docId))
    Manifest.commitStaged(dir) { stg =>
      appendDelta(spark, withId, cfg, stats0, stg)
      Record(Some(Entry("chunk_add", docId.toString, 1L, 0L, "", 0L)),
        stats = Some(stats0.copy(nDocs = stats0.nDocs + 1, sumDl = stats0.sumDl + dl,
          nextDocId = docId + 1)))
    }
    if (mergeDict) rebuildDictionaries(spark, dir, s"chunk_$docId", "")
    autoMergeIfNeeded(spark, dir, cfg.autoMergeSegments, log, appended = 1)
    docId
  }

  /** Fold every pending dictionary contribution — deferred adds (see
    * [[addChunk]] `mergeDict=false`) and an update killed before its
    * dictionary rewrite — in ONE idempotent rewrite; its record clears the
    * log's pending count. Then finish any segment merge the log owes: an
    * add or update commits before the merge it triggers, so a kill between
    * the two leaves the merge to the next writer. Returns the number of
    * pending appends folded in.
    */
  def flushDict(spark: SparkSession, dir: String, cfg: IndexBuild.Config): Long = {
    val log = Manifest.open(dir)
    if (log.pendingDict > 0) rebuildDictionaries(spark, dir, "flush", "")
    autoMergeIfNeeded(spark, dir, cfg.autoMergeSegments, log, appended = 0)
    log.pendingDict.toLong
  }

  /** Automatic segment-merge policy (the reference's self-contained space
    * reclamation analog for the query path): every incremental append adds
    * at most one segment per (key, range_id) group, so the number of
    * appends since the last merge upper-bounds every group's segment
    * count. When it reaches `threshold`, splice both posting families.
    * O(log) to check — `log` is the operation's fold, plus the `appended`
    * appends it committed since — no metadata scan on the happy path.
    */
  private def autoMergeIfNeeded(spark: SparkSession, dir: String, threshold: Int,
                                log: Manifest.State, appended: Int): Unit = {
    val appends = log.completed("update").size + log.completed("chunk_add").size + appended
    val mergedAt = log.completed("seg_merge").map(_.toInt).foldLeft(0)(math.max)
    if (threshold > 0 && appends - mergedAt >= threshold) {
      val n = mergeSegments(spark, dir, gramsTable = false) +
        mergeSegments(spark, dir, gramsTable = true)
      Manifest.commit(dir, Record(Some(Entry("seg_merge", appends.toString, n, 0L, "", 0L))))
    }
  }

  /** Recompute BOTH dictionaries from segment metadata (postings column
    * pruned) into one staged commit that replaces them; its `upd_dict`
    * record clears the log's pending deferred adds. IDEMPOTENT — an additive
    * delta merge (old + first_doc>=base) double-counts if a crash lands
    * between the rewrite and its bookkeeping and the merge re-runs; the
    * full recompute just repeats the identical rewrite. Exact across
    * splices too (spliceShards preserves per-segment n_docs/sum_tf/
    * max_tf sums). Cost parity: the additive variant rewrote the whole
    * dictionary anyway (full-outer join + swap), so only the metadata
    * scan side grows — and it is postings-column-pruned. df/cf keep
    * counting tombstoned postings until compact, like the reference.
    */
  private def rebuildDictionaries(spark: SparkSession, dir: String,
                                  unit: String, watermark: String): Unit =
    Manifest.commitStaged(dir) { stg =>
      val t0 = System.nanoTime()
      IndexBuild.writeDictionaries(spark, dir, stg)
      Record(Some(Entry("upd_dict", unit, 0L, 0L, watermark, (System.nanoTime() - t0) / 1000000)),
        removes = Seq(IndexBuild.DictTable.name, IndexBuild.GramDictTable.name))
    }

  /** The append path shared by [[update]] and [[addChunk]]: write an
    * id-stamped delta of docs-store rows under `root`, the caller's
    * staging dir — its segments of both posting families (independent
    * jobs over the same delta with separate outputs, overlapped, §2.6),
    * then its docs-store rows. The caller commits them as one record.
    * (Overlapping the docs write too cost update one more Spark job on
    * perfbench `churn --seed 1`: 42.5 jobs per update against 41.5.)
    */
  private def appendDelta(spark: SparkSession, withIds: DataFrame,
                          cfg: IndexBuild.Config, stats: IndexBuild.DocStats,
                          root: String): Unit = {
    def postings(grams: Boolean)(): Unit =
      IndexBuild.buildSegRows(spark, withIds, cfg, stats, grams, 0 until stats.nBuckets)
        .write.mode("append").partitionBy("bucket")
        .parquet(if (grams) IndexBuild.gramPostingsDir(root)
                 else IndexBuild.termPostingsDir(root))
    IndexBuild.inParallel(postings(grams = false), postings(grams = true))
      // align column order with the docs-store schema
      withIds.select(DocsTable.schema.fieldNames.map(col).toIndexedSeq: _*)
        .write.mode("append").partitionBy("docpart")
        .parquet(IndexBuild.docsDir(root))
  }

  /** Coalesce multi-segment (key, range_id) groups left by incremental
    * appends into single segments with [[Postings.spliceShards]] — a
    * byte-level directory/payload splice, no posting re-encoding. Only
    * buckets that contain multi-segment groups are rewritten. Returns the
    * number of rewritten buckets, in one staged commit that replaces them.
    * Safe in any order relative to pending dictionary flushes: splices
    * preserve per-segment n_docs/sum_tf/max_tf sums and the dictionary
    * recompute is a full metadata aggregation.
    */
  def mergeSegments(spark: SparkSession, dir: String,
                    gramsTable: Boolean): Long = {
    import spark.implicits._
    Manifest.open(dir)
    val table = if (gramsTable) IndexBuild.GramPostingsTable
                else IndexBuild.TermPostingsTable
    val all = readTable(spark, dir, table)
    // metadata-only scan (postings column pruned) to find affected buckets
    val multi = all
      .groupBy($"bucket", $"key", $"range_id").agg(count(lit(1)).as("n"))
      .where($"n" > 1).select($"bucket").distinct().as[Int].collect().sorted
    if (multi.isEmpty) return 0L
    val seg = all.where($"bucket".isin(multi.toSeq: _*))
      .select($"bucket", $"key", $"range_id", $"first_doc", $"last_doc",
        $"n_docs", $"sum_tf", $"max_tf", $"n_bytes", $"postings")
      .as[IndexBuild.SegRow]
    val spliced = seg.groupByKey(r => (r.bucket, r.key, r.range_id))
      .mapGroups { (k: (Int, String, Int), rows: Iterator[IndexBuild.SegRow]) =>
        val (bucket, key, range) = k
        val rs = rows.toArray.sortBy(_.first_doc)
        if (rs.length == 1) rs.head
        else {
          val bytes = Postings.spliceShards(rs.toIndexedSeq.map(_.postings))
          IndexBuild.SegRow(bucket, key, range, rs.head.first_doc,
            rs.last.last_doc, rs.map(_.n_docs).sum, rs.map(_.sum_tf).sum,
            rs.map(_.max_tf).max, bytes.length, bytes)
        }
      }
    Manifest.commitStaged(dir) { stg =>
      spliced.write.mode("overwrite").partitionBy("bucket").parquet(table.path(stg))
      Record(None, removes = multi.toSeq.map(b => s"${table.name}/bucket=$b"))
    }
    multi.length.toLong
  }
}
