package graft.build

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{Chunker, Gram, Postings, Tokenizer}
import graft.build.Manifest.{Entry, Record}
import java.sql.Timestamp

/** Distributed inverted-index build: web docs table -> chunked, id-stamped
  * docs store (stable dense doc ids) -> term/gram posting segments
  * (delta+varint blocks with block-max metadata) -> dictionary + doc stats,
  * with a per-unit lineage record in the commit log so a killed job resumes
  * without redoing completed units.
  *
  * This is the Spark-native rebuild of the reference's `input` path
  * (reference: cmdInput fts-lmdb.go:509-531, indexLines 578-603,
  * addGramEntry 628-637): one shuffle takes tokenized postings to
  * term-ordered partitions; hot-term skew is defused because the
  * repartition-and-sort key ends in doc_id — a hot term's postings are
  * *range-salted* across partitions as contiguous doc-id shards, which stay
  * splice-mergeable ([[graft.core.Postings.spliceShards]]) because blocks
  * are self-contained. `range_id` (fixed-size doc-id ranges) additionally
  * aligns every term's shards on the same boundaries so BM25/WAND can run
  * doc-partitioned at query time.
  *
  * Stage layout under `indexDir/`:
  *   docs/          chunk rows + dense stable doc_id, partitioned by
  *                  docpart = hash(url) (stage `ids`, unit `all`: a per-url
  *                  chunk-count pre-pass, then one chunk + stamp + write
  *                  pass over the source)
  *   postings_terms/ bucket=N/ (term, range_id, first/last doc, stats, bytes)
  *   postings_grams/ bucket=N/ (gram, ...) — trigram candidate index
  *   dictionary/    (term, df, cf, max_tf);  gram_dict/ (gram, df)
  *   _graft_log/    commit log ([[Manifest]]): per-unit lineage + metrics,
  *                  DocStats (n_docs, sum_dl, avgdl, range_size, params)
  * A stage overwrites its units in place, then commits one record per unit.
  */
object IndexBuild {

  /** Chunking mode (reference input modes: lines = indexLines
    * fts-lmdb.go:578-603, org = indexOrg 546-576 via the -org flag; doc =
    * whole text as one chunk, for term-level corpora).
    */
  object ChunkMode {
    final val Lines = "lines"
    final val Doc = "doc"
    final val Org = "org"
    val All: Set[String] = Set(Lines, Doc, Org)
  }

  final case class Config(
    nBuckets: Int = 8,          // term-hash write partitions (cluster: 100s)
    nRanges: Int = 8,           // doc-id range shards = the salt (cluster: 1000s)
    docParts: Int = 8,          // docs-store partitions (maintenance prunes to them)
    shufflePartitions: Int = 32,
    blockSize: Int = 128,
    k1: Double = 1.2,
    b: Double = 0.75,
    chunkMode: String = ChunkMode.Lines,
    /** Max distinct urls for which the doc-id base map is broadcast; above
      * it the id stamp falls back to a shuffle join (at 10^12 docs a
      * billions-row broadcast would OOM the executors; in production that
      * join runs storage-partitioned on the hash(url) bucketing both sides
      * already share, with no big-side shuffle).
      */
    broadcastUrlLimit: Long = 2000000L,
    /** Auto segment-merge threshold for incremental maintenance: when this
      * many posting appends (updates + chunk adds) have accumulated since
      * the last merge, [[graft.maint.Maintenance.mergeSegments]] splices
      * multi-segment (key, range_id) groups so query cursor fan-in stays
      * bounded. 0 disables (manual `merge-segments` only).
      */
    autoMergeSegments: Int = 8) {
    require(ChunkMode.All(chunkMode), s"unknown chunkMode: $chunkMode")
  }

  final case class TermFreq(t: String, f: Int)

  /** Parquet scan split size for the build's map-only stages (id stamp,
    * posting explode). These stages' parallelism equals their scan split
    * count, so Spark's 128 MB default caps them below the core count on
    * mid-size inputs — 32 MB keeps every level saturated (the ids stage
    * measured 2.2x from 4->16 cores under the default, 128 MB / 14 splits).
    */
  final val MaxPartitionBytes: Long = 32L * 1024 * 1024

  /** Engine stats + build params, set by commit records ([[Manifest]]).
    * Every writer after the build (update, addChunk) takes the index's own
    * parameters from here, never from the caller's [[Config]]:
    *  - `nextDocId` is the monotone id high-water mark (reference nextOID,
    *    fts-lmdb.go:855-867): incremental updates allocate fresh ids from
    *    here; compact/rebuild re-densifies.
    *  - avgdl/k1/b/rangeSize are FROZEN between compacts — posting
    *    block-max bounds were computed with them, so appends encode and
    *    queries score with the same values (reference analog: stats stale
    *    until compact). `nBuckets` addresses both posting tables.
    *  - `chunkMode` makes maintenance re-chunk changed documents with the
    *    SAME chunker the index was built with (the reference remembers
    *    each group's org flag, fts-lmdb.go:997-1006).
    *  - `docParts` is the docs store's docpart modulus.
    */
  final case class DocStats(nDocs: Long, sumDl: Long, avgdl: Double,
                            rangeSize: Long, nBuckets: Int, nRanges: Int,
                            k1: Double, b: Double, watermark: String,
                            nextDocId: Long, docParts: Int, chunkMode: String)

  /** `resumedTermBuckets`: the term posting buckets a previous run had
    * already committed.
    */
  final case class BuildStats(nDocs: Long, resumedTermBuckets: Int)

  /** An engine-owned parquet table: its directory under the index dir and
    * the schema its writer produces, in the order a schema-inferring read
    * returns it (data columns in write order, the partition column last).
    * An `optional` table exists only once something is written to it.
    */
  final case class Table(name: String, schema: StructType, optional: Boolean = false) {
    def path(dir: String): String = s"$dir/$name"
  }

  /** `T`'s encoder schema, plus `extra`, as a read returns it: every field
    * nullable and the partition column `part` last.
    */
  private def readSchema[T <: Product : scala.reflect.runtime.universe.TypeTag](
      part: String, extra: StructField*): StructType = {
    val s = GraftBridge.asNullable(StructType(Encoders.product[T].schema ++ extra))
    StructType(s.filterNot(_.name == part) :+ s(part))
  }

  val DocsTable = Table("docs",
    readSchema[ChunkMeta]("docpart", StructField("doc_id", LongType)))
  val TermPostingsTable = Table("postings_terms", readSchema[SegRow]("bucket"))
  val GramPostingsTable = TermPostingsTable.copy(name = "postings_grams")
  /** Written by [[writeDictionaries]]. */
  val DictTable = Table("dictionary",
    StructType.fromDDL("term STRING, df BIGINT, cf BIGINT, max_tf INT"))
  val GramDictTable = Table("gram_dict", StructType.fromDDL("gram INT, df BIGINT"))

  def docsDir(dir: String) = DocsTable.path(dir)
  def termPostingsDir(dir: String) = TermPostingsTable.path(dir)
  def gramPostingsDir(dir: String) = GramPostingsTable.path(dir)
  def dictDir(dir: String) = DictTable.path(dir)
  def gramDictDir(dir: String) = GramDictTable.path(dir)

  /** The one reader of every engine-owned table. It reads with the declared
    * schema, so no read runs a schema-inference job, and it lists the
    * table's files once: a frame keeps that file list for its lifetime. An
    * absent optional table reads as a typed empty frame; an absent required
    * one fails.
    */
  def readTable(spark: SparkSession, dir: String, table: Table): DataFrame =
    if (table.optional && !java.nio.file.Files.exists(java.nio.file.Paths.get(table.path(dir))))
      emptyTable(spark, table)
    else spark.read.schema(table.schema).parquet(table.path(dir))

  def emptyTable(spark: SparkSession, table: Table): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), table.schema)

  /** Splits one document into chunks by mode — the one place that decides
    * what a "chunk" is ([[chunkDocMeta]] here; `ChunkMetaSpec`'s full-token
    * reference checks it against the tokenizer).
    */
  private[build] def chunksOf(text: String, chunkMode: String): IndexedSeq[graft.core.Chunk] =
    chunkMode match {
      case ChunkMode.Lines => Chunker.linesLenient(text)
      case ChunkMode.Org => graft.core.OrgChunker.chunks(text)
      case _ => IndexedSeq(graft.core.Chunk(1, 0L,
        text.codePointCount(0, text.length).toLong,
        0L, text.getBytes("UTF-8").length.toLong, text))
    }

  /** Docs-store row WITHOUT token arrays and doc_id. Terms and grams are
    * deterministic functions of `chunk_text`, re-derived where consumed
    * (posting stages); storing them would double the docs store.
    * `explicit_grams` is null for tokenizer-derived chunks and set for
    * caller-supplied-gram chunks (the reference `chunk` command,
    * [[graft.maint.Maintenance.addChunk]]) — those grams are data, so they
    * persist in the docs store and survive compaction.
    */
  final case class ChunkMeta(
    url: String, warc_ts: Timestamp, lang: String, docpart: Int,
    chunk_seq: Int, line: Int, rune_off: Long, rune_len: Long,
    byte_start: Long, byte_len: Long, dl: Int, n_grams: Int,
    chunk_text: String, explicit_grams: Array[Int] = null)

  /** Chunk one document for the docs store: dl/n_grams are computed
    * (tokenization runs) but the arrays are not carried — `docLength` is an
    * allocation-free run count and `gramCount` a bitset count (no term
    * strings, no gram array: the docs store only needs the NUMBERS; the
    * full arrays are re-derived where consumed, in the posting stages).
    */
  def chunkDocMeta(url: String, warcTs: Timestamp, lang: String, docpart: Int,
                   text: String, chunkMode: String): Seq[ChunkMeta] = {
    chunksOf(text, chunkMode).zipWithIndex.map { case (c, seq) =>
      ChunkMeta(url, warcTs, lang, docpart, seq, c.line, c.runeOff, c.runeLen,
        c.byteStart, c.byteLen, Tokenizer.docLength(c.text),
        Gram.gramCount(partial = false, Seq(c.text)), c.text)
    }
  }

  /** Run independent driver-side jobs concurrently (optimization guide
    * §2.6: Spark's scheduler happily runs several jobs at once; actions are
    * only sequential because driver code calls them sequentially — the
    * second job's tasks back-fill executors freed by the first job's tail).
    * Exceptions from any branch propagate; all branches are joined before
    * returning either way, so crash/resume semantics per branch are
    * unchanged (each stage still commits its own records after its own job
    * completes).
    */
  private[graft] def inParallel(fs: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = fs.tail.map { f =>
      val t = new Thread(() => try f() catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    try fs.head() catch { case e: Throwable => errs.add(e) }
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  def build(spark: SparkSession, docs: DataFrame, dir: String,
            cfg: Config = Config()): BuildStats = {
    // the build's own reads split at MaxPartitionBytes; the caller's
    // session gets its setting back, also when the build fails
    val key = "spark.sql.files.maxPartitionBytes"
    val callers = spark.conf.getAll.get(key)
    spark.conf.set(key, MaxPartitionBytes.toString)
    try {
      val log = Manifest.open(dir)
      val stats = stageIds(spark, docs, dir, cfg, log)
      val resumedTerm = stageDerived(spark, dir, cfg, stats, log)
      BuildStats(stats.nDocs, resumedTerm)
    } finally callers.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The stages downstream of the docs store: both posting families, then
    * the dictionaries. Term + gram posting builds are independent
    * (separate scans, shuffles, output dirs and log stages) — OVERLAP them
    * so each one's kernel-stage stragglers back-fill with the other's tasks
    * instead of idling the cluster (guide §2.6). Trade-off at scale: both
    * families' shuffles are in flight at once (2x transient shuffle disk);
    * kernel memory bounds are per-task and unchanged. Returns the term
    * buckets a previous run had committed.
    */
  private[graft] def stageDerived(spark: SparkSession, dir: String, cfg: Config,
                                  stats: DocStats, log: Manifest.State): Int = {
    var resumedTerm = 0
    inParallel(
      () => resumedTerm = stagePostings(spark, dir, cfg, stats, grams = false, log),
      () => stagePostings(spark, dir, cfg, stats, grams = true, log))
    stageDictionary(spark, dir, log)
    resumedTerm
  }

  /** Stamp dense, deterministic doc ids `base + rank(url, chunk_seq)` onto
    * chunk rows via a distributed prefix sum over `counts`, the per-url
    * chunk counts (url, cnt) of `chunks`: only those tiny pairs shuffle; the
    * heavy chunk rows are id-stamped map-side. Returns the stamped frame,
    * the chunk total the counts sum to and a cleanup thunk — call it after
    * the action that consumes the frame (the cached prefix-sum RDD is
    * re-evaluated by that action).
    */
  private[graft] def assignIds(spark: SparkSession, chunks: DataFrame, counts: DataFrame,
                               base: Long, cfg: Config): (DataFrame, Long, () => Unit) = {
    import spark.implicits._
    // NOTE: repartitionByRange's sampling pass evaluates the aggregate
    // twice; persisting it first was measured SLOWER (cache
    // materialization of the (url,cnt) rows costs more than re-reading the
    // aggregate's shuffle output)
    val perUrl = counts.select($"url", $"cnt")
      .repartitionByRange(cfg.shufflePartitions, $"url")
      .sortWithinPartitions($"url")
      .as[(String, Long)]
      .rdd.cache()
    // per-partition (chunk total, url count) to the driver — two longs per
    // partition — then cumulative offsets back out
    val partStats = perUrl
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; var u = 0L; it.foreach { r => s += r._2; u += 1 }
        Iterator((i, s, u))
      }
      .collect().sortBy(_._1)
    val nUrls = partStats.map(_._3).sum
    val offsets = partStats.map(_._2).scanLeft(base)(_ + _)
    val urlBase = spark.createDataset(perUrl.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { case (u, c) => val b = acc; acc += c; (u, b) }
    }).toDF("url", "base")
    // size-gated broadcast: one row per url — billions at the 10^12-doc
    // target, where a broadcast would OOM; above the gate the join runs as
    // a SHUFFLE-HASH join (hash map built from the tiny url->base side
    // only; the heavy chunk rows shuffle but are never sorted for the
    // join — a sort-merge join would sort gigabytes of chunk text by url
    // just to discard that order at the write). In production the same
    // join runs storage-partitioned on the shared hash(url) bucketing
    // with no big-side shuffle at all.
    //
    // Either way the rows reach the writer sorted by (docpart, url,
    // chunk_seq): docpart leads so the partitioned docs write needs no
    // extra sort of its own. Each written file is therefore doc_id-
    // ascending (base is allocated in url rank order), but docpart =
    // hash(url) spreads every url rank over every docpart, so each file
    // spans nearly the whole id range: its min/max stats prune no doc_id
    // lookup.
    val withIds =
      if (nUrls <= cfg.broadcastUrlLimit)
        chunks // map-only id stamp: chunk rows never shuffle
          .sortWithinPartitions($"docpart", $"url", $"chunk_seq")
          .join(broadcast(urlBase), Seq("url"))
          .withColumn("doc_id", $"base" + $"chunk_seq")
          .drop("base")
      else
        chunks
          .join(urlBase.hint("SHUFFLE_HASH"), Seq("url"))
          .withColumn("doc_id", $"base" + $"chunk_seq")
          .drop("base")
          .sortWithinPartitions($"docpart", $"url", $"chunk_seq")
    (withIds, offsets.last - base, () => { perUrl.unpersist(blocking = false); () })
  }

  /** Stamp doc ids from 0 onto `chunks` ([[assignIds]] over their per-url
    * `counts`) and write them as the docs store under `root`. The
    * DocStats (n_docs, sum_dl, watermark) ride along with the write
    * (Observation): no extra pass. `cfg` supplies the parameters the
    * DocStats record. Fails, naming `root`, when the rows written are not
    * the rows `counts` counted: the ids would then not be dense.
    */
  private[graft] def writeDocs(spark: SparkSession, chunks: DataFrame, counts: DataFrame,
                               root: String, cfg: Config): DocStats = {
    import spark.implicits._
    val (withIds, counted, cleanup) = assignIds(spark, chunks, counts, 0L, cfg)
    val obs = org.apache.spark.sql.Observation()
    withIds
      .observe(obs, count(lit(1)).as("n"),
        sum($"dl".cast("long")).as("sum_dl"),
        max($"warc_ts").cast("string").as("wm"))
      .write.mode("overwrite").partitionBy("docpart").parquet(docsDir(root))
    cleanup()
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    if (n != counted) throw new IllegalStateException(
      s"$root: wrote $n chunk rows but counted $counted: the source changed between the " +
        "count pre-pass and the docs write; re-run the build over a stable source")
    val sumDl = Option(m("sum_dl")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val wm = Option(m("wm")).map(_.toString).getOrElse("")
    DocStats(n, sumDl, if (n == 0) 1.0 else sumDl.toDouble / n,
      math.max(1L, (n + cfg.nRanges - 1) / cfg.nRanges), cfg.nBuckets, cfg.nRanges,
      cfg.k1, cfg.b, wm, nextDocId = n, docParts = cfg.docParts, chunkMode = cfg.chunkMode)
  }

  /** Stage 1 — the docs store: stable dense doc ids, the global rank in
    * (url, chunk_seq) order, as a distributed prefix sum over per-url chunk
    * counts (doc_id = base(url) + chunk_seq; chunk_seq is dense 0..n-1 per
    * url, so this equals the global rank). Deterministic and independent of
    * partition count (reference analog: monotone OID allocation,
    * fts-lmdb.go:855-867, made reproducible per SURVEY §2.6 M6).
    *
    * Two passes over the source, neither of which shuffles text: a
    * pre-pass that only chunks (no tokenizing) to count chunks per url,
    * then one pass that chunks and count-tokenizes each document in its
    * scan task, stamps the ids map-side ([[assignIds]]) and writes the
    * docs store, partitioned by docpart = hash(url) — the maintenance diff
    * source (partition-pruned changelog updates). Resume unit: `all`; a
    * kill inside the stage redoes both passes. The docs store of a
    * compact's swap ([[graft.maint.Maintenance.compact]]) stands in for
    * this stage until the compact finishes: the source is never read then.
    */
  private def stageIds(spark: SparkSession, docs: DataFrame, dir: String, cfg: Config,
                       log: Manifest.State): DocStats = {
    import spark.implicits._
    if (log.completed("ids")("all") || log.compactPending) return log.docStats(dir)
    val t0 = System.nanoTime()
    val mode = cfg.chunkMode
    val counts = docs.select($"url", $"text").as[(String, String)]
      .map { case (url, text) => (url, chunksOf(text, mode).size.toLong) }
      .toDF("url", "n")
      .groupBy($"url").agg(sum($"n").as("cnt"))
    val chunks = docs
      .withColumn("docpart", pmod(xxhash64(col("url")), lit(cfg.docParts)).cast("int"))
      .select($"url", $"warc_ts", $"lang", $"text", $"docpart")
      .as[(String, Timestamp, String, String, Int)]
      .flatMap { case (url, ts, lang, text, part) =>
        chunkDocMeta(url, ts, lang, part, text, mode)
      }.toDF()
    val stats = writeDocs(spark, chunks, counts, dir, cfg)
    Manifest.commit(dir, Record(Some(Entry("ids", "all", stats.nDocs, 0L, stats.watermark,
      (System.nanoTime() - t0) / 1000000)), stats = Some(stats)))
    stats
  }

  /** One chunk's terms that hash to one bucket — the transposed-term-build
    * shuffle row (doc_id/dl travel once per slice, not once per posting).
    * Terms ride as ONE array<struct<t,f>>: a parallel-arrays layout
    * (Array[String] + Array[Int]) was tried this round and REVERTED — with
    * nBuckets sized to the vocabulary, slices carry ~1-2 terms at any
    * scale, and two array headers per slice measurably outweigh the
    * struct codec's per-element cost (shuffle bytes grew 0.17 → 0.21 GB at
    * the bench corpus; shuffle-byte counters are exact, not host noise).
    */
  final case class TermSlice(bucket: Int, range_id: Int, doc_id: Long,
                             dl: Long, terms: Array[TermFreq])

  /** Bucket of a term — must match `pmod(xxhash64(term), nBuckets)` (seed
    * 42, Spark's xxhash64 default) everywhere: build, query, maintenance.
    * The same hash places a url in its docpart (`nBuckets` = docParts).
    */
  private[graft] def termBucket(t: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType, 42L)
    math.floorMod(h, nBuckets.toLong).toInt
  }

  final case class SegRow(bucket: Int, key: String, range_id: Int,
                          first_doc: Long, last_doc: Long, n_docs: Long,
                          sum_tf: Long, max_tf: Int, n_bytes: Int,
                          postings: Array[Byte])

  /** Gram segments are keyed `g<code>` in the postings table (term segments
    * by the term itself). The one encoding of that key and its two
    * decodings: a driver-side one for query bucket pruning and a `Column`
    * one for the gram dictionary.
    */
  private[graft] def gramKey(code: Int): String = s"g$code"
  private[graft] def gramCode(key: String): Int = key.substring(1).toInt
  private[graft] def gramCode(key: Column): Column = substring(key, 2, 10).cast("int")

  /** Per-key state of the open group in [[SegmentKernel]]. */
  private final class SegAcc(val sb: Postings.SegmentBuilder, val first: Long) {
    var last: Long = first
    var n: Long = 0L
    var sumTf: Long = 0L
    var maxTf: Int = 0

    def row(bucket: Int, key: String, range: Int): SegRow = {
      val bytes = sb.result()
      SegRow(bucket, key, range, first, last, n, sumTf, maxTf, bytes.length, bytes)
    }
  }

  /** The posting-segment kernel of both families. Rows arrive sorted by
    * (group, doc_id), so exactly one group is open at a time: each posting
    * a row yields goes to its key's [[Postings.SegmentBuilder]], and the
    * open group's segments flush on the group break (flush materializes
    * one group's rows — the same bytes the builders already hold, freed as
    * the map clears). A family says only how a row yields its
    * (key, tf, dl) postings — [[consume]] calls [[add]] in a direct loop,
    * no closure or tuple per posting — and where a finished key's segment
    * goes ([[emit]]). Membership-only segments (`hasTfDl = false`) add
    * tf = 1, so their `sum_tf` is `n_docs` and their `max_tf` is 1.
    */
  private abstract class SegmentKernel[R, K](rows: Iterator[R], hasTfDl: Boolean,
      k1: Double, b: Double, avgdl: Double, blockSize: Int)
      extends Iterator[SegRow] {
    protected def group(r: R): Long
    protected def consume(r: R): Unit
    protected def emit(key: K, group: Long, acc: SegAcc): SegRow

    private var cur = Long.MinValue
    private val open = new java.util.HashMap[K, SegAcc]()
    private var drain: Iterator[SegRow] = Iterator.empty

    protected final def add(key: K, docId: Long, tf: Int, dl: Long): Unit = {
      var acc = open.get(key)
      if (acc == null) {
        acc = new SegAcc(new Postings.SegmentBuilder(k1, b, avgdl, blockSize,
          hasTfDl), docId)
        open.put(key, acc)
      }
      acc.sb.add(docId, tf, dl)
      acc.last = docId
      acc.n += 1
      acc.sumTf += tf
      if (tf > acc.maxTf) acc.maxTf = tf
    }

    private def flush(): Iterator[SegRow] = {
      val buf = new scala.collection.mutable.ArrayBuffer[SegRow](open.size)
      open.forEach((key, acc) => buf += emit(key, cur, acc))
      open.clear()
      buf.iterator
    }

    /** Read rows until a finished group is ready to drain. */
    @annotation.tailrec
    private def fill(): Unit =
      if (drain.hasNext) ()
      else if (rows.hasNext) {
        val r = rows.next()
        val g = group(r)
        if (g != cur && !open.isEmpty) drain = flush()
        cur = g
        consume(r)
        fill() // returns at once after a flush: the finished group drains first
      } else if (!open.isEmpty) drain = flush()

    override def hasNext: Boolean = { fill(); drain.hasNext }
    override def next(): SegRow = {
      if (!hasNext) throw new NoSuchElementException
      drain.next()
    }
  }

  /** Posting segment rows of id-stamped docs-store rows (`docs`: doc_id,
    * dl, chunk_text, explicit_grams) for the given buckets. ONE shuffle per
    * family, then [[SegmentKernel]]; shared by the full build (stages 2/3)
    * and the maintenance appends ([[graft.maint.Maintenance.update]],
    * [[graft.maint.Maintenance.addChunk]]). Bucket count, k1 and b come
    * from `stats` — the index's own parameters — so an append lands in the
    * buckets queries prune to and encodes the block maxima queries score
    * with; `cfg` supplies only the block size and the shuffle width.
    *
    * Token arrays are derived here from the chunk text (ids already
    * stamped — no join, no shuffle before the transposed repartition;
    * tokenization is deterministic, so a bucket rebuilt years later
    * produces byte-identical segments). Explicit grams (reference `chunk`
    * command) are data, not derivable — they ride in the nullable
    * explicit_grams column.
    */
  private[graft] def buildSegRows(spark: SparkSession, docs: DataFrame,
                                  cfg: Config, stats: DocStats, grams: Boolean,
                                  buckets: Seq[Int]): Dataset[SegRow] = {
    import spark.implicits._
    val missingSet = buckets.toSet
    val nBuckets = stats.nBuckets
    val rangeSize = stats.rangeSize
    val (k1, b, avgdl, blockSize) = (stats.k1, stats.b, stats.avgdl, cfg.blockSize)
    // hash repartition on the group — NOT repartitionByRange, whose
    // sampling pass would evaluate the full explode twice. Skew is already
    // bounded: a hot term's postings split across nRanges range_id shards
    // (the salt), so no partition receives more than ~rangeSize rows per
    // term. The term sort leads with bucket so the partitionBy writer
    // streams one bucket dir at a time.
    if (grams) {
      // RANGE-TRANSPOSED gram build: ship ONE row per chunk
      // (range_id, doc_id, grams[]) instead of exploding ~50-130
      // (gram, doc) pairs per chunk — ~5x fewer shuffle bytes and a
      // |chunks|-row sort instead of a |postings|-row sort. The group is
      // the range; per-task memory is BOUNDED at any corpus size because
      // the gram space is capped (37^3 codes: ~2 KB idle builder state
      // each) and a range's posting bytes are capped by rangeSize (the
      // nRanges knob sizes kernels to executor memory).
      // Resume granularity: on a partial resume each chunk's gram array
      // is pre-filtered MAP-SIDE to the missing buckets (and empty rows
      // dropped), so the resumed shuffle carries only the missing
      // buckets' share of postings — ~|missing|/nBuckets of the full
      // stage's bytes — instead of re-shipping every gram and dropping
      // completed buckets in the kernel.
      val allBuckets = missingSet.size == nBuckets
      docs.select(($"doc_id" / lit(rangeSize)).cast("int").as("range_id"),
          $"doc_id", $"chunk_text", $"explicit_grams")
        .as[(Int, Long, String, Array[Int])]
        .map { case (r, d, text, eg) =>
          val gs = if (eg != null) eg else Gram.gramsSorted(partial = false, Seq(text))
          (r, d, if (allBuckets) gs else gs.filter(g => missingSet.contains(g % nBuckets)))
        }
        .filter(_._3.nonEmpty)
        .toDF("range_id", "doc_id", "grams")
        .repartition(cfg.shufflePartitions, $"range_id")
        .sortWithinPartitions($"range_id", $"doc_id")
        .as[(Int, Long, Array[Int])]
        .mapPartitions { it =>
          // membership-only layout: no tf/dl sections (the gram index
          // never scores — candidates/fuzzy need ids only)
          new SegmentKernel[(Int, Long, Array[Int]), Int](it, hasTfDl = false,
              k1, b, avgdl, blockSize) {
            protected def group(r: (Int, Long, Array[Int])): Long = r._1
            protected def consume(r: (Int, Long, Array[Int])): Unit = {
              val docId = r._2
              val gs = r._3
              var i = 0
              while (i < gs.length) {
                add(gs(i), docId, 1, 1L)
                i += 1
              }
            }
            protected def emit(g: Int, range: Long, acc: SegAcc): SegRow =
              acc.row(g % nBuckets, gramKey(g), range.toInt)
          }
        }
    } else {
      // BUCKET+RANGE-TRANSPOSED term build (same idea as the gram branch):
      // one row per (chunk, term-bucket) with that bucket's TermFreq slice
      // — doc_id/dl shuffle once per bucket-slice instead of once per
      // posting, and the sort is over slice rows, not postings. The group
      // is (bucket, range); the kernel's live-builder state is bounded by
      // distinct-terms-per-range / nBuckets (nBuckets is the memory knob at
      // web scale: 100s of buckets keep the per-task term map small).
      docs.select(($"doc_id" / lit(rangeSize)).cast("int").as("range_id"),
          $"doc_id", $"dl".cast("long").as("dl"), $"chunk_text")
        .as[(Int, Long, Long, String)]
        .mapPartitions { rows =>
        // per-task term->bucket memo: xxhash64 over a fresh UTF8String per
        // term-occurrence is the slicer's hottest path, and real-corpus
        // term frequency is Zipf — the memo hits for nearly every
        // occurrence. Size-capped so task memory stays bounded on
        // arbitrary vocabularies.
        val memo = new java.util.HashMap[String, Integer](1 << 12)
        // per-PARTITION slice workspace: one buffer per bucket, cleared
        // after each chunk (a fresh HashMap + buffers per chunk was the
        // slicer's dominant allocation — it runs once per chunk row)
        val bufs = new Array[scala.collection.mutable.ArrayBuffer[TermFreq]](nBuckets)
        rows.flatMap { case (range, docId, dl, text) =>
          Tokenizer.termFreqs(text).foreach { case (t, f) =>
            val bkt = {
              var b = memo.get(t)
              if (b == null) {
                b = Integer.valueOf(termBucket(t, nBuckets))
                if (memo.size < (1 << 16)) memo.put(t, b)
              }
              b.intValue
            }
            if (missingSet.contains(bkt)) {
              var buf = bufs(bkt)
              if (buf == null) {
                buf = new scala.collection.mutable.ArrayBuffer[TermFreq](8)
                bufs(bkt) = buf
              }
              buf += TermFreq(t, f)
            }
          }
          val out = new scala.collection.mutable.ArrayBuffer[TermSlice](8)
          var bkt = 0
          while (bkt < nBuckets) {
            val buf = bufs(bkt)
            if (buf != null && buf.nonEmpty) {
              out += TermSlice(bkt, range, docId, dl, buf.toArray)
              buf.clear()
            }
            bkt += 1
          }
          out
        }
        }
        .repartition(cfg.shufflePartitions, $"bucket", $"range_id")
        .sortWithinPartitions($"bucket", $"range_id", $"doc_id")
        .mapPartitions { it =>
          new SegmentKernel[TermSlice, String](it, hasTfDl = true,
              k1, b, avgdl, blockSize) {
            protected def group(s: TermSlice): Long =
              (s.bucket.toLong << 32) | s.range_id.toLong
            protected def consume(s: TermSlice): Unit = {
              var i = 0
              while (i < s.terms.length) {
                val tf = s.terms(i)
                add(tf.t, s.doc_id, tf.f, s.dl)
                i += 1
              }
            }
            protected def emit(t: String, group: Long, acc: SegAcc): SegRow =
              acc.row((group >>> 32).toInt, t, group.toInt)
          }
        }
    }
  }

  /** Stages 2/3 — posting segments. Resume unit: bucket. */
  private[graft] def stagePostings(spark: SparkSession, dir: String, cfg: Config,
                            stats: DocStats, grams: Boolean, log: Manifest.State): Int = {
    import spark.implicits._
    val table = if (grams) GramPostingsTable else TermPostingsTable
    val stage = table.name
    val done = log.completed(stage)
    val missing = (0 until stats.nBuckets).filterNot(b => done(b.toString))
    if (missing.isEmpty) return stats.nBuckets
    val t0 = System.nanoTime()
    buildSegRows(spark, readTable(spark, dir, DocsTable), cfg, stats, grams, missing)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(table.path(dir))
    val wallMs = (System.nanoTime() - t0) / 1000000
    val m = readTable(spark, dir, table).where(col("bucket").isin(missing: _*))
      .groupBy("bucket")
      .agg(count(lit(1)).as("rows"), sum($"n_bytes".cast("long")).as("bytes"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))).toMap
    missing.foreach { bkt =>
      val (rows, bytes) = m.getOrElse(bkt, (0L, 0L))
      Manifest.commit(dir, Record(Some(Entry(stage, bkt.toString, rows, bytes,
        stats.watermark, wallMs / missing.size))))
    }
    done.size
  }

  /** Stage 4 — the dictionaries ([[writeDictionaries]]). */
  private[graft] def stageDictionary(spark: SparkSession, dir: String,
                                     log: Manifest.State): Unit = {
    if (log.completed("dictionary")("all")) return
    val t0 = System.nanoTime()
    val n = writeDictionaries(spark, dir, dir)
    Manifest.commit(dir, Record(Some(Entry("dictionary", "all", n, 0L, "",
      (System.nanoTime() - t0) / 1000000))))
  }

  /** The dictionary derivation of the build and of every maintenance
    * writer: (term, df, cf, max_tf) and (gram, df) aggregated from segment
    * *metadata* only (the postings binary column is pruned from the scan),
    * so it is exact over any mix of built, appended and spliced segments.
    * Both dictionaries are overwritten under `root` (the index dir for the
    * build, a staging dir for maintenance); they aggregate DIFFERENT
    * posting tables into DIFFERENT dirs, so their two write jobs run
    * concurrently (§2.6). Returns the number of terms.
    */
  private[graft] def writeDictionaries(spark: SparkSession, dir: String, root: String): Long = {
    import spark.implicits._
    // (name, df, extra...) per key of one posting table, sorted by key
    def derive(postings: Table, key: Column, name: String, extra: Column*) =
      readTable(spark, dir, postings).groupBy(key.as(name))
        .agg(sum($"n_docs").as("df"), extra: _*)
        .repartitionByRange(8, col(name)).sortWithinPartitions(name)
    val obs = org.apache.spark.sql.Observation()
    inParallel(
      () => derive(TermPostingsTable, $"key", "term",
          sum($"sum_tf").as("cf"), max($"max_tf").as("max_tf"))
        .observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(DictTable.path(root)),
      () => derive(GramPostingsTable, gramCode($"key"), "gram")
        .write.mode("overwrite").parquet(GramDictTable.path(root)))
    obs.get("n").asInstanceOf[Long]
  }

  def readDocStats(dir: String): DocStats = Manifest.state(dir).docStats(dir)
}
