package graft

import graft.build.{IndexBuild, Manifest}
import graft.maint.Maintenance
import graft.query.Search
import graft.sources.WebCorpus
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** delete / compact / update semantics (reference M1-M3). */
class MaintenanceSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 4,
    shufflePartitions = 4)

  test("delete tombstones exclude docs from search, fuzzy and BM25; compact reclaims") {
    val dir = tmpDir("maint-idx")
    val docs = WebCorpus.generate(spark, 100, seed = 21L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val s0 = new Search(spark, dir)
    val before = s0.bm25TopK(Seq("the"), 10, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val victimId = before.head._1
    val victimUrl = spark.read.parquet(IndexBuild.docsDir(dir))
      .where($"doc_id" === victimId).select("url").head().getString(0)

    Maintenance.delete(spark, dir, Seq(victimUrl))
    val s1 = new Search(spark, dir)
    val after = s1.bm25TopK(Seq("the"), 10, conjunctive = false)
      .collect().map(_.getLong(0))
    val victimDocIds = s1.deadIds.getOrElse(Set.empty)
    assert(victimDocIds.nonEmpty)
    assert(after.intersect(victimDocIds.toSeq).isEmpty)
    assert(after.length == 10) // heap refilled with live docs, not truncated
    assert(s1.search(Seq("the")).collect()
      .forall(_.getString(0) != victimUrl))

    // compact: tombstones applied physically, results identical to filtered
    Maintenance.compact(spark, dir, cfg)
    assert(!Files.exists(Paths.get(dir, "tombstones")))
    val s2 = new Search(spark, dir)
    assert(s2.deadIds.contains(Set.empty))
    // NOTE: doc ids are re-ranked after compact; compare by url
    val urlsAfterCompact = s2.search(Seq("the")).select("url").distinct()
      .as[String].collect().toSet
    assert(!urlsAfterCompact.contains(victimUrl))
    // stats shrank
    assert(IndexBuild.readDocStats(dir).nDocs < 600)
  }

  test("update is append-only: every pre-existing chunk/posting/docs file untouched") {
    val dir = tmpDir("maint-incr")
    val base = WebCorpus.generate(spark, 60, seed = 44L, partitions = 2).cache()
    IndexBuild.build(spark, base, dir, cfg)
    val victims = base.select("url").orderBy("url").as[String].take(2)
    val changedUrl = victims(0)

    def snapshotFiles(sub: String): Map[String, (Long, Long)] =
      Files.walk(Paths.get(dir, sub)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet"))
        .map(f => f.toString -> (Files.getLastModifiedTime(f).toMillis, Files.size(f)))
        .toMap
    val before = Seq("postings_terms", "postings_grams", "docs")
      .map(s => s -> snapshotFiles(s)).toMap
    val statsBefore = IndexBuild.readDocStats(dir)

    val newDocs = base
      // 'the' is corpus-common: the delta's tail-range segment shares the
      // (key, range) of existing segments -> guarantees a multi-segment
      // group for the mergeSegments check below
      .withColumn("text", when($"url" === changedUrl,
        lit("the unique quagga sentence\n")).otherwise($"text"))
      .withColumn("warc_ts", when($"url" === changedUrl,
        lit("2022-01-01 00:00:00").cast("timestamp")).otherwise($"warc_ts"))
    val (nNew, nChanged, nDeleted) = Maintenance.update(spark, dir, newDocs, cfg)
    assert((nNew, nChanged, nDeleted) == (0L, 1L, 0L))

    // append-only: no pre-existing file rewritten or resized, in ANY stage
    before.foreach { case (stage, files) =>
      files.foreach { case (f, (mtime, size)) =>
        assert(Files.exists(Paths.get(f)), s"$stage file deleted: $f")
        assert(Files.getLastModifiedTime(Paths.get(f)).toMillis == mtime &&
          Files.size(Paths.get(f)) == size, s"$stage file rewritten: $f")
      }
    }
    // ids advanced monotonically (reference nextOID), avgdl frozen
    val statsAfter = IndexBuild.readDocStats(dir)
    assert(statsAfter.nextDocId > statsBefore.nextDocId)
    assert(statsAfter.avgdl == statsBefore.avgdl)
    assert(statsAfter.rangeSize == statsBefore.rangeSize)

    // new content searchable, old version gone; WAND == brute force post-update
    val s = new Search(spark, dir)
    assert(s.search(Seq("quagga")).select("url").as[String].collect().toSeq == Seq(changedUrl))
    val wand = s.bm25TopK(Seq("the"), 10, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = s.bm25BruteForce(Seq("the"), 10, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wand == brute)

    // re-running the same update is a no-op (resume-safe diff)
    assert(Maintenance.update(spark, dir, newDocs, cfg) == (0L, 0L, 0L))

    // second, different update: ids still collision-free, results right
    val addedUrl = "https://new.example/zz1"
    val newDocs2 = newDocs.union(
      Seq((addedUrl, java.sql.Timestamp.valueOf("2022-02-01 00:00:00"),
        Array.empty[Byte], "the brand new wallaby quagga text\n", "en"))
        .toDF("url", "warc_ts", "html", "text", "lang")
        .select(newDocs.columns.map(col).toIndexedSeq: _*))
    assert(Maintenance.update(spark, dir, newDocs2, cfg) == (1L, 0L, 0L))
    val s2 = new Search(spark, dir)
    assert(s2.search(Seq("wallaby")).select("url").as[String].collect().toSeq == Seq(addedUrl))
    // 'quagga' now spans both updates' delta segments (same term, two
    // appends into the same doc range -> the multi-segment case)
    assert(s2.search(Seq("quagga")).count() == 2)
    // docs store has no duplicate live ids
    val live = Maintenance.liveDocs(spark, dir)
    assert(live.groupBy("doc_id").count().where($"count" > 1).count() == 0)

    // mergeSegments splices multi-segment (key, range) groups; results equal
    val preMerge = s2.bm25TopK(Seq("the"), 10, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val merged = Maintenance.mergeSegments(spark, dir, gramsTable = false) +
      Maintenance.mergeSegments(spark, dir, gramsTable = true)
    assert(merged > 0, "expected multi-segment groups to splice")
    val multiAfter = spark.read.parquet(IndexBuild.termPostingsDir(dir))
      .groupBy("key", "range_id").count().where($"count" > 1).count()
    assert(multiAfter == 0)
    val s3 = new Search(spark, dir)
    val postMerge = s3.bm25TopK(Seq("the"), 10, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(postMerge == preMerge)
    assert(s3.search(Seq("wallaby")).count() == 1)

    // compact after updates: re-densifies and refreshes stats
    Maintenance.compact(spark, dir, cfg)
    val s4 = new Search(spark, dir)
    assert(s4.deadIds.contains(Set.empty))
    assert(s4.search(Seq("quagga")).count() == 2)
    assert(s4.search(Seq("wallaby")).count() == 1)
    val statsC = IndexBuild.readDocStats(dir)
    assert(statsC.nextDocId == statsC.nDocs)
  }

  test("addChunk: explicit grams, accumulates under the group, survives compact (chunk cmd)") {
    val dir = tmpDir("maint-chunk")
    val docs = WebCorpus.generate(spark, 30, seed = 77L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val url = docs.select("url").orderBy("url").head().getString(0)
    val nBefore = Maintenance.liveDocs(spark, dir).where($"url" === url).count()
    // explicit grams from literals (search -grams forms), NOT from the data
    val gs = Seq(graft.core.Gram.parseGram(".ZQ"), graft.core.Gram.parseGram("ZQX"),
      graft.core.Gram.parseGram("QX."))
    val id = Maintenance.addChunk(spark, dir, url, "okapi payload", gs,
      java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), cfg)
    assert(id == IndexBuild.readDocStats(dir).nextDocId - 1)
    // retrievable by its EXPLICIT grams; its data tokens feed the TERM
    // index only (reference cmdChunk indexes just the supplied grams —
    // a gram-candidate search for 'okapi' must NOT see it)
    val s = new Search(spark, dir)
    assert(s.candidatesByGrams(gs).as[Long].collect().toSeq == Seq(id))
    assert(s.bm25TopK(Seq("okapi"), 5, conjunctive = true)
      .collect().map(_.getLong(0)).toSeq == Seq(id))
    assert(s.candidates(Seq("okapi")).count() == 0)
    // the group accumulated (old chunks intact)
    assert(Maintenance.liveDocs(spark, dir).where($"url" === url).count() == nBefore + 1)
    // compact keeps it, ids stay dense
    Maintenance.delete(spark, dir, Seq(docs.select("url").orderBy(desc("url")).head().getString(0)))
    Maintenance.compact(spark, dir, cfg)
    val s2 = new Search(spark, dir)
    // explicit grams survive compact (the chunk store keeps them verbatim)
    assert(s2.candidatesByGrams(gs).count() == 1)
    assert(s2.bm25TopK(Seq("okapi"), 5, conjunctive = true).count() == 1)
    val live = spark.read.parquet(IndexBuild.docsDir(dir))
    assert(live.groupBy("doc_id").count().where($"count" > 1).count() == 0)
  }

  test("distributed tombstone path (cogrouped dead ids) == inline driver set") {
    val dir = tmpDir("maint-tomb")
    val docs = WebCorpus.generate(spark, 80, seed = 66L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val victims = docs.select("url").orderBy("url").as[String].take(5).toSeq
    Maintenance.delete(spark, dir, victims)
    val inline = new Search(spark, dir) // default gate: driver set
    val dist = new Search(spark, dir, maxInlineTombstones = 0) // forced cogroup
    assert(Maintenance.tombstones(spark, dir).count() > 0)
    assert(dist.deadIds.isEmpty && inline.deadIds.exists(_.nonEmpty))
    def rows(s: Search) = Seq(
      s.bm25TopK(Seq("the"), 10, conjunctive = false).collect().map(_.toSeq).toSeq,
      s.candidates(Seq("the")).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      s.fuzzy(Seq("the"), 0.5).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      s.bm25BruteForce(Seq("the"), 10, conjunctive = false).collect().map(_.toSeq).toSeq,
      // hydrated search, and infoGroups over the live docs store
      s.search(Seq("the")).collect().map(_.toSeq).toSeq,
      s.infoGroups().collect().map(_.toSeq).toSeq)
    assert(rows(inline) == rows(dist))
    // and the distributed path actually excludes the victims
    val victimIds = inline.deadIds.get
    assert(dist.candidates(Seq("the")).as[Long].collect()
      .toSet.intersect(victimIds).isEmpty)
  }

  test("updatePlan is a dry run; emptyGroups skips existing (update -t / empty)") {
    val dir = tmpDir("maint-plan")
    val base = WebCorpus.generate(spark, 20, seed = 55L, partitions = 2).cache()
    IndexBuild.build(spark, base, dir, cfg)
    val dropUrl = base.select("url").orderBy("url").head().getString(0)
    val newDocs = base.where($"url" =!= dropUrl)
    val plan = Maintenance.updatePlan(spark, dir, newDocs, cfg)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(plan.toSeq == Seq((dropUrl, "deleted")))
    // dry run executed nothing: url still searchable, no tombstones
    assert(new Search(spark, dir).deadIds.contains(Set.empty))
    assert(Maintenance.tombstones(spark, dir).count() == 0)

    // empty groups: add two, one colliding with an indexed url -> skipped
    assert(Maintenance.emptyGroups(spark, dir, Seq("e://1", dropUrl)) == 1L)
    assert(Maintenance.emptyGroups(spark, dir, Seq("e://1", "e://2")) == 1L)
    val s = new Search(spark, dir)
    val g = s.infoGroups().where($"n_chunks" === 0).select("url").as[String].collect()
    assert(g.sorted.toSeq == Seq("e://1", "e://2"))
  }

  test("infoGroups reads the empty groups a Search pinned at construction") {
    val dir = tmpDir("maint-empty-snap")
    IndexBuild.build(spark, WebCorpus.generate(spark, 20, seed = 56L, partitions = 2), dir, cfg)
    def emptyUrls(s: Search) =
      s.infoGroups().where($"n_chunks" === 0).select("url").as[String].collect().sorted.toSeq
    val before = new Search(spark, dir) // no empty_groups table yet
    assert(Maintenance.emptyGroups(spark, dir, Seq("e://a")) == 1L)
    val opened = new Search(spark, dir) // pins a one-file empty_groups table
    assert(Maintenance.emptyGroups(spark, dir, Seq("e://b")) == 1L)
    assert(emptyUrls(before).isEmpty)
    assert(emptyUrls(opened) == Seq("e://a"))
    assert(emptyUrls(new Search(spark, dir)) == Seq("e://a", "e://b"))
  }

  test("delete scans only the batch urls' docparts (partition-pruned tombstoning)") {
    val dir = tmpDir("maint-prune")
    val docs = WebCorpus.generate(spark, 80, seed = 11L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val url = docs.select("url").orderBy("url").head().getString(0)
    val pruned = Maintenance.docsOfUrls(IndexBuild.readTable(spark, dir, IndexBuild.DocsTable),
      IndexBuild.readDocStats(dir).docParts, Seq(url).toDF("url"))
    val p = pruned.queryExecution.executedPlan.toString
    // the docs scan must carry a docpart partition filter (IN on the batch's
    // parts), not read the whole store
    assert("PartitionFilters: \\[[^\\]]*docpart".r.findFirstIn(p).isDefined,
      p.take(900))
    val part = math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(url),
          org.apache.spark.sql.types.StringType, 42L), cfg.docParts.toLong)
    assert(p.contains(s"IN ($part)") || p.contains(s"isin($part)") ||
      p.contains(s"= $part"), s"expected docpart=$part filter:\n${p.take(900)}")
    assert(pruned.select("url").distinct().as[String].collect().toSeq == Seq(url))
    // delete/update stay green through the pruned path
    Maintenance.delete(spark, dir, Seq(url))
    val t = Maintenance.tombstones(spark, dir)
    assert(t.select("url").distinct().as[String].collect().toSeq == Seq(url))
  }

  /** A copy of the index at `dir`, compacted without interruption. */
  private def compactedCopy(dir: String, name: String): String = {
    val ref = tmpDir(name)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(ref))
    Maintenance.compact(spark, ref, cfg)
    ref
  }

  /** Run `compact` until the first durable step whose label starts with
    * `label` crashes it.
    */
  private def crashCompactAt(dir: String, label: String): Unit = {
    Manifest.arm((_, l) => l.startsWith(label))
    try intercept[Manifest.InjectedCrash](Maintenance.compact(spark, dir, cfg))
    finally Manifest.disarm()
  }

  test("compact resumes after a crash between destroy and rebuild (compacting marker)") {
    val dir = tmpDir("maint-crash")
    val docs = WebCorpus.generate(spark, 40, seed = 23L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val victim = docs.select("url").orderBy("url").head().getString(0)
    Maintenance.delete(spark, dir, Seq(victim))
    val wantUrls = new Search(spark, compactedCopy(dir, "maint-crash-ref")).search(Seq("the"))
      .select("url").distinct().as[String].collect().toSet

    // the mid-compact crash state: compacted chunks swapped in,
    // tombstones+docs already destroyed, derived stages reset, compact
    // pending — the swap's publish dies at its last step, before the
    // rebuild starts. The window the pre-marker compact could not recover
    // from (tombstones empty -> re-run no-oped with no docs store left)
    crashCompactAt(dir, "finish ")
    assert(Manifest.state(dir).compactPending)
    assert(!Files.exists(Paths.get(IndexBuild.docsDir(dir))))
    assert(!Files.exists(Paths.get(dir, "tombstones")))
    assert(Files.exists(Paths.get(IndexBuild.chunksDir(dir))))

    Maintenance.compact(spark, dir, cfg) // resume: no tombstones, compact pending
    assert(!Manifest.state(dir).compactPending)
    val s = new Search(spark, dir)
    val gotUrls = s.search(Seq("the")).select("url").distinct()
      .as[String].collect().toSet
    assert(gotUrls == wantUrls)
    assert(!gotUrls.contains(victim))
  }

  test("crash between swap and docs-destroy leaves reads tombstone-filtered") {
    // ADVICE r3: the old ordering deleted the tombstones BEFORE the stale
    // docs store, so a crash in between left deleted docs silently live.
    // New invariant: tombstones outlive the docs store — in every
    // reachable crash state a search either sees the tombstone-filtered
    // view or fails fast on a missing docs dir, never resurrected rows.
    val dir = tmpDir("maint-crash3")
    val docs = WebCorpus.generate(spark, 40, seed = 31L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val victim = docs.select("url").orderBy("url").head().getString(0)
    Maintenance.delete(spark, dir, Seq(victim))

    // the crash state right AFTER the swap commit: compacted scratch
    // staged, compact pending, docs store still stale, tombstones still
    // present
    crashCompactAt(dir, "remove docs")
    assert(Manifest.state(dir).compactPending)

    // mid-crash reads: the victim stays invisible (old docs + tombstones)
    val crashed = new Search(spark, dir).search(Seq("the"))
      .select("url").distinct().as[String].collect().toSet
    assert(!crashed.contains(victim))

    // resume completes and the victim stays gone; tombstones are consumed
    Maintenance.compact(spark, dir, cfg)
    assert(!Manifest.state(dir).compactPending)
    val after = new Search(spark, dir).search(Seq("the"))
      .select("url").distinct().as[String].collect().toSet
    assert(after == crashed)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/tombstones")))
  }

  test("compact resume after a MID-REBUILD crash never deletes the docs store") {
    val dir = tmpDir("maint-crash2")
    val docs = WebCorpus.generate(spark, 40, seed = 29L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val victim = docs.select("url").orderBy("url").head().getString(0)
    Maintenance.delete(spark, dir, Seq(victim))
    val want = new Search(spark, compactedCopy(dir, "maint-crash2-ref")).search(Seq("the"))
      .select("url").distinct().as[String].collect().toSet

    // crash window: the rebuild got past ids+cleanup (chunk scratch
    // consumed, docs store committed) but died committing the first term
    // postings bucket — chunks/ is GONE and docs/ is the ONLY corpus copy.
    // A resume that blindly deletes docs/ destroys the index.
    crashCompactAt(dir, "record postings_terms 0")
    assert(Manifest.state(dir).compactPending)
    assert(!Files.exists(Paths.get(dir, "chunks"))) // cleanup already ran
    // a delete issued INSIDE the crash window (between crash and resume)
    // must survive the resumed compact, not be silently dropped with the
    // pre-compact tombstones
    val lateVictim = want.toSeq.sorted.head
    Maintenance.delete(spark, dir, Seq(lateVictim))

    Maintenance.compact(spark, dir, cfg)
    assert(Files.exists(Paths.get(dir, "docs")), "docs store destroyed")
    assert(!Manifest.state(dir).compactPending)
    val got = new Search(spark, dir).search(Seq("the"))
      .select("url").distinct().as[String].collect().toSet
    assert(got == want - lateVictim, "late delete lost or resume diverged")
  }

  test("deletion-only snapshot update tombstones and returns (0,0,n)") {
    val dir = tmpDir("maint-delonly")
    val base = WebCorpus.generate(spark, 30, seed = 31L, partitions = 2).cache()
    IndexBuild.build(spark, base, dir, cfg)
    val dropUrl = base.select("url").orderBy("url").head().getString(0)
    val newDocs = base.where($"url" =!= dropUrl)
    assert(Maintenance.update(spark, dir, newDocs, cfg) == (0L, 0L, 1L))
    assert(Maintenance.tombstones(spark, dir).select("url").distinct()
      .as[String].collect().toSeq == Seq(dropUrl))
    // re-run is a clean no-op, and a later real update still works
    assert(Maintenance.update(spark, dir, newDocs, cfg) == (0L, 0L, 0L))
    val changedUrl = base.select("url").orderBy(desc("url")).head().getString(0)
    val newDocs2 = newDocs
      .withColumn("text", when($"url" === changedUrl,
        lit("a vicuna appears\n")).otherwise($"text"))
      .withColumn("warc_ts", when($"url" === changedUrl,
        lit("2024-01-01 00:00:00").cast("timestamp")).otherwise($"warc_ts"))
    assert(Maintenance.update(spark, dir, newDocs2, cfg) == (0L, 1L, 0L))
    assert(new Search(spark, dir).search(Seq("vicuna")).count() == 1)
  }

  test("auto segment-merge fires after N appends and keeps results identical") {
    val dir = tmpDir("maint-autom")
    val amCfg = cfg.copy(autoMergeSegments = 3)
    val docs = WebCorpus.generate(spark, 30, seed = 88L, partitions = 2).cache()
    IndexBuild.build(spark, docs, dir, amCfg)
    val url = docs.select("url").orderBy("url").head().getString(0)
    (1 to 3).foreach { i =>
      val nd = docs
        .withColumn("text", when($"url" === url,
          lit(s"the recurring capy text v$i\n")).otherwise($"text"))
        .withColumn("warc_ts", when($"url" === url,
          lit(s"2022-0$i-01 00:00:00").cast("timestamp")).otherwise($"warc_ts"))
      Maintenance.update(spark, dir, nd, amCfg)
    }
    // the third append crossed the threshold: groups spliced automatically
    assert(Manifest.state(dir).completed("seg_merge").nonEmpty)
    val multi = spark.read.parquet(IndexBuild.termPostingsDir(dir))
      .groupBy("key", "range_id").count().where($"count" > 1).count()
    assert(multi == 0, "multi-segment groups left after auto-merge")
    val s = new Search(spark, dir)
    assert(s.search(Seq("capy")).select("url").as[String].collect().toSeq == Seq(url))
    val wand = s.bm25TopK(Seq("the"), 10, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = s.bm25BruteForce(Seq("the"), 10, conjunctive = false)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wand == brute)
  }

  test("deferred addChunk dict maintenance: k adds, one rewrite (flushDict)") {
    val dir = tmpDir("maint-defer")
    val docs = WebCorpus.generate(spark, 20, seed = 91L, partitions = 2)
    IndexBuild.build(spark, docs, dir, cfg)
    val url = docs.select("url").orderBy("url").head().getString(0)
    val gs = Seq(graft.core.Gram.parseGram(".ZQ"), graft.core.Gram.parseGram("ZQ."))
    def dictState: Map[String, Long] =
      Files.walk(Paths.get(IndexBuild.dictDir(dir))).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    val before = dictState
    val ids = (1 to 3).map(i => Maintenance.addChunk(spark, dir, url,
      s"okapi payload$i", gs,
      java.sql.Timestamp.valueOf("2023-01-01 00:00:00"), cfg, mergeDict = false))
    assert(ids.distinct.size == 3)
    // no dictionary rewrite happened for any deferred add
    assert(dictState == before)
    // one flush folds all three in; second flush is a no-op
    assert(Maintenance.flushDict(spark, dir, cfg) == 3L)
    assert(Maintenance.flushDict(spark, dir, cfg) == 0L)
    // explicit-gram retrieval sees the batch once the dict is flushed
    assert(new Search(spark, dir).candidatesByGrams(gs).count() == 3)
    val dict = spark.read.parquet(IndexBuild.dictDir(dir))
    assert(dict.where($"term" === "okapi").select($"df".cast("long"))
      .head().getLong(0) == 3L)
    // BM25 over the flushed dict sees all three chunks
    assert(new Search(spark, dir).bm25TopK(Seq("okapi"), 5, conjunctive = true)
      .collect().map(_.getLong(0)).toSet == ids.toSet)
  }

  test("search-time staleness: badFiles statuses + searchFresh exclusion (findBadFiles)") {
    val dir = tmpDir("maint-stale")
    val docs = WebCorpus.generate(spark, 40, seed = 17L, partitions = 2).cache()
    IndexBuild.build(spark, docs, dir, cfg)
    val s = new Search(spark, dir)
    val hitUrls = s.search(Seq("the")).select("url").distinct()
      .as[String].collect().sorted
    assert(hitUrls.length >= 3)
    val (missingUrl, staleUrl) = (hitUrls(0), hitUrls(1))
    val cur = docs.where($"url" =!= missingUrl)
      .withColumn("warc_ts", when($"url" === staleUrl,
        lit("2030-01-01 00:00:00").cast("timestamp")).otherwise($"warc_ts"))
      .select("url", "warc_ts")
    val bad = s.badFiles(s.search(Seq("the")).select("url").distinct(), cur)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bad == Map(missingUrl -> "missing", staleUrl -> "stale"))
    val fresh = s.searchFresh(Seq("the"), cur).select("url").distinct()
      .as[String].collect().toSet
    assert(fresh == hitUrls.toSet - missingUrl - staleUrl)
    // changelog-style current table (multiple versions per url): a url
    // whose NEWEST version matches the index is fresh — an old version
    // row must not flag it stale
    val curMulti = cur.unionByName(
      docs.where($"url" === hitUrls(2)).select($"url",
        lit("2001-01-01 00:00:00").cast("timestamp").as("warc_ts")))
    val bad2 = s.badFiles(s.search(Seq("the")).select("url").distinct(), curMulti)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bad2 == Map(missingUrl -> "missing", staleUrl -> "stale"))
  }

  test("update on an org index re-chunks with the org chunker (persisted chunkMode)") {
    val dir = tmpDir("maint-orgmode")
    val orgCfg = cfg.copy(chunkMode = IndexBuild.ChunkMode.Org)
    val ts1 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val t0 = "* alpha beta\ngamma delta\n\n- epsilon zeta\n"
    val docs = Seq(("o://1", ts1, Array.empty[Byte], t0, "en"),
      ("o://2", ts1, Array.empty[Byte], t0, "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    IndexBuild.build(spark, docs, dir, orgCfg)
    assert(IndexBuild.readDocStats(dir).chunkMode == IndexBuild.ChunkMode.Org)
    // derive the maintenance config the way Cli does (from docstats):
    // the org mode must survive the round trip or the delta would be
    // re-chunked as lines (4 chunks incl. the blank line) instead of org
    // elements (3)
    val st = IndexBuild.readDocStats(dir)
    val derived = IndexBuild.Config(nBuckets = st.nBuckets,
      nRanges = st.nRanges, docParts = st.docParts, chunkMode = st.chunkMode)
    val newDocs = docs
      .withColumn("text", when($"url" === "o://2",
        lit("* eta theta\niota kappa\n\n- lambda mu\n")).otherwise($"text"))
      .withColumn("warc_ts", when($"url" === "o://2",
        lit("2021-01-01 00:00:00").cast("timestamp")).otherwise($"warc_ts"))
    assert(Maintenance.update(spark, dir, newDocs, derived) == (0L, 1L, 0L))
    val chunks2 = Maintenance.liveDocs(spark, dir).where($"url" === "o://2")
    assert(chunks2.count() == 3, "delta was not org-chunked")
    val s = new Search(spark, dir)
    assert(s.search(Seq("lambda")).select("chunk_text").as[String]
      .collect().toSeq == Seq("- lambda mu"))
  }

  test("update re-chunks only dirty docparts; clean parts never re-tokenized") {
    val dir = tmpDir("maint-upd")
    val base = WebCorpus.generate(spark, 80, seed = 33L, partitions = 2).cache()
    IndexBuild.build(spark, base, dir, cfg)

    // mutate: change one doc's text+ts, drop one, add one
    val changedUrl = base.select("url").orderBy("url").head().getString(0)
    val droppedUrl = base.select("url").orderBy(desc("url")).head().getString(0)
    val newDocs = base
      .where($"url" =!= droppedUrl)
      .withColumn("text", when($"url" === changedUrl,
        lit("completely fresh zebra content\n")).otherwise($"text"))
      .withColumn("warc_ts", when($"url" === changedUrl,
        lit("2021-06-01 00:00:00").cast("timestamp")).otherwise($"warc_ts"))
      .union(WebCorpus.generate(spark, 3, seed = 99L, partitions = 1)
        .withColumn("url", concat(lit("https://new.example/x"), monotonically_increasing_id())))

    val chunkFiles = Files.walk(Paths.get(dir, "docs")).iterator().asScala
      .filter(f => f.toString.endsWith(".parquet")).toSeq
    val mtimesBefore = chunkFiles.map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap

    val (nNew, nChanged, nDeleted) = Maintenance.update(spark, dir, newDocs, cfg)
    assert(nNew == 3 && nChanged == 1 && nDeleted == 1)

    // the changed doc is searchable with its new content; dropped url gone
    val s = new Search(spark, dir)
    val hits = s.search(Seq("zebra")).select("url").as[String].collect()
    assert(hits.toSeq == Seq(changedUrl))
    assert(s.search(Seq("the")).where($"url" === droppedUrl).count() == 0)

    // clean docparts' chunk files untouched (no re-tokenization)
    val dirtyParts = Seq(changedUrl, droppedUrl).map { u =>
      math.floorMod(org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(u),
          org.apache.spark.sql.types.StringType, 42L), cfg.docParts.toLong).toInt
    }.toSet
    mtimesBefore.foreach { case (f, t) =>
      val isDirty = dirtyParts.exists(p => f.contains(s"docpart=$p")) ||
        f.contains("docpart=__HIVE") // defensive
      val newParts = (0 until cfg.docParts).filter(p =>
        Seq("https://new.example/x0", "https://new.example/x1", "https://new.example/x2").exists { u =>
          math.floorMod(org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(org.apache.spark.unsafe.types.UTF8String.fromString(u),
              org.apache.spark.sql.types.StringType, 42L), cfg.docParts.toLong).toInt == p
        }).toSet
      val dirty = isDirty || newParts.exists(p => f.contains(s"docpart=$p"))
      if (!dirty && Files.exists(Paths.get(f)))
        assert(Files.getLastModifiedTime(Paths.get(f)).toMillis == t, s"clean file rewritten: $f")
    }
  }

  test("appends take bucket count, k1/b, chunk mode and docParts from docstats, not the caller's Config") {
    val dir = tmpDir("maint-params")
    val base = WebCorpus.generate(spark, 60, seed = 47L, partitions = 2)
    IndexBuild.build(spark, base, dir, cfg) // 4 buckets, 4 docparts, lines
    // a caller Config that disagrees with the index on every parameter an
    // append uses
    val other = cfg.copy(nBuckets = 8, k1 = 2.0, b = 0.3, docParts = 3,
      chunkMode = IndexBuild.ChunkMode.Doc)
    // words only the appends bring whose bucket under 8 buckets is >= 4:
    // bucketed with the caller's count, their postings fell outside the
    // index's buckets 0..3 and were dropped
    val words = Seq("okapi", "quagga", "wallaby", "zebra", "ibex", "kudu",
      "dingo", "tapir", "lemur", "marmot", "numbat", "quokka", "serval")
      .filter(w => IndexBuild.termBucket(w, 8) >= 4)
    val (w1, w2) = (words(0), words(1))
    val url1 = "https://params.example/upd"
    val url2 = "https://params.example/chunk"

    val batch = Seq((url1, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"),
      Array.empty[Byte], s"the $w1 runs\nsecond line of the page\n", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    assert(Maintenance.update(spark, dir, batch, other, partialSnapshot = true) ==
      (1L, 0L, 0L))
    // chunked by the index's line chunker, not the caller's whole-doc mode
    assert(Maintenance.liveDocs(spark, dir).where($"url" === url1).count() == 2)
    val id2 = Maintenance.addChunk(spark, dir, url2, s"$w2 payload",
      graft.core.Gram.gramsSorted(partial = false, Seq(w2)).toSeq,
      java.sql.Timestamp.valueOf("2023-01-02 00:00:00"), other)

    val s = new Search(spark, dir)
    assert(s.search(Seq(w1)).select("url").as[String].collect().toSeq == Seq(url1))
    assert(s.candidates(Seq(w2)).as[Long].collect().toSeq == Seq(id2))
    assert(s.bm25TopK(Seq(w2), 10, conjunctive = false)
      .collect().map(_.getLong(0)).toSeq == Seq(id2))
    // block maxima encoded with the index's k1/b: WAND stays exact
    for (q <- Seq(Seq(w1), Seq(w1, "the"), Seq("the", "of", "second"))) {
      val wand = s.bm25TopK(q, 10, conjunctive = false)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val brute = s.bm25BruteForce(q, 10, conjunctive = false)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(wand.nonEmpty && wand == brute, s"query $q")
    }
    // both rows sit in the docpart the index prunes to, so a delete finds them
    Maintenance.delete(spark, dir, Seq(url1, url2))
    val s2 = new Search(spark, dir)
    assert(s2.search(Seq(w1)).count() == 0)
    assert(s2.candidates(Seq(w2)).count() == 0)
  }
}
