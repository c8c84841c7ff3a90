package graft

import graft.build.IndexBuild
import graft.ops.Multimodal
import graft.query.Search
import graft.sources.WebCorpus
import graft.streaming.StreamingIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingMultimodalSpec extends SparkSuite {
  import spark.implicits._

  private val cfg = IndexBuild.Config(nBuckets = 4, nRanges = 2, docParts = 4,
    shufflePartitions = 4)

  test("streaming foreachBatch maintains the index incrementally (MemoryStream)") {
    val dir = tmpDir("stream-idx")
    val ckpt = tmpDir("stream-ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[WebCorpus.WebDoc]
    val q = StreamingIndex.maintain(spark, mem.toDF(), dir, cfg, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))

    try {
      mem.addData(WebCorpus.makeDoc(1, 7L).copy(text = "alpha beta gamma\n"))
      q.processAllAvailable()
      val s1 = new Search(spark, dir)
      assert(s1.search(Seq("alpha")).count() == 1)

      // second batch: a new doc AND an update of the first url
      val d1 = WebCorpus.makeDoc(1, 7L)
      mem.addData(
        d1.copy(text = "alpha delta epsilon\n",
          warc_ts = new java.sql.Timestamp(d1.warc_ts.getTime + 60000)),
        WebCorpus.makeDoc(2, 7L).copy(text = "zeta eta theta\n"))
      q.processAllAvailable()
      val s2 = new Search(spark, dir)
      assert(s2.search(Seq("delta")).count() == 1)
      assert(s2.search(Seq("beta")).count() == 0) // old version replaced
      assert(s2.search(Seq("zeta")).count() == 1)
      // append-only update: nDocs counts the tombstoned old version until
      // compact (reference: space/stats reclaimed only by compact)
      assert(IndexBuild.readDocStats(dir).nDocs == 3)

      // third batch: per-batch work is O(batch) — every pre-existing chunk
      // file stays untouched (no corpus reconstruction, no rewrite)
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val before = Files.walk(Paths.get(dir, "docs")).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      mem.addData(WebCorpus.makeDoc(3, 7L).copy(text = "iota kappa lambda\n"))
      q.processAllAvailable()
      val s3 = new Search(spark, dir)
      assert(s3.search(Seq("iota")).count() == 1)
      assert(s3.search(Seq("delta")).count() == 1)
      before.foreach { case (f, t) =>
        assert(Files.getLastModifiedTime(Paths.get(f)).toMillis == t,
          s"batch rewrote a pre-existing chunk file: $f")
      }

      // compact reclaims: stats re-densify to the 3 live docs
      graft.maint.Maintenance.compact(spark, dir, cfg)
      assert(IndexBuild.readDocStats(dir).nDocs == 3)
      val s4 = new Search(spark, dir)
      assert(s4.search(Seq("beta")).count() == 0)
      assert(s4.search(Seq("delta")).count() == 1)
    } finally q.stop()
  }

  test("streaming version dedup (flatMapGroupsWithState) + windowed ingestion stats") {
    implicit val sqlCtx = spark.sqlContext
    // epoch-minute-aligned base so window() boundaries land at sec 0/60
    def row(url: String, sec: Long, text: String) =
      (url, new java.sql.Timestamp(1600000020000L + sec * 1000), text, "en")

    // ---- dedupVersions: only strictly-newer versions per url pass
    val mem = MemoryStream[(String, java.sql.Timestamp, String, String)]
    val deduped = StreamingIndex.dedupVersions(
      mem.toDF().toDF("url", "warc_ts", "text", "lang"))
      .toDF("url", "warc_ts", "text", "lang")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // one batch with duplicate + out-of-order versions of u1
      mem.addData(row("u1", 10, "v1"), row("u1", 30, "v3"), row("u1", 20, "v2"),
        row("u2", 5, "w1"))
      q.processAllAvailable()
      // a later batch: a stale version (sec 25 < emitted 30) and a fresh one
      mem.addData(row("u1", 25, "stale"), row("u1", 40, "v4"))
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select($"url", $"text").as[(String, String)].collect().toSet
      // within the first batch only the event-time-increasing versions pass
      assert(got == Set(("u1", "v1"), ("u1", "v2"), ("u1", "v3"),
        ("u1", "v4"), ("u2", "w1")))
      assert(!got.contains(("u1", "stale")))
    } finally q.stop()

    // ---- ingestionStats: watermarked event-time windows close and emit
    val mem2 = MemoryStream[(String, java.sql.Timestamp, String, String)]
    val stats = StreamingIndex.ingestionStats(
      mem2.toDF().toDF("url", "warc_ts", "text", "lang"),
      windowLen = "1 minute", lateness = "0 seconds")
    val q2 = stats.writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      mem2.addData(row("a", 10, "xx"), row("b", 20, "yyy"), row("c", 70, "z"))
      q2.processAllAvailable()
      // advance the watermark far enough to close both windows
      mem2.addData(row("d", 500, "q"))
      q2.processAllAvailable()
      val rows = spark.table("ingest_out")
        .select($"window.start".cast("long"), $"n_pages", $"n_chars")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(rows.length >= 2)
      assert(rows(0)._2 == 2 && rows(0)._3 == 5) // window 1: a+b, 2+3 chars
      assert(rows(1)._2 == 1 && rows(1)._3 == 1) // window 2: c
    } finally q2.stop()
  }

  test("multimodal: real BMP/WAV/Y4M roundtrip, batched extraction, frame plan") {
    val media = Multimodal.generate(spark, 60, partitions = 4)
    val rows = media.collect()
    // payloads are real containers: magic bytes per kind
    rows.foreach { r =>
      val magic = new String(r.payload.take(9), "US-ASCII")
      r.kind match {
        case "image" => assert(magic.startsWith("BM"))
        case "audio" => assert(magic.startsWith("RIFF"))
        case "video" => assert(magic == "YUV4MPEG2")
      }
    }
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 60)
    // decoded facts come from the container headers and must match what
    // the generator encoded (audio: WAV carries samples x channels)
    val byId = rows.map(r => r.media_id -> r).toMap
    feats.foreach { f =>
      val r = byId(f.media_id)
      assert(f.kind == r.kind)
      if (r.kind == "audio") {
        assert(f.width == r.width * r.height && f.height == 1)
      } else {
        assert(f.width == r.width && f.height == r.height)
      }
      assert(f.n_frames == r.n_frames)
      assert(f.feature.length == 8)
      assert(math.abs(f.feature.sum - 1.0f) < 1e-3) // normalized histogram
      assert(f.bytes_len > 44)
    }
    // deterministic across runs
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.sortBy(_.media_id).map(_.mean_byte).toSeq ==
      again.sortBy(_.media_id).map(_.mean_byte).toSeq)

    val plan = Multimodal.sampleFramePlan(media.toDF(), 2)
    val perVideo = plan.groupBy("media_id").count().collect()
    assert(perVideo.nonEmpty)
    // video rows have n_frames in [8,11] -> sampled every 2 -> 4..6 frames
    perVideo.foreach(r => assert(r.getLong(1) >= 4 && r.getLong(1) <= 6))

    val balanced = Multimodal.balanceBySize(media.toDF(), largeBytes = 2000, partitions = 8)
    assert(balanced.count() == 60)
  }

  test("WAV decode rejects a chunk size that overflows Int with a clear error") {
    import java.nio.{ByteBuffer, ByteOrder}
    // a chunk header whose size would wrap `off + 8 + size` past Int.MaxValue
    val p = ByteBuffer.allocate(28).order(ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(20)
      .put("WAVE".getBytes("US-ASCII"))
      .put("LIST".getBytes("US-ASCII")).putInt(Int.MaxValue - 8)
      .array()
    val e = intercept[IllegalArgumentException](Multimodal.MediaCodec.decode(p))
    assert(e.getMessage.contains("bad RIFF chunk"))
  }

  test("streaming quality gate: modelScoreCol filters a stream, batch-identical") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((0L, "alpha beta gamma"), (1L, "delta epsilon"),
      (2L, "zeta eta theta iota"), (3L, ""), (4L, "kappa"),
      (5L, "lambda mu nu xi omicron"))
    // batch truth from the op itself
    val keepBatch = graft.ops.TextOps.hashedQualityScore(
        docs.toDF("doc_id", "text")).where($"keep" === 1L)
      .select($"doc_id").as[Long].collect().toSet
    // the same gate as a stateless streaming filter (no orderBy, no state)
    val mem = MemoryStream[(Long, String)]
    val gated = mem.toDF().toDF("doc_id", "text")
      .withColumn("arr", graft.ops.TextOps.wordsCol)
      .where(graft.ops.TextOps.modelScoreCol >= 0)
      .select($"doc_id")
    val q = gated.writeStream.format("memory").queryName("quality_out")
      .outputMode("append").start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("quality_out").as[Long].collect().toSet
      assert(got == keepBatch)
      assert(got.nonEmpty && got.size < docs.size) // the gate actually cuts
    } finally q.stop()
  }

  test("resizeBmp: pixel-exact nearest-neighbor downsample, real re-encode") {
    import Multimodal.MediaCodec
    val k = 2
    val p = MediaCodec.encodeBmp(48, 32, seed = 7)
    val p2 = MediaCodec.resizeBmp(p, k)
    val src = MediaCodec.decode(p)
    val dst = MediaCodec.decode(p2) // the resized bytes are a valid BMP
    assert(dst.width == 24 && dst.height == 16)
    val rowOld = (48 * 3 + 3) / 4 * 4
    val rowNew = (24 * 3 + 3) / 4 * 4
    // output image pixel (x,y) == input image pixel (x*k, y*k); storage
    // is bottom-up, so image row y lives at stored row (h-1-y)
    for (y <- 0 until 16; x <- 0 until 24; c <- 0 until 3) {
      val s = src.body((32 - 1 - y * k) * rowOld + x * k * 3 + c)
      val d = dst.body((16 - 1 - y) * rowNew + x * 3 + c)
      assert(d == s, s"pixel ($x,$y) channel $c")
    }
    intercept[IllegalArgumentException](MediaCodec.resizeBmp(p, 5))

    // the Dataset op: images shrink and re-decode; audio/video untouched
    val media = Multimodal.generate(spark, 30, partitions = 2)
    val resized = Multimodal.resizeImages(media, 2).collect()
    val orig = media.collect().map(r => r.media_id -> r).toMap
    resized.foreach { r =>
      val o = orig(r.media_id)
      if (r.kind == "image") {
        assert(r.width == o.width / 2 && r.height == o.height / 2)
        val d = MediaCodec.decode(r.payload)
        assert(d.width == r.width && d.height == r.height)
      } else assert(r.payload.sameElements(o.payload))
    }
  }
}
