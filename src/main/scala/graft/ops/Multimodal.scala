package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video travel as opaque `binary` columns with typed metadata; decode /
  * feature-extract / frame-sample run as batched per-partition kernels
  * (the JVM-side equivalent of `mapInPandas` batches — in PySpark these
  * same schemas/partitioning drive Pandas UDFs).
  *
  * The codecs are REAL pure-JVM parsers for three public UNCOMPRESSED
  * container formats, so the decode step needs no media libraries:
  *   - image: BMP, 24bpp BITMAPFILEHEADER + BITMAPINFOHEADER
  *   - audio: WAV, RIFF/WAVE PCM 16-bit mono (proper chunk walk)
  *   - video: Y4M (YUV4MPEG2), C420jpeg planar frames
  * [[MediaCodec.decode]] dispatches on the container MAGIC, never on
  * trusted metadata columns, and every reported fact (width, height,
  * channels, frame count) is parsed from the bytes. Compressed codecs
  * (JPEG/FLAC/H.264) would slot into the same decode() seam — that is the
  * one remaining library-bound substitution.
  */
object Multimodal {

  /** Generator-side row: width/height/n_frames are the SYNTHESIS
    * parameters (for audio they are the sample-grid factors — the encoded
    * clip has width*height samples).
    */
  final case class MediaRow(media_id: Long, kind: String, width: Int,
                            height: Int, n_frames: Int, payload: Array[Byte])

  /** Decode-side row: every field is parsed from the payload bytes. For
    * audio, width = sample count and height = channel count (the facts a
    * WAV header actually carries).
    */
  final case class MediaFeatures(media_id: Long, kind: String, width: Int,
                                 height: Int, n_frames: Int, bytes_len: Int,
                                 mean_byte: Double, feature: Array[Float])

  /** Pure-JVM encoders/decoders for BMP / WAV / Y4M. */
  object MediaCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    final case class Decoded(kind: String, width: Int, height: Int,
                             nFrames: Int, body: Array[Byte])

    /** Deterministic pixel/sample filler (the stand-in for real content). */
    private def lcgFill(n: Int, seed: Int): Array[Byte] = {
      val b = new Array[Byte](n)
      var s = seed
      var i = 0
      while (i < n) { s = s * 1103515245 + 12345; b(i) = (s >>> 16).toByte; i += 1 }
      b
    }

    private def ascii(p: Array[Byte], off: Int, len: Int): String =
      new String(p, off, len, "US-ASCII")

    /** 24bpp bottom-up BMP container around `data` (rows padded to 4
      * bytes; data.length must equal h*rowSize; file = 54 + h*rowSize).
      */
    def bmpContainer(w: Int, h: Int, data: Array[Byte]): Array[Byte] = {
      val rowSize = (w * 3 + 3) / 4 * 4
      val dataSize = rowSize * h
      require(data.length == dataSize, s"bmp data ${data.length} != $dataSize")
      val bb = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
        .putInt(0).putInt(54)
      bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      bb.put(data)
      bb.array()
    }

    /** 24bpp bottom-up BMP; rows padded to 4 bytes (file = 54 + h*rowSize). */
    def encodeBmp(w: Int, h: Int, seed: Int): Array[Byte] = {
      val rowSize = (w * 3 + 3) / 4 * 4
      bmpContainer(w, h, lcgFill(rowSize * h, seed))
    }

    /** Nearest-neighbor integer-factor downsample of a 24bpp BMP,
      * re-encoded as a REAL BMP: output pixel (x, y) (image coordinates,
      * top-left origin) = input pixel (x*k, y*k). Dimensions must divide
      * by `k` (the generator's grid does for k in {2, 4}); output row
      * padding is zeroed (padding bytes are outside the pixel contract).
      */
    def resizeBmp(p: Array[Byte], k: Int): Array[Byte] = {
      val d = decodeBmp(p)
      val w = d.width; val h = d.height
      require(w % k == 0 && h % k == 0, s"dims ${w}x$h not divisible by $k")
      val w2 = w / k; val h2 = h / k
      val rowOld = (w * 3 + 3) / 4 * 4
      val rowNew = (w2 * 3 + 3) / 4 * 4
      val out = new Array[Byte](rowNew * h2)
      var y2 = 0
      while (y2 < h2) {
        // bottom-up storage: image row y lives at stored row (h-1-y)
        val srcRow = (h - 1 - y2 * k) * rowOld
        val dstRow = (h2 - 1 - y2) * rowNew
        var x2 = 0
        while (x2 < w2) {
          val so = srcRow + x2 * k * 3
          val dst = dstRow + x2 * 3
          out(dst) = d.body(so)
          out(dst + 1) = d.body(so + 1)
          out(dst + 2) = d.body(so + 2)
          x2 += 1
        }
        y2 += 1
      }
      bmpContainer(w2, h2, out)
    }

    /** RIFF/WAVE PCM, 16-bit mono, 8 kHz (file = 44 + 2*nSamples). */
    def encodeWav(nSamples: Int, seed: Int): Array[Byte] = {
      val dataSize = nSamples * 2
      val bb = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
      bb.put(lcgFill(dataSize, seed))
      bb.array()
    }

    /** YUV4MPEG2, C420jpeg planar (frame body = w*h*3/2; w,h even).
      * file = header + frames * (6 + frameSize).
      */
    def encodeY4m(w: Int, h: Int, frames: Int, seed: Int): Array[Byte] = {
      require(w % 2 == 0 && h % 2 == 0, "C420 needs even dimensions")
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
        .getBytes("US-ASCII")
      val frameSize = w * h * 3 / 2
      val out = ByteBuffer.allocate(header.length + frames * (6 + frameSize))
      out.put(header)
      var f = 0
      while (f < frames) {
        out.put("FRAME\n".getBytes("US-ASCII"))
        out.put(lcgFill(frameSize, seed + f))
        f += 1
      }
      out.array()
    }

    /** Parse by container magic; all metadata comes from the bytes. */
    def decode(payload: Array[Byte]): Decoded = {
      def magic(s: String) = payload.length >= s.length &&
        s.indices.forall(i => payload(i) == s.charAt(i).toByte)
      if (magic("BM")) decodeBmp(payload)
      else if (magic("RIFF")) decodeWav(payload)
      else if (magic("YUV4MPEG2")) decodeY4m(payload)
      else throw new IllegalArgumentException("unknown media container magic")
    }

    private def decodeBmp(p: Array[Byte]): Decoded = {
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      val off = bb.getInt(10)
      val w = bb.getInt(18)
      val h = bb.getInt(22) // negative would mean top-down; abs for extent
      val bpp = bb.getShort(28) & 0xFFFF
      require(bpp == 24, s"unsupported BMP bpp: $bpp")
      Decoded("image", w, math.abs(h), 1,
        java.util.Arrays.copyOfRange(p, off, p.length))
    }

    private def decodeWav(p: Array[Byte]): Decoded = {
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      require(ascii(p, 8, 4) == "WAVE", "RIFF but not WAVE")
      var off = 12
      var channels = 0
      var blockAlign = 0
      var body: Array[Byte] = null
      while (off + 8 <= p.length) {
        val id = ascii(p, off, 4)
        val size = bb.getInt(off + 4)
        // untrusted-bytes guard: a negative or over-length chunk size would
        // otherwise make the walk increment zero/negative and loop forever
        // (decode() is the adversarial-input seam — fail fast instead);
        // the bound is in Long so a size near Int.MaxValue cannot wrap past it
        require(size >= 0 && off + 8L + size <= p.length,
          s"bad RIFF chunk '$id' at $off: size $size exceeds payload ${p.length}")
        if (id == "fmt ") {
          channels = bb.getShort(off + 10) & 0xFFFF
          blockAlign = bb.getShort(off + 20) & 0xFFFF
        } else if (id == "data")
          body = java.util.Arrays.copyOfRange(p, off + 8, off + 8 + size)
        off += 8 + size + (size & 1) // RIFF chunks are 2-byte aligned
      }
      require(body != null && blockAlign > 0, "WAV missing fmt/data chunk")
      Decoded("audio", body.length / blockAlign, channels, 1, body)
    }

    private def decodeY4m(p: Array[Byte]): Decoded = {
      val nl = p.indexOf('\n'.toByte)
      require(nl > 0, "Y4M missing stream header")
      val toks = ascii(p, 0, nl).split(" ")
      var w = 0
      var h = 0
      var chroma = "420jpeg" // the Y4M default when no C tag is present
      toks.tail.foreach { t =>
        if (t.nonEmpty) t.head match {
          case 'W' => w = t.tail.toInt
          case 'H' => h = t.tail.toInt
          case 'C' => chroma = t.tail
          case _ => ()
        }
      }
      val frameSize = chroma match {
        case c if c.startsWith("420") => w * h * 3 / 2
        case c if c.startsWith("422") => w * h * 2
        case c if c.startsWith("444") => w * h * 3
        case "mono" => w * h
        case c => throw new IllegalArgumentException(s"unsupported Y4M chroma: $c")
      }
      val body = new java.io.ByteArrayOutputStream()
      var off = nl + 1
      var frames = 0
      while (off < p.length) {
        require(ascii(p, off, math.min(5, p.length - off)) == "FRAME",
          "bad Y4M frame marker")
        val fnl = p.indexOf('\n'.toByte, off)
        require(fnl > 0 && fnl + 1 + frameSize <= p.length, "truncated Y4M frame")
        body.write(p, fnl + 1, frameSize)
        off = fnl + 1 + frameSize
        frames += 1
      }
      Decoded("video", w, h, frames, body.toByteArray)
    }
  }

  /** Deterministic synthetic media table: real BMP / WAV / Y4M payloads. */
  def generate(spark: SparkSession, n: Long, partitions: Int = 8): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val kinds = Seq("image", "audio", "video")
      val kind = kinds((i % 3).toInt)
      val w = 32 + (i % 7).toInt * 16
      val h = 32 + (i % 5).toInt * 16
      val fr = if (kind == "video") 8 + (i % 4).toInt else 1
      val payload = kind match {
        case "image" => MediaCodec.encodeBmp(w, h, i.toInt)
        case "audio" => MediaCodec.encodeWav(w * h, i.toInt)
        case _       => MediaCodec.encodeY4m(w, h, fr, i.toInt)
      }
      MediaRow(i, kind, w, h, fr, payload)
    }
  }

  /** Batched decode + feature extraction: one partition = one batch stream;
    * every output field is parsed from the container bytes, and the 8-dim
    * feature is a byte-histogram sketch of the decoded pixel/sample body
    * (stands in for an embedding model forward pass).
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val d = MediaCodec.decode(r.payload)
        val hist = new Array[Float](8)
        var sum = 0L
        var i = 0
        while (i < d.body.length) {
          val b = d.body(i) & 0xFF
          hist(b >> 5) += 1f
          sum += b
          i += 1
        }
        if (d.body.length > 0) {
          var j = 0
          while (j < 8) { hist(j) /= d.body.length; j += 1 }
        }
        MediaFeatures(r.media_id, d.kind, d.width, d.height, d.nFrames,
          r.payload.length,
          if (d.body.length == 0) 0.0 else sum.toDouble / d.body.length, hist)
      }
    }
  }

  /** Batched image resize — the decode → nearest-neighbor downsample →
    * re-encode stage of a multimodal ingest pipeline: image rows come out
    * as REAL re-encoded BMPs at (w/k, h/k) (decodable by [[MediaCodec]] —
    * q62 proves it by round-tripping the resized bytes through
    * [[extractFeatures]]); audio/video rows pass through untouched. Same
    * batched per-partition kernel shape as [[extractFeatures]]: one
    * mapPartitions, no shuffle, payload bytes never leave their partition.
    */
  def resizeImages(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.kind == "image") {
          val p2 = MediaCodec.resizeBmp(r.payload, factor)
          r.copy(width = r.width / factor, height = r.height / factor,
            payload = p2)
        } else r
      }
    }
  }

  /** Frame sampling plan for video rows: every k-th frame index — pure
    * relational (no decode needed to PLAN the sampling).
    */
  def sampleFramePlan(media: DataFrame, everyK: Int): DataFrame =
    media.where(col("kind") === "video")
      .select(col("media_id"),
        explode(expr(s"sequence(0, n_frames - 1, $everyK)")).as("frame_idx"))

  /** Size-bucketed repartitioning for skewed blob sizes: large payloads get
    * a salted key (decorrelated from the id hash so co-ids spread), small
    * ones stay hash-clustered. Deterministic across runs/task retries —
    * `monotonically_increasing_id` would not be (SURVEY §2.6 M6).
    */
  def balanceBySize(media: DataFrame, largeBytes: Int, partitions: Int): DataFrame = {
    val tagged = media.withColumn("_big", length(col("payload")) >= largeBytes)
    tagged.repartition(partitions,
      when(col("_big"),
        pmod(xxhash64(col("media_id"), lit("blob-salt"), length(col("payload"))), lit(partitions)))
        .otherwise(pmod(xxhash64(col("media_id")), lit(partitions))))
      .drop("_big")
  }
}
