package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}
import graft.build.{IndexBuild, Manifest}
import graft.core.{Chunker, Gram, Postings, Tokenizer}
import graft.query.{Search, Wand}
import perfbench.Queries._
import scala.collection.mutable

/** Per-layer probes that work from outside the engine: single-threaded
  * codec throughput, the engine's own manifest, and the query kernels run
  * on the driver over segments read straight from the index.
  */
object Layers {

  /** Runs `f` until at least `minMs` have passed; returns work units per
    * second, where one call does `unitsPerCall` units.
    */
  private def rate(unitsPerCall: Double, minMs: Double = 150.0)(f: => Unit): Double = {
    f // warm
    var calls = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minMs) { f; calls += 1; el = (System.nanoTime() - t0) / 1e6 }
    unitsPerCall * calls / (el / 1000.0)
  }

  /** Throughput of the core codecs over a fixed text sample. */
  def core(sample: Seq[String]): Seq[(String, Double, String)] = {
    val mb = sample.map(_.getBytes("UTF-8").length.toLong).sum / 1e6
    val chunks = sample.flatMap(t => Chunker.linesLenient(t).map(_.text)).toArray
    val tokens = chunks.map(Tokenizer.termFreqs)
    // one posting list per term over the sample's chunk numbers
    val lists = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
    tokens.zipWithIndex.foreach { case (tfs, d) =>
      tfs.foreach { case (t, f) => lists.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((d.toLong, f)) }
    }
    val dls = tokens.map(_.map(_._2).sum.toLong)
    val avgdl = math.max(1.0, dls.sum.toDouble / math.max(1, dls.length))
    def encodeAll(): Array[Array[Byte]] = lists.valuesIterator.map { ps =>
      val b = new Postings.SegmentBuilder(1.2, 0.75, avgdl)
      ps.foreach { case (d, f) => b.add(d, f, dls(d.toInt)) }
      b.result()
    }.toArray
    val encoded = encodeAll()
    val nPostings = lists.valuesIterator.map(_.size).sum.toDouble
    var sink = 0L
    val out = Seq(
      ("core.chunk_mb_per_s", rate(mb) { sample.foreach(t => sink += Chunker.linesLenient(t).length) }, "MB/s"),
      ("core.tokenize_mb_per_s", rate(mb) { chunks.foreach(c => sink += Tokenizer.termFreqs(c).length) }, "MB/s"),
      ("core.grams_mb_per_s", rate(mb) { chunks.foreach(c => sink += Gram.gramsSorted(partial = false, Seq(c)).length) }, "MB/s"),
      ("core.postings_encode_mb_per_s", rate(encoded.map(_.length.toLong).sum / 1e6) { sink += encodeAll().length }, "MB/s"),
      ("core.postings_decode_mpost_per_s", rate(nPostings / 1e6) { encoded.foreach(e => sink += Postings.decodeAll(e)._1.length) }, "Mpost/s"),
      ("core.verify_mb_per_s", rate(mb) { chunks.foreach(c => sink += Tokenizer.verifyAll(c, Seq("word", "one"), partial = false)) }, "MB/s"))
    if (sink == 42L) println("") // keeps the work observable to the JIT
    out
  }

  final case class StageRow(stage: String, rows: Long, bytes: Long, wallMs: Long, lines: Int)

  /** Manifest totals per stage, parsed from the engine's `manifest.jsonl`. */
  def manifest(dir: String): Map[String, StageRow] = {
    def num(l: String, k: String): Long =
      s""""$k":(-?[0-9]+)""".r.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(0L)
    Manifest.entries(dir).flatMap { l =>
      """"stage":"([^"]*)"""".r.findFirstMatchIn(l).map(m =>
        StageRow(m.group(1), num(l, "rows"), num(l, "bytes"), num(l, "wall_ms"), 1))
    }.groupBy(_.stage).map { case (s, rs) =>
      s -> StageRow(s, rs.map(_.rows).sum, rs.map(_.bytes).sum, rs.map(_.wallMs).sum, rs.size)
    }
  }

  /** Segments per (key, range_id) group of the term postings. */
  def segmentsPerKeyRange(spark: SparkSession, dir: String): (Double, Double) = {
    val counts = spark.read.parquet(IndexBuild.termPostingsDir(dir))
      .groupBy("key", "range_id").agg(count(lit(1)).as("n"))
      .select("n").collect().map(_.getLong(0).toDouble)
    if (counts.isEmpty) (0.0, 0.0) else (counts.sum / counts.length, counts.max)
  }

  /** The kernel part of one query, run on the driver over its segments. */
  final case class Kernel(ms: Double, segmentBytes: Long, useful: Double)

  def kernel(spark: SparkSession, dir: String, s: Search, q: Query): Kernel = {
    val st = s.stats
    val (keys, grams) = q match {
      case Bm25(a, _, _) => (a.flatMap(Tokenizer.terms).distinct.sorted, false)
      case Fuzzy(a, _, _) => (Gram.gramsSorted(partial = true, a).map(g => s"g$g").toSeq, true)
      case _ => (Gram.gramsSorted(partial = false, q.args).map(g => s"g$g").toSeq, true)
    }
    val path = if (grams) IndexBuild.gramPostingsDir(dir) else IndexBuild.termPostingsDir(dir)
    val segs = spark.read.parquet(path).where(col("key").isin(keys: _*))
      .select("key", "range_id", "first_doc", "postings").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getAs[Array[Byte]](3)))
    val bytes = segs.map(_._4.length.toLong).sum
    val byRange = segs.groupBy(_._2).toSeq.sortBy(_._1)
    def cursors(rs: Array[(String, Int, Long, Array[Byte])], idf: String => Double) =
      rs.groupBy(_._1).toArray.sortBy(_._1).zipWithIndex.map { case ((k, ss), i) =>
        new Wand.TermCursor(i, idf(k), ss.sortBy(_._3).map(_._4), st.k1, st.b)
      }
    val t0 = System.nanoTime()
    val useful = q match {
      case Bm25(_, conj, _) =>
        val dfs = s.dictLookup(keys)
        val perRange = byRange.map { case (r, rs) =>
          val cs = cursors(rs, k => Wand.idf(st.nDocs, dfs.getOrElse(k, 1L)))
          r -> (if (conj && cs.length != keys.size) Array.empty[Wand.ScoredDoc]
                else Wand.topK(cs, 10, conj, st.k1, st.b, st.avgdl))
        }
        val top = perRange.flatMap { case (r, ds) => ds.map(d => (r, d)) }
          .sortBy { case (_, d) => (-d.score, d.doc_id) }.take(10)
        if (perRange.isEmpty) 0.0 else top.map(_._1).distinct.size.toDouble / perRange.size
      case Fuzzy(_, minRatio, _) =>
        var scored = 0L; var kept = 0L
        byRange.foreach { case (_, rs) =>
          Wand.overlapCounts(cursors(rs, _ => 0.0)).foreach { case (_, hits) =>
            scored += 1; if (hits.toDouble / keys.size >= minRatio) kept += 1
          }
        }
        if (scored == 0) 0.0 else kept.toDouble / scored
      case _ =>
        byRange.foreach { case (_, rs) =>
          val cs = cursors(rs, _ => 0.0)
          if (cs.length == keys.size) Wand.intersect(cs).size
        }
        0.0
    }
    Kernel((System.nanoTime() - t0) / 1e6, bytes, useful)
  }
}
