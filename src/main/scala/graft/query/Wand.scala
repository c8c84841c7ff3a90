package graft.query

import graft.core.Postings

/** Block-Max WAND top-k kernel (Broder et al., CIKM 2003; Ding & Suel,
  * SIGIR 2011) over one doc-id range's posting segments. Runs inside a
  * `flatMapGroups` per range_id — the index's doc-range alignment makes
  * every query term's postings for a range co-resident, so top-k is
  * document-partitioned with only per-range winners shuffled to the final
  * global merge.
  *
  * Determinism contract (rank-identity vs the brute-force oracle): a doc's
  * score is the sum of per-term contributions accumulated in ascending
  * term-index (lexicographic term) order; ties broken (score desc, doc_id
  * asc). Block-max bounds are stored rounded UP at build so pruning can
  * never drop a true top-k doc.
  */
object Wand {

  final case class ScoredDoc(doc_id: Long, score: Double)

  /** BM25 contribution of one posting. idf is precomputed per term. */
  @inline def contribution(idf: Double, tf: Int, dl: Long,
                           k1: Double, b: Double, avgdl: Double): Double =
    idf * (k1 + 1) * Postings.tfSaturation(tf, dl, k1, b, avgdl)

  /** Robertson-Sparck-Jones idf with Lucene's +1 floor (always positive). */
  @inline def idf(nDocs: Long, df: Long): Double =
    math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))

  /** Cursor over one term's segments (ordered by first_doc) in a range. */
  final class TermCursor(val termIdx: Int, val idf: Double,
                         segments: Array[Array[Byte]],
                         k1: Double, bParam: Double) {
    private var segIdx = -1
    private var it: Postings.SegmentIterator = null
    var curDoc: Long = -1L
    private var done = false

    /** idf*(k1+1)*max tf-saturation over all segments — the WAND term UB. */
    val maxScoreBound: Double = {
      var m = 0.0
      segments.foreach { s =>
        val si = new Postings.SegmentIterator(s)
        if (si.segmentMaxScore > m) m = si.segmentMaxScore
      }
      idf * (k1 + 1) * m
    }

    def exhausted: Boolean = done

    private def advanceSegment(): Boolean = {
      segIdx += 1
      while (segIdx < segments.length) {
        it = new Postings.SegmentIterator(segments(segIdx))
        if (it.start()) { curDoc = it.docId; return true }
        segIdx += 1
      }
      done = true; curDoc = Long.MaxValue; false
    }

    def start(): Boolean = advanceSegment()

    def next(): Boolean = {
      if (done) return false
      if (it.next()) { curDoc = it.docId; true }
      else advanceSegment()
    }

    def skipTo(target: Long): Boolean = {
      if (done) return false
      if (curDoc >= target) return true
      while (!it.skipTo(target)) {
        if (!advanceSegment()) return false
        if (curDoc >= target) return true
      }
      curDoc = it.docId
      true
    }

    def tf: Int = it.tf
    def dl: Long = it.dl
    /** Upper bound for the current block (valid when positioned). */
    def blockMaxBound: Double =
      idf * (k1 + 1) * it.blockMaxScore(it.currentBlock)
    def blockLastDoc: Long = it.blockLastDoc(it.currentBlock)
  }

  /** Fixed-size top-k holder: min-heap keyed worst-first by
    * (score asc, doc_id desc) so ties keep the smaller doc_id.
    */
  class TopK(k: Int) {
    private val scores = new Array[Double](k)
    private val docs = new Array[Long](k)
    var size = 0
    def full: Boolean = size == k
    def threshold: Double = if (full) scores(0) else Double.NegativeInfinity
    private def worse(s1: Double, d1: Long, s2: Double, d2: Long): Boolean =
      s1 < s2 || (s1 == s2 && d1 > d2)
    def offer(score: Double, doc: Long): Unit = {
      if (!full) {
        scores(size) = score; docs(size) = doc; size += 1
        var i = size - 1
        while (i > 0) { // sift up
          val p = (i - 1) >> 1
          if (worse(scores(i), docs(i), scores(p), docs(p))) {
            swap(i, p); i = p
          } else i = 0
        }
      } else if (worse(scores(0), docs(0), score, doc)) {
        scores(0) = score; docs(0) = doc
        var i = 0
        var go = true
        while (go) { // sift down
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < size && worse(scores(l), docs(l), scores(m), docs(m))) m = l
          if (r < size && worse(scores(r), docs(r), scores(m), docs(m))) m = r
          if (m != i) { swap(i, m); i = m } else go = false
        }
      }
    }
    private def swap(i: Int, j: Int): Unit = {
      val s = scores(i); scores(i) = scores(j); scores(j) = s
      val d = docs(i); docs(i) = docs(j); docs(j) = d
    }
    def result(): Array[ScoredDoc] = {
      val arr = (0 until size).map(i => ScoredDoc(docs(i), scores(i))).toArray
      arr.sortWith((a, b) => a.score > b.score ||
        (a.score == b.score && a.doc_id < b.doc_id))
    }
  }

  /** Top-k over the given term cursors. `cursors` is indexed by termIdx
    * (ascending lexicographic term order). `live` is the tombstone
    * live-docs check (reference validity filter P5, fts-lmdb.go:1151-1162),
    * the same predicate [[intersect]] and [[overlapCounts]] take, applied
    * at scoring time so the heap always holds live docs.
    */
  def topK(cursors: Array[TermCursor], k: Int, conjunctive: Boolean,
           k1: Double, b: Double, avgdl: Double,
           live: Long => Boolean = _ => true): Array[ScoredDoc] = {
    val heap = new TopK(k) {
      override def offer(score: Double, doc: Long): Unit =
        if (live(doc)) super.offer(score, doc)
    }
    if (conjunctive) topKConjunctive(cursors, heap, k1, b, avgdl)
    else topKDisjunctive(cursors, heap, k1, b, avgdl)
    heap.result()
  }

  /** Score doc d from every cursor positioned at d, in termIdx order. */
  private def scoreAligned(cursors: Array[TermCursor], d: Long,
                           k1: Double, b: Double, avgdl: Double): Double = {
    var s = 0.0
    var i = 0
    while (i < cursors.length) {
      val c = cursors(i)
      if (!c.exhausted && c.curDoc == d)
        s += contribution(c.idf, c.tf, c.dl, k1, b, avgdl)
      i += 1
    }
    s
  }

  /** Conjunctive intersection WITHOUT scoring: leapfrog with block skipping,
    * emitting every aligned doc id (reference intersectGrams semantics,
    * fts-lmdb.go:1497-1528, generalized to sorted segments). Used by the
    * candidate-retrieval path: only the matching doc ids leave the
    * partition, instead of exploding whole posting lists into a shuffle.
    */
  def intersect(cursors: Array[TermCursor], live: Long => Boolean = _ => true): Iterator[Long] = {
    if (cursors.isEmpty || cursors.exists(!_.start())) return Iterator.empty
    // streaming: O(1) memory per task regardless of result size (a hot query
    // must not hold ~rangeSize ids per partition)
    new Iterator[Long] {
      private var done = false
      private var has = false
      private var pending = 0L
      private def advance(): Unit = {
        has = false
        while (!done && !has) {
          var target = -1L
          cursors.foreach(c => if (c.curDoc > target) target = c.curDoc)
          var aligned = true
          var i = 0
          while (i < cursors.length && !done) {
            if (!cursors(i).skipTo(target)) done = true
            else if (cursors(i).curDoc != target) aligned = false
            i += 1
          }
          if (!done && aligned) {
            if (live(target)) { pending = target; has = true }
            if (!cursors(0).next()) done = true
          }
        }
      }
      advance()
      override def hasNext: Boolean = has
      override def next(): Long = { val d = pending; advance(); d }
    }
  }

  /** Per-doc hit counts across cursors (fuzzy overlap scorer A1 shape):
    * k-way merge over sorted segments, emitting (docId, nCursorsContaining).
    */
  def overlapCounts(cursors: Array[TermCursor], live: Long => Boolean = _ => true): Iterator[(Long, Int)] = {
    val active = cursors.filter(_.start())
    if (active.isEmpty) return Iterator.empty
    // streaming k-way merge: no per-task result buffer (see intersect)
    new Iterator[(Long, Int)] {
      private var nActive = active.length
      private var has = false
      private var pendDoc = 0L
      private var pendHits = 0
      private def advance(): Unit = {
        has = false
        while (nActive > 0 && !has) {
          var minDoc = Long.MaxValue
          var i = 0
          while (i < active.length) {
            val c = active(i)
            if (!c.exhausted && c.curDoc < minDoc) minDoc = c.curDoc
            i += 1
          }
          var hits = 0
          i = 0
          nActive = 0
          while (i < active.length) {
            val c = active(i)
            if (!c.exhausted) {
              if (c.curDoc == minDoc) {
                hits += 1
                c.next()
              }
              if (!c.exhausted) nActive += 1
            }
            i += 1
          }
          if (live(minDoc)) { pendDoc = minDoc; pendHits = hits; has = true }
        }
      }
      advance()
      override def hasNext: Boolean = has
      override def next(): (Long, Int) = { val p = (pendDoc, pendHits); advance(); p }
    }
  }

  private def topKConjunctive(cursors: Array[TermCursor], heap: TopK,
                              k1: Double, b: Double, avgdl: Double): Unit = {
    if (cursors.isEmpty || cursors.exists(!_.start())) return
    while (true) {
      // leapfrog to alignment
      var target = -1L
      cursors.foreach(c => if (c.curDoc > target) target = c.curDoc)
      var aligned = true
      var i = 0
      while (i < cursors.length) {
        if (!cursors(i).skipTo(target)) return
        if (cursors(i).curDoc != target) aligned = false
        i += 1
      }
      if (aligned) {
        // block-max prune: cheapest bound first
        if (heap.full) {
          var bub = 0.0
          cursors.foreach(bub += _.blockMaxBound)
          if (bub <= heap.threshold) {
            // skip past the earliest block boundary among cursors
            var boundary = Long.MaxValue
            cursors.foreach(c => if (c.blockLastDoc < boundary) boundary = c.blockLastDoc)
            if (!cursors(0).skipTo(boundary + 1)) return
          } else {
            heap.offer(scoreAligned(cursors, target, k1, b, avgdl), target)
            if (!cursors(0).next()) return
          }
        } else {
          heap.offer(scoreAligned(cursors, target, k1, b, avgdl), target)
          if (!cursors(0).next()) return
        }
      }
    }
  }

  private def topKDisjunctive(cursors: Array[TermCursor], heap: TopK,
                              k1: Double, b: Double, avgdl: Double): Unit = {
    val active = scala.collection.mutable.ArrayBuffer.empty[TermCursor]
    cursors.foreach(c => if (c.start()) active += c)
    val order = active.toArray // re-sorted by curDoc each round
    var nActive = order.length

    def dropExhausted(): Unit = {
      var i = 0
      var j = 0
      while (i < nActive) {
        if (!order(i).exhausted) { order(j) = order(i); j += 1 }
        i += 1
      }
      nActive = j
    }

    while (nActive > 0) {
      java.util.Arrays.sort(order.asInstanceOf[Array[AnyRef]], 0, nActive,
        new java.util.Comparator[AnyRef] {
          def compare(a: AnyRef, b: AnyRef): Int =
            java.lang.Long.compare(a.asInstanceOf[TermCursor].curDoc,
              b.asInstanceOf[TermCursor].curDoc)
        })
      // pivot: smallest prefix whose summed term UBs can beat θ
      var acc = 0.0
      var pivot = -1
      var i = 0
      while (i < nActive && pivot == -1) {
        acc += order(i).maxScoreBound
        if (!heap.full || acc > heap.threshold) pivot = i
        i += 1
      }
      if (pivot == -1) return // nothing can beat θ
      val pivotDoc = order(pivot).curDoc
      // extend pivot group to all cursors already at pivotDoc
      while (pivot + 1 < nActive && order(pivot + 1).curDoc == pivotDoc) pivot += 1

      if (order(0).curDoc == pivotDoc) {
        // candidate: refine with block maxes
        var bub = 0.0
        var j = 0
        while (j <= pivot) { bub += order(j).blockMaxBound; j += 1 }
        if (heap.full && bub <= heap.threshold) {
          // shallow advance past the earliest block boundary in the group —
          // but never beyond the next non-group cursor's current doc, whose
          // contribution was not part of the bound (BMW GetNewCandidateDoc)
          var boundary = Long.MaxValue
          j = 0
          while (j <= pivot) {
            if (order(j).blockLastDoc < boundary) boundary = order(j).blockLastDoc
            j += 1
          }
          if (pivot + 1 < nActive && order(pivot + 1).curDoc - 1 < boundary)
            boundary = order(pivot + 1).curDoc - 1
          j = 0
          while (j <= pivot) { order(j).skipTo(boundary + 1); j += 1 }
        } else {
          heap.offer(scoreAligned(cursors, pivotDoc, k1, b, avgdl), pivotDoc)
          j = 0
          while (j <= pivot) { order(j).next(); j += 1 }
        }
      } else {
        // advance pre-pivot cursors up to pivotDoc
        var j = 0
        while (j < pivot) {
          if (order(j).curDoc < pivotDoc) order(j).skipTo(pivotDoc)
          j += 1
        }
      }
      dropExhausted()
    }
  }
}
