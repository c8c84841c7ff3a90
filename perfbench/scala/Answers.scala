package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import graft.build.IndexBuild
import graft.core.{Gram, Tokenizer}
import graft.query.Search
import perfbench.Queries._

/** Running a query through the engine, and the answer it must give.
  *
  * BM25 answers are ranked (doc_id, score) lists; the other classes are
  * compared as sorted sets of canonical strings.
  */
object Answers {
  final case class Answer(ranked: Vector[(Long, Double)], rows: Vector[String])

  /** The timed part: the engine call and the collect a caller would do. */
  def run(s: Search, q: Query): Array[Row] = q match {
    case Bm25(a, conj, _) => s.bm25TopK(a, 10, conj).collect()
    case Candidates(a, _) => s.candidates(a).collect()
    case SearchQ(a, _) => s.search(a).select("url", "doc_id", "offset").collect()
    case Fuzzy(a, r, _) => s.fuzzy(a, r).select("doc_id", "hits").collect()
  }

  /** Canonical form of collected rows (outside the timed region). */
  def canonical(q: Query, rows: Array[Row]): Answer = q match {
    case _: Bm25 => Answer(rows.map(r => (r.getLong(0), r.getDouble(1))).toVector, Vector.empty)
    case _: Candidates => Answer(Vector.empty, rows.map(_.getLong(0).toString).sorted.toVector)
    case _: SearchQ => Answer(Vector.empty, rows.map(r => s"${r.getLong(1)}:${r.getInt(2)}").sorted.toVector)
    case _: Fuzzy => Answer(Vector.empty, rows.map(r => s"${r.getLong(0)}:${r.getLong(1)}").sorted.toVector)
  }

  /** Exact match; BM25 scores may differ only in the last bits. */
  def matches(got: Answer, want: Answer): Boolean =
    got.rows == want.rows && got.ranked.length == want.ranked.length &&
      got.ranked.zip(want.ranked).forall { case ((d1, s1), (d2, s2)) =>
        d1 == d2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s2))
      }

  /** Urls of the given doc ids, read from the docs store. */
  def urlsOf(spark: SparkSession, dir: String, ids: Seq[Long]): Set[String] =
    if (ids.isEmpty) Set.empty
    else spark.read.parquet(IndexBuild.docsDir(dir))
      .where(org.apache.spark.sql.functions.col("doc_id").isin(ids: _*))
      .select("url").collect().map(_.getString(0)).toSet

  /** Brute-force answers over a snapshot of the docs store: every chunk's
    * grams from [[Gram.gramsSorted]], whole-word matches from
    * [[Tokenizer.verifyAll]]. BM25 answers come from the engine's own
    * `bm25BruteForce`. The index must have no tombstones.
    */
  final class Reference(spark: SparkSession, dir: String) {
    private val docs: Array[(Long, String, Array[Int])] =
      spark.read.parquet(IndexBuild.docsDir(dir)).select("doc_id", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getString(1),
          Gram.gramsSorted(partial = false, Seq(r.getString(1)))))
    private val allGrams: Set[Int] = docs.iterator.flatMap(_._3).toSet

    private def covering(qg: Array[Int]): Iterator[(Long, String, Array[Int])] =
      if (qg.isEmpty || !qg.forall(allGrams)) Iterator.empty
      else docs.iterator.filter { case (_, _, g) =>
        qg.forall(x => java.util.Arrays.binarySearch(g, x) >= 0)
      }

    def expected(s: Search, q: Query): Answer = q match {
      case Bm25(a, conj, _) => canonical(q, s.bm25BruteForce(a, 10, conj).collect())
      case Candidates(a, _) =>
        Answer(Vector.empty, covering(Gram.gramsSorted(partial = false, a))
          .map(_._1.toString).toVector.sorted)
      case SearchQ(a, _) =>
        Answer(Vector.empty, covering(Gram.gramsSorted(partial = false, a))
          .flatMap { case (id, text, _) =>
            val off = Tokenizer.verifyAll(text, a, partial = false)
            if (off >= 0) Some(s"$id:$off") else None
          }.toVector.sorted)
      case Fuzzy(a, r, _) =>
        val qg = Gram.gramsSorted(partial = true, a)
        if (qg.isEmpty || !qg.forall(allGrams)) Answer(Vector.empty, Vector.empty)
        else Answer(Vector.empty, docs.iterator.flatMap { case (id, _, g) =>
          val hits = qg.count(x => java.util.Arrays.binarySearch(g, x) >= 0)
          if (hits > 0 && hits.toDouble / qg.length >= r) Some(s"$id:$hits") else None
        }.toVector.sorted)
    }
  }
}
