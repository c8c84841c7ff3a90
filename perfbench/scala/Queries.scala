package perfbench

import graft.sources.WebCorpus

/** The fixed set of distinct queries and the seeded, Zipf-skewed stream
  * drawn from it.
  *
  * Terms come from [[WebCorpus.Vocab]]: its first 50 words are the hot head
  * of the corpus' Zipf distribution, the rest a long tail. Hot gram queries
  * have candidate sets above the hydration gate and take the shuffle-join
  * path; tail ones stay below it and hydrate inline.
  */
object Queries {
  sealed trait Query {
    def cls: String
    def args: Seq[String]
    def label: String
  }
  final case class Bm25(args: Seq[String], conjunctive: Boolean, temp: String) extends Query {
    def cls = "bm25"
    def label = s"bm25_${if (conjunctive) "and" else "or"}_$temp:${args.mkString("+")}"
  }
  final case class Candidates(args: Seq[String], temp: String) extends Query {
    def cls = "candidates"
    def label = s"candidates_$temp:${args.mkString("+")}"
  }
  final case class SearchQ(args: Seq[String], temp: String) extends Query {
    def cls = "search"
    def label = s"search_$temp:${args.mkString("+")}"
  }
  final case class Fuzzy(args: Seq[String], minRatio: Double, temp: String) extends Query {
    def cls = "fuzzy"
    def label = s"fuzzy_$temp:${args.mkString("+")}@$minRatio"
  }

  val Classes: Seq[String] = Seq("bm25", "candidates", "search", "fuzzy")

  private val V = WebCorpus.Vocab
  private def tail(rank: Int): String = V(50 + rank)

  /** Distinct queries, most frequent first: the stream draws index i with
    * weight 1 / (i + 1), so the classes are interleaved to keep each of them
    * in the head of the distribution.
    */
  val Distinct: IndexedSeq[Query] = IndexedSeq(
    Bm25(Seq("the", "of", "and"), conjunctive = false, "hot"),
    Candidates(Seq("which", "there"), "mixed"),
    SearchQ(Seq(tail(3), "the"), "tail"),
    Fuzzy(Seq("other"), 0.6, "mixed"),
    Bm25(Seq(tail(12), "the"), conjunctive = false, "mixed"),
    SearchQ(Seq("word", "one"), "mixed"),
    Bm25(Seq("to", "in"), conjunctive = true, "hot"),
    Candidates(Seq(tail(5)), "tail"),
    Fuzzy(Seq("there"), 0.8, "mixed"),
    Bm25(Seq(tail(3), tail(7)), conjunctive = true, "tail"),
    SearchQ(Seq("the"), "hot"),
    Bm25(Seq(tail(1), tail(2), tail(4)), conjunctive = false, "tail"),
    Candidates(Seq("the", "and"), "hot"),
    Fuzzy(Seq(tail(9)), 0.7, "tail"),
    Bm25(Seq("was", tail(20)), conjunctive = true, "mixed"),
    SearchQ(Seq(tail(30)), "tail"))

  /** Seeded stream of indices into [[Distinct]], Zipf(s = 1) skewed: query
    * i appears about 32 / (H * (i + 1)) times in every cycle of ~32 queries
    * (H the harmonic normaliser, at least once each), and the seed shuffles
    * each cycle. Every run thus sees the same mix in a seeded order.
    */
  def stream(seed: Long): Iterator[Int] = {
    val rng = new java.util.Random(seed * 7919L + 101L)
    val cycle = Distinct.indices.flatMap(i => Seq.fill(Weights(i))(i))
    Iterator.continually {
      val c = cycle.toArray
      var j = c.length - 1
      while (j > 0) {
        val k = rng.nextInt(j + 1)
        val t = c(j); c(j) = c(k); c(k) = t
        j -= 1
      }
      c.iterator
    }.flatten
  }

  private val CycleLength = 32.0

  /** How often each distinct query appears in one cycle of the stream. */
  val Weights: IndexedSeq[Int] = {
    val h = Distinct.indices.map(i => 1.0 / (i + 1)).sum
    Distinct.indices.map(i => math.max(1, math.round(CycleLength / (h * (i + 1))).toInt))
  }
}
