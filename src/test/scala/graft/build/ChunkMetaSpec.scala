package graft.build

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Gram, Tokenizer}
import java.sql.Timestamp

/** The slim scratch invariant: [[IndexBuild.chunkDocMeta]] must agree with
  * a full chunk + tokenize of the same document (`chunkDoc` below, the
  * reference) on every serialized field — dl via the sort-free docLength
  * must equal the sum of the term frequencies, n_grams via the gram bitset
  * count must equal the sorted gram array's length. The posting stages
  * re-derive the arrays from chunk_text, so any drift here would silently
  * desynchronize docs store and postings.
  */
class ChunkMetaSpec extends AnyFunSuite {
  import ChunkMetaSpec.ChunkRow

  /** Chunk + tokenize one document, carrying the term and gram arrays. */
  private def chunkDoc(url: String, warcTs: Timestamp, lang: String, docpart: Int,
                       text: String, chunkMode: String): Seq[ChunkRow] =
    IndexBuild.chunksOf(text, chunkMode).zipWithIndex.map { case (c, seq) =>
      val tfs = Tokenizer.termFreqs(c.text).map { case (t, f) => IndexBuild.TermFreq(t, f) }
      val dl = { var s = 0; tfs.foreach(s += _.f); s }
      val grams = Gram.gramsSorted(partial = false, Seq(c.text))
      ChunkRow(url, warcTs, lang, docpart, seq, c.line, c.runeOff, c.runeLen,
        c.byteStart, c.byteLen, dl, grams.length, c.text, tfs, grams)
    }

  private def randomText(rng: java.util.Random): String = {
    val alphabet = "abcXYZ019 .,\n\t!é漢Ω-"
    val n = rng.nextInt(200)
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append(alphabet.charAt(rng.nextInt(alphabet.length))))
    sb.toString
  }

  test("chunkDocMeta == chunkDoc minus arrays, for every chunk mode") {
    val ts = new Timestamp(1600000000000L)
    val rng = new java.util.Random(7)
    val modes = Seq(IndexBuild.ChunkMode.Lines, IndexBuild.ChunkMode.Doc,
      IndexBuild.ChunkMode.Org)
    val texts = Seq("", "one\ntwo three\n", "* head\n- item\nplain\n") ++
      (0 until 300).map(_ => randomText(rng))
    for (text <- texts; mode <- modes) {
      val full = chunkDoc("u", ts, "en", 3, text, mode)
      val slim = IndexBuild.chunkDocMeta("u", ts, "en", 3, text, mode)
      assert(slim.length == full.length, s"mode=$mode text=${text.take(40)}")
      full.zip(slim).foreach { case (f, s) =>
        assert((s.url, s.warc_ts, s.lang, s.docpart, s.chunk_seq, s.line,
          s.rune_off, s.rune_len, s.byte_start, s.byte_len, s.dl, s.n_grams,
          s.chunk_text) ==
          (f.url, f.warc_ts, f.lang, f.docpart, f.chunk_seq, f.line,
            f.rune_off, f.rune_len, f.byte_start, f.byte_len, f.dl,
            f.n_grams, f.chunk_text), s"mode=$mode text=${text.take(40)}")
        assert(s.explicit_grams == null)
      }
    }
  }
}

object ChunkMetaSpec {
  /** One chunk with its full token arrays. */
  final case class ChunkRow(
    url: String, warc_ts: Timestamp, lang: String, docpart: Int,
    chunk_seq: Int, line: Int, rune_off: Long, rune_len: Long,
    byte_start: Long, byte_len: Long, dl: Int, n_grams: Int,
    chunk_text: String, terms: Array[IndexBuild.TermFreq], grams: Array[Int])
}
