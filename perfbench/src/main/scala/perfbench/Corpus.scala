package perfbench

import java.util.SplittableRandom

/** Seeded multi-paragraph page corpus for the cleaning workloads.
  *
  * Shape, in order of construction:
  *   1. base documents: short word sequences over a seeded vocabulary,
  *      with a share of exact and near-edited copies of earlier documents
  *      (intra-corpus duplicate structure);
  *   2. replicas: the base set again under seeded letter-substitution
  *      ciphers, which keep each replica's duplicate structure and share
  *      nothing across replicas;
  *   3. overlapping pages: page `p` joins documents `[4p, 4p+8)` with a
  *      blank line, so every interior document is a paragraph of two pages;
  *   4. re-crawls: a share of pages re-appears verbatim, and another share
  *      re-appears in one or two near-edited versions (one word changed in
  *      every paragraph), so the paragraph, near-duplicate and substring
  *      stages all have work to do.
  * Page ids are a seeded permutation of `0 until pages`.
  *
  * Increments continue the id sequence above the corpus's highest id and
  * mix fresh pages with re-crawls of corpus pages; [[SharedShare]] of each
  * increment's pages, at seeded positions, are re-crawls.
  */
object Corpus {

  final case class Page(id: Long, text: String)

  final case class Spec(baseDocs: Int, replicas: Int)

  /** Share of pages re-crawled verbatim, and re-crawled near-edited. */
  private val RecrawlShare = 0.08
  private val NearEditShare = 0.08
  /** Share of base documents that copy, or near-edit, an earlier one. */
  private val DupDocShare = 0.04
  private val NearDocShare = 0.04
  /** Share of re-crawled corpus pages in an increment. */
  val SharedShare = 0.3

  val Separator = "\n\n"
  private val Stride = 4
  private val Width = 8
  private val VocabSize = 48

  /** Seeded letters; the length of the word of rank `r` is fixed, so the
    * mean word length, and with it the text size, does not vary by seed.
    */
  private def vocabulary(rng: SplittableRandom): Array[String] = {
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < VocabSize) {
      val len = 1 + words.size * 5 % 9
      words += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    words.toArray
  }

  /** Skewed word choice: low vocabulary ranks are drawn more often. */
  private def word(rng: SplittableRandom, vocab: Array[String]): String = {
    val u = rng.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }

  private def editWord(rng: SplittableRandom, vocab: Array[String],
      words: Array[String]): Array[String] = {
    val out = words.clone()
    val i = rng.nextInt(out.length)
    var w = word(rng, vocab)
    while (w == out(i)) w = vocab(rng.nextInt(vocab.length))
    out(i) = w
    out
  }

  private def baseDocs(rng: SplittableRandom, vocab: Array[String],
      n: Int): Array[String] = {
    val docs = new Array[Array[String]](n)
    for (i <- 0 until n) {
      val u = rng.nextDouble()
      docs(i) =
        if (i > 0 && u < DupDocShare) docs(rng.nextInt(i))
        else if (i > 0 && u < DupDocShare + NearDocShare) {
          var d = docs(rng.nextInt(i))
          for (_ <- 0 until 1 + d.length / 20) d = editWord(rng, vocab, d)
          d
        } else Array.fill(8 + rng.nextInt(85))(word(rng, vocab))
    }
    docs.map(_.mkString(" "))
  }

  /** A seeded permutation of the lower-case alphabet. */
  private def cipher(rng: SplittableRandom): Array[Char] = {
    val a = ('a' to 'z').toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private def encipher(text: String, key: Array[Char]): String =
    text.map(c => if (c >= 'a' && c <= 'z') key(c - 'a') else c)

  /** Documents `[4p, 4p+8)` per page, the overlapping-crawl fixture shape. */
  private def overlappingPages(docs: Array[String]): Array[String] = {
    val nPages = (docs.length + Stride - 1) / Stride
    Array.tabulate(nPages)(p =>
      docs.slice(p * Stride, math.min(docs.length, p * Stride + Width))
        .mkString(Separator))
  }

  /** One word changed in every paragraph. */
  private def nearEdit(rng: SplittableRandom, vocab: Array[String],
      page: String): String =
    page.split(Separator).map(par =>
      editWord(rng, vocab, par.split(" ")).mkString(" ")).mkString(Separator)

  private def replicatedDocs(rng: SplittableRandom, vocab: Array[String],
      spec: Spec): Array[String] = {
    val base = baseDocs(rng, vocab, spec.baseDocs)
    (0 until spec.replicas).toArray.flatMap { r =>
      if (r == 0) base else { val key = cipher(rng); base.map(encipher(_, key)) }
    }
  }

  private def recrawls(rng: SplittableRandom, vocab: Array[String],
      pages: Array[String]): Array[String] =
    pages.flatMap { pg =>
      val u = rng.nextDouble()
      if (u < RecrawlShare) Array(pg)
      else if (u < RecrawlShare + NearEditShare)
        Array.fill(1 + rng.nextInt(2))(nearEdit(rng, vocab, pg))
      else Array.empty[String]
    }

  private def shuffle[T](rng: SplittableRandom, xs: Array[T]): Array[T] = {
    val a = xs.clone()
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  final case class Generated(corpus: IndexedSeq[Page],
      increments: IndexedSeq[IndexedSeq[Page]])

  /** The corpus plus `nIncrements` increments of `incrementPages` pages each
    * (none when `nIncrements` is 0), all derived from `seed`.
    */
  def generate(seed: Long, spec: Spec, nIncrements: Int = 0,
      incrementPages: Int = 0): Generated = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng)
    val pages = overlappingPages(replicatedDocs(rng, vocab, spec))
    val all = shuffle(rng, pages ++ recrawls(rng, vocab, pages))
    val corpus = all.toIndexedSeq.zipWithIndex.map { case (t, i) => Page(i.toLong, t) }
    var nextId = corpus.length.toLong
    val increments = (0 until nIncrements).map { _ =>
      val fresh = overlappingPages(replicatedDocs(rng, vocab,
        Spec(baseDocs = incrementPages * Stride, replicas = 1)))
      val shared = shuffle(rng, Array.range(0, incrementPages))
        .take(math.round(SharedShare * incrementPages).toInt).toSet
      val texts = (0 until incrementPages).map { j =>
        if (shared(j)) {
          val src = corpus(rng.nextInt(corpus.length)).text
          if (rng.nextBoolean()) src else nearEdit(rng, vocab, src)
        } else fresh(j % fresh.length)
      }
      texts.map { t => val p = Page(nextId, t); nextId += 1; p }
    }
    Generated(corpus, increments)
  }

  /** Order-independent digest of a page set (ids and texts). */
  def digest(pages: Iterable[Page]): Long =
    pages.iterator.map(p =>
      scala.util.hashing.MurmurHash3.stringHash(p.text, p.id.toInt).toLong * 0x9E3779B97F4A7C15L
        ^ p.id).foldLeft(0L)(_ ^ _)

  def textBytes(pages: Iterable[Page]): Long =
    pages.iterator.map(_.text.length.toLong).sum
}
