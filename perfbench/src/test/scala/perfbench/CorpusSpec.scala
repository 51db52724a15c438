package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val spec = Corpus.Spec(baseDocs = 60, replicas = 2)

  test("the same seed generates the same corpus and increments") {
    val a = Corpus.generate(7L, spec, 2, 10)
    val b = Corpus.generate(7L, spec, 2, 10)
    assert(Corpus.digest(a.corpus) == Corpus.digest(b.corpus))
    assert(a.increments.map(Corpus.digest) == b.increments.map(Corpus.digest))
  }

  test("another seed generates another corpus") {
    val a = Corpus.generate(7L, spec)
    val b = Corpus.generate(8L, spec)
    assert(Corpus.digest(a.corpus) != Corpus.digest(b.corpus))
  }

  test("pages overlap, and the corpus holds re-crawled pages") {
    val pages = Corpus.generate(7L, spec).corpus.map(_.text)
    val paragraphs = pages.flatMap(_.split(Corpus.Separator))
    assert(paragraphs.distinct.length < paragraphs.length)
    assert(pages.distinct.length < pages.length)
    assert(pages.forall(_.split(Corpus.Separator).length <= 8))
  }

  test("increment ids rise above the corpus and continue across increments") {
    val g = Corpus.generate(7L, spec, 3, 10)
    val ids = g.corpus.map(_.id)
    assert(ids.sorted == ids.indices.map(_.toLong))
    val incIds = g.increments.flatten.map(_.id)
    assert(incIds == incIds.indices.map(_ + ids.length.toLong))
    assert(g.increments.forall(_.length == 10))
  }
}
