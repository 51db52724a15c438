package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val doc = Seq("a b c", "d e f", "g h").mkString(Corpus.Separator)

  test("a contiguous range of the document is a piece of it") {
    assert(Checks.pieceOfDoc("b c d", doc))
    assert(Checks.pieceOfDoc("a b c d e f g h", doc))
    assert(Checks.pieceOfDoc("e", doc))
  }

  test("a range over the document with whole paragraphs dropped is a piece of it") {
    assert(Checks.pieceOfDoc("a b c g h", doc))
    assert(Checks.pieceOfDoc("b c g", doc))
  }

  test("reordered, foreign or partially skipped text is not a piece") {
    assert(!Checks.pieceOfDoc("c b", doc))
    assert(!Checks.pieceOfDoc("b c x", doc))
    // skipping part of a paragraph is not a paragraph drop
    assert(!Checks.pieceOfDoc("a b d e", doc))
    assert(!Checks.pieceOfDoc("b e f", doc))
  }
}
