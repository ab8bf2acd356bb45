package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.variant.VariantJsonCodec
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  private val docs = (0L until 3000L).map(Corpus.doc(7L, _))

  test("the same seed gives the same documents") {
    assert((0L until 200L).map(Corpus.doc(7L, _)) == docs.take(200))
    assert(Corpus.doc(8L, 5L) != docs(5))
  }

  test("the codec prints every raw document back as its canonical text") {
    docs.foreach { d =>
      val b = d.json.getBytes(UTF_8)
      val (m, v) = VariantJsonCodec.fromJsonBytes(b, 0, b.length)
      assert(VariantJsonCodec.toJsonString(m, v) == d.canon, d.json)
    }
  }

  test("the corpus mixes every kind, deep nesting and long integers") {
    assert(docs.map(_.kind).toSet == Set(0, 1, 2))
    assert(docs.exists(_.depth >= 4))
    assert(docs.exists(_.bigInt))
    assert(docs.exists(d => d.json != d.canon))
    assert(docs.filter(_.kind == 1).forall(d => d.nKeys >= 23 && d.nKeys <= 53))
  }
}
