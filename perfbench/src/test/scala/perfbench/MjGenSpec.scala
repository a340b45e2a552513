package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MjGenSpec extends AnyFunSuite {
  private val small = MjSizes(corpusLines = 400, vocab = 300, headLines = 50,
    ballots3 = 300, ballots8 = 100, visits = 500, locations = 20)

  test("the same seed gives byte-identical inputs and expected answers") {
    assert(MjGen.generate(11, small) == MjGen.generate(11, small))
  }

  test("another seed gives other inputs and expected answers") {
    val (a, b) = (MjGen.generate(11, small), MjGen.generate(12, small))
    a.inputs.zip(b.inputs).foreach { case ((k, x), (_, y)) => assert(x != y, k) }
    assert(a.expected("wordcount") != b.expected("wordcount"))
    assert(a.expected("contacts") != b.expected("contacts"))
  }

  test("expected word counts add up to the corpus tokens") {
    val d = MjGen.generate(3, small)
    val corpus = d.inputs.toMap.apply("corpus")
    val tokens = corpus.split("\\s+").count(_.nonEmpty)
    assert(d.expected("wordcount").map(_.split(" ")(1).toLong).sum == tokens)
  }

  test("the contact juice agrees with the nested-loop expected answer") {
    val d = MjGen.generate(5, small)
    val visits = d.inputs.toMap.apply("visits").split("\n").toSeq.filter(_.nonEmpty)
    val got = visits.map(_.split(" ")).groupBy(_(1)).toSeq.flatMap { case (loc, vs) =>
      MjPipeline.contactJuice(loc,
        vs.map(v => s"${v(1)} ${v(0)} ${v(2)} ${v(3)} ${v(4)}").iterator)
    }.sorted
    assert(got.nonEmpty && got == d.expected("contacts"))
  }

  test("Condorcet: a unanimous order wins every pair") {
    val (pairs, wins) = MjGen.condorcet(Seq.fill(5)("Sam Anna Smith"))
    assert(pairs == Seq("Anna,Smith", "Sam,Anna", "Sam,Smith"))
    assert(wins == Seq("Anna 1", "Sam 2"))
  }
}
