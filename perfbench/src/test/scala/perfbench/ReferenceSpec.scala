package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The reference computation on hand-computed micro-corpora (shaped like
  * FIXTURES.md §A6), so the benchmark's checks rest on values worked out
  * by hand rather than on the program they check. */
class ReferenceSpec extends AnyFunSuite {

  // Raw tokens as written to the dump line; the closing `</doc` fuses
  // into the last one ("mat</doc" -> "matdoc"). N = 4:
  //   doc 1 "the cat sat on the mat"      raw_len 6
  //   doc 2 "the dog! the dog barks"      raw_len 5 ("dog!" -> "dog")
  //   doc 3 "cat and dog and bird"        raw_len 5
  //   doc 4 "Car 1984 car, <empty> TIME"  raw_len 5: "1984" and the empty
  //         token count in raw_len only; "TIME</doc" -> "timedoc"
  private val docs = Seq(
    Gen.WikiDoc("1", Vector("the", "cat", "sat", "on", "the", "mat")),
    Gen.WikiDoc("2", Vector("the", "dog!", "the", "dog", "barks")),
    Gen.WikiDoc("3", Vector("cat", "and", "dog", "and", "bird")),
    Gen.WikiDoc("4", Vector("Car", "1984", "car,", "", "TIME")))

  test("dump line carries the fused closing tag") {
    assert(Gen.wikiLine(docs(3)).endsWith(">Car 1984 car,  TIME</doc>"))
  }

  test("tf-idf: raw-token denominator, two-stage rounding, per-doc order") {
    // tf: 2/6 -> 0.33, 1/6 -> 0.17, 2/5 -> 0.4, 1/5 -> 0.2
    // idf: df 2 -> log10(4/2) = 0.301 -> 0.3; df 1 -> log10(4) = 0.602 -> 0.6
    // tf_idf: 0.33*0.3 = 0.099 -> 0.1; 0.17*0.3 = 0.051 -> 0.05;
    //         0.17*0.6 = 0.102 -> 0.1; 0.4*0.3 = 0.12; 0.2*0.6 = 0.12;
    //         0.4*0.6 = 0.24; 0.2*0.3 = 0.06
    val want = Map(
      "1" -> Seq("the, 2, 0.33, 0.1", "cat, 1, 0.17, 0.05", "matdoc, 1, 0.17, 0.1",
        "on, 1, 0.17, 0.1", "sat, 1, 0.17, 0.1"),
      "2" -> Seq("dog, 2, 0.4, 0.12", "the, 2, 0.4, 0.12", "barksdoc, 1, 0.2, 0.12"),
      "3" -> Seq("and, 2, 0.4, 0.24", "birddoc, 1, 0.2, 0.12", "cat, 1, 0.2, 0.06",
        "dog, 1, 0.2, 0.06"),
      "4" -> Seq("car, 2, 0.4, 0.24", "timedoc, 1, 0.2, 0.12"))
    assert(Reference.tfIdf(docs).map { case (k, v) => k -> v.map(_.refCsv) } == want)
  }

  test("tf = 0 drops a word") {
    // 1/300 rounds to 0.00: "rare" and the fused "fillerdoc" drop;
    // "filler" is 298/300 -> 0.99
    val long = Gen.WikiDoc("1",
      Vector.fill(150)("filler") ++ Vector("rare") ++ Vector.fill(149)("filler"))
    val short = Gen.WikiDoc("2", Vector("other", "end"))
    val got = Reference.tfIdf(Seq(long, short))
    assert(got("1").map(r => (r.word, r.tf)) == Seq(("filler", 0.99)))
  }

  test("a word in every document drops at idf") {
    // "common" and the fused "enddoc" sit in both docs: log10(2/2) = 0
    val got = Reference.tfIdf(Seq(Gen.WikiDoc("1", Vector("common", "a", "end")),
      Gen.WikiDoc("2", Vector("common", "b", "end"))))
    assert(got.map { case (k, v) => k -> v.map(_.word) } ==
      Map("1" -> Seq("a"), "2" -> Seq("b")))
  }

  test("task1: dense ranks by (count desc, word asc), probes only, upper") {
    // the 4, dog 3, and 2, car 2, cat 2, then the singletons; "time" is
    // absent because it fused into "timedoc"
    assert(Reference.task1(docs) == Seq(("AND", 2L, 2L), ("CAR", 3L, 2L)))
  }

  test("near-dup replay: corpus, earlier survivors and smaller batch ids") {
    // delta = id % 5 == 0; batch = (id / 5) % 3:
    //   batch 0: 0, 15, 30   batch 1: 5, 20, 35   batch 2: 10, 25
    val unique = (i: Int) => (0 until 11).map(j => s"u${i}w$j").mkString(" ")
    val texts = Array.tabulate(36)(unique)
    texts(0) = texts(1)    // copies corpus doc 1
    texts(15) = texts(0)   // copies corpus doc 1 and batch-mate 0
    texts(35) = texts(20)  // copies batch-mate 20 only
    texts(10) = texts(5)   // copies 5, which batch 1 keeps
    // 25 changes 5's last word: 8 shared of 10 distinct shingles = 0.8,
    // exactly the threshold, which counts as a duplicate of the stored 5
    // and of its batch-mate 10
    texts(25) = texts(5).split(" ").updated(10, "changed").mkString(" ")
    assert(Reference.jaccard(Reference.shingles(texts(25)),
      Reference.shingles(texts(5))) == 0.8)
    import Reference.Verdict
    assert(Reference.neardupReplay(texts.toIndexedSeq) == Vector(
      Map(0L -> Verdict(1, 0, false), 15L -> Verdict(1, 1, false),
        30L -> Verdict(0, 0, true)),
      Map(5L -> Verdict(0, 0, true), 20L -> Verdict(0, 0, true),
        35L -> Verdict(0, 1, false)),
      Map(10L -> Verdict(1, 0, false), 25L -> Verdict(1, 1, false))))
  }

  test("generator: same seed same inputs, clusters well separated") {
    assert(Gen.wikiDocs(7, 50) == Gen.wikiDocs(7, 50))
    assert(Gen.wikiDocs(7, 50) != Gen.wikiDocs(8, 50))
    assert(Gen.neardupDocs(7, 200) == Gen.neardupDocs(7, 200))
    Seq(1L, 2L, 3L).foreach(s => Reference.requireSeparated(Gen.neardupDocs(s, 200)))
  }
}
