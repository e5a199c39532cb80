package graft

import java.nio.file.Files

import graft.operators._

/** CLI end-to-end over a real wikiextractor text file + property-style
  * invariant tests on seeded random corpora (SURVEY.md §5 items 2/4). */
class CliAndPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("CLI: tfidf over wikiextractor text, ref-csv per-doc layout") {
    val wiki = Files.createTempFile("wiki", ".txt")
    Files.write(wiki, java.util.Arrays.asList(
      """<doc id="101" url="u1" title="A">the cat sat on the mat include</doc>""",
      """<doc id="102" url="u2" title="B">the dog barks at the cat</doc>""",
      """<doc id="103" url="u3" title="C">entirely different things here</doc>"""))
    val out = tmpDir("tfidf_out")
    cli.Main.run(spark, "tfidf", Map(
      "input" -> wiki.toString, "output" -> out,
      "format" -> "ref-csv", "per-doc" -> "true"))
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("doc_id=")).map(_.getName).sorted
    assert(dirs.toSeq == Seq("doc_id=101", "doc_id=102", "doc_id=103"))
    val rows101 = spark.read.text(s"$out/doc_id=101").collect()
      .map(_.getString(0))
    // reference row shape: word, count, tf, tf_idf — ", " delimited
    assert(rows101.forall(_.split(", ").length == 4))
    // trailing </doc fusion quirk flows through the whole pipeline
    assert(rows101.exists(_.startsWith("includedoc, ")))
    // count column non-increasing (golden-corpus invariant, SURVEY §5)
    val counts = rows101.map(_.split(", ")(1).toLong)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("CLI: task1 ref-csv output") {
    val wiki = Files.createTempFile("wiki1", ".txt")
    Files.write(wiki, java.util.Arrays.asList(
      """<doc id="1" url="u" title="T">car and protein during time and and</doc>"""))
    val out = tmpDir("task1_out")
    cli.Main.run(spark, "task1", Map(
      "input" -> wiki.toString, "output" -> out, "format" -> "ref-csv"))
    val rows = spark.read.text(out).collect().map(_.getString(0)).sorted
    // last "and" fuses with the trailing </doc → "anddoc" (ref quirk),
    // so "and" counts 2 and still tops the probe set at rank 0
    assert(rows.exists(_.startsWith("AND, 0, 2")))
    assert(rows.length == 5)
  }

  test("CLI: a job run twice in one session over a rewritten dump reads " +
    "the new input (tfidf, dedup-jaccard)") {
    val wiki = Files.createTempFile("wiki_rw", ".txt")
    def runOver(job: String, docs: String*) = {
      Files.write(wiki, java.util.Arrays.asList(docs: _*))
      val out = tmpDir(s"${job}_rw")
      cli.Main.run(spark, job, Map("input" -> wiki.toString, "output" -> out))
      spark.read.parquet(out)
    }
    def tfidfWords(docs: String*): Seq[String] =
      runOver("tfidf", docs: _*).select("word").as[String].collect()
        .toSeq.sorted
    // every word sits in one of the two docs: idf = round2(log10 2) > 0
    assert(tfidfWords(
      """<doc id="1" url="u" title="A">alpha alpha beta</doc>""",
      """<doc id="2" url="u" title="B">gamma gamma delta</doc>""") ==
      Seq("alpha", "betadoc", "deltadoc", "gamma"))
    assert(tfidfWords(
      """<doc id="1" url="u" title="A">kappa kappa lambda</doc>""",
      """<doc id="2" url="u" title="B">omega omega sigma</doc>""") ==
      Seq("kappa", "lambdadoc", "omega", "sigmadoc"))
    val (same, other) = ("the quick brown fox jumps over the lazy dog",
      "a completely unrelated sentence about something else entirely")
    def pairs(texts: String*): Seq[String] =
      runOver("dedup-jaccard", texts.zipWithIndex.map { case (t, i) =>
        s"""<doc id="${i + 1}" url="u" title="T">$t</doc>""" }: _*)
        .select("doc_a", "doc_b").collect()
        .map(r => s"${r.get(0)}-${r.get(1)}").toSeq.sorted
    assert(pairs(same, same, other) == Seq("1-2"))
    assert(pairs(same, other, same) == Seq("1-3"))
  }

  test("CLI: a wikiextractor output tree is read through its " +
    "subdirectories") {
    val root = Files.createTempDirectory("wiki_tree")
    Seq("AA" -> Seq(1, 2), "AB" -> Seq(3)).foreach { case (sub, ids) =>
      val d = Files.createDirectories(root.resolve(sub))
      Files.write(d.resolve("wiki_00"), java.util.Arrays.asList(ids.map(i =>
        s"""<doc id="$i" url="u" title="T$i">word$i other words</doc>"""): _*))
    }
    val out = tmpDir("tree_out")
    cli.Main.run(spark, "tf", Map(
      "input" -> root.toString, "output" -> out))
    assert(spark.read.parquet(out).select("doc_id").distinct()
      .as[String].collect().toSeq.sorted == Seq("1", "2", "3"))
  }

  test("CLI: flat ref-csv tf output carries doc_id, ordered per doc") {
    val wiki = Files.createTempFile("wiki2", ".txt")
    Files.write(wiki, java.util.Arrays.asList(
      """<doc id="5" url="u" title="A">b b b a a c</doc>""",
      """<doc id="6" url="u" title="B">z z y</doc>"""))
    val out = tmpDir("tf_flat")
    cli.Main.run(spark, "tf", Map(
      "input" -> wiki.toString, "output" -> out, "format" -> "ref-csv"))
    val rows = spark.read.text(out).collect().map(_.getString(0))
    // every row attributable: leading doc_id field
    assert(rows.forall(r => r.startsWith("5, ") || r.startsWith("6, ")))
    // per-doc count-descending within each file's doc run
    val byDoc = rows.groupBy(_.split(", ")(0))
    byDoc.values.foreach { rs =>
      val counts = rs.map(_.split(", ")(2).toLong)
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    }
  }

  test("CLI: dedup-embedding job over embeddings parquet") {
    val out = tmpDir("cli_emb")
    cli.Main.run(spark, "dedup-embedding", Map(
      "input" -> "/root/testdata/sf0.001/embeddings.parquet",
      "output" -> out, "threshold" -> "0.4"))
    val r = spark.read.parquet(out)
    assert(r.columns.toSeq == Seq("vec_a", "vec_b"))
    assert(r.count() >= 1) // the planted 0.51-cosine pair passes 0.4
  }

  test("CLI: parquet documents input + parquet output") {
    val out = tmpDir("dict_out")
    cli.Main.run(spark, "dictionary", Map(
      "input" -> "/root/testdata/sf0.001/documents.parquet",
      "output" -> out))
    val dict = spark.read.parquet(out)
    assert(dict.columns.toSeq == Seq("word", "rank", "cnt"))
    assert(dict.count() > 0)
  }

  // --- property-style invariants over a seeded random corpus ---

  private lazy val randomCorpus = {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "Beta!", "g4mma", "delta", "--", "42",
      "epsilon,", "ZETA", "eta.", "the")
    (1L to 60L).map { id =>
      val n = 1 + rnd.nextInt(40)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("WikiText.parse: malformed lines degrade without crashing") {
    val lines = Seq(
      "no angle brackets at all",
      "<doc id=\"9\" url=\"u\" title=\"T\">", // no body, no second '>'
      "", // empty line
      "<notadoc>body here</notadoc>",
    ).toDF("value")
    val parsed = WikiText.parse(lines)
    // must not throw; malformed rows produce empty/null fields
    val n = parsed.count()
    assert(n == 4)
    val toks = WikiText.tokens(parsed, "doc_id", "body")
    // only the <notadoc> line yields tokens ("body here")
    assert(rows(toks).forall(_.split('|')(1).matches("[a-z]+")))
  }

  test("property: minhash-lsh == exact jaccard on random near-dup corpora") {
    for (seed <- Seq(11, 23)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(50)(i => s"tok$i")
      val originals = (1L to 30L).map { id =>
        (id, Seq.fill(30 + rnd.nextInt(30))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // plant near-dups: copy with one word replaced
      val dups = originals.take(8).map { case (id, text) =>
        val w = text.split(" ")
        w(rnd.nextInt(w.length)) = "mutated"
        (id + 1000L, w.mkString(" "))
      }
      val corpus = (originals ++ dups).toDF("doc_id", "text")
      val exact = rows(Dedup.ngramJaccardPairs(corpus, threshold = 0.6))
      val approx = rows(Dedup.minHashLsh(corpus, threshold = 0.6))
      assert(exact == approx, s"seed $seed")
      assert(exact.nonEmpty, s"seed $seed planted dups not found")
    }
  }

  test("property: tokens are always non-empty lowercase letters") {
    val toks = WikiText.tokens(randomCorpus).collect().map(_.getString(1))
    assert(toks.nonEmpty)
    assert(toks.forall(_.matches("[a-z]+")))
  }

  test("property: tf in (0,1], count <= raw token count") {
    val tf = TfIdfOps.tf(randomCorpus).collect()
    assert(tf.nonEmpty)
    tf.foreach { r =>
      val v = r.getDouble(3)
      assert(v > 0.0 && v <= 1.0, s"tf out of range: $r")
    }
  }

  test("property: idf >= 0.01 when present; no word in all docs survives") {
    val tfT = TfIdfOps.tf(randomCorpus)
    val idf = TfIdfOps.idf(tfT, TfIdfOps.corpusSize(randomCorpus)).collect()
    idf.foreach(r => assert(r.getDouble(1) >= 0.01))
  }

  test("property: q6 rows are a subset of q4 rows (inner join semantics)") {
    val tfT = TfIdfOps.tf(randomCorpus)
    val q6 = TfIdfOps.tfIdf(tfT,
      TfIdfOps.idf(tfT, TfIdfOps.corpusSize(randomCorpus)))
    val q4Keys = tfT.select("doc_id", "word").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val q6Keys = q6.select("doc_id", "word").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(q6Keys.subsetOf(q4Keys))
    assert(q6Keys.nonEmpty)
  }

  test("property: dictionary ranks are dense 0..n-1 ordered by count") {
    val d = TfIdfOps.dictionary(randomCorpus).collect()
    val ranks = d.map(_.getLong(1))
    assert(ranks.toSeq == ranks.indices.map(_.toLong))
    val counts = d.map(_.getLong(2))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }
}
