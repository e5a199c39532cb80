package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, HtmlText, Similarity, TextStats}

/** Round-8 pins: the HTML ingestion rules (region priority, boilerplate
  * removal order, entity decode order, the attribute-`>` quirk) and the
  * partitionDiff count-fold.
  */
class Round17Spec extends SparkSpec {

  import spark.implicits._

  private def extractOne(page: String): (String, String, String, String, String) = {
    val r = HtmlText.extract(Seq(page).toDF("value")).collect().head
    (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4))
  }

  // --- HtmlText.extract ---

  test("html: full page — metadata extracted, boilerplate dropped, " +
    "entities decoded") {
    val (url, lang, charset, title, text) = extractOne(
      "<html lang=\"en\"><head><meta charset=\"UTF-8\">" +
        "<title>Alpha &amp; Beta</title><script>var x = 1 < 2;</script>" +
        "<link rel=\"canonical\" href=\"https://example.org/a\"></head>" +
        "<body><header>hdr</header><nav>menu</nav><article><p>Body " +
        "&quot;quoted&quot; text.</p></article><footer>ft</footer>" +
        "</body></html>")
    assert((url, lang, charset) ===
      ("https://example.org/a", "en", "utf-8"))
    assert(title === "Alpha & Beta")
    assert(text === "Body \"quoted\" text.")
  }

  test("html: region priority is article > main > body > whole page") {
    assert(extractOne("<html><body><main>M</main>" +
      "<article>A</article></body></html>")._5 === "A")
    assert(extractOne("<html><body><main>M</main>x</body></html>")
      ._5 === "M")
    assert(extractOne("<html><body>B only</body></html>")._5 === "B only")
    assert(extractOne("<p>bare <b>frag</b></p>")._5 === "bare frag")
  }

  test("html: entity decode runs AFTER tag strip and &amp; decodes " +
    "last, so &amp;lt; stays literal and &lt;b&gt; never becomes a tag") {
    val (_, _, _, _, text) = extractOne(
      "<html><body><article>&amp;lt; and &lt;b&gt; and A&nbsp;B" +
        "</article></body></html>")
    assert(text === "&lt; and <b> and A B")
  }

  test("html: attribute-quoted '>' truncates the tag strip (pinned " +
    "single-regex quirk) and a fake </scriptx> does not close a script") {
    assert(extractOne("<html><body><article><div title=\"a>b\">Q</div>" +
      "</article></body></html>")._5 === "b\">Q")
    assert(extractOne("<html><body><script>var s = \"</scriptx>\";" +
      "</script><p>After.</p></body></html>")._5 === "After.")
  }

  test("html: comments strip before blocks; empty page yields empty " +
    "fields") {
    assert(extractOne("<html><body><!-- <script>x</script> -->" +
      "<p>Vis</p></body></html>")._5 === "Vis")
    assert(extractOne("<html></html>") === ("", "", "", "", ""))
  }

  test("html: renderPages→extract round-trips the documents row " +
    "(every boilerplate rule fires)") {
    val docs = Seq((7L, "some doc text", "de"))
      .toDF("doc_id", "text", "lang")
    val got = HtmlText.extract(HtmlText.renderPages(docs))
      .collect().head
    assert(got.toSeq === Seq("https://example.org/p/7", "de", "utf-8",
      "doc 7", "some doc text"))
  }

  // --- bpeTrain ---

  test("bpeTrain: round 2 can merge a MERGED symbol (iterative pair " +
    "stats over symbol sequences, not characters)") {
    // corpus: "abab" ×3, "ab" ×2 → round 1 pairs: (a,b) cnt 3*2+2=8,
    // (b,a) cnt 3 → merge (a,b) → reprs "ab ab" / "ab".
    // round 2 pairs: ("ab","ab") cnt 3 → merges the merged symbol.
    val docs = Seq((1L, "abab abab abab ab ab"))
      .toDF("doc_id", "text")
    val got = TextStats.bpeTrain(docs, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    assert(got === Seq((1L, "a", "b", 8L), (2L, "ab", "ab", 3L)))
  }

  test("bpeTrain: the merge fold is leftmost-first non-overlapping " +
    "('aaa' under (a,a) merges once) and stops when pairs run dry") {
    // "aaa" ×2, "aa" ×1 → round 1: (a,a) cnt 2*2+1=5 → "aa a" / "aa".
    // round 2: ("aa","a") cnt 2 → "aaa"/"aa". round 3: no pairs → dry.
    val docs = Seq((1L, "aaa aaa aa")).toDF("doc_id", "text")
    val got = TextStats.bpeTrain(docs, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq.sortBy(_._1)
    assert(got === Seq((1L, "a", "a", 5L), (2L, "aa", "a", 2L)))
  }

  // --- pageRankConverged ---

  test("pageRankConverged: a regular graph starts at its fixed point " +
    "and stops after one round; ranks match the fixed-round form") {
    // 2 customers × 2 suppliers, complete bipartite: all degrees 2 →
    // uniform mass is stationary → round-1 delta 0 → rounds = 1
    val orders = Seq((1L, 10L), (2L, 20L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 5L), (1L, 6L), (2L, 5L), (2L, 6L))
      .toDF("l_orderkey", "l_suppkey")
    val got = Graph.pageRankConverged(orders, lineitem)
    assert(got.select("rounds").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(1L))
    assert(rows(got.drop("rounds")) ===
      rows(Graph.pageRank(orders, lineitem, iters = 1)))
  }

  test("pageRankConverged: a star graph needs several rounds and the " +
    "final ranks equal the fixed-round form at rounds_executed") {
    // one hub supplier shared by 4 customers, plus one private
    // supplier — irregular degrees, so mass moves for several rounds
    val orders = (1L to 4L).map(i => (i, i * 10)).toDF("o_orderkey", "o_custkey")
    val lineitem = (Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)) ++
      Seq((1L, 6L))).toDF("l_orderkey", "l_suppkey")
    val got = Graph.pageRankConverged(orders, lineitem, maxRounds = 12)
    val r = got.select("rounds").distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(r.size == 1 && r.head >= 2 && r.head <= 12)
    assert(rows(got.drop("rounds")) ===
      rows(Graph.pageRank(orders, lineitem, iters = r.head.toInt)))
  }

  test("connectedComponentsConverged: labels equal the fixed-round " +
    "form at rounds_executed, and the last round verifies no change") {
    // two components: {c10,s5,c20,s6} path and {c30,s7} edge
    val orders = Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((1L, 5L), (2L, 5L), (2L, 6L), (3L, 7L))
      .toDF("l_orderkey", "l_suppkey")
    val got = Graph.connectedComponentsConverged(orders, lineitem)
    val r = got.select("rounds").distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(r.size == 1 && r.head >= 2 && r.head <= 8)
    assert(rows(got.drop("rounds")) ===
      rows(Graph.connectedComponents(orders, lineitem,
        iters = r.head.toInt)))
    assert(got.select("component").distinct().count() === 2)
  }

  test("purchaseKCoreConverged: degrees equal the fixed-round form " +
    "at rounds_executed") {
    // complete 5×5 bipartite core (25 edges) + one pendant customer
    // (deg 1): 26 edges / 12 nodes → derived k = 2, the pendant peels
    // in round 1, round 2 verifies
    val orders = ((1L to 5L).map(i => (i, i * 10)) :+ ((9L, 99L)))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = ((for (o <- 1L to 5L; sp <- 1L to 5L) yield (o, sp))
      :+ ((9L, 1L))).toDF("l_orderkey", "l_suppkey")
    val got = Graph.purchaseKCoreConverged(orders, lineitem)
    val r = got.select("rounds").distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(r.size == 1 && r.head >= 1 && r.head <= 6)
    assert(rows(got.drop("rounds")) ===
      rows(Graph.purchaseKCore(orders, lineitem, iters = r.head.toInt)))
  }

  // --- bfsHops ---

  test("bfsHops equals a plain-Scala BFS: multi-source min dist, " +
    "unreachable nodes absent, saturation before iters") {
    // 4-11 links the two source components: node 4 is 3 hops from
    // source 1 but 2 from source 10
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (4L, 11L))
    val edges0 = pairs.toDF("src", "dst")
    val edges = edges0.unionAll(
      edges0.select(col("dst").as("src"), col("src").as("dst")))
    val sources = Seq(1L, 10L)
    // queue BFS to saturation, then cut at the round count
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    val hops = scala.collection.mutable.Map(sources.map(_ -> 0L): _*)
    val queue = scala.collection.mutable.Queue(sources: _*)
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      for (m <- adj.getOrElse(n, Nil) if !hops.contains(m)) {
        hops(m) = hops(n) + 1
        queue.enqueue(m)
      }
    }
    for (iters <- Seq(1, 2, 5)) {
      val want = hops.toSeq.filter(_._2 <= iters)
        .map { case (n, d) => s"$n|$d" }.sorted
      assert(rows(Graph.bfsHops(sources.toDF("node"), edges, iters)) ===
        want, s"iters=$iters")
    }
    // node 20 exists nowhere near a source — absent from the output
    assert(!rows(Graph.bfsHops(sources.toDF("node"), edges, 5))
      .exists(_.startsWith("20|")))
  }

  // --- persisted IVF index ---

  test("ivfIndexWrite→ivfTopKFromIndex is bit-identical to the " +
    "in-plan ivfTopK ranking") {
    val emb = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d =>
        (math.sin(i * 31 + d) * 100).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_spec").toString
    Similarity.ivfIndexWrite(emb, dir, nCentroids = 4)
    val q = emb.filter(col("vec_id") % 5 === 0)
    val inPlan = Similarity.ivfTopK(q, emb, k = 3, nCentroids = 4)
    val served = Similarity.ivfTopKFromIndex(q, dir, k = 3)
    assert(rows(served) === rows(inPlan))
    assert(new java.io.File(s"$dir/codebook").exists &&
      new java.io.File(s"$dir/postings").exists)
  }

  test("bpeEncode: per-doc subword counts reflect the trained merges") {
    // one merge round on "abab ... ab" merges (a,b): "abab" → 2
    // symbols, "ab" → 1, "c" → 1 (untouched single char)
    val docs = Seq((1L, "abab abab abab ab ab"), (2L, "ab c"))
      .toDF("doc_id", "text")
    val got = TextStats.bpeEncode(docs, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // doc 1: 5 words; 3×"abab"(2 sym) + 2×"ab"(1 sym) = 8 tokens
    // doc 2: 2 words; "ab"(1) + "c"(1) = 2 tokens
    assert(got === Seq((1L, 5L, 8L), (2L, 2L, 2L)))
  }

  test("ivfIndexAppend then serve equals a full rebuild over the " +
    "union (fixed codebook ⇒ per-vector-independent assignment)") {
    val emb = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d =>
        (math.cos(i * 17 + d) * 100).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfupd_spec").toString
    val build = emb.filter(col("vec_id") % 3 =!= 0)
    Similarity.ivfIndexWrite(build, dir, nCentroids = 4)
    Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 3 === 0), dir)
    val q = emb.filter(col("vec_id") % 5 === 0)
    val served = Similarity.ivfTopKFromIndex(q, dir, k = 3)
    // rebuild twin: same codebook (4 lowest-id BUILD vectors) over ALL
    val rebuilt = Similarity.ivfTopK(q, emb, k = 3, nCentroids = 4,
      codebook = Some(
        Similarity.withNorm(build).filter(col("norm") > 0)
          .orderBy(col("vec_id").asc).limit(4)
          .select(col("vec_id").as("cid"), col("vec").as("centroid"))))
    assert(rows(served) === rows(rebuilt))
  }

  test("html: multi-line pages — tags, comments and blocks spanning " +
    "lines extract correctly (the (?s) flags are load-bearing)") {
    val page = "<html lang=\"en\">\n<head>\n  <title>\n    Two\n" +
      "    Lines\n  </title>\n  <script>\n    var x = 1;\n  </script>\n" +
      "</head>\n<body>\n  <article>\n    <p>Line one\n" +
      "       continues.</p>\n    <!-- multi\n    line <b>comment</b>" +
      " -->\n    <p>Line two.</p>\n  </article>\n</body>\n</html>"
    val (_, lang, _, title, text) = extractOne(page)
    assert(lang === "en")
    assert(title === "Two Lines")
    assert(text === "Line one continues. Line two.")
  }

  // --- canonicalUrl ---

  test("canonicalUrl: each normalization rule and its boundaries") {
    val cases = Seq(
      // host/scheme case lowered, path case preserved
      "HTTPS://EXAMPLE.ORG/Path/X" -> "https://example.org/Path/X",
      // default ports dropped, non-default kept
      "http://a.com:80/x" -> "http://a.com/x",
      "https://a.com:443" -> "https://a.com",
      "http://a.com:8080/x" -> "http://a.com:8080/x",
      // fragment dropped
      "https://a.com/x#sec" -> "https://a.com/x",
      // tracking params dropped, real params kept, delimiters healed
      "https://a.com/x?utm_source=f&q=1" -> "https://a.com/x?q=1",
      "https://a.com/x?q=1&utm_a=2&gclid=z" -> "https://a.com/x?q=1",
      "https://a.com/x?utm_a=1&utm_b=2" -> "https://a.com/x",
      // trailing slash dropped (incl. root, pinned convention)
      "https://a.com/x/" -> "https://a.com/x",
      "https://a.com/" -> "https://a.com",
      // schemeless passes through steps 3-5 only
      "a.com/x/?utm_a=1#f" -> "a.com/x")
    val got = Dedup.canonicalUrl(col("u"))
    val df = cases.map(_._1).toDF("u").select(col("u"), got.as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(df(in) === want, s"canonicalUrl($in)")
    }
  }

  // --- BPE merge fold vs a reference implementation ---

  test("bpe merge fold matches a reference leftmost-non-overlapping " +
    "merge on randomized symbol sequences") {
    def refMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    val rnd = new scala.util.Random(42)
    val words = (1 to 60).map { _ =>
      (1 to (1 + rnd.nextInt(8))).map(_ => "ab" (rnd.nextInt(2))).mkString
    } :+ "a" :+ "b"
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val merges = TextStats.bpeTrain(docs, rounds = 4)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // replay the merge table with the reference merger over every
    // distinct word; the engine's symbol sequences must agree, which
    // indirectly re-derives the same per-round pair counts
    val expectVocab = words.distinct.map { w =>
      var syms = w.toVector.map(_.toString)
      merges.foreach { case (a, b) => syms = refMerge(syms, a, b) }
      w -> syms.mkString(" ")
    }.toMap
    // check via bpeEncode token counts (sum over words of |syms|)
    val wordList = words
    val wantTokens = wordList.map(w => expectVocab(w).split(" ").length.toLong).sum
    val gotTokens = TextStats.bpeEncode(docs, rounds = 4)
      .collect().head.getLong(2)
    assert(gotTokens === wantTokens)
  }

  test("incrementalRefresh: splice of kept + recomputed days equals " +
    "the full recompute; removed days are dropped") {
    def mk(rows: Seq[(String, Long, Double)]) = rows
      .toDF("ts0", "event_id", "value")
      .select(col("ts0").cast("timestamp").as("ts"), col("event_id"),
        col("value"))
    val oldDf = mk(Seq(
      ("2024-01-01 10:00:00", 1L, 5.0),   // unchanged day
      ("2024-01-02 10:00:00", 2L, 7.0),   // changed day (row added)
      ("2024-01-03 10:00:00", 3L, 9.0)))  // removed day
    val newDf = mk(Seq(
      ("2024-01-01 10:00:00", 1L, 5.0),
      ("2024-01-02 10:00:00", 2L, 7.0),
      ("2024-01-02 11:00:00", 4L, 1.5),
      ("2024-01-04 10:00:00", 5L, 2.0))) // added day
    val got = operators.Relational
      .incrementalRefresh(oldDf, newDf, Seq("event_id"))
    val full = newDf
      .groupBy(org.apache.spark.sql.functions.to_date(col("ts"))
        .cast("string").as("day"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_events"),
        org.apache.spark.sql.functions.sum(
          col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
    assert(rows(got) === rows(full))
    assert(!rows(got).exists(_.startsWith("2024-01-03")))
  }

  test("HtmlText.extract never throws on garbage input and keeps its " +
    "schema (robust ingestion)") {
    val rnd = new scala.util.Random(7)
    val garbage = (1 to 40).map { _ =>
      (1 to rnd.nextInt(60)).map(_ =>
        "<>/\"'&;ab= \tx!#?".charAt(rnd.nextInt(16))).mkString
    } ++ Seq("<", ">", "<<<>>>", "<script>", "</article>", "&amp",
      "<!--", "<title>", "a" * 500)
    val out = HtmlText.extract(garbage.toDF("value"))
    assert(out.columns.toSeq ===
      Seq("url", "lang", "charset", "title", "text"))
    assert(out.count() === garbage.length.toLong)
  }

  // --- partitionDiff count-fold (ADVICE r7) ---

  test("partitionDiff: an even number of added identical-row copies " +
    "is 'changed' via the count fold (xor alone would cancel)") {
    val mk = (rows: Seq[(String, Long)]) => rows
      .toDF("ts0", "event_id")
      .select(col("ts0").cast("timestamp").as("ts"), col("event_id"))
    val oldDf = mk(Seq(("2024-01-01 10:00:00", 1L)))
    // same day, the SAME row now present 3× (xor of the two extra
    // copies cancels: fp equal, count differs)
    val newDf = mk(Seq(("2024-01-01 10:00:00", 1L),
      ("2024-01-01 11:00:00", 1L), ("2024-01-01 12:00:00", 1L)))
    val got = operators.Relational
      .partitionDiff(oldDf, newDf, Seq("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("2024-01-01", "changed")))
  }
}
