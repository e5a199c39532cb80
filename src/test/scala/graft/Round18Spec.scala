package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, HtmlText, Relational, TextStats}

/** Round-9 pins: the persisted-tokenizer artifact (train→write→apply
  * bit-identity with the in-plan encode, artifact layout contract) and
  * the materialized-rollup refresh (artifact round-trip ≡ full
  * recompute, value-mutation days classify 'changed').
  */
class Round18Spec extends SparkSpec {

  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_spec_$tag").toString

  // --- BPE tokenizer artifact ---

  test("bpeArtifactWrite + bpeEncodeFromArtifact: stored-artifact " +
    "encode is identical to the in-plan encode") {
    val docs = Seq(
      (1L, "the theme thesis"),
      (2L, "breathe the loathe"),
      (3L, "north north north the")).toDF("doc_id", "text")
    val dir = scratch("bpetok")
    TextStats.bpeArtifactWrite(docs, dir, rounds = 3)
    val stored = TextStats.bpeEncodeFromArtifact(docs, dir)
    val inplan = TextStats.bpeEncode(docs, rounds = 3)
    assert(rows(stored) === rows(inplan))
    assert(rows(stored).nonEmpty)
  }

  test("bpeArtifactWrite: artifact layout — ordered merge table under " +
    "merges/, trained (w, wf, repr) vocabulary under vocab/") {
    val docs = Seq(
      (1L, "aaab aaab aab"),
      (2L, "ab aaab")).toDF("doc_id", "text")
    val dir = scratch("bpelayout")
    TextStats.bpeArtifactWrite(docs, dir, rounds = 2)
    val merges = spark.read.parquet(s"$dir/merges")
    assert(merges.columns.toSeq === Seq("round", "a", "b", "cnt"))
    // round 1 merges the most frequent pair (a,a); round 2 exists
    assert(merges.orderBy("round").select("round", "a", "b")
      .as[(Long, String, String)].collect().head === ((1L, "a", "a")))
    assert(merges.count() === 2L)
    val vocab = spark.read.parquet(s"$dir/vocab")
    assert(vocab.columns.toSeq === Seq("w", "wf", "repr"))
    // every distinct corpus word is in the stored vocabulary
    assert(rows(vocab.select("w")) === Seq("aaab", "aab", "ab"))
    // reprs are space-joined symbol sequences whose concatenation
    // reconstructs the word (merge rounds never lose characters)
    assert(vocab.select(translate(col("repr"), " ", "") === col("w"))
      .as[Boolean].collect().forall(identity))
  }

  test("bpeEncodeFromArtifact: the merge loop does not re-run on " +
    "encode — encoding a corpus with unseen words keeps trained reprs") {
    val train = Seq((1L, "seen seen words")).toDF("doc_id", "text")
    val dir = scratch("bpeunseen")
    TextStats.bpeArtifactWrite(train, dir, rounds = 2)
    // 'novel' is not in the stored vocabulary: its words drop out of the
    // inner join (the documented in-vocab contract), while 'seen' still
    // encodes through the stored repr
    val apply = Seq((9L, "seen novel")).toDF("doc_id", "text")
    val got = TextStats.bpeEncodeFromArtifact(apply, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) === Seq(9L))
    assert(got.head._2 === 1L) // only the in-vocab word counted
  }

  test("bpeEncodeOov: replaying stored merges equals the vocab join " +
    "on in-vocab corpora, and encodes UNSEEN words instead of " +
    "dropping them") {
    val train = Seq(
      (1L, "the theme thesis"),
      (2L, "breathe the loathe")).toDF("doc_id", "text")
    val dir = scratch("bpeoov")
    TextStats.bpeArtifactWrite(train, dir, rounds = 3)
    // in-vocab corpus: both artifact paths agree
    assert(rows(TextStats.bpeEncodeOov(train, dir)) ===
      rows(TextStats.bpeEncodeFromArtifact(train, dir)))
    // OOV corpus: 'theory' was never seen — the vocab join drops it,
    // the merge replay encodes it with the trained merges applied
    val oov = Seq((9L, "theory")).toDF("doc_id", "text")
    assert(TextStats.bpeEncodeFromArtifact(oov, dir).count() === 0L)
    val got = TextStats.bpeEncodeOov(oov, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(t => (t._1, t._2)) === Seq((9L, 1L)))
    // 6 chars, with the trained merges that apply to 'theory' folded in
    assert(got.head._3 < 6L && got.head._3 >= 1L)
  }

  // --- HTML numeric character references ---

  private def htmlText(page: String): String =
    HtmlText.extract(Seq(page).toDF("value")).collect().head.getString(4)

  test("html numeric refs: decimal, zero-padded, and both hex digit " +
    "cases decode; typographic codes render their Unicode chars") {
    assert(htmlText("<html><body><article>A&#160;B&#xa0;C&#xA0;D" +
      "</article></body></html>") === "A B C D")
    assert(htmlText("<html><body><article>it&#039;s &#x27;q&#x27; " +
      "&#034;d&#034; &#8211; &#8212; &#8216;a&#8217; &#8220;b&#8221; " +
      "&#8230; &#169;&#174;&#176;</article></body></html>") ===
      "it's 'q' \"d\" – — ‘a’ “b” … ©®°")
  }

  test("html numeric refs: the &-valued refs decode in the LAST group " +
    "— one decode level, no double-decode") {
    // &amp;#160; -> literal "&#160;" (order pin vs &amp;)
    assert(htmlText("<html><body><article>X &amp;#160; Y" +
      "</article></body></html>") === "X &#160; Y")
    // &#38;lt; -> "&lt;" (a numeric amp cannot cascade into &lt;)
    assert(htmlText("<html><body><article>A &#38;lt; B &#x26;gt; C" +
      "</article></body></html>") === "A &lt; B &gt; C")
    // a decoded '<' from a numeric ref is never re-parsed as a tag
    assert(htmlText("<html><body><article>lt &#060;b&#062; end" +
      "</article></body></html>") === "lt <b> end")
  }

  // --- materialized-rollup incremental refresh ---

  private def ev(id: Long, user: Long, typ: String, day: Int,
                 value: Double) =
    (id, user, typ, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"),
      value)

  private def evDf(rows: (Long, Long, String, Timestamp, Double)*) =
    rows.toDF("event_id", "user_id", "event_type", "ts", "value")

  private val RowCols = Seq("event_id", "user_id", "event_type")

  private def fullDaily(df: org.apache.spark.sql.DataFrame) = df
    .groupBy(to_date(col("ts")).cast("string").as("day"))
    .agg(count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(18,6)")).cast("double")
        .as("sum_value"))

  test("incrementalRefreshFromArtifact: write→refresh→serve round-trip " +
    "equals the full recompute (added, changed, removed, unchanged days)") {
    val oldDf = evDf(
      ev(1, 1, "click", 1, 1.5), ev(2, 2, "view", 1, 2.5), // unchanged
      ev(3, 1, "click", 2, 3.0),                           // changed
      ev(4, 3, "purchase", 3, 9.0))                        // removed
    val newDf = evDf(
      ev(1, 1, "click", 1, 1.5), ev(2, 2, "view", 1, 2.5),
      ev(3, 1, "click", 2, 3.0), ev(5, 4, "view", 2, 4.0),
      ev(6, 5, "click", 4, 7.0))                           // added day
    val d0 = scratch("rollup_a")
    val d1 = scratch("rollup_b")
    Relational.rollupArtifactWrite(oldDf, d0, RowCols)
    val got = Relational.incrementalRefreshFromArtifact(
      newDf, d0, d1, RowCols)
    assert(rows(got) === rows(fullDaily(newDf)))
    // the refreshed artifact is itself servable: a THIRD night's
    // refresh from d1 with no data change returns the same rollup
    val d2 = scratch("rollup_c")
    val again = Relational.incrementalRefreshFromArtifact(
      newDf, d1, d2, RowCols)
    assert(rows(again) === rows(fullDaily(newDf)))
  }

  test("refresh family: a day whose row IDENTITIES survived but whose " +
    "value mutated classifies 'changed' — no stale sum is kept") {
    val oldDf = evDf(ev(1, 1, "click", 1, 10.0), ev(2, 2, "view", 2, 5.0))
    // same event_id/user_id/event_type rows; day 1's value changed
    val newDf = evDf(ev(1, 1, "click", 1, 20.0), ev(2, 2, "view", 2, 5.0))
    // in-plan form (round-8 ADVICE: the fingerprint folds `value` in)
    val inplan = Relational.incrementalRefresh(oldDf, newDf, RowCols)
    assert(rows(inplan) === rows(fullDaily(newDf)))
    // artifact form
    val d0 = scratch("rollup_mut_a")
    val d1 = scratch("rollup_mut_b")
    Relational.rollupArtifactWrite(oldDf, d0, RowCols)
    val stored = Relational.incrementalRefreshFromArtifact(
      newDf, d0, d1, RowCols)
    assert(rows(stored) === rows(fullDaily(newDf)))
    assert(rows(stored).exists(_.contains("20.0")))
  }

  test("incrementalRefreshFromArtifact: the old snapshot is never " +
    "an input — refresh sees only the artifact and the new snapshot") {
    // structural pin of the scale contract: the refresh signature takes
    // (newDf, oldDir, newDir) — there is no old-snapshot DataFrame to
    // scan. Feeding a WRONG old snapshot's artifact changes nothing as
    // long as fingerprints mark every day dirty: all days recompute
    // from newDf alone.
    val bogusOld = evDf(ev(99, 9, "view", 5, 1.0))
    val newDf = evDf(ev(1, 1, "click", 1, 2.0), ev(2, 2, "view", 2, 3.0))
    val d0 = scratch("rollup_bogus_a")
    val d1 = scratch("rollup_bogus_b")
    Relational.rollupArtifactWrite(bogusOld, d0, RowCols)
    val got = Relational.incrementalRefreshFromArtifact(
      newDf, d0, d1, RowCols)
    assert(rows(got) === rows(fullDaily(newDf)))
  }

  // --- bounded-round weighted shortest path ---

  test("ssspBounded: a cheaper two-edge path beats a direct expensive " +
    "edge, and later rounds improve settled nodes") {
    //   1 --100--> 2          (direct)
    //   1 --10--> 3 --10--> 2 (cheaper, two edges)
    //   2 --5--> 4            (reachable only via 2)
    val wedges = Seq(
      (1L, 2L, 100L), (1L, 3L, 10L), (3L, 2L, 10L), (2L, 4L, 5L))
      .toDF("src", "dst", "w")
    val sources = Seq(1L).toDF("node")
    def dists(rounds: Int): Map[Long, Long] =
      Graph.ssspBounded(sources, wedges, rounds)
        .as[(Long, Long)].collect().toMap
    // round 1: only direct edges
    assert(dists(1) === Map(1L -> 0L, 2L -> 100L, 3L -> 10L))
    // round 2: node 2 IMPROVES from 100 to 20 (weighted relaxation is
    // not first-reached-wins), node 4 appears via the old dist of 2
    assert(dists(2) === Map(1L -> 0L, 2L -> 20L, 3L -> 10L, 4L -> 105L))
    // round 3: node 4 improves through the now-cheaper node 2
    assert(dists(3) === Map(1L -> 0L, 2L -> 20L, 3L -> 10L, 4L -> 25L))
  }

  test("ssspBounded equals a plain synchronous Bellman-Ford round for " +
    "round (including the settled-node-improvement rounds)") {
    val edges = Seq(
      (1L, 2L, 100L), (1L, 3L, 10L), (3L, 2L, 10L), (2L, 4L, 5L),
      (4L, 5L, 1L), (2L, 5L, 50L))
    val wedges = edges.toDF("src", "dst", "w")
    val sources = Seq(1L).toDF("node")
    // every known distance relaxes every out-edge, from the previous
    // round's distances only
    var dist = Map(1L -> 0L)
    for (r <- 1 to 5) {
      val offers = for ((s, d, w) <- edges; ds <- dist.get(s))
        yield d -> (ds + w)
      val best = offers.groupMapReduce(_._1)(_._2)(math.min)
      dist = (dist.keySet ++ best.keySet)
        .map(n => n -> (dist.get(n) ++ best.get(n)).min).toMap
      assert(rows(Graph.ssspBounded(sources, wedges, r)) ===
        dist.toSeq.map { case (n, c) => s"$n|$c" }.sorted, s"rounds=$r")
    }
  }

  test("ssspBounded: multi-source takes the per-node minimum over " +
    "sources") {
    val wedges = Seq((1L, 2L, 7L), (5L, 2L, 3L))
      .toDF("src", "dst", "w")
    val got = Graph.ssspBounded(Seq(1L, 5L).toDF("node"), wedges, 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 5L -> 0L, 2L -> 3L))
  }

  test("iterative loops release superseded checkpoint blocks: only " +
    "O(1) frames stay resident after a multi-round run") {
    val sc = spark.sparkContext
    // the 41-node chain, as an edge list, a weighted edge list, a
    // canonical pair list and a purchase graph (customer i buys from
    // suppliers i and i+1), plus a near-dup chain of documents
    val chain = (1L to 40L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val edges = chain.toDF("src", "dst")
    val wedges = chain.map { case (a, b) => (a, b, 2L) }
      .toDF("src", "dst", "w")
    val pairs = (1L to 40L).map(i => (i, i + 1)).toDF("key_a", "key_b")
    val labels0 = (1L to 41L).toDF("node")
      .select(col("node"), col("node").as("lbl"))
    val src = Seq(1L).toDF("node")
    val orders = (1L to 20L).map(i => (i, i)).toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 20L).flatMap(i => Seq((i, i), (i, i + 1)))
      .toDF("l_orderkey", "l_suppkey")
    val docs = (1L to 12L).map(i =>
      (i, (i until i + 12).map(w => s"w$w").mkString(" ")))
      .toDF("doc_id", "text")
    // every Graph.iterate caller, 8 rounds or its cap
    val callers = Seq[(String, () => Long)](
      "pageRank" -> (() => Graph.pageRank(orders, lineitem, 8).count()),
      "personalizedPageRank" -> (() =>
        Graph.personalizedPageRank(orders, lineitem, 8).count()),
      "pageRankConverged" -> (() => Graph.pageRankConverged(orders,
        lineitem, residualDiv = 1000000L, maxRounds = 8).count()),
      "pageRankOverEdges" -> (() =>
        Graph.pageRankOverEdges(wedges, 8).count()),
      "minLabelPropagate" -> (() =>
        Graph.minLabelPropagate(labels0, edges, 8).count()),
      "minLabelFixpoint" -> (() =>
        Graph.minLabelFixpoint(labels0, edges, 8)._1.count()),
      "labelPropagate" -> (() =>
        Graph.labelPropagate(labels0, edges, 8).count()),
      "kCorePeel" -> (() => Graph.kCorePeel(pairs, 1, 8).count()),
      "kCoreFixpoint" -> (() => Graph.kCoreFixpoint(pairs, 2, 8)._1.count()),
      "purchaseKCore" -> (() =>
        Graph.purchaseKCore(orders, lineitem, 8).count()),
      "bfsHops" -> (() => Graph.bfsHops(src, edges, 8).count()),
      "ssspBounded" -> (() => Graph.ssspBounded(src, wedges, 8).count()),
      "assignCanonical" -> (() => Dedup.assignCanonical(docs,
        threshold = 0.5, maxIter = 8, driverCcMaxEdges = 0L).count()))
    holdingRdds { grab =>
      for ((name, run) <- callers) {
        grab()
        val before = sc.getPersistentRDDs.keySet
        val grown = Scope.run {
          run()
          sc.getPersistentRDDs.size - before.size
        }
        // inside the scope only the operator's held inputs and final
        // state stay (7 for assignCanonical, the most): each loop has
        // released its superseded rounds
        assert(grown <= 8, s"$name: resident frames grew by $grown")
        // the scope then releases the rest, and nothing it did not hold
        val after = sc.getPersistentRDDs.keySet
        assert(after == before, s"$name: left ${after diff before}, " +
          s"dropped ${before diff after}")
      }
    }
  }

  test("pageRankWeighted: mass follows edge weight — the heavier " +
    "supplier outranks the lighter one where uniform PageRank ties") {
    val orders = Seq((100L, 1L), (101L, 1L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((100L, 8L, 99.0), (101L, 9L, 1.0))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
    val ranks = Graph.pageRankWeighted(orders, lineitem, iters = 3)
      .as[(String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(ranks(("supplier", 8L)) > ranks(("supplier", 9L)))
    // uniform PageRank cannot distinguish them (same degree/topology)
    val uni = Graph.pageRank(orders, lineitem, iters = 3)
      .as[(String, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(uni(("supplier", 8L)) === uni(("supplier", 9L)))
  }

  test("purchaseWeightedEdges: weight is the cheapest linking price " +
    "in exact cents, symmetric") {
    val orders = Seq((100L, 1L), (101L, 1L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((100L, 9L, 12.34), (101L, 9L, 10.01))
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice")
    val got = Graph.purchaseWeightedEdges(orders, lineitem)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 19L, 1001L), (19L, 2L, 1001L)))
  }
}
