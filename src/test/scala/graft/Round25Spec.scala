package graft

import org.apache.spark.sql.functions._

import graft.operators.Search

/** Round-12 pins, batch 1: the persisted two-tower hybrid retrieval
  * artifact (VERDICT r11 task 4 — serve RRF fusion from the stored
  * BM25 postings + stored dense vectors, never re-touching the corpus
  * text at query time).
  */
class Round25Spec extends SparkSpec {

  import spark.implicits._

  private def corpus = Seq(
    (0L, "spark shuffle exchange partitions data across executors"),
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "spark broadcast joins avoid the shuffle for small tables"),
    (3L, "a lazy dog sleeps while the fox runs through the forest"),
    (4L, "columnar parquet scans prune row groups by min max stats"),
    (5L, "executors spill to disk when the shuffle partition is large"),
    (6L, "dogs and foxes are mammals; parquet files are not"),
    (7L, "broadcast the dimension table and let catalyst pick the join"))
    .toDF("doc_id", "text")

  test("hybridRrfFromIndex: served fusion is bit-identical to the " +
    "in-plan hybridRrf — same docs, ranks, and 6-dp rrf scores") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spec_hybrid").toString
    val terms = Seq("shuffle", "fox")
    Search.hybridIndexWrite(corpus, dir)
    val served = Search.hybridRrfFromIndex(spark, dir, terms, k = 6)
    val inPlan = Search.hybridRrf(corpus, terms, k = 6)
    assert(rows(served) === rows(inPlan))
    assert(served.collect().nonEmpty)
  }

  test("hybridRrfFromIndex: query cost never re-reads the corpus — " +
    "the plan's parquet scans are only the artifact directories") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spec_hybrid2").toString
    val data = java.nio.file.Files
      .createTempDirectory("graft_spec_hybrid2_data").toString
    corpus.write.mode("overwrite").parquet(data)
    Search.hybridIndexWrite(spark.read.parquet(data), dir)
    val plan = Search.hybridRrfFromIndex(spark, dir, Seq("fox"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains(data),
      s"served plan re-scans the corpus dir:\n$plan")
  }

  test("winnowRewrite: the later doc of a verified pair loses exactly " +
    "its shared-span tokens; the earlier partner is not rewritten; " +
    "unpaired docs are untouched") {
    import graft.operators.Dedup
    // 16 shared tokens = two disjoint runs of window + k - 1 = 8, so
    // the winnowing guarantee yields >= 2 common fingerprints (the
    // pairing threshold), not just one
    val shared = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi"
    val d = Seq(
      (1L, s"unique prefix one two $shared"),
      (2L, s"$shared different suffix here now"),
      (3L, "totally unrelated text with nothing shared at all okay"))
      .toDF("doc_id", "text")
    val out = Dedup.winnowRewrite(d)
    val rowsById = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> r).toMap
    // only doc 2 (the later of the verified pair) is rewritten
    assert(rowsById.keySet === Set(2L))
    val r2 = rowsById(2L)
    assert(r2.getAs[Long]("n_tokens") === 20)
    // doc 2's pure-shared 5-grams (starts 1..12, all in doc 1's gram
    // set) cover positions 1..16; "different suffix here now" survives
    assert(r2.getAs[Long]("n_cut") === 16)
    assert(r2.getAs[String]("text_clean") ===
      "different suffix here now")
  }

  test("bloomMaintain: the streaming-maintained index is bit-identical " +
    "to a cold rebuild over the final lake, and serves exact lookups") {
    import graft.io.CompatIo
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_bloommaint").toString
    val got = graft.streaming.EventsStream.bloomMaintain(spark,
      "/root/testdata/sf0.001", s"$root/stage", s"$root/lake",
      s"$root/idx")
    // served lookups == the plain filters over the whole lake
    assert(rows(got.orderBy("l_orderkey", "l_linenumber")) ===
      rows(spark.read.parquet(s"$root/lake")
        .filter(col("l_orderkey").isin(577L, 578L, 579L))
        .orderBy("l_orderkey", "l_linenumber")))
    // maintained index ≡ cold rebuild: same (file, bitpos) set
    CompatIo.bloomIndexWrite(spark, s"$root/lake", s"$root/idx2",
      "l_orderkey")
    assert(rows(spark.read.parquet(s"$root/idx")
        .orderBy("file", "bitpos")) ===
      rows(spark.read.parquet(s"$root/idx2")
        .orderBy("file", "bitpos")))
  }

  test("bloomIndexAppend: self-initializes on a missing index dir " +
    "(a streaming maintainer can call append unconditionally)") {
    import graft.io.CompatIo
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_bloominit").toString
    (1L to 100L).toDF("k").repartition(2)
      .write.mode("overwrite").parquet(s"$root/data")
    CompatIo.bloomIndexAppend(spark, s"$root/data", s"$root/idx", "k")
    CompatIo.bloomIndexWrite(spark, s"$root/data", s"$root/idx2", "k")
    assert(rows(spark.read.parquet(s"$root/idx")
        .orderBy("file", "bitpos")) ===
      rows(spark.read.parquet(s"$root/idx2")
        .orderBy("file", "bitpos")))
  }

  test("lrTrain/lrScore/lrEval: on a separable corpus the GD loop " +
    "reaches accuracy 1.0, and training is deterministic run-to-run") {
    import graft.operators.Classify
    val sep = (0L until 200L).map { i =>
      val en = i % 2 == 0
      val text = if (en) "alpha beta gamma delta epsilon " * 6
                 else "uno dos tres cuatro cinco " * 6
      (i, text.trim, if (en) "en" else "es")
    }.toDF("doc_id", "text", "lang")
    val ev = Classify.lrEval(sep).collect().head
    assert(ev.getAs[Double]("accuracy") === 1.0)
    assert(ev.getAs[Long]("fp") === 0L && ev.getAs[Long]("fn") === 0L)
    // deterministic: two trainings yield the identical weight vector
    assert(rows(Classify.lrTrain(sep).orderBy("j")) ===
      rows(Classify.lrTrain(sep).orderBy("j")))
    // every weight sits on the 1e-12 grid (the quant12 contract that
    // makes the DuckDB twin replay training bit-for-bit)
    Classify.lrTrain(sep).collect().foreach { r =>
      val w = r.getDouble(1)
      val k = math.floor(w * 1e12 + 0.5) / 1e12
      assert(w === k, s"weight off the 1e-12 grid: $w")
    }
    Scope.releaseRoot()
  }

  test("lrAuc: perfect separation scores auc 1.0; a single-class " +
    "corpus yields NULL (0 pairs)") {
    import graft.operators.Classify
    val sep = (0L until 100L).map { i =>
      val en = i % 2 == 0
      val text = if (en) "alpha beta gamma delta epsilon " * 6
                 else "uno dos tres cuatro cinco " * 6
      (i, text.trim, if (en) "en" else "es")
    }.toDF("doc_id", "text", "lang")
    val r = Classify.lrAuc(sep).collect().head
    assert(r.getAs[Long]("pos_cnt") === 50L)
    assert(r.getAs[Long]("neg_cnt") === 50L)
    assert(r.getAs[Double]("auc") === 1.0)
    val mono = (0L until 20L).map(i => (i, "alpha beta " * 5, "en"))
      .toDF("doc_id", "text", "lang")
    assert(Classify.lrAuc(mono).collect().head.isNullAt(2))
    Scope.releaseRoot()
  }

  test("lrScoreFromArtifact: scores served from the persisted weight " +
    "vector are bit-identical to in-plan lrScore") {
    import graft.operators.Classify
    val sep = (0L until 120L).map { i =>
      val en = i % 2 == 0
      val text = if (en) "alpha beta gamma delta epsilon " * 5
                 else "uno dos tres cuatro cinco " * 5
      (i, text.trim, if (en) "en" else "es")
    }.toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spec_lrart").toString
    Classify.lrArtifactWrite(sep, dir)
    assert(rows(Classify.lrScoreFromArtifact(sep, dir)
        .orderBy("doc_id")) ===
      rows(Classify.lrScore(sep).orderBy("doc_id")))
    Scope.releaseRoot()
  }

  test("lrScoreIngest: per-batch streamed scoring from the persisted " +
    "weights equals one-shot batch scoring of the whole corpus") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_lrstream").toString
    val got = graft.streaming.EventsStream.lrScoreIngest(spark,
      "/root/testdata/sf0.001", s"$root/stage", s"$root/art",
      s"$root/res", 3, 1.0)
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    assert(rows(got.orderBy("doc_id")) ===
      rows(graft.operators.Classify.lrScore(d).orderBy("doc_id")))
    Scope.releaseRoot()
  }

  test("seasonalForecast/seasonalBacktest: y(t-7) projects exactly " +
    "one week past history off the zero-filled spine (hand-computed)") {
    import graft.operators.Relational
    // 21 days of history for type A: count = day index (0-based);
    // type B fires only on day 3 (zero-fill must supply its silence)
    val rows0 = (0 until 21).flatMap { d =>
      val ts = java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-01T12:00:00Z")
          .plusSeconds(d * 86400L))
      Seq.fill(d + 1)(("A", ts)) ++
        (if (d == 3) Seq(("B", ts)) else Nil)
    }.zipWithIndex.map { case ((t, ts), i) => (i.toLong, t, ts) }
    val ev = rows0.toDF("event_id", "event_type", "ts")
    val fc = Relational.seasonalForecast(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val d0 = java.time.Instant.parse("2024-01-01T12:00:00Z")
      .getEpochSecond / 86400
    // forecast days d0+21..d0+27 for A = counts of days 14..20
    for (k <- 0 until 7)
      assert(fc(("A", d0 + 21 + k)) === (14 + k + 1).toLong)
    // B forecasts its zero-filled silence everywhere
    assert((0 until 7).forall(k => fc(("B", d0 + 21 + k)) === 0L))
    // backtest: for A, |y(t) - y(t-7)| = 7 on every scored day → MAE 7
    val bt = Relational.seasonalBacktest(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(bt("A") === ((14L, 7.0)))
    // B: its single spike (day 3) sits BEFORE the 14-day backtest
    // window, so only the lookback hit at t = day 10 errs (|0-1|)
    // → MAE 1/14, round2 = 0.07
    assert(bt("B") === ((14L, 0.07)))
    Scope.releaseRoot()
  }

  test("bootstrapMeanCI: the interval brackets the mean, is " +
    "deterministic, and degenerates to a point on a constant column") {
    import graft.operators.Sampling
    val d = (1L to 400L).map(i => (i, (i % 100) + 1)).toDF("doc_id", "v")
    val r = Sampling.bootstrapMeanCI(d, "v").collect().head
    assert(r.getAs[Long]("n_reps") === 200L)
    val (mean, lo, hi) = (r.getAs[Double]("mean"),
      r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
    assert(lo <= mean && mean <= hi, s"CI does not bracket: $r")
    assert(hi - lo < 20.0, s"implausibly wide CI: $r")
    assert(rows(Sampling.bootstrapMeanCI(d, "v")) ===
      rows(Sampling.bootstrapMeanCI(d, "v")))
    // constant column: every replicate mean is the constant
    val c = (1L to 100L).map(i => (i, 7L)).toDF("doc_id", "v")
    val rc = Sampling.bootstrapMeanCI(c, "v").collect().head
    assert(rc.getAs[Double]("ci_lo") === 7.0 &&
      rc.getAs[Double]("ci_hi") === 7.0 &&
      rc.getAs[Double]("mean") === 7.0)
    Scope.releaseRoot()
  }

  test("forecastMaintain: the streaming-maintained forecast equals " +
    "the one-shot batch seasonalForecast, and the intermediate " +
    "version forecasts exactly its batch prefix") {
    import graft.operators.Relational
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_fcmaint").toString
    val got = graft.streaming.EventsStream.forecastMaintain(spark,
      "/root/testdata/sf0.001", s"$root/stage", s"$root/art")
    val ev = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "events")
    assert(rows(got.orderBy("event_type", "day")) ===
      rows(Relational.seasonalForecast(ev)
        .orderBy("event_type", "day")))
    // the surviving v1 artifact is the forecast of batches 0+1 only
    val v1 = spark.read.parquet(s"$root/art/v1/fc")
    assert(rows(v1.orderBy("event_type", "day")) ===
      rows(Relational.seasonalForecast(
          ev.filter(col("event_id") % 3 =!= 2))
        .orderBy("event_type", "day")))
    Scope.releaseRoot()
  }

  test("hits: in a bipartite star, the supplier bought by every " +
    "customer out-ranks niche suppliers, and the customer with the " +
    "widest basket is the top hub") {
    import graft.operators.Graph
    // orders o1..o4 by customers 1..4; customer k buys suppliers
    // {100} ∪ {100+k} — supplier 100 is the universal authority,
    // customer 4 additionally buys 105 (widest basket → top hub)
    val orders = Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L))
      .toDF("o_orderkey", "o_custkey")
    val li = Seq(
      (10L, 100L), (10L, 101L),
      (20L, 100L), (20L, 102L),
      (30L, 100L), (30L, 103L),
      (40L, 100L), (40L, 104L), (40L, 105L))
      .toDF("l_orderkey", "l_suppkey")
    val out = Graph.hits(orders, li).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val authUniversal = out(("supplier", 100L))
    val authNiche = Seq(101L, 102L, 103L, 104L, 105L)
      .map(s => out(("supplier", s)))
    assert(authNiche.forall(_ < authUniversal),
      s"universal supplier not top authority: $out")
    val hubs = Seq(1L, 2L, 3L, 4L).map(c => out(("customer", c)))
    assert(hubs.take(3).forall(_ < hubs(3)),
      s"widest-basket customer not top hub: $out")
    Scope.releaseRoot()
  }

  test("cdcDedupRewrite: an exact clone loses every chunk to the " +
    "earlier doc; the first occurrence reassembles unchanged; an " +
    "insertion-carrying near-copy still drops the shared tail chunks") {
    import graft.operators.Dedup
    // tok74/tok80/tok85 are CDC boundary tokens (md5 15-hex slice ≡ 0
    // mod 16 — verified by hand), so the base splits into ≥ 3 chunks
    // and the post-insertion tail re-synchronizes at tok74
    val base = ((60 to 73) ++ Seq(74, 80, 85) ++ (86 to 120))
      .map(i => s"tok$i").mkString(" ")
    val d = Seq(
      (1L, base),
      (2L, base), // exact clone — every chunk already seen
      (3L, s"inserted words here $base")) // shifted near-copy
      .toDF("doc_id", "text")
    val out = Dedup.cdcDedupRewrite(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_dropped") === 0L)
    assert(out(1L).getAs[String]("text_clean") === base)
    assert(out(2L).getAs[Long]("n_dropped") ===
      out(2L).getAs[Long]("n_chunks"))
    assert(out(2L).getAs[String]("text_clean") === "")
    // content-defined boundaries re-synchronize after the insertion:
    // every chunk of doc 3 that starts at a boundary past the insert
    // is byte-identical to a doc-1 chunk and drops; only the head
    // (carrying the insertion) can survive
    assert(out(3L).getAs[Long]("n_dropped") >= 1L,
      s"no chunk of the shifted near-copy deduped: ${out(3L)}")
    assert(out(3L).getAs[String]("text_clean").contains("inserted"))
    Scope.releaseRoot()
  }

  test("derivedClusters: the mean cluster population is capped by " +
    "targetPop for EVERY corpus size — the duel bound is corpus-size-" +
    "independent") {
    import graft.operators.Dedup
    for (n <- Seq(100L, 1024L, 100000L, 10000000L)) {
      val k = Dedup.derivedClusters(n, targetPop = 64, floor = 16)
      assert(n.toDouble / k <= 64.0,
        s"n=$n k=$k mean=${n.toDouble / k}")
    }
    assert(Dedup.derivedClusters(500, 64, 16) === 16) // floor wins
    assert(Dedup.derivedClusters(2000, 64, 16) === 32)
    assert(Dedup.derivedClusters(10000000L, 64, 16) === 156250)
  }

  test("semanticDedupBest: the default arm derives its codebook from " +
    "the corpus (>16 clusters appear once N/64 beats the floor) and " +
    "keep-best semantics are unchanged") {
    import graft.operators.Dedup
    // 1500 vectors over 32 orthogonal directions (i % 32): ids 0..23
    // are the derived codebook and cover 24 DISTINCT directions, so
    // every direction d < 24 assigns to cid = d exactly
    val emb = (0L until 1500L).map { i =>
      val v = Array.fill(32)(0.0f)
      v((i % 32).toInt) = 1.0f
      (i, v)
    }.toDF("vec_id", "embedding")
    val quality = (0L until 1500L).map(i => (i, i % 7)).toDF("vec_id", "q")
    val out = Dedup.semanticDedupBest(emb, quality, threshold = 0.99)
      .persist()
    // derivation: k = max(16, ceil(1500/64)) = 24 codebook entries —
    // the assigned cid set must stay within the 24 lowest ids and use
    // MORE than the legacy 16 (the derivation actually engaged)
    val cids = out.select("cid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cids.forall(_ < 24L), s"cid outside codebook: $cids")
    assert(cids.count(_ >= 16L) === 8,
      s"derivation never engaged (expected cids 16..23 assigned): $cids")
    // keep-best still holds: within every cluster the kept set is
    // exactly the per-(cluster, duel) winners — spot-check that every
    // cluster keeps >= 1 member and drops dominated ones
    val byCid = out.collect().groupBy(_.getAs[Long]("cid"))
    assert(byCid.values.forall(_.exists(_.getAs[Boolean]("keep"))))
    out.unpersist()
    Scope.releaseRoot()
  }

  test("readSnapshot: additive schema evolution cannot leak into a " +
    "pinned snapshot — the m1 read keeps the OLD schema and its rows " +
    "bit-identical, while the m2 read null-fills v1 rows") {
    import graft.io.CompatIo
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_snapevo").toString
    val v1 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    v1.coalesce(1).write.mode("overwrite").parquet(s"$root/data")
    CompatIo.manifestWrite(spark, s"$root/data", s"$root/m1")
    val before = rows(CompatIo.readSnapshot(spark, s"$root/data",
      s"$root/m1").orderBy("k"))
    // v2 files carry an ADDED column
    Seq((3L, 30L, "x")).toDF("k", "v", "tag")
      .coalesce(1).write.mode("append").parquet(s"$root/data")
    CompatIo.manifestWrite(spark, s"$root/data", s"$root/m2")
    val m1 = CompatIo.readSnapshot(spark, s"$root/data", s"$root/m1")
    assert(m1.schema.fieldNames.toSet === Set("k", "v"),
      s"m1 snapshot leaked the evolved column: ${m1.schema}")
    assert(rows(m1.orderBy("k")) === before)
    val m2 = CompatIo.readSnapshot(spark, s"$root/data", s"$root/m2")
    assert(m2.schema.fieldNames.toSet === Set("k", "v", "tag"))
    assert(m2.filter(col("k") < 3L && col("tag").isNull).count() === 2L)
    assert(m2.filter(col("tag") === "x").count() === 1L)
  }

  test("hybridIndexWrite: the dense tower stores the per-doc-pure " +
    "hash-embedding space (stored rows == in-plan hashEmbedBuckets)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spec_hybrid3").toString
    Search.hybridIndexWrite(corpus, dir)
    val stored = spark.read.parquet(s"$dir/dense")
    assert(rows(stored.orderBy("doc_id", "j")) ===
      rows(graft.operators.TextStats.hashEmbedBuckets(corpus)
        .orderBy("doc_id", "j")))
  }
}
