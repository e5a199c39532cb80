package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, Relational}
import graft.multimodal.Multimodal

/** Round-7 second-session pins: Adamic–Adar link prediction, the
  * integer-exact EWMA, pixel-budget batch packing, and the append-mode
  * window-finalization rule.
  */
class Round16Spec extends SparkSpec {

  import spark.implicits._

  // --- adamicAdar ---

  test("adamicAdar: shared-part score is the round2(1/ln deg) sum and " +
    "the hub cap excludes hot parts") {
    // parts: p1 bought by c1,c2 (deg 2); p2 by c1,c2,c3 (deg 3);
    // p9 by everyone (hub, excluded at maxDeg=3... use 2 to exclude)
    val orders = Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (1L, 100L), (2L, 100L),            // p100: c10, c20
      (1L, 200L), (2L, 200L), (3L, 200L) // p200: c10, c20, c30 (hub)
    ).toDF("l_orderkey", "l_partkey")
    val got = Graph.adamicAdar(orders, lineitem, maxDeg = 2L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only p100 survives the cap: score(c10,c20) = round2(1/ln 2) = 1.44
    assert(got.toSeq == Seq((10L, 20L, 1.44)))
    // without the cap p200 adds round2(1/ln 3) = 0.91 to three pairs
    val all = Graph.adamicAdar(orders, lineitem, maxDeg = 200L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(all == Seq((10L, 20L, 2.35), (10L, 30L, 0.91),
      (20L, 30L, 0.91)))
  }

  test("adamicAdar: top-k ties break on (cust_a, cust_b) ascending") {
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("o_orderkey", "o_custkey")
    // two disjoint pairs with identical scores
    val lineitem = Seq((1L, 100L), (2L, 100L), (3L, 200L), (4L, 200L))
      .toDF("l_orderkey", "l_partkey")
    val got = Graph.adamicAdar(orders, lineitem, maxDeg = 200L, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  // --- ewmaDailyRevenue ---

  test("ewmaDailyRevenue: scaled value is the exact cents*2^(7-k) sum " +
    "and a gap day decays the average") {
    val orders = Seq(
      ("1995-01-01", 100.00), // day 0
      ("1995-01-02", 10.00),  // day 1
      ("1995-01-04", 1.00)    // day 3 (day 2 missing)
    ).toDF("o_orderdate", "o_totalprice")
    val got = Relational.ewmaDailyRevenue(orders)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // day 0: 10000c*128 = 1280000; ewma = 1280000/12800 = 100.0
    assert(got("1995-01-01") == ((1280000L, 100.0)))
    // day 1: 10000*64 + 1000*128 = 768000 → 60.0
    assert(got("1995-01-02") == ((768000L, 60.0)))
    // day 3: 10000*16 + 1000*32 + 100*128 = 204800 → 16.0
    // (the missing day 2 emitted nothing but still halved the decay)
    assert(got("1995-01-04") == ((204800L, 16.0)))
    assert(got.size == 3) // gap days and horizon tails are not emitted
  }

  // --- packBatches ---

  test("packBatches: per-shard batch totals stay within budget + max " +
    "item and batch ids are dense from 0") {
    val media = Multimodal.withPayload(
      (1L to 400L).map(i => (i, s"doc text $i ${"x" * (i.toInt % 37)}"))
        .toDF("doc_id", "text"))
    val budget = 400000L
    val out = Multimodal.packBatches(media, pixelBudget = budget)
      .persist()
    val maxPx = out.agg(max("px")).head().getLong(0)
    val batches = out.groupBy("shard", "batch")
      .agg(sum("px").as("total"), count(lit(1)).as("n"))
      .collect()
    assert(batches.nonEmpty)
    // every batch's start offset is inside its quota: total stays
    // under budget + the largest member
    batches.foreach { b =>
      assert(b.getLong(2) < budget + maxPx,
        s"shard ${b.getLong(0)} batch ${b.getLong(1)}: ${b.getLong(2)}")
    }
    // per shard, batch ids are 0..max dense
    out.groupBy("shard").agg(countDistinct("batch").as("nb"),
        max("batch").as("mb"))
      .collect().foreach(r =>
        assert(r.getLong(1) == r.getLong(2) + 1, r.toString))
    out.unpersist()
  }

  test("packBatches: assignment is per-shard — appending docs to one " +
    "shard never moves another shard's batches") {
    val base = Multimodal.withPayload(
      (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "text"))
    val before = Multimodal.packBatches(base).persist()
    // find a doc id landing in some shard s0, then append a new doc
    // in that same shard; other shards' assignments must be identical
    val s0 = before.select("shard").head().getLong(0)
    val extraId = spark.range(100000L, 100200L)
      .select(col("id"),
        (conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 16).as("s"))
      .filter(col("s") === s0).orderBy("id").head().getLong(0)
    val withExtra = Multimodal.withPayload(
      ((1L to 200L) :+ extraId).map(i => (i, s"text $i"))
        .toDF("doc_id", "text"))
    val after = Multimodal.packBatches(withExtra)
    assert(rows(after.filter(col("shard") =!= s0)) ==
      rows(before.filter(col("shard") =!= s0)))
    before.unpersist()
  }

  // --- bpePairStats ---

  test("bpePairStats: pair counts are word-frequency-weighted over the " +
    "distinct-word dictionary; 1-char words drop") {
    import graft.operators.TextStats
    val docs = Seq(
      (1L, "ab ab x ba"),
      (2L, "AB cd")  // normalization folds AB into ab
    ).toDF("doc_id", "text")
    val got = TextStats.bpePairStats(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    // wf: ab=3, ba=1, cd=1; x is 1-char → filtered
    assert(got(("a", "b")) == ((3L, 1L)))
    assert(got(("b", "a")) == ((1L, 2L))) // cnt tie with (c,d): a < c
    assert(got(("c", "d")) == ((1L, 3L)))
    assert(got.size == 3)
  }

  // --- giniSpend ---

  test("giniSpend: uniform spends give gini 0; extreme concentration " +
    "approaches (n-1)/n") {
    import graft.operators.Relational
    val uniform = (1L to 10L).map(c => (c, 100.0))
      .toDF("o_custkey", "o_totalprice")
    val g0 = Relational.giniSpend(uniform).head()
    assert(g0.getLong(0) == 10L && g0.getDouble(2) == 0.0)
    // one customer holds ~everything: G → (n-1)/n = 0.9 − ε
    val concentrated = ((1L to 9L).map(c => (c, 0.01)) :+ (10L, 10000.0))
      .toDF("o_custkey", "o_totalprice")
    val g1 = Relational.giniSpend(concentrated).head().getDouble(2)
    // 4-dp rounding lands exactly on the (n-1)/n = 0.9 limit
    assert(g1 > 0.89 && g1 <= 0.9, s"gini $g1")
  }

  // --- quoted CSV round-trip ---

  test("writeQuotedCsv/readQuotedCsv: quotes, commas, newlines, and " +
    "empty strings survive the round-trip") {
    import org.apache.spark.sql.types._
    val gnarly = Seq(
      (1L, "plain", "en"),
      (2L, "comma, separated, fields", "en"),
      (3L, "a \"quoted\" word", "de"),
      (4L, "line one\nline two\r\nline three", "es"),
      (6L, "trailing quote\"", "en")
    ).toDF("doc_id", "text", "lang")
    val out = java.nio.file.Files
      .createTempDirectory("graft_quotedcsv_").toString
    graft.io.CompatIo.writeQuotedCsv(gnarly, out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val back = graft.io.CompatIo.readQuotedCsv(spark, out, schema)
    assert(rows(back) == rows(gnarly))
    // the dialect's known lossy corner, pinned: an EMPTY string is
    // written as "" but the reader's nullValue default maps "" back
    // to NULL — CSV cannot distinguish the two (JSONL can; use it
    // when empties are semantic)
    val empty = Seq((5L, "", "fr")).toDF("doc_id", "text", "lang")
    val out2 = java.nio.file.Files
      .createTempDirectory("graft_quotedcsv2_").toString
    graft.io.CompatIo.writeQuotedCsv(empty, out2)
    val r2 = graft.io.CompatIo.readQuotedCsv(spark, out2, schema)
      .collect()
    assert(r2.length == 1 && r2.head.isNullAt(1))
  }

  // --- iqrOutliers ---

  test("iqrOutliers: flags exactly the values outside the Tukey " +
    "fences of the exact quartiles; NULLs never flag") {
    import graft.operators.Relational
    // n=11 values 0..10 → q1 = value at rank (10 div 4)+1 = 3rd = 2,
    // q3 = rank (30 div 4)+1 = 8th = 7, IQR 5 → fences [-5.5, 14.5];
    // add 20 (high), -20 (low) and a NULL → n=13: ranks shift to
    // q1 = 4th of sorted {-20,0..10,20} = 2, q3 = 10th = 8, IQR 6 →
    // fences [-7, 17] → outliers: -20 (low), 20 (high)
    val events = ((0 to 10).map(i => (i.toLong, "a", Some(i.toDouble))) ++
      Seq((90L, "a", Some(20.0)), (91L, "a", Some(-20.0)),
        (92L, "a", None))).toDF("event_id", "event_type", "value")
    val got = Relational.iqrOutliers(events)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq.sorted
    assert(got == Seq((90L, "high"), (91L, "low")))
  }

  // --- mixtureSampleByTokens ---

  test("mixtureSampleByTokens: long-doc strata are sized by tokens, " +
    "so equal targets keep fewer of their rows than a row-count mix") {
    import graft.operators.Sampling
    // stratum a: 100 docs of 1 token; stratum b: 100 docs of 10
    // tokens. Equal targets → token mix must keep ~10% of b's ROWS
    // (its token mass is 10×), where the row mix keeps ~100%.
    val docs = ((1L to 100L).map(i => (i, "x", "a")) ++
      (101L to 200L).map(i => (i, Seq.fill(10)("x").mkString(" "), "b")))
      .toDF("doc_id", "text", "lang")
    val targets = Map("a" -> 0.5, "b" -> 0.5)
    val tok = Sampling.mixtureSampleByTokens(docs, targets)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tok("a") == 100L) // smallest token stratum keeps all
    assert(tok.getOrElse("b", 0L) < 25L, tok.toString) // ~10 expected
    val rows = Sampling.mixtureSample(docs, targets)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("a") == 100L && rows("b") == 100L)
  }

  // --- personalizedPageRank ---

  test("personalizedPageRank: on a star the hub is the sole source, " +
    "rank decays from it, leaves stay symmetric, and mass is " +
    "conserved up to floor leakage") {
    // customer 1 buys from suppliers 1..8 → star: customer node deg 8
    // (mean degree 16/9 = 1, thr 3 → hub is the only source)
    val orders = (1L to 8L).map(i => (i, 1L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = (1L to 8L).map(i => (i, i))
      .toDF("l_orderkey", "l_suppkey")
    val got = Graph.personalizedPageRank(orders, lineitem)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val hub = got(("customer", 1L))
    val leaves = got.filter(_._1._1 == "supplier").values.toSeq
    assert(leaves.size == 8 && leaves.distinct.size == 1)
    assert(hub > leaves.head, s"hub $hub vs leaf ${leaves.head}")
    val total = hub + leaves.sum
    val M = Graph.TotalMass
    assert(total <= M && total > M - 1000L, s"mass $total")
  }

  // --- funnelWindowed ---

  test("funnelWindowed: the deadline is inclusive at exactly maxGap " +
    "and measured against the previous frontier, not any later event") {
    import graft.operators.Relational
    def ev(id: Long, t: String, typ: String, u: Long) =
      (id, java.sql.Timestamp.valueOf(t), typ, u)
    val events = Seq(
      // user 1: click exactly 24h after the view frontier → kept
      ev(1, "2026-01-01 10:00:00", "view", 1),
      ev(2, "2026-01-02 10:00:00", "click", 1),
      // user 2: click 24h + 1s → dropped
      ev(3, "2026-01-01 10:00:00", "view", 2),
      ev(4, "2026-01-02 10:00:01", "click", 2),
      // user 3: has a LATER view inside the window, but the frontier
      // is the FIRST view — click lands outside 24h of it → dropped
      ev(5, "2026-01-01 10:00:00", "view", 3),
      ev(6, "2026-01-02 09:00:00", "view", 3),
      ev(7, "2026-01-03 08:00:00", "click", 3)
    ).toDF("event_id", "ts", "event_type", "user_id")
      .select("user_id", "event_type", "ts")
    val got = Relational.funnelWindowed(events,
      Seq("view", "click"), maxGapHours = 24L)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("view" -> 3L, "click" -> 1L))
  }

  // --- revenueDeciles ---

  test("revenueDeciles: highest spenders land in decile 1, shares sum " +
    "to ~10000 bp, and counts cover every customer") {
    import graft.operators.Relational
    // 20 customers: spend 100, 200, ..., 2000 (2 per decile)
    val orders = (1L to 20L).map(c => (c, c * 100.0))
      .toDF("o_custkey", "o_totalprice")
    val got = Relational.revenueDeciles(orders)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got.size == 10)
    assert(got.values.map(_._1).sum == 20L)
    // decile 1 = the two biggest spenders (2000 + 1900)
    assert(got(1L)._2 == 3900.0)
    // total spend 21000; decile-1 share = 3900/21000 ≈ 1857 bp
    assert(got(1L)._3 == 1857L)
    val bpSum = got.values.map(_._3).sum
    assert(bpSum >= 9995L && bpSum <= 10005L, s"bp sum $bpSum")
  }

  // --- hllMaintain ---

  test("hllMaintain: both contract booleans hold on a split with " +
    "overlapping users, and exact counts are unioned not summed") {
    import graft.operators.Relational
    def ev(id: Long, t: String, typ: String, u: Long) =
      (id, java.sql.Timestamp.valueOf(t), typ, u)
    // users 1..400 pre-cutoff, 201..600 post → exact distinct 600
    // (a sum-based "merge" would say 800 — the overlap is the point)
    val cutoff = "2024-01-30 12:00:00" // unix_micros 1706616000000000
    val events = ((1L to 400L).map(u =>
      ev(u, "2024-01-15 10:00:00", "a", u)) ++
      (201L to 600L).map(u => ev(1000 + u, "2024-02-10 10:00:00", "a", u)))
      .toDF("event_id", "ts", "event_type", "user_id")
    assert(spark.sql(s"SELECT unix_micros(TIMESTAMP '$cutoff')")
      .head().getLong(0) == 1706616000000000L)
    val got = Relational.hllMaintain(events).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(1) == 600L)
    assert(r.getBoolean(2) && r.getBoolean(3), r.toString)
  }

  // --- partitionDiff ---

  test("partitionDiff: all four statuses fire and the fingerprint is " +
    "row-order-insensitive") {
    import graft.operators.Relational
    def ev(id: Long, t: String, typ: String, u: Long) =
      (id, java.sql.Timestamp.valueOf(t), typ, u)
    val oldDf = Seq(
      ev(1, "2026-01-01 10:00:00", "a", 7), // day 1: unchanged
      ev(2, "2026-01-02 10:00:00", "a", 7), // day 2: will change
      ev(3, "2026-01-03 10:00:00", "a", 7)  // day 3: removed
    ).toDF("event_id", "ts", "event_type", "user_id")
    val newDf = Seq(
      ev(1, "2026-01-01 10:00:00", "a", 7),
      ev(2, "2026-01-02 10:00:00", "b", 7), // payload changed
      ev(4, "2026-01-04 10:00:00", "a", 7)  // day 4: added
    ).toDF("event_id", "ts", "event_type", "user_id")
    val cols = Seq("event_id", "user_id", "event_type")
    val got = Relational.partitionDiff(oldDf, newDf, cols)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("2026-01-01" -> "unchanged",
      "2026-01-02" -> "changed", "2026-01-03" -> "removed",
      "2026-01-04" -> "added"))
    // xor fingerprint: permuting rows within a day changes nothing
    val shuffled = newDf.orderBy(col("event_type").desc)
    val got2 = Relational.partitionDiff(newDf, shuffled, cols)
      .collect().map(_.getString(1)).distinct.toSeq
    assert(got2 == Seq("unchanged"))
  }

  // --- decaySample ---

  test("decaySample: band 0 keeps everything, each band halves the " +
    "threshold, and thinning is subset-monotone (no resampling)") {
    import graft.operators.Sampling
    def ev(id: Long, t: String) =
      (id, java.sql.Timestamp.valueOf(t))
    // 200 ids in each of band 0 (day 0) and band 2 (day 15)
    val events = ((1L to 200L).map(i => ev(i, "2026-03-01 12:00:00")) ++
      (201L to 400L).map(i => ev(i, "2026-02-14 12:00:00")))
      .toDF("event_id", "ts")
    val out = Sampling.decaySample(events).persist()
    val byBand = out.groupBy("band").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBand(0L) == 200L) // threshold 10000: nothing dropped
    // band 2 threshold 2500: roughly a quarter kept, and exactly the
    // ids whose bucket < 2500 — verify subset-monotonicity: the band-2
    // keeps are a subset of what band 1's 5000 threshold would keep
    assert(byBand(2L) > 0L && byBand(2L) < 200L)
    val kept2 = out.filter(col("band") === 2).select("event_id")
    val hypo1 = events.filter(col("event_id") >= 201L)
      .select(col("event_id"),
        (Sampling.hashValue(col("event_id"), "graft-decay") % 10000L)
          .as("bucket"))
      .filter(col("bucket") < 5000).select("event_id")
    assert(kept2.join(hypo1, Seq("event_id"), "left_anti").isEmpty)
    out.unpersist()
  }

  // --- bpeApplyTopMerge ---

  test("bpeApplyTopMerge: top pair merges leftmost non-overlapping " +
    "(aaa merges once); non-matching words pass through") {
    import graft.operators.TextStats
    // wf: aaa=3, ab=1, xy=1 → pair (a,a) cnt 6 (2 per 'aaa' occurrence
    // ... weighted: 2 positions × wf 3 = 6) beats (a,b)=1, (x,y)=1
    val docs = Seq((1L, "aaa aaa ab"), (2L, "aaa xy"))
      .toDF("doc_id", "text")
    val got = TextStats.bpeApplyTopMerge(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(got("aaa") == ((3L, "(aa)a", 1L)))
    assert(got("ab") == ((1L, "ab", 0L)))
    assert(got("xy") == ((1L, "xy", 0L)))
  }

  // --- samp_split_grouped semantics ---

  test("group-keyed splitByHash: every group lands wholly in one split") {
    import graft.operators.Sampling
    val docs = (1L to 300L)
      .map(i => (i, s"src_${i % 17}")).toDF("doc_id", "source")
    val out = Sampling.splitByHash(docs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      keyCol = "source")
    val perGroup = out.groupBy("source")
      .agg(countDistinct("split").as("ns")).collect()
    assert(perGroup.nonEmpty)
    perGroup.foreach(r => assert(r.getLong(1) == 1L, r.toString))
    // and the split is a function of source only: same groups, fewer
    // rows → identical assignment
    val sub = Sampling.splitByHash(docs.filter(col("doc_id") <= 17),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      keyCol = "source").select("source", "split").distinct()
    val full = out.select("source", "split").distinct()
    assert(rows(sub) == rows(full.join(sub.select("source"),
      Seq("source"), "left_semi").distinct()))
  }

  // --- kAnonymityAudit ---

  test("kAnonymityAudit: small groups and homogeneous groups flag; " +
    "large diverse groups pass") {
    import graft.operators.Relational
    def cust(seg: String, nat: Long, bal: Double) = (seg, nat, bal)
    val rows =
      // group A: 5 members, 2 bands → safe
      Seq.fill(3)(cust("AUTO", 1L, -10.0)) ++
        Seq.fill(2)(cust("AUTO", 1L, 9000.0)) ++
        // group B: 2 members (k violation) though diverse
        Seq(cust("BLDG", 2L, -5.0), cust("BLDG", 2L, 100.0)) ++
        // group C: 6 members, all 'mid' (l violation)
        Seq.fill(6)(cust("MACH", 3L, 100.0))
    val df = rows.toDF("c_mktsegment", "c_nationkey", "c_acctbal")
    val got = Relational.kAnonymityAudit(df)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got("AUTO") == ((5L, 2L, false)))
    assert(got("BLDG") == ((2L, 2L, true)))
    assert(got("MACH") == ((6L, 1L, true)))
  }

  // --- mmrTopK ---

  test("mmrTopK: demotes the near-duplicate the brute ranking puts " +
    "second; ranks are dense 1..k") {
    import graft.operators.Similarity
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cands = Seq(
      (1L, Array(0.9f, 0.1f)),  // top rel (~0.994)
      (2L, Array(0.8f, 0.2f)),  // near-dup of 1 (sim ~0.991, rel ~0.970)
      (3L, Array(0.3f, -0.6f))  // diverse (rel ~0.447, sim-to-1 ~0.346)
    ).toDF("vec_id", "embedding")
    val brute = Similarity.bruteTopK(q, cands, k = 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(brute == Seq(1L, 2L, 3L))
    // MMR at λ=1/2: round 2 trades 2's rel (0.970) against its 0.991
    // sim to the selected 1 (mmr −0.010) vs 3's 0.447 rel / 0.346 sim
    // (mmr +0.051) — the diverse item wins
    val mmr = Similarity.mmrTopK(q, cands, k = 3, nCand = 3)
      .orderBy("mmr_rank").collect()
      .map(r => (r.getLong(2), r.getLong(1))).toSeq
    assert(mmr == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  // --- phashDedup ---

  test("phashDedup: identical payloads pair via their code bucket; " +
    "distinct payloads sharing no code never pair; pairs are unique") {
    val docs = Seq(
      (1L, "the same payload"), (2L, "the same payload"),
      (3L, "a different payload"), (4L, "yet another one")
    ).toDF("doc_id", "text")
    val got = Multimodal.phashDedup(Multimodal.withPayload(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
    // verify is equality of all dims: flipping one byte breaks it even
    // if the code bucket happened to collide
    val near = Seq((1L, "payload x"), (2L, "payload y"))
      .toDF("doc_id", "text")
    assert(Multimodal.phashDedup(Multimodal.withPayload(near)).isEmpty)
  }

  // --- checkpointed resume ---

  test("hourlyCountsResumed: the restarted query continues batch " +
    "numbering (offsets restored), processes exactly one new batch, " +
    "and the final counts equal the batch aggregate") {
    import graft.streaming.EventsStream
    def ev(id: Long, t: String, typ: String) =
      (id, java.sql.Timestamp.valueOf(t), typ)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_resumespec_").toString
    // a tiny self-contained "events.parquet" so the operator's own
    // %10-based batch split applies: ids 2..9 → batch 0, 1 → batch 1,
    // 10 → the post-restart batch
    val events = Seq(
      ev(2, "2026-01-01 10:10:00", "a"), ev(3, "2026-01-01 10:20:00", "b"),
      ev(1, "2026-01-01 11:10:00", "a"),
      ev(10, "2026-01-01 10:40:00", "a") // arrives only after restart
    ).toDF("event_id", "ts", "event_type")
    events.coalesce(1).write.parquet(s"$tmp/events.parquet")
    val out = EventsStream.hourlyCountsResumed(spark, tmp,
      s"$tmp/stage", s"$tmp/out", s"$tmp/ckpt")
    // state restored + only the late row added: 10:00 a=2 (1 pre + 1
    // post restart), 10:00 b=1, 11:00 a=1
    assert(rows(out) == Seq(
      "2026-01-01 10:00:00|a|2", "2026-01-01 10:00:00|b|1",
      "2026-01-01 11:00:00|a|1").sorted)
    // batch ids are exactly 0,1 (first run) and 2 (resumed run): the
    // restart neither reset numbering (no fresh checkpoint) nor
    // re-read committed files (no ids 3/4)
    val ids = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).sorted
    assert(ids.toSeq == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
  }

  // --- append-mode finalization ---

  test("hourlyCountsAppend: emits exactly the windows finalized by the " +
    "end-of-stream watermark; the boundary window (end == W0) is " +
    "dropped-then-unfinalized, the tail window is held") {
    def ev(id: Long, t: String, typ: String) =
      (id, java.sql.Timestamp.valueOf(t), typ)
    val b0 = Seq(
      ev(1, "2026-01-01 10:30:00", "a"),
      ev(2, "2026-01-01 12:01:00", "a") // W0 = 12:00:00
    ).toDF("event_id", "ts", "event_type")
    val b1 = Seq(ev(6, "2026-01-01 10:45:00", "mid"))
      .toDF("event_id", "ts", "event_type")
    val b2 = Seq(
      ev(3, "2026-01-01 10:15:00", "lt"), // late: end 11:00 <= W0
      ev(4, "2026-01-01 11:15:00", "eq"), // late: end 12:00 == W0
      ev(5, "2026-01-01 12:15:00", "gt"), // kept: end 13:00 > W0
      ev(7, "2026-01-01 14:30:00", "hi")  // advances Wf to 14:29
    ).toDF("event_id", "ts", "event_type")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_appendspec_").toString
    graft.streaming.EventsStream.stageBatches(dir, b0, b1, b2)
    val out = graft.streaming.EventsStream.runToMemory(spark, s =>
      graft.streaming.EventsStream.stagedSource(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(date_format(col("window.start"), "HH:mm").as("hour"),
          col("event_type"), col("n_events")),
      "appendspec", "append")
    // 10:00 finalized with the in-time rows only (id3 dropped late);
    // 11:00 had only late rows → no state, nothing emitted;
    // 12:00 finalized by the final no-data batch's watermark (14:29);
    // 14:00 (id7's own window) held in state, never emitted.
    assert(rows(out) == Seq("10:00|a|1", "10:00|mid|1", "12:00|a|1",
      "12:00|gt|1").sorted)
  }
}
