package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Round-7 fixpoint pins: the run-to-convergence variants of the
  * iterative graph operators must (a) terminate via their monotone
  * driver checks, (b) agree exactly with the fixed-round gate forms at
  * the converged round count, and (c) be TRUE fixpoints — one more
  * round of the identical step changes nothing (or, for PageRank,
  * stops at the first round whose movement is under its tolerance).
  */
class Round15Spec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val orders = Tables.load(spark, sf, "orders")
  private lazy val lineitem = Tables.load(spark, sf, "lineitem")

  test("minLabelFixpoint: converges on the purchase graph, equals the " +
    "fixed-round form at its round count, and is a true fixpoint") {
    val edges = Graph.purchaseEdges(orders, lineitem).persist()
    val labels0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val (labels, r) = Graph.minLabelFixpoint(labels0, edges)
    assert(r >= 2 && r < 60, s"rounds: $r")
    // one more propagation round changes nothing
    assert(rows(Graph.minLabelPropagate(labels, edges, 1)) ==
      rows(labels))
    // agreement with the gate form at the converged round count (the
    // last fixpoint round is the no-change verify, so r-1 suffices,
    // but r itself must also agree by idempotence)
    if (r <= 10)
      assert(rows(Graph.minLabelPropagate(labels0, edges, r)) ==
        rows(labels))
    edges.unpersist()
  }

  test("minLabelFixpoint: path-graph cascade needs diameter rounds " +
    "(one verify round on top)") {
    // path 1-2-3-4-5-6: min label 1 reaches node 6 after 5 rounds;
    // round 6 verifies no change
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val labels0 = (1L to 6L).toDF("node")
      .select(col("node"), col("node").as("lbl"))
    val (labels, r) = Graph.minLabelFixpoint(labels0, edges)
    assert(r == 6, s"rounds: $r")
    val got = labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == (1L to 6L).map(_ -> 1L).toMap, s"got $got")
  }

  test("kCoreFixpoint: equals kCorePeel at its round count and " +
    "survives further peeling unchanged; path graph peels to empty") {
    // path graph, k=2: ends die one per round from both sides —
    // 8 nodes peel to empty in 4 shrink rounds + 1 verify
    val path = (1L to 7L).map(i => (s"n$i", s"n${i + 1}"))
      .toDF("key_a", "key_b")
    val (core, r) = Graph.kCoreFixpoint(path, k = 2)
    assert(core.isEmpty && r == 5, s"rounds: $r")
    // real graph: converged result == fixed-round result at r rounds,
    // and peeling one more round keeps every (node, degree) row
    val pairs = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("key_a"),
        (col("l_suppkey") * 2 + 1).as("key_b"))
      .distinct().persist()
    val k = 3
    val (core2, r2) = Graph.kCoreFixpoint(pairs, k)
    assert(r2 >= 1 && r2 < 100, s"rounds: $r2")
    if (r2 <= 10)
      assert(rows(Graph.kCorePeel(pairs, k, iters = r2)) == rows(core2))
    if (r2 + 1 <= 10)
      assert(rows(Graph.kCorePeel(pairs, k, iters = r2 + 1)) ==
        rows(core2))
    pairs.unpersist()
  }

  test("pageRankConverged: stops at the first round whose movement is " +
    "<= the first round's / residualDiv, within maxRounds; a looser " +
    "residualDiv never stops later") {
    def rounds(df: org.apache.spark.sql.DataFrame): Int = {
      val r = df.select("rounds").distinct().collect().map(_.getLong(0))
      assert(r.length == 1, s"rounds column not constant: ${r.toSeq}")
      r.head.toInt
    }
    val div = 3L
    val got = Graph.pageRankConverged(orders, lineitem, residualDiv = div)
    val r = rounds(got)
    assert(r >= 2 && r <= 10, s"rounds: $r")
    // plain-Scala replay of the stopping rule over the fixed-round
    // form's collected ranks: L-infinity movement per round
    def ranks(i: Int): Map[String, Long] =
      Graph.pageRank(orders, lineitem, iters = i).collect()
        .map(x => s"${x.getString(0)}|${x.getLong(1)}" -> x.getLong(2))
        .toMap
    val byRound = (1 to r).map(ranks)
    val init = Graph.TotalMass / byRound.head.size
    val moves = byRound.indices.map { i =>
      val prev = if (i == 0) byRound(0).view.mapValues(_ => init).toMap
        else byRound(i - 1)
      byRound(i).map { case (k, v) => math.abs(v - prev(k)) }.max
    }
    val tol = moves.head / div
    assert(moves.last <= tol, s"moves $moves, tol $tol")
    assert(moves.init.forall(_ > tol), s"stopped late: moves $moves")
    assert(rows(got.drop("rounds")) === rows(Graph.pageRank(orders,
      lineitem, iters = r)))
    // a looser tolerance can only stop sooner; the cap always holds
    assert(rounds(Graph.pageRankConverged(orders, lineitem,
      residualDiv = 2)) <= r)
    assert(rounds(Graph.pageRankConverged(orders, lineitem,
      residualDiv = 1000000L, maxRounds = 3)) <= 3)
  }

  test("plan tripwires: q6_tfidf broadcasts the idf side and " +
    "rel_skew_join never sort-merges on the bare hot key") {
    // q6: the TF ⋈ IDF join must stay a broadcast hash join (the idf
    // side is vocabulary-sized); a threshold/AQE config change or a
    // dropped broadcast() hint that flips it to a shuffle join fails
    // HERE, on plan shape, before any timing regression shows up
    val p6 = SparkEntry.queries("q6_tfidf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p6.contains("BroadcastHashJoin"), s"q6 plan:\n$p6")
    assert(!p6.contains("SortMergeJoin"), s"q6 plan:\n$p6")
    // skew join: any sort-merge join in the plan must key on the salt
    // (_ps) — a plain SMJ on the bare hot key funnels the key's rows
    // through one task, the exact failure the operator exists to avoid
    val ps = SparkEntry.queries("rel_skew_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val smj = ps.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.forall(_.contains("_ps")),
      s"unsalted sort-merge join on the hot key:\n${smj.mkString("\n")}")
    graft.Scope.releaseRoot()
  }

  test("compactLake: row identity and EXACTLY one output file per " +
    "distinct plan bin") {
    val dir = java.nio.file.Files.createTempDirectory("cmpct").toString
    val df = spark.range(0L, 1200L)
      .select(col("id"), (col("id") % 7).as("v"))
    df.repartition(12).write.mode("overwrite").parquet(s"$dir/small")
    // quota = ~quarter of the lake → a handful of multi-file bins
    val small = new java.io.File(s"$dir/small").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val target = small.map(_.length()).sum / 4
    val got = graft.io.CompatIo.compactLake(spark, s"$dir/small",
      s"$dir/out", targetBytes = target)
    assert(rows(got) == rows(df))
    // recompute the plan over the same listing: output file count must
    // equal |distinct bins| (and be < the input file count)
    import spark.implicits._
    val plan = graft.io.CompatIo.compactionPlan(
      small.map(f => (f.getName, f.length())).toSeq.sortBy(_._1)
        .toDF("fname", "bytes"),
      target, idCol = "fname")
    val nBins = plan.select("bin").distinct().count()
    val outFiles = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.startsWith("bin="))
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    assert(outFiles == nBins && nBins < 12,
      s"outFiles=$outFiles nBins=$nBins")
  }

  test("scd2Build: versions chain gaplessly, exactly one open " +
    "version per key, and the open version is the keep-latest row") {
    val ev = Tables.load(spark, sf, "events")
    val scd = graft.operators.Relational.scd2Build(ev).persist()
    // exactly one is_current per (user_id, event_type)
    val openCounts = scd.filter(col("is_current"))
      .groupBy("user_id", "event_type").count()
      .filter(col("count") =!= 1).count()
    assert(openCounts == 0)
    // every closed version's valid_to is SOME version's valid_from of
    // the same key (the chain has no gaps), and closed != current
    val broken = scd.filter(!col("is_current")).alias("a")
      .join(scd.select(col("user_id").as("u"),
        col("event_type").as("t"), col("valid_from").as("vf")).alias("b"),
        col("a.user_id") === col("u") &&
          col("a.event_type") === col("t") &&
          col("a.valid_to") === col("vf"), "left_anti")
      .count()
    assert(broken == 0)
    // the open version per key == latestEventState's compacted row
    val open = scd.filter(col("is_current"))
      .select(col("user_id"), col("event_type"),
        col("valid_from").as("last_ts"),
        col("event_id").as("last_event_id"),
        col("value").as("last_value"))
    assert(rows(open) ==
      rows(graft.operators.Relational.latestEventState(ev)))
    scd.unpersist()
  }

  test("mergeAggState: state-only, delta-only, and overlapping keys " +
    "all merge; result equals the full recompute exactly") {
    import spark.implicits._
    val pre = Seq((1L, 10.5), (1L, 2.25), (2L, 1.0)).toDF("user_id", "value")
    val post = Seq((2L, 3.125), (3L, 7.75)).toDF("user_id", "value")
    val merged = graft.operators.Relational.mergeAggState(
      graft.operators.Relational.aggState(pre), post)
    val full = graft.operators.Relational.aggState(pre.unionAll(post))
    assert(rows(merged) == rows(full))
    val m = merged.collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        r.getDecimal(2).doubleValue())).toMap
    assert(m == Map(1L -> ((2L, 12.75)), 2L -> ((2L, 4.125)),
      3L -> ((1L, 7.75))), s"m: $m")
  }

  test("compactionPlan: a file larger than the quota SKIPS bin " +
    "indexes (the executor counts bins distinct, not max+1)") {
    import spark.implicits._
    val plan = graft.io.CompatIo.compactionPlan(
      Seq(("a", 10L), ("b", 35L), ("c", 10L)).toDF("fname", "bytes"),
      targetBytes = 10L, idCol = "fname", bytesCol = "bytes")
    val bins = plan.select("file_id", "bin").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // excl prefix sums 0/10/45 → bins 0/1/4: indexes 2 and 3 skipped
    assert(bins == Map("a" -> 0L, "b" -> 1L, "c" -> 4L), s"bins: $bins")
  }
}
