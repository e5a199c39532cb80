package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Relational, Sampling, Search, Similarity}

/** Round-6 behavior pins for the three queries that shipped at the end
  * of round 5 without any verification: BM25 scores hand-computed on a
  * 3-doc corpus, the funnel's strictly-after/first-touch semantics, and
  * dqAudit's pinned NULL handling + violation counts on injected bad
  * rows (plus the empty-input → 0/0 contract from ADVICE r5).
  */
class Round6Spec extends SparkSpec {

  import spark.implicits._

  // ---- text_bm25: hand-computed scores ----
  //
  // Corpus (terms = join, scan):
  //   doc 1 "join scan join extra word"  dl=5, cnt(join)=2, cnt(scan)=1
  //   doc 2 "scan scan scan"             dl=3, cnt(scan)=3
  //   doc 3 "nothing here at all"        dl=4, no query terms
  // N=3, avgdl=4.0
  //   idf(join) = round2(ln((3-1+0.5)/(1+0.5)+1)) = round2(ln 2.6667) = 0.98
  //   idf(scan) = round2(ln((3-2+0.5)/(2+0.5)+1)) = round2(ln 1.6)    = 0.47
  //   tfw(1,join) = round2(2*2.2/(2+1.2*(0.25+0.75*5/4)))
  //               = round2(4.4/3.425)  = 1.28
  //   tfw(1,scan) = round2(2.2/2.425)  = 0.91
  //   tfw(2,scan) = round2(6.6/3.975)  = 1.66
  //   score(1) = round2(1.28*0.98 + 0.91*0.47) = round2(1.68217) = 1.68
  //   score(2) = round2(1.66*0.47)             = round2(0.7802)  = 0.78

  test("bm25: hand-computed scores, ranking, and no-term-doc exclusion") {
    val docs = Seq(
      (1L, "join scan join extra word"),
      (2L, "scan scan scan"),
      (3L, "nothing here at all")).toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, Seq("join", "scan"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.68), (2L, 0.78)))
  }

  test("bm25: k truncates after the (score desc, doc_id asc) sort") {
    val docs = Seq(
      (1L, "join scan join extra word"),
      (2L, "scan scan scan"),
      (3L, "nothing here at all")).toDF("doc_id", "text")
    val got = Search.bm25TopK(docs, Seq("join", "scan"), k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  // ---- rel_funnel: strictly-after first-touch semantics ----

  private def ev(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("user_id", "event_type", "s")
      .select(col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))

  test("funnel: strictly-after per stage; ties and reordering don't advance") {
    val events = ev(Seq(
      // u1: clean view -> click -> purchase
      (1L, "view", "2024-03-01 10:00:00"),
      (1L, "click", "2024-03-01 10:01:00"),
      (1L, "purchase", "2024-03-01 10:02:00"),
      // u2: click BEFORE first view — never reaches stage 2
      (2L, "click", "2024-03-01 09:00:00"),
      (2L, "view", "2024-03-01 09:30:00"),
      // u3: click at the SAME ts as the view — strictly-after fails
      (3L, "view", "2024-03-01 11:00:00"),
      (3L, "click", "2024-03-01 11:00:00"),
      // u4: purchase ties the click ts — stops at stage 2
      (4L, "view", "2024-03-01 12:00:00"),
      (4L, "click", "2024-03-01 12:05:00"),
      (4L, "purchase", "2024-03-01 12:05:00"),
      // u5: early pre-view click ignored, later click advances; the
      // frontier is the EARLIEST qualifying click (12:10), so the
      // 12:15 purchase counts
      (5L, "click", "2024-03-01 12:00:00"),
      (5L, "view", "2024-03-01 12:05:00"),
      (5L, "click", "2024-03-01 12:10:00"),
      (5L, "purchase", "2024-03-01 12:15:00")))
    val got = Relational.funnel(events)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "view", 5L), (2L, "click", 3L),
      (3L, "purchase", 2L)))
  }

  test("funnel: repeats don't double-count a user") {
    val events = ev(Seq(
      (1L, "view", "2024-03-01 10:00:00"),
      (1L, "view", "2024-03-01 10:30:00"),
      (1L, "click", "2024-03-01 10:01:00"),
      (1L, "click", "2024-03-01 10:02:00")))
    val got = Relational.funnel(events)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 0L)))
  }

  // ---- curriculum binning ----

  test("curriculumBins: forms agree tie-free; scalable keeps tie blocks whole") {
    // distinct scores 1..10 into 5 bins: no ties -> both forms equal
    val uni = (1L to 10L).map(i => (i, i)).toDF("doc_id", "score")
    val exact = Sampling.curriculumBins(uni, "score", nBins = 5)
      .select("doc_id", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val scal = Sampling.curriculumBinsScalable(uni, "score", nBins = 5)
      .select("doc_id", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact == scal)
    assert(exact(1L) == 1L && exact(10L) == 5L)
    // scores [1,1,1,2] into 2 bins: ntile SPLITS the tie block 2+2 by
    // the pinned (score, doc_id) order; the value-quantile form bins
    // the whole block at its start -> three 1s in bin 1, the 2 in bin 2
    val ties = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L))
      .toDF("doc_id", "score")
    val e2 = Sampling.curriculumBins(ties, "score", nBins = 2)
      .select("doc_id", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(e2 == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
    val s2 = Sampling.curriculumBinsScalable(ties, "score", nBins = 2)
      .select("doc_id", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  // ---- lake-layout I/O: JSONL + partition pruning ----

  test("jsonl roundtrip: exact identity incl. doubles") {
    import org.apache.spark.sql.types._
    val src = Seq((1L, "a", 3L, 0.07, 0.01), (2L, "b", 1L, 0.5, 0.33))
      .toDF("doc_id", "word", "cnt", "tf", "tf_idf")
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
      .toString
    graft.io.CompatIo.writeJsonl(src, dir)
    val back = graft.io.CompatIo.readJsonl(spark, dir, StructType(Seq(
      StructField("doc_id", LongType), StructField("word", StringType),
      StructField("cnt", LongType), StructField("tf", DoubleType),
      StructField("tf_idf", DoubleType))))
    assert(rows(back) == rows(src))
  }

  test("partitioned write: the lang predicate prunes DIRECTORIES") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val src = Seq((1L, "en"), (2L, "de"), (3L, "en"))
      .toDF("doc_id", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_plake")
      .toString
    graft.io.CompatIo.writePartitioned(src, dir, "lang")
    val one = graft.io.CompatIo.readPartition(spark, dir, "lang", "en")
    assert(one.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    // the predicate must be a PARTITION filter on the scan node (zero
    // I/O on lang=de), not a post-scan data filter
    val scans = one.queryExecution.executedPlan.collectLeaves()
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    assert(scans.exists(_.partitionFilters
      .exists(_.references.exists(_.name == "lang"))))
    assert(scans.forall(_.dataFilters.isEmpty))
  }

  // ---- temperature-scaled mixture sampling ----

  test("temperatureMixture: equal strata untouched, derived thresholds exact") {
    // equal counts -> w = sqrt(c) equal -> T* = sqrt(c) -> every
    // stratum's keep fraction is exactly 1.0: nothing drops
    val eq = (1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    assert(Sampling.temperatureMixture(eq).count() == 20)
    // 16 vs 4: T* = min(16/4, 4/2) = 2 -> small keeps 2*2/4 = 1.0,
    // big keeps 4*2/16 = 0.5 -> exactly the ids hashing below
    // floor(0.5 * 2^32)
    val skew = ((1L to 16L).map((_, "big")) ++ (17L to 20L)
      .map((_, "small"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureMixture(skew)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "small") == 4)
    val thr = math.floor(0.5 * 4294967296.0).toLong
    val hashes = spark.range(1).select(
      (1L to 16L).map(id =>
        Sampling.hashValue(lit(id), "graft").as(s"h$id")): _*)
      .head()
    val expectBig = (1L to 16L)
      .filter(id => hashes.getLong(id.toInt - 1) < thr).toSet
    assert(kept.filter(_._2 == "big").map(_._1).toSet == expectBig)
  }

  // ---- sparse-integer cosine top-k (pipe_rag_index's core) ----

  test("sparseIntTopK: exact integer cosines, shared-bucket candidates only") {
    val vecs = Seq((1L, 0, 2L), (1L, 1, 1L), (2L, 0, 2L), (2L, 1, 1L),
      (3L, 0, -2L), (4L, 2, 3L)).toDF("doc_id", "j", "w")
    val got = Similarity.sparseIntTopK(vecs, Seq(1L).toDF("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    // doc 4 shares no bucket with the query -> never a candidate
    assert(got.map(t => (t._1, t._2, t._4)) ==
      Seq((1L, 2L, 1L), (1L, 3L, 2L)))
    // identical vector: dot 5 over norms sqrt(5)*sqrt(5)
    assert(math.abs(got(0)._3 - 5.0 / (math.sqrt(5.0) * math.sqrt(5.0)))
      < 1e-15)
    // opposed vector on the shared bucket: dot -4, norms sqrt(5)*2
    assert(math.abs(got(1)._3 + 4.0 / (math.sqrt(5.0) * 2.0)) < 1e-15)
  }

  // ---- CMS heavy hitters ----

  test("heavyHitters: exact top-k ordering + CMS contract holds") {
    val df = (Seq.fill(50)("hot") ++ Seq.fill(30)("warm") ++
      Seq.fill(20)("cool") ++ Seq("rare")).toDF("k")
    val got = Relational.heavyHitters(df, "k", k = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    // rare is cut by k=3; slack = ceil(0.001·101) = 1
    assert(got == Seq(("hot", 50L, true), ("warm", 30L, true),
      ("cool", 20L, true)))
  }

  // ---- queue-shaped ingestion (QueueSource) ----

  test("QueueLog.stage: wire schema, dense in-order offsets per partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qs").toString
    graft.streaming.QueueLog.stage(spark, "/root/testdata/sf0.001", dir)
    val log = spark.read.parquet(dir)
    assert(log.schema == graft.streaming.QueueLog.WireSchema)
    // offsets dense 0..n-1 within each partition
    val byPart = log.groupBy("partition")
      .agg(count(lit(1)).as("n"), max("offset").as("mx"),
        countDistinct("offset").as("nd"))
      .collect()
    assert(byPart.nonEmpty)
    byPart.foreach { r =>
      val (n, mx, nd) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nd == n, s"offsets not distinct: $nd of $n")
      assert(mx == n - 1, s"offsets not dense: max $mx over $n rows")
    }
    // offset order = (ts, event_id): offset 0 is each partition's
    // (ts asc, event_id asc) minimum
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("partition")
      .orderBy(col("ts").asc, col("ekey").asc)
    val parsed = log.select(col("partition"), col("offset"), col("ts"),
      get_json_object(col("value").cast("string"), "$.event_id")
        .cast("long").as("ekey"))
    val firsts = parsed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    assert(firsts.filter(col("offset") =!= 0L).count() == 0)
  }

  test("KafkaQueueSource: the production swap point carries its config") {
    // constructible without the connector jar (format("kafka") resolves
    // at runtime); a deployment swaps the QueueSource value only
    val k = graft.streaming.KafkaQueueSource("broker:9092", "events")
    assert(k.topic == "events" && k.startingOffsets == "earliest")
  }

  // ---- residual-encoded IVFADC ----

  test("ivfPqResTopK with unbounded rerank IS ivfPqTopK's exact search") {
    // with every surviving pair re-ranked exactly, residual-vs-raw
    // codes can't matter: both collapse to exact L2 over the same
    // probed lists (same coarse routing by construction)
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val raw = Similarity.ivfPqTopK(q, e, rerank = Int.MaxValue)
    val res = Similarity.ivfPqResTopK(q, e, rerank = Int.MaxValue)
    assert(rows(res) == rows(raw))
  }

  test("ivfPqResTopK: recall@10 vs exact L2 holds the measured floor (sf0.1)") {
    // RecallProbe (2026-08-13): 0.4525 vs ivfPqTopK's 0.4375. The
    // near-uniform synthetic embeddings are the weakest regime for
    // residual encoding (within-list displacement ≈ the full vector),
    // so the floor guards the plumbing, not the data-dependent gain.
    val e = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    val ref = Similarity.pqTopK(q, e, rerank = Int.MaxValue)
      .select("query_id", "neighbor_id").persist()
    val n = ref.count().toDouble
    val hit = Similarity.ivfPqResTopK(q, e)
      .select("query_id", "neighbor_id")
      .join(ref, Seq("query_id", "neighbor_id")).count()
    ref.unpersist()
    val recall = hit / n
    assert(recall >= 0.40,
      s"ivfPqResTopK recall@10 degraded: $recall < 0.40")
  }

  // ---- rel_dq_audit: injected violations + pinned NULL semantics ----

  private def auditTables: (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val customer = Seq(Some(1L), Some(2L), Some(2L), None)
      .toDF("c_custkey")
    val orders = Seq(
      // (o_orderkey, o_custkey, o_totalprice)
      (Some(10L), Some(1L), Some(5.0)),
      (Some(11L), Some(3L), Some(-1.0)), // FK orphan + nonpositive price
      (Some(11L), None, Some(3.0))       // dup key; NULL FK is EXEMPT
    ).toDF("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = Seq(
      // (l_orderkey, l_quantity)
      (Some(10L), Some(1.0)),
      (Some(99L), Some(0.0)), // FK orphan + nonpositive quantity
      (None, Some(2.0))       // NULL FK exempt from fk_orphan
    ).toDF("l_orderkey", "l_quantity")
    val events = Seq(
      (Some("view"), Some("2024-06-15 12:00:00")),  // clean
      (Some("bogus"), Some("2024-06-15 12:00:00")), // enum violation
      (None: Option[String], Some("2020-01-01 00:00:00")), // ts below; NULL type passes enum
      (Some("click"), None)                         // NULL ts violates bounds
    ).toDF("event_type", "s")
      .select(col("event_type"), to_timestamp(col("s")).as("ts"))
    (customer, orders, lineitem, events)
  }

  test("dqAudit: injected violations produce the pinned counts") {
    val (customer, orders, lineitem, events) = auditTables
    val got = Relational.dqAudit(customer, orders, lineitem, events)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got(("null_key", "customer")) == ((1L, 4L)))
    // dup_key: NULL keys excluded from grouping AND from total
    assert(got(("dup_key", "customer")) == ((1L, 3L)))
    assert(got(("dup_key", "orders")) == ((1L, 3L)))
    // fk_orphan: NULL FKs exempt; totals count non-NULL-FK rows
    assert(got(("fk_orphan", "orders")) == ((1L, 2L)))
    assert(got(("fk_orphan", "lineitem")) == ((1L, 2L)))
    assert(got(("range_nonpositive", "orders")) == ((1L, 3L)))
    assert(got(("range_nonpositive", "lineitem")) == ((1L, 3L)))
    // NULL event_type is null-handling's business, not an enum violation
    assert(got(("enum_domain", "events")) == ((1L, 4L)))
    // NULL ts + out-of-range ts
    assert(got(("ts_bounds", "events")) == ((2L, 4L)))
  }

  // ---- sim_docs_tfidf_pruned: the hot-posting-list escape hatch ----

  test("tfIdfDocTopK maxDfFrac: hot terms pruned before pairing") {
    // "hot" appears in 4/5 docs (df frac 0.8 — high but NOT universal,
    // so the IDF>0 filter alone keeps it); with maxDfFrac=0.5 it must
    // be pruned, so d1 — whose ONLY shared term with the query is
    // "hot" — drops out of the candidate set entirely, while d2
    // (shares "alpha") survives.
    val docs = Seq(
      (0L, "hot alpha"), (1L, "hot"), (2L, "hot alpha"),
      (3L, "hot beta"), (4L, "rare")).toDF("doc_id", "text")
    val qs = Seq(0L).toDF("doc_id")
    val unpruned = Similarity.tfIdfDocTopK(docs, qs)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val pruned = Similarity.tfIdfDocTopK(docs, qs, maxDfFrac = 0.5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(unpruned.contains(1L)) // via the hot term
    assert(pruned == Set(2L))     // only the alpha-sharing doc remains
  }

  test("tfIdfDocTopK maxDfFrac=1.0 is the identity (no pruning)") {
    val docs = Seq(
      (0L, "hot alpha"), (1L, "hot"), (2L, "hot alpha"),
      (3L, "hot beta"), (4L, "rare")).toDF("doc_id", "text")
    val qs = Seq(0L).toDF("doc_id")
    assert(rows(Similarity.tfIdfDocTopK(docs, qs, maxDfFrac = 1.0)) ==
      rows(Similarity.tfIdfDocTopK(docs, qs)))
  }

  test("dqAudit: empty inputs report 0 violations / 0 total, never NULL") {
    val (customer, orders, lineitem, events) = auditTables
    val none = lit(false)
    val got = Relational.dqAudit(customer.filter(none),
      orders.filter(none), lineitem.filter(none), events.filter(none))
      .collect()
    assert(got.length == 9)
    got.foreach { r =>
      assert(!r.isNullAt(2) && !r.isNullAt(3),
        s"NULL in ${r.getString(0)}/${r.getString(1)}")
      assert(r.getLong(2) == 0L && r.getLong(3) == 0L)
    }
  }

  // ---- rel_compact_latest: CDC keep-latest semantics ----

  test("latestEventState: (ts, event_id) argmax per key; forms agree") {
    val ev = Seq(
      // user 1, type "click": later ts wins regardless of event_id
      (10L, "2024-01-01 10:00:00", 1L, "click", 5.0, "{}"),
      (3L, "2024-01-01 11:00:00", 1L, "click", 7.0, "{}"),
      // user 1, type "view": equal ts -> higher event_id wins
      (20L, "2024-01-01 09:00:00", 1L, "view", 1.0, "{}"),
      (21L, "2024-01-01 09:00:00", 1L, "view", 2.0, "{}"),
      // user 2: single row passes through
      (30L, "2024-01-02 00:00:00", 2L, "click", 9.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val expect = Set(
      (1L, "click", "2024-01-01 11:00:00", 3L, 7.0),
      (1L, "view", "2024-01-01 09:00:00", 21L, 2.0),
      (2L, "click", "2024-01-02 00:00:00", 30L, 9.0))
    val got = Relational.latestEventState(ev).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == expect)
    // and a plain-Scala (ts, event_id) argmax over the collected log
    val ref = ev.select(col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("event_id"),
        col("value")).collect()
      .groupBy(r => (r.getLong(0), r.getString(1))).values
      .map(_.maxBy(r => (r.getString(2), r.getLong(3))))
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == ref)
  }

  // ---- rel_fuzzy_join: deletion-neighborhood edit-distance pairs ----

  test("editDistancePairs: sub/ins/del pairs found, dist-2 rejected") {
    import graft.operators.Dedup
    val df = Seq("cat", "cat", "cart", "cut", "dog", "dig", "kite")
      .toDF("name")
    val got = Dedup.editDistancePairs(df, "name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // cat~cart (insertion), cat~cut (substitution), dig~dog
    // (substitution); cart~cut is dist 2 (shared variant "ct") and
    // must be verified away; kite pairs with nothing
    assert(got == Set(
      ("cart", "cat", 1L, 1L, 2L),
      ("cat", "cut", 1L, 2L, 1L),
      ("dig", "dog", 1L, 1L, 1L)))
  }

  test("editDistancePairs: minCount prunes, case/space normalize") {
    import graft.operators.Dedup
    val df = Seq(" Cat ", "cat", "bat").toDF("name")
    // bat occurs once -> pruned at minCount=2; " Cat " normalizes onto
    // cat, so the vocab collapses to one key and no pair remains
    assert(Dedup.editDistancePairs(df, "name", minCount = 2)
      .collect().isEmpty)
  }

  // ---- rel_snapshot_diff: SCD/CDC change classification ----

  test("snapshotDiff: insert/delete/update arms; NULL-safe unchanged") {
    val oldS = Seq(
      (1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (5L, Option.empty[String]))
      .toDF("k", "v")
    val newS = Seq(
      (2L, Some("b")), (3L, Some("c2")), (4L, Some("d")),
      (5L, Option.empty[String]))
      .toDF("k", "v")
    val got = Relational.snapshotDiff(oldS, newS, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)))).toSet
    // k2 unchanged and k5 NULL==NULL unchanged -> both absent; k1
    // deleted carries the OLD payload, k3 updated carries the NEW one
    assert(got == Set(
      ("delete", 1L, Some("a")),
      ("update", 3L, Some("c2")),
      ("insert", 4L, Some("d"))))
    // NULL -> value and value -> NULL are updates, not unchanged
    val o2 = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("k", "v")
    val n2 = Seq((1L, Some("y")), (2L, Option.empty[String]))
      .toDF("k", "v")
    val got2 = Relational.snapshotDiff(o2, n2, Seq("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
      .toSet
    assert(got2 == Set(("update", 1L, Some("y")),
      ("update", 2L, None)))
  }

  // ---- rel_pagerank: integer fixed-point rank propagation ----

  test("pageRank: hand-computed one-iteration ranks; mass conserved") {
    import graft.operators.Graph
    // c1 buys from s1+s2, c2 buys from s1. Undirected node/edge set:
    //   c1(node 2) deg 2, s1(node 3) deg 2, c2(node 4) deg 1,
    //   s2(node 5) deg 1; N=4, r0 = 250e9 each, teleport = 37.5e9.
    // After one iteration (contrib = rank div deg, r' = tele +
    // 85*in div 100): c1 = s1 = 37.5e9 + 85*375e9/100 = 356.25e9,
    //                 c2 = s2 = 37.5e9 + 85*125e9/100 = 143.75e9.
    val orders = Seq((100L, 1L), (101L, 1L), (102L, 2L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((100L, 1L), (101L, 2L), (102L, 1L))
      .toDF("l_orderkey", "l_suppkey")
    val r1 = Graph.pageRank(orders, lineitem, iters = 1)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(r1 == Map(
      ("customer", 1L) -> 356250000000L,
      ("supplier", 1L) -> 356250000000L,
      ("customer", 2L) -> 143750000000L,
      ("supplier", 2L) -> 143750000000L))
    // 3 iterations: deterministic floor leakage only — mass stays
    // within a few units per node/edge per step of the total
    val r3 = Graph.pageRank(orders, lineitem, iters = 3)
      .agg(sum("rank")).collect()(0).getLong(0)
    assert(r3 <= Graph.TotalMass && r3 > Graph.TotalMass - 1000L)
  }

  // ---- rel_cohort: weekly retention cells ----

  test("cohortRetention: first-week cohorts, offset cells, re-entry") {
    // epoch weeks: 1970-01-01 is week 0. u1 active w0+w1, u2 only w0,
    // u3 active w1+w2 (cohort w1).
    val ev = Seq(
      (1L, 1L, "1970-01-01 10:00:00"), (2L, 1L, "1970-01-08 10:00:00"),
      (3L, 2L, "1970-01-02 00:00:00"), (4L, 3L, "1970-01-09 00:00:00"),
      (5L, 3L, "1970-01-15 12:00:00"))
      .toDF("event_id", "user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = Relational.cohortRetention(ev).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L,
      (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  // ---- rel_activity_spine: dense date spine with zero fill ----

  test("activitySpine: idle days zero-filled inside each user's span") {
    val ev = Seq(
      (1L, 1L, "2024-03-01 08:00:00"), (2L, 1L, "2024-03-01 09:00:00"),
      (3L, 1L, "2024-03-04 23:59:59"), (4L, 2L, "2024-03-10 00:00:00"))
      .toDF("event_id", "user_id", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = Relational.activitySpine(ev).collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(
      (1L, "2024-03-01") -> 2L, (1L, "2024-03-02") -> 0L,
      (1L, "2024-03-03") -> 0L, (1L, "2024-03-04") -> 1L,
      (2L, "2024-03-10") -> 1L))
  }

  // ---- sim_hard_negatives: wrong-label top-k ----

  test("hardNegatives: same-label and self excluded, cos ranks") {
    // 2-d unit-ish vectors; query = id 0, label 1. Nearest overall is
    // id 1 (identical direction) but it shares the label -> excluded;
    // id 2 (cos ~0.95, label 2) ranks 1; id 3 (orthogonal, label 2)
    // ranks 2; id 4 has NULL label -> dropped.
    val e = Seq(
      (0L, Array(1.0f, 0.0f), Some(1)),
      (1L, Array(2.0f, 0.0f), Some(1)),
      (2L, Array(1.0f, 0.3f), Some(2)),
      (3L, Array(0.0f, 1.0f), Some(2)),
      (4L, Array(1.0f, 0.1f), None))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(
      e.filter(col("vec_id") === 0L), e, k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((2L, 1L), (3L, 2L)))
  }
}
