package graft

import org.apache.spark.sql.functions._

import graft.operators.{Relational, Search, Similarity}

/** Round-10 pins, batch 1: the persisted search/ANN artifacts
  * (BM25 inverted index, PQ codebook+codes) must serve bit-identically
  * to their in-plan twins, and the sparse-CMS missing-counter probe
  * estimates 0 (round-9 ADVICE).
  */
class Round21Spec extends SparkSpec {

  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_spec_$tag").toString

  private val docs = Seq(
    (1L, "spark join scan join window"),
    (2L, "merge order merge join"),
    (3L, "window window window scan"),
    (4L, "order by scan"),
    (5L, "unrelated words only here")).toDF("doc_id", "text")

  // --- Search.bm25IndexWrite / bm25TopKFromIndex ---

  test("bm25 index artifact: served ranking is identical to the " +
    "in-plan bm25TopK") {
    val dir = scratch("bm25")
    Search.bm25IndexWrite(docs, dir)
    val terms = Seq("join", "scan", "window")
    assert(rows(Search.bm25TopKFromIndex(spark, dir, terms)) ===
      rows(Search.bm25TopK(docs, terms)))
  }

  test("bm25 index artifact: layout carries postings with denormalized " +
    "doc length, precomputed idf, and 1-row corpus stats") {
    val dir = scratch("bm25l")
    Search.bm25IndexWrite(docs, dir)
    val post = spark.read.parquet(s"$dir/postings")
    assert(post.columns.sorted === Array("cnt", "dl", "doc_id", "word"))
    // doc 1: 5 tokens, so every posting row of doc 1 carries dl=5
    assert(post.filter(col("doc_id") === 1L).collect()
      .forall(_.getAs[Long]("dl") === 5L))
    val ws = spark.read.parquet(s"$dir/wordstats")
    assert(ws.columns.sorted === Array("dfreq", "idf", "word"))
    // "join" appears in docs 1 and 2 → dfreq 2
    assert(ws.filter(col("word") === "join").head.getAs[Long]("dfreq")
      === 2L)
    val st = spark.read.parquet(s"$dir/stats").collect()
    assert(st.length === 1)
    assert(st.head.getAs[Long]("n") === 5L)
  }

  test("bm25 from-index: the term predicate reaches the postings scan " +
    "as a pushed filter (the term-dictionary-seek stand-in)") {
    val dir = scratch("bm25p")
    Search.bm25IndexWrite(docs, dir)
    // non-AQE session: the static physical plan exposes the scan nodes
    // directly (the PlanInvariantSpec audit pattern)
    val audit = spark.newSession()
    audit.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = Search.bm25TopKFromIndex(audit, dir,
      Seq("join", "scan", "window")).queryExecution.executedPlan
    val scans = plan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("postings")) => f
    }
    assert(scans.nonEmpty)
    // isin(3 terms) reaches parquet as In(word, …) (a 1-term isin
    // would arrive as EqualTo — either way the predicate is ON word)
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(p => p.contains("word") && p != "[]")),
      scans.map(_.metadata.get("PushedFilters")).mkString(";"))
  }

  // --- Similarity.pqIndexWrite / pqTopKFromIndex ---

  private def syntheticEmb(n: Int, dims: Int) = {
    // deterministic pseudo-embeddings: distinct directions per id
    (0L until n.toLong).map { i =>
      (i, (0 until dims).map(d =>
        math.sin(0.7 * (i + 1) * (d + 1)).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("pq index artifact: served ranking is identical to the in-plan " +
    "pqTopK, with geometry recovered from the stored codebook") {
    val emb = syntheticEmb(40, 16)
    val dir = scratch("pq")
    Similarity.pqIndexWrite(emb, dir, m = 8, ksub = 4)
    val queries = emb.filter(col("vec_id") % 10 === 0)
    assert(rows(Similarity.pqTopKFromIndex(queries, dir, k = 5,
      rerank = 20)) ===
      rows(Similarity.pqTopK(queries, emb, k = 5, m = 8, ksub = 4,
        rerank = 20)))
  }

  test("pq index artifact: codebook is m×ksub rows and codes are m " +
    "rows per vector") {
    val emb = syntheticEmb(12, 16)
    val dir = scratch("pql")
    Similarity.pqIndexWrite(emb, dir, m = 8, ksub = 4)
    assert(spark.read.parquet(s"$dir/codebook").count() === 8L * 4L)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() === 12L * 8L)
    assert(codes.groupBy("vec_id").count().collect()
      .forall(_.getAs[Long]("count") === 8L))
  }

  // --- Dedup.sentenceDedupRewrite ---

  test("sentenceDedupRewrite: corpus-wide first occurrence wins, " +
    "within-doc repeats collapse, reassembly preserves order") {
    val d = Seq(
      (1L, "Alpha beta. Cookie banner! Gamma?"),
      (2L, "Cookie banner! Delta here. Cookie banner! Epsilon."),
      (3L, "Cookie banner!")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.sentenceDedupRewrite(d)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_sentences"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("text_clean")))).toMap
    // doc 1 owns every first occurrence
    assert(out(1L) === ((3L, 0L,
      "Alpha beta. Cookie banner! Gamma?")))
    // doc 2 loses BOTH banner copies (cross-doc dup + within-doc rep)
    assert(out(2L) === ((4L, 2L, "Delta here. Epsilon.")))
    // doc 3 loses its only sentence → empty rewrite, row kept
    assert(out(3L) === ((1L, 1L, "")))
    Scope.releaseRoot()
  }

  // --- Similarity.knnRecallIvf vs knnRecall (round-9 verdict #1) ---

  test("ivf 16-of-128 routing beats sign-bucket LSH recall by >= 2x at " +
    "comparable scanned fraction (sf0.001 floor; IvfKnnProbe table)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    def mean(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(avg(col("recall"))).head.getDouble(0)
    val lsh = mean(Similarity.knnRecall(e))
    val ivf = mean(Similarity.knnRecallIvf(e))
    // measured 0.462 vs 0.098 — the floor leaves contention headroom
    assert(ivf >= 2 * lsh, s"ivf=$ivf lsh=$lsh")
    Scope.releaseRoot()
  }

  // --- EventsStream.neardupIngest sequential semantics ---

  test("neardupIngest: batch N+1 dedups against earlier SURVIVORS " +
    "(appended to the index), never against dropped docs") {
    // batch tag = (doc_id div 5) % 3: batch0 = {15, 30, 45},
    // batch1 = {20, 35}, batch2 = {25}; corpus = ids % 5 != 0
    val texts = Map(
      1L -> "corpus only words entirely distinct one",
      2L -> "another corpus document with its own vocabulary",
      15L -> "unique streamed payload sentence tokens here",  // b0 keep
      20L -> "unique streamed payload sentence tokens here",  // b1: dup of 15
      25L -> "unique streamed payload sentence tokens here",  // b2: dup of 15 ONLY (20 dropped)
      30L -> "second shared payload phrase for batch zero",   // b0 keep
      45L -> "second shared payload phrase for batch zero",   // b0: in-batch dup of 30
      35L -> "second shared payload phrase for batch zero")   // b1: dup of survivor 30
    val dir = scratch("ndspec")
    texts.toSeq.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.streaming.EventsStream.neardupIngest(spark, dir,
        scratch("ndstage"), scratch("ndidx"), scratch("ndres"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_corpus_dups"), r.getAs[Long]("n_delta_dups"),
          r.getAs[Boolean]("keep")))).toMap
    assert(out(15L) === ((0L, 0L, true)))
    // 20 hits survivor 15 through the INDEX (appended after batch 0)
    assert(out(20L) === ((1L, 0L, false)))
    // 25 hits ONLY survivor 15 — dropped 20 was never appended
    assert(out(25L) === ((1L, 0L, false)))
    // in-batch first-wins: 30 kept, 45 counts the smaller-id pair
    assert(out(30L) === ((0L, 0L, true)))
    assert(out(45L) === ((0L, 1L, false)))
    // 35 hits survivor 30 via the index (45 dropped, not counted)
    assert(out(35L) === ((1L, 0L, false)))
    Scope.releaseRoot()
  }

  // --- Relational.cmsEstimate on never-sketched probe keys ---

  test("cmsEstimate: a probe key absent from the sketched data " +
    "estimates 0 instead of dropping the row (sparse left-join)") {
    val sketch = Relational.cmsBuild(Seq(1L, 1L, 2L).toDF("user_id"),
      "user_id")
    val probes = Seq(("1", 2L), ("99", 0L)).toDF("k", "n_exact")
    val est = Relational.cmsEstimate(sketch, probes).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("est")).toMap
    assert(est("1") >= 2L)
    assert(est("99") === 0L)
  }
}
