package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Scope
import graft.functions.VecExpressions

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]). Dot products / norms via the native codegen'd
  * [[graft.functions.VecDotF]] expression in double precision — no UDFs,
  * no per-row array materialization.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column = VecExpressions.vecDot(a, b)

  /** L2 norm of a float-array column, in double precision. */
  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** (vec_id, vec, norm) projection used by the similarity operators. */
  def withNorm(emb: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    VecExpressions.register(emb.sparkSession)
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
      l2norm(col(vecCol)).as("norm"))
  }

  /** The top-k rankers key their bounded-heap aggregator by Long, so ids
    * must be integral (int/long upcast transparently). Non-integral ids
    * (e.g. string doc ids) fail here with a clear message instead of at
    * encoder analysis — hash or dense-rank such ids to longs first. */
  private def requireIntegralIds(df: DataFrame, idCol: String,
                                 op: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => ()
      case other => throw new IllegalArgumentException(
        s"$op requires an integral id column (TopKAgg is Long-keyed); " +
          s"got $idCol: ${other.simpleString}. Map non-integral ids to " +
          "longs first (e.g. xxhash64 or a dense-rank dictionary).")
    }
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * candidates by cosine (ties broken by vec_id asc; self-match
    * excluded). The query side is broadcast — the candidate scan stays
    * fully parallel with no shuffle of the big side — and the ranking
    * uses the bounded-heap [[graft.functions.TopKAgg]], which partially
    * aggregates map-side: only k rows per (partition, query) cross the
    * shuffle, vs every scored row under a window row_number (the
    * difference between k·Q and N·Q shuffled rows at 100 TB).
    * Output: (query_id, neighbor_id, rank).
    */
  def bruteTopK(queries: DataFrame, candidates: DataFrame, k: Int = 10,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    requireIntegralIds(queries, idCol, "bruteTopK")
    requireIntegralIds(candidates, idCol, "bruteTopK")
    val spark = queries.sparkSession
    import spark.implicits._
    val q = withNorm(queries, idCol, vecCol)
      .withColumnsRenamed(Map("vec_id" -> "query_id", "vec" -> "qvec",
        "norm" -> "qnorm"))
    val c = withNorm(candidates, idCol, vecCol)
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // nullif: ANSI mode raises on the 0/0 of a zero vector; NULL
        // cosine instead ranks/filters it out (oracle parity: DuckDB
        // also yields NULL there)
        (dot(col("qvec"), col("vec"))
          / nullif(col("qnorm") * col("norm"), lit(0.0)))
          .as("cos"))
    scored.select(col("query_id"), col("vec_id"), col("cos"))
      .filter(col("cos").isNotNull) // zero vectors: no defined ranking
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Maximal-marginal-relevance re-rank — the diversity pass a RAG
    * retriever runs on its candidate list so the k results are not k
    * near-duplicates: greedily select, from each query's `nCand`
    * nearest candidates, the item maximizing
    * λ·rel(q, d) − (1−λ)·max over selected s of sim(d, s), k times.
    *
    * Shape: candidate generation is the brute cosine join (broadcast
    * query side, window-ranked to `nCand` per query — bounded); the
    * candidate×candidate similarity matrix is a per-query keyed
    * self-join (≤ nCand² rows per query, a constant); the greedy loop
    * is k−1 rounds of [join selected-sims → keyed max → keyed argmax],
    * all per-query-keyed — nothing in the plan is ever more than
    * nCand²·|Q| rows, and the rounds are a fixed small constant, so
    * the oracle unrolls them as CTE chains. λ = 1/2 so both weights
    * are exact binary halves (one IEEE multiply each; a general λ
    * would be fine too — it's one multiply — but 1/2 keeps the
    * score's error profile identical across engines).
    *
    * Determinism: rel and sim come from the same double-precision
    * fixed-order dot chain the brute oracle replays bit-identically;
    * every argmax ties on vec_id asc. Output: (query_id, neighbor_id,
    * mmr_rank 1..k).
    */
  def mmrTopK(queries: DataFrame, candidates: DataFrame, k: Int = 3,
              nCand: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= nCand, s"need 1 <= k <= nCand: $k, $nCand")
    val spark = queries.sparkSession
    val w = org.apache.spark.sql.expressions.Window
    val q = withNorm(queries, idCol, vecCol)
      .withColumnsRenamed(Map("vec_id" -> "query_id", "vec" -> "qvec",
        "norm" -> "qnorm"))
    val c = withNorm(candidates, idCol, vecCol)
    val byRel = w.partitionBy("query_id")
      .orderBy(col("rel").desc, col("vec_id").asc)
    val cand = Scope.hold(c
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("vec"), col("norm"),
        (dot(col("qvec"), col("vec"))
          / nullif(col("qnorm") * col("norm"), lit(0.0))).as("rel"))
      .filter(col("rel").isNotNull)
      .withColumn("rn", row_number().over(byRel))
      .filter(col("rn") <= nCand).drop("rn"))
    // candidate×candidate cosine matrix, per query (≤ nCand² rows each)
    val a = cand.select(col("query_id"), col("vec_id").as("d"),
      col("vec").as("dv"), col("norm").as("dn"))
    val b = cand.select(col("query_id"), col("vec_id").as("s"),
      col("vec").as("sv"), col("norm").as("sn"))
    val ps = Scope.hold(a.join(b, Seq("query_id")).filter(col("d") =!= col("s"))
      .select(col("query_id"), col("d"), col("s"),
        (dot(col("dv"), col("sv")) / (col("dn") * col("sn"))).as("sim")))
    val slim = cand.select(col("query_id"), col("vec_id"), col("rel"))
    var selected = slim
      .withColumn("rn", row_number().over(byRel)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), lit(1L).as("mmr_rank"))
    var remaining =
      slim.join(selected, Seq("query_id", "vec_id"), "left_anti")
    for (r <- 2 to k) {
      val maxSim = ps
        .join(selected.select(col("query_id"), col("vec_id").as("s")),
          Seq("query_id", "s"))
        .groupBy(col("query_id"), col("d")).agg(max(col("sim")).as("ms"))
      val byMmr = w.partitionBy("query_id")
        .orderBy(col("mmr").desc, col("vec_id").asc)
      val pick = remaining
        .join(maxSim, col("d") === col("vec_id") &&
          maxSim("query_id") === remaining("query_id"))
        .select(remaining("query_id"), col("vec_id"), col("rel"),
          (col("rel") * 0.5 - col("ms") * 0.5).as("mmr"))
        .withColumn("rn", row_number().over(byMmr))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), lit(r.toLong).as("mmr_rank"))
      // every selection frame stays persisted on purpose: selected_r
      // is referenced TWICE downstream (round r+1's max-sim join AND
      // the union chain), so the caches are load-bearing during the
      // single final materialization — eagerly unpersisting superseded
      // frames re-measured sim_mmr at 1.4-1.5× (round-8 bench). The
      // bounded k+1 cached plans (≤ nCand rows per query each) are
      // released with the caller's scope, after it materializes the
      // result (ADVICE r7 adjudication).
      selected = Scope.hold(selected.unionAll(pick))
      remaining =
        remaining.join(selected, Seq("query_id", "vec_id"), "left_anti")
    }
    selected.select(col("query_id"), col("vec_id").as("neighbor_id"),
      col("mmr_rank"))
  }

  /** Label-purity evaluation of an embedding space — the standard
    * "do neighbors share my label" quality check run before training on
    * learned embeddings: for each query, the fraction of its top-k
    * cosine neighbors carrying the query's label. Builds on
    * [[bruteTopK]] (exact ranking — this is an EVAL, measure against
    * truth); label lookups are keyed joins, query side broadcast.
    * Output: (query_id, query_label, n_neighbors, frac_same_label).
    */
  def labelEval(queries: DataFrame, candidates: DataFrame, k: Int = 10,
                idCol: String = "vec_id", vecCol: String = "embedding",
                labelCol: String = "label"): DataFrame = {
    val topk = bruteTopK(queries, candidates, k, idCol, vecCol)
    val ql = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"))
    val cl = candidates.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"))
    topk.join(broadcast(ql), "query_id").join(cl, "neighbor_id")
      .groupBy("query_id", "query_label")
      .agg(count(lit(1)).as("n_neighbors"),
        (sum(when(col("neighbor_label") === col("query_label"), 1L)
          .otherwise(0L)) / count(lit(1))).as("frac_same_label"))
  }

  /** Hard-negative mining — the contrastive-training companion of
    * [[labelEval]]: for each query, the k nearest candidates whose
    * label DIFFERS from the query's (the near-misses a contrastive
    * loss learns most from). Same plan shape as [[bruteTopK]] with the
    * label-mismatch predicate folded into the broadcast-join
    * condition, so wrong-label pairs are the only ones ever scored or
    * heaped; the bounded-heap [[graft.functions.TopKAgg]] keeps the
    * shuffle at k rows per (partition, query). Rows with a NULL label
    * on either side drop (`=!=` is NULL-rejecting — an unlabeled row
    * is neither a positive nor a provable negative).
    * Output: (query_id, neighbor_id, rank).
    */
  def hardNegatives(queries: DataFrame, candidates: DataFrame,
                    k: Int = 10, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    requireIntegralIds(queries, idCol, "hardNegatives")
    requireIntegralIds(candidates, idCol, "hardNegatives")
    val spark = queries.sparkSession
    import spark.implicits._
    VecExpressions.register(spark)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), l2norm(col(vecCol)).as("qnorm"),
      col(labelCol).as("query_label"))
    val c = candidates.select(col(idCol).as("vec_id"),
      col(vecCol).as("vec"), l2norm(col(vecCol)).as("norm"),
      col(labelCol).as("neighbor_label"))
    val scored = c.join(broadcast(q),
        col("vec_id") =!= col("query_id") &&
          col("neighbor_label") =!= col("query_label"))
      .select(col("query_id"), col("vec_id"),
        (dot(col("qvec"), col("vec"))
          / nullif(col("qnorm") * col("norm"), lit(0.0))).as("cos"))
      .filter(col("cos").isNotNull) // zero vectors: no defined ranking
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Sparse TF-IDF document-similarity top-k — the sparse-vector twin
    * of [[bruteTopK]]: for each query document, the k most similar
    * documents by cosine over TF-IDF term weights, computed via an
    * INVERTED-INDEX join (posting lists keyed by word) instead of a
    * dense dot product — only documents sharing at least one surviving
    * term are ever paired.
    *
    * Determinism across engines: dot products and squared norms are
    * summed through DECIMAL(30,12) (order-independent exact addition,
    * same device as [[trainCodebook]]), so the cosine doubles — and
    * therefore the ranking — are bit-identical in the DuckDB twin
    * despite the shuffle's nondeterministic add order.
    *
    * Scale posture: the pair aggregation is keyed by (doc_a, doc_b) and
    * partial-aggregates map-side; the final ranking is the bounded-heap
    * [[graft.functions.TopKAgg]] (k rows per partition per query cross
    * the shuffle). The hazard is hot posting lists: a low-idf term
    * pairs O(df²) documents while contributing ~0 weight — at corpus
    * scale prune them first (`maxDfFrac` < 1 drops terms with
    * df > frac·N before pairing; the IDF>0 filter already removes
    * corpus-universal terms). Queries are a semi-joined id set, so the
    * a-side posting lists carry only query docs.
    * Output: (query_id, neighbor_id, cos, rank).
    */
  def tfIdfDocTopK(docs: DataFrame, queryIds: DataFrame, k: Int = 5,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxDfFrac: Double = 1.0): DataFrame = {
    requireIntegralIds(docs, idCol, "tfIdfDocTopK")
    val spark = docs.sparkSession
    import spark.implicits._
    val dec = "decimal(30,12)"
    val tfidf = TfIdfOps.tfIdfPipeline(docs, idCol, textCol)
    val pruned =
      if (maxDfFrac >= 1.0) tfidf
      else {
        // the weight subtree feeds BOTH the df agg and the anti-join —
        // hold it or the whole TF-IDF pipeline runs twice (house
        // invariant 9)
        val t = Scope.hold(tfidf)
        val n = docs.count()
        val hot = t.groupBy("word").agg(count(lit(1)).as("df"))
          .filter(col("df") > lit(maxDfFrac * n))
          .select("word")
        t.join(broadcast(hot), Seq("word"), "left_anti")
      }
    // weights are consumed three times (norms + both join sides), the
    // query side through a broadcast build — warm (r14)
    val vecs = Scope.warm(pruned.select(col("doc_id"), col("word"),
      col("tf_idf").as("w")))
    // the norm table joins the scored pairs TWICE (na/nb) — persist or
    // the doc-keyed aggregation over the full weight table runs twice
    val norms = Scope.hold(vecs.groupBy("doc_id")
      .agg(sqrt(sum((col("w") * col("w")).cast(dec)).cast("double"))
        .as("norm")))
    val qs = queryIds.select(col(idCol).as("doc_id")).distinct()
    val a = vecs.join(broadcast(qs), "doc_id")
      .select(col("doc_id").as("doc_a"), col("word"), col("w").as("wa"))
    // broadcast the query-side posting lists: a word-keyed shuffle join
    // would hash on the vocabulary (31 distinct keys on the synthetic
    // corpus — catastrophic parallelism); broadcasting `a` keeps the
    // big candidate scan shuffle-free, and the query term set is
    // bounded by construction (queries × their surviving terms)
    val prods = broadcast(a).join(vecs.select(col("doc_id").as("doc_b"),
          col("word"), col("w").as("wb")),
        Seq("word"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum((col("wa") * col("wb")).cast(dec)).cast("double").as("dot"))
    val scored = prods
      .join(norms.select(col("doc_id").as("doc_a"), col("norm").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("norm").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("dot") / nullif(col("na") * col("nb"), lit(0.0))).as("cos"))
      .filter(col("cos").isNotNull)
    scored
      .select(col("doc_a"), col("doc_b"), col("cos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cos"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Cosine top-k over SPARSE INTEGER vectors (doc_id, j, w) — the
    * exact, cross-engine-stable similarity for DERIVED embeddings like
    * [[TextStats.hashEmbedBuckets]]'s hashing-trick vectors: dot
    * products and squared norms are exact long sums (order-independent
    * with no decimal routing needed), and the only floating point is
    * sqrt/division over those exact integers — bit-identical in any
    * engine. Same inverted-index + broadcast-query + bounded-heap
    * shape as [[tfIdfDocTopK]] (and the same rationale for
    * broadcasting the query side: a j-keyed shuffle would hash on the
    * bucket vocabulary).
    * Output: (query_id, neighbor_id, cos, rank).
    */
  def sparseIntTopK(buckets: DataFrame, queryIds: DataFrame,
                    k: Int = 5): DataFrame = {
    val spark = buckets.sparkSession
    import spark.implicits._
    // consumed by norms + both join sides (house invariant 9).
    // NOT eagerly warmed: measured on text_hybrid_rrf (r14 OneQuery
    // A/B, 5.0-5.5 s without vs 6.2-6.4 s with, the no-warm run under
    // HIGHER load) — the racing evaluations overlap on idle cores
    // locally, while the warm count serializes a full bucket pass
    // ahead of the action. norms still persists: it joins the scored
    // pairs twice, and a second full-vecs aggregation is a pure loss
    // at any scale
    val vecs = Scope.hold(buckets.select(col("doc_id"), col("j"), col("w")))
    val norms = Scope.hold(vecs.groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("nsq")))
    val qs = queryIds.select(col("doc_id")).distinct()
    val a = vecs.join(broadcast(qs), "doc_id")
      .select(col("doc_id").as("doc_a"), col("j"), col("w").as("wa"))
    val prods = broadcast(a)
      .join(vecs.select(col("doc_id").as("doc_b"), col("j"),
        col("w").as("wb")), Seq("j"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val scored = prods
      .join(norms.select(col("doc_id").as("doc_a"), col("nsq").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nsq").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("dot").cast("double") /
          nullif(sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double")), lit(0.0))).as("cos"))
      .filter(col("cos").isNotNull)
    scored.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        col("col._1").as("cos"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** IVF (inverted-file) ANN top-k — the industry-standard coarse
    * quantization scale path: candidates are assigned to their nearest
    * of `nCentroids` centroid lists; each query scores only the lists
    * of its `nProbe` nearest centroids. All joins are keyed equi-joins
    * on the centroid id; the only cross product is against the
    * `nCentroids`-row broadcast codebook (a constant).
    *
    * The codebook here is the `nCentroids` lowest-id candidate vectors —
    * a fixed, engine-reproducible stand-in for a k-means codebook (which
    * production would train offline and broadcast the same way; the
    * plumbing is identical). Deterministic ties: (cos desc, centroid id
    * asc). Zero vectors are excluded (no defined cosine). Recall < 1 by
    * design; [[bruteTopK]] is the oracle at test scale, and the whole
    * operator is plain SQL, so an external twin can replay it exactly.
    * Output: (query_id, neighbor_id, rank).
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int = 10,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              codebook: Option[DataFrame] = None): DataFrame = {
    requireIntegralIds(queries, idCol, "ivfTopK")
    requireIntegralIds(candidates, idCol, "ivfTopK")
    val cand = withNorm(candidates, idCol, vecCol)
      .filter(col("norm") > 0)
    val cent = ivfCentroids(cand, nCentroids, codebook)
    ivfServe(withNorm(queries, idCol, vecCol).filter(col("norm") > 0),
      cent, ivfAssign(cand, cent), k, nProbe)
  }

  /** IVF range search — the RADIUS query next to [[ivfTopK]]'s top-k
    * (the other half of a vector store's query surface: "everything
    * within cosine >= t of these queries", the primitive under
    * near-dup candidate lookup, semantic recall sweeps, and
    * contamination probes against an embedded benchmark): queries
    * route to their nProbe nearest lists exactly as in [[ivfTopK]]
    * (shared [[ivfScored]] front — routed, exact-verified pairs), and
    * the tail is a threshold FILTER instead of a bounded-heap rank.
    * Unlike top-k the output size is data-dependent; the routing bound
    * still caps scanned pairs at the probed-fraction of the corpus,
    * and the filter applies before anything shuffles (there is no
    * shuffle — the tail is a projection).
    * Output: (query_id, neighbor_id, cos), round2 cosine, cos >= t on
    * the EXACT value (zero vectors have no cosine and never match). */
  def ivfRangeSearch(queries: DataFrame, candidates: DataFrame,
                     threshold: Double = 0.4,
                     nCentroids: Int = 16, nProbe: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     codebook: Option[DataFrame] = None): DataFrame = {
    requireIntegralIds(queries, idCol, "ivfRangeSearch")
    requireIntegralIds(candidates, idCol, "ivfRangeSearch")
    val cand = withNorm(candidates, idCol, vecCol)
      .filter(col("norm") > 0)
    val cent = ivfCentroids(cand, nCentroids, codebook)
    ivfScored(withNorm(queries, idCol, vecCol).filter(col("norm") > 0),
        cent, ivfAssign(cand, cent), nProbe)
      .filter(col("cos") >= threshold)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.Fns.round2(col("cos")).as("cos"))
  }

  /** The IVF cluster assignment as a PUBLIC surface — (vec_id, cid)
    * for every non-zero vector, nearest of the nCentroids lowest-id
    * vectors (or a supplied codebook) by cosine, ties to the lowest
    * cid: the semantic-stratification key under cluster-balanced
    * sampling ([[Sampling.clusterStratifiedSample]]) and any
    * per-cluster report. One broadcast codebook + one struct-max
    * aggregation — no window over the N×C cross rows. */
  def ivfAssignments(emb: DataFrame, nCentroids: Int = 16,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     codebook: Option[DataFrame] = None): DataFrame = {
    requireIntegralIds(emb, idCol, "ivfAssignments")
    val cand = withNorm(emb, idCol, vecCol).filter(col("norm") > 0)
    ivfAssign(cand, ivfCentroids(cand, nCentroids, codebook))
      .select("vec_id", "cid")
  }

  /** The IVF codebook as (cid, cvec, cnorm): a caller-supplied
    * (cid long, centroid array<float>) frame — e.g. from
    * [[trainCodebook]] — or the default nCentroids lowest-id vectors.
    * Zero-norm centroids (dead clusters from an external trainer) are
    * dropped rather than raising DIVIDE_BY_ZERO in the assignment. */
  private def ivfCentroids(cand: DataFrame, nCentroids: Int,
                           codebook: Option[DataFrame]): DataFrame =
    (codebook match {
      case Some(cb) => cb
        .select(col("cid"), col("centroid").as("cvec"),
          l2norm(col("centroid")).as("cnorm"))
      case None => cand.orderBy(col("vec_id").asc).limit(nCentroids)
        .select(col("vec_id").as("cid"), col("vec").as("cvec"),
          col("norm").as("cnorm"))
    }).filter(col("cnorm") > 0)

  private def centCos(vec: Column, norm: Column): Column =
    dot(vec, col("cvec")) / (norm * col("cnorm"))

  /** Nearest centroid per candidate — the IVF posting assignment:
    * struct-max picks (max cos, then min cid via the negated id) — one
    * map-side-combined aggregation, no window over the N×C cross rows.
    * Output: (vec_id, vec, norm, cid). */
  private def ivfAssign(cand: DataFrame, cent: DataFrame): DataFrame =
    cand.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("vec"), col("norm"), col("cid"),
        struct(centCos(col("vec"), col("norm")).as("cos"),
          (-col("cid")).as("ncid")).as("sc"))
      .groupBy("vec_id")
      .agg(first(col("vec")).as("vec"), first(col("norm")).as("norm"),
        max(col("sc")).as("best"))
      .select(col("vec_id"), col("vec"), col("norm"),
        (-col("best.ncid")).as("cid"))

  /** The IVF query path over a (cent, assigned) index — shared verbatim
    * by the in-plan [[ivfTopK]] and the persisted-artifact
    * [[ivfTopKFromIndex]], so build-then-serve is bit-identical to
    * build-and-serve by construction. */
  private def ivfServe(q: DataFrame, cent: DataFrame,
                       assigned: DataFrame, k: Int,
                       nProbe: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    ivfScored(q, cent, assigned, nProbe)
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** The routed-and-scored (query_id, vec_id, cos) pairs shared by the
    * top-k tail ([[ivfServe]]) and the threshold tail
    * ([[ivfRangeSearch]]): nProbe nearest centroids per query, probed
    * lists joined, exact cosine per surviving pair — each (q, c) pair
    * meets at most once (a candidate lives in exactly ONE list, probes
    * are distinct cids), so no dedup precedes the tail. */
  private def ivfScored(q: DataFrame, cent: DataFrame,
                        assigned: DataFrame, nProbe: Int): DataFrame =
    ivfScoredRanked(q, cent, assigned, nProbe).drop("prank")

  /** [[ivfScored]] with the routing rank kept: `prank` = the 1-based
    * position of the scanned list in its query's centroid ranking
    * (TopKAgg emits best-first, so pos 0 is the nearest centroid).
    * Because a query's nProbe=p probe set is exactly the prank ≤ p
    * PREFIX of its routing order, ONE scored pass at the largest p
    * prices every smaller operating point — the device under
    * [[ivfAutotune]]'s sweep. */
  private def ivfScoredRanked(q: DataFrame, cent: DataFrame,
                              assigned: DataFrame,
                              nProbe: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    // nProbe nearest centroids per query, via the same bounded-heap
    // ranking as the final top-k
    val probes = q.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        centCos(col("vec"), col("norm")).as("cos"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(nProbe).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("cid"),
        (col("pos") + 1).cast("long").as("prank"))
    val qr = q.withColumnsRenamed(Map("vec_id" -> "query_id",
      "vec" -> "qvec", "norm" -> "qnorm"))
    val scored = probes.join(broadcast(qr), "query_id")
      .join(assigned, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("prank"),
        (dot(col("qvec"), col("vec"))
          / nullif(col("qnorm") * col("norm"), lit(0.0))).as("cos"))
    scored.filter(col("cos").isNotNull)
  }

  /** Build the IVF index ONCE and persist it as parquet — the missing
    * half of the 100 TB ANN story (round-7 verdict #4): at scale the
    * index is built by one batch job and every query session serves
    * from the artifact, never re-deriving codebook or assignments.
    * Layout under `dir`:
    *  - `codebook/` — (cid, centroid): the k×dims model artifact;
    *  - `postings/` — (vec_id, vec, norm, cid), PARTITIONED BY cid:
    *    the IVF-Flat inverted lists as physical partitions, so a
    *    static list filter prunes directories at the scan and a
    *    1000-executor read of one list touches one directory.
    * Norms are stored, not recomputed: a parquet double round-trips
    * bit-exactly, so the served ranking is IDENTICAL to the in-plan
    * one (the gate pins this). */
  def ivfIndexWrite(candidates: DataFrame, dir: String,
                    nCentroids: Int = 16, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    codebook: Option[DataFrame] = None): Unit = {
    requireIntegralIds(candidates, idCol, "ivfIndexWrite")
    val cand = withNorm(candidates, idCol, vecCol)
      .filter(col("norm") > 0)
    val cent = ivfCentroids(cand, nCentroids, codebook)
    cent.select(col("cid"), col("cvec").as("centroid"),
        col("cnorm").as("centroid_norm"))
      .write.mode("overwrite").parquet(s"$dir/codebook")
    ivfAssign(cand, cent)
      // cluster by the partition column before the partitioned write —
      // otherwise every upstream task opens a file per cid dir
      // (tasks × centroids tiny files); AQE rebalance keeps file
      // sizing scale-adaptive (guide §6; the dedupIndexWrite r13 fix)
      .hint("rebalance", col("cid"))
      .write.mode("overwrite").partitionBy("cid")
      .parquet(s"$dir/postings")
  }

  /** INCREMENTAL index maintenance — the nightly-delta half of the
    * persisted-index story (the dedup_incremental / rel_hll_maintain
    * pattern applied to ANN): assign ONLY the new vectors against the
    * STORED codebook and append their postings to the existing lists.
    * Because list assignment is per-vector independent given a fixed
    * codebook, append-then-serve is bit-identical to rebuilding the
    * whole index over the union — the gate pins this — so a 100 TB
    * corpus absorbs a day's embeddings at delta cost, never touching
    * the existing postings (partitioned dirs take appends in place).
    * The codebook itself is NOT retrained here; codebook drift is a
    * deliberate periodic rebuild decision, exactly as in production
    * IVF deployments. */
  def ivfIndexAppend(newVecs: DataFrame, dir: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    requireIntegralIds(newVecs, idCol, "ivfIndexAppend")
    val spark = newVecs.sparkSession
    val cent = spark.read.parquet(s"$dir/codebook")
      .select(col("cid"), col("centroid").as("cvec"),
        col("centroid_norm").as("cnorm"))
    val cand = withNorm(newVecs, idCol, vecCol)
      .filter(col("norm") > 0)
    ivfAssign(cand, cent)
      .hint("rebalance", col("cid")) // see ivfIndexWrite (guide §6)
      .write.mode("append").partitionBy("cid")
      .parquet(s"$dir/postings")
  }

  /** Serve IVF top-k from a persisted [[ivfIndexWrite]] artifact — the
    * identical [[ivfServe]] tail over the re-read codebook/postings
    * (cid comes back as a partition column and is cast to long;
    * vectors and norms round-trip bit-exactly). */
  def ivfTopKFromIndex(queries: DataFrame, dir: String, k: Int = 10,
                       nProbe: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    requireIntegralIds(queries, idCol, "ivfTopKFromIndex")
    val spark = queries.sparkSession
    val cent = spark.read.parquet(s"$dir/codebook")
      .select(col("cid"), col("centroid").as("cvec"),
        col("centroid_norm").as("cnorm"))
    val assigned = spark.read.parquet(s"$dir/postings")
      .select(col("vec_id"), col("vec"), col("norm"),
        col("cid").cast("long").as("cid"))
    ivfServe(withNorm(queries, idCol, vecCol).filter(col("norm") > 0),
      cent, assigned, k, nProbe)
  }

  /** Deterministic spherical k-means codebook trainer for [[ivfTopK]]:
    * seeded with the k lowest-id vectors, a FIXED number of Lloyd
    * iterations (no convergence test — determinism over optimality),
    * assignment by max cosine with ties to the lowest centroid index,
    * empty clusters keep their previous centroid. Per iteration the
    * k×dims codebook round-trips through the driver — it is a MODEL
    * artifact (the same "small broadcast table" shape every production
    * IVF index uses), not row data; the heavy work (assignment + the
    * per-dimension means) is distributed.
    *
    * The per-dimension cluster means sum through DECIMAL(30,12): a
    * double sum's value depends on shuffle arrival order, so the
    * trained codebook would differ RUN TO RUN (and engine to engine);
    * the decimal path quantizes each component once (deterministically)
    * and then sums exactly, making the whole 5-iteration trajectory —
    * and therefore the gate's trained-IVF ranking — bit-reproducible
    * and replayable by an external SQL twin.
    * Output: (cid long, centroid array<float>) — unit-normalized.
    */
  def trainCodebook(emb: DataFrame, k: Int = 16, iters: Int = 5,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = Scope.run {
    // the codebook leaves as local rows, so the unit vectors die here
    val spark = emb.sparkSession
    val n = Scope.hold(withNorm(emb, idCol, vecCol).filter(col("norm") > 0)
      .select(col("vec_id"),
        transform(col("vec"), x => (x.cast("double") / col("norm")))
          .as("unit")))
    var code: Array[Seq[Double]] = n.orderBy(col("vec_id").asc).limit(k)
      .collect().map(_.getSeq[Double](1))
    // fewer non-zero vectors than requested centroids: train with what
    // exists (k columns past code.length would not resolve)
    val kEff = code.length
    require(kEff > 0, "trainCodebook: no non-zero vectors to train on")
    for (_ <- 1 to iters) {
      val sims = code.zipWithIndex.map { case (c, i) =>
        aggregate(zip_with(col("unit"), typedLit(c), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as(s"s$i")
      }
      // argmax over the kEff similarity columns, ties to lowest index
      // (distinct -i makes the max unique). greatest(), NOT a
      // when(a >= b, a, b) fold: the fold embeds each operand twice per
      // step, growing the expression tree 2^k-fold — at k=16 that is
      // ~10^5 Catalyst nodes and minutes of analysis/codegen time;
      // greatest is one flat node with k children
      val structs = (0 until kEff).map(i =>
        struct(col(s"s$i").as("s"), lit(-i).as("ni")))
      val best = if (kEff == 1) structs.head else greatest(structs: _*)
      val means = n.select(col("unit") +: sims: _*)
        .withColumn("c", (-best.getField("ni")).cast("int"))
        .select(col("c"), posexplode(col("unit")))
        .groupBy("c", "pos")
        .agg((sum(col("col").cast("decimal(30,12)")).cast("double")
          / count(lit(1))).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byC = means.groupBy(_._1)
      code = code.zipWithIndex.map { case (prev, i) =>
        byC.get(i) match {
          case None => prev // empty cluster: keep the previous centroid
          case Some(rows) =>
            val m = rows.sortBy(_._2).map(_._3)
            val nrm = math.sqrt(m.map(x => x * x).sum)
            if (nrm == 0) prev else m.map(_ / nrm).toSeq
        }
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      code.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i.toLong, c.map(_.toFloat))
      }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
  }

  /** Symmetric int8 quantization of an embedding column — the storage/
    * bandwidth lever of a 100 TB vector corpus (4× smaller than float32,
    * SIMD-friendly dot products downstream). Per-vector scale =
    * max|x|/127; q_i = floor(x_i·127/max|x| + 0.5) ∈ [-127, 127]
    * (half-up, identical arithmetic in any engine — no round()
    * half-even ambiguity). Zero vectors quantize to NULL scale/values
    * (nullif guard; ANSI-safe). Pure codegen'd array transforms.
    * Output: (vec_id, scale double, qvec array<int>); dequantize as
    * q_i · scale.
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    val maxAbs = array_max(transform(vd, x => abs(x)))
    emb.select(col(idCol).as("vec_id"), vd.as("v"), maxAbs.as("m"))
      .select(col("vec_id"),
        (nullif(col("m"), lit(0.0)) / 127.0).as("scale"),
        transform(col("v"),
          x => floor(x * 127.0 / nullif(col("m"), lit(0.0)) + 0.5)
            .cast("int")).as("qvec"))
  }

  /** Product-quantization (PQ) ANN top-k — the memory-compression scale
    * path (Jégou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search"): vectors split into `m` subspaces, each encoded
    * as its nearest of `ksub` per-subspace centroids, so a candidate is
    * stored as m small codes (64 float32 dims → 8 bytes here — the
    * reason a 100 TB embedding corpus can be scanned from memory at
    * all). Queries score candidates by ADC (asymmetric distance): a
    * per-query m×ksub lookup table of exact subspace distances, summed
    * over the candidate's codes; the `rerank` best by approximate
    * distance are then re-ranked by EXACT L2 — the standard
    * shortlist-then-refine deployment.
    *
    * Distances are pure L2 (no divisions — no ANSI guards needed), all
    * computed as x² - 2·x·c + c² over the codegen'd [[dot]]. The ADC
    * sum over the m per-subspace terms crosses a shuffle, so it routes
    * through DECIMAL(30,12) (order-independent exact addition — the
    * same device as [[tfIdfDocTopK]]); every argmin/rank tie is pinned
    * (centroid j asc, vec_id asc), so the whole operator — codebook,
    * codes, shortlist, final ranking — is bit-reproducible and
    * SQL-replayable.
    *
    * The codebook derives from the data by a fixed rule (sub-blocks of
    * the `ksub` lowest-id candidates — the same engine-reproducible
    * stand-in as [[ivfTopK]]'s default; production trains per-subspace
    * k-means offline with [[trainCodebook]]'s machinery and broadcasts
    * it the same way). Scale posture: the codebook is a bounded model
    * artifact (m·ksub rows, broadcast); encoding is a broadcast join +
    * map-side-combined argmin keyed by (vec_id, s); ADC joins codes to
    * the broadcast per-query tables on (s, j) and aggregates keyed by
    * (query, candidate); only `rerank` rows per query reach the exact
    * stage. Compose with [[ivfTopK]]'s coarse lists to avoid scanning
    * all codes per query (IVFADC). Recall < 1 by design —
    * [[bruteTopK]] is the oracle at test scale.
    * Output: (query_id, neighbor_id, rank).
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int = 10,
             m: Int = 8, ksub: Int = 16, rerank: Int = 160,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    requireIntegralIds(queries, idCol, "pqTopK")
    requireIntegralIds(candidates, idCol, "pqTopK")
    VecExpressions.register(queries.sparkSession)
    val dsub = pqDims(candidates, m, vecCol, "pqTopK") / m
    val cent = pqCent(candidates, ksub, m, dsub, idCol, vecCol)
    val code = pqCodes(candidates, cent, m, dsub, idCol, vecCol)
    val dt = pqQueryTables(queries, cent, m, dsub, idCol, vecCol)
    // exhaustive ADC: every code row meets every query's table row for
    // its (s, j) — the flat-scan deployment; [[ivfPqTopK]] is the
    // coarse-pruned one. Approximate distance = sum of the m looked-up
    // subspace terms; decimal-routed (terms arrive shuffle-ordered).
    val adc = code.join(broadcast(dt), Seq("s", "j"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qd2").cast("decimal(30,12)")).cast("double").as("ad2"))
    exactL2ReRank(minHeapIds(adc, rerank), queries, candidates, k,
      idCol, vecCol)
  }

  /** Persist the PQ artifact ONCE as parquet — the other half of the
    * compressed-ANN story (round-9 verdict #5; [[ivfIndexWrite]] is the
    * routing half): at scale the codebook is trained and the corpus
    * encoded by one batch job, and every query session serves ADC from
    * the stored codes — the 8-byte-per-vector representation is the
    * artifact, never re-derived per query. Layout under `dir`:
    *  - `codebook/` — (s, j, csub, c2): the m×ksub per-subspace
    *    centroids with their squared norms (a bounded model artifact,
    *    broadcast at serve time);
    *  - `codes/` — (vec_id, s, j): the PQ codes, m rows per vector (the
    *    columnar stand-in for the packed code bytes);
    *  - `vectors/` — (vec_id, vec): the full-precision vectors the
    *    exact re-rank shortlist stage reads (in production these live
    *    in the lake anyway; storing them beside the codes keeps the
    *    artifact self-contained).
    * Floats and doubles round-trip parquet bit-exactly, so the served
    * ranking is IDENTICAL to [[pqTopK]]'s in-plan one (the gate pins
    * this). Codebook geometry (m, dsub, ksub) is recovered from the
    * stored codebook itself at serve time — the artifact carries its
    * own parameters. */
  def pqIndexWrite(candidates: DataFrame, dir: String, m: Int = 8,
                   ksub: Int = 16, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = Scope.run {
    requireIntegralIds(candidates, idCol, "pqIndexWrite")
    VecExpressions.register(candidates.sparkSession)
    val dsub = pqDims(candidates, m, vecCol, "pqIndexWrite") / m
    // two consumers: the artifact write + the encoding
    val cent = Scope.hold(pqCent(candidates, ksub, m, dsub, idCol, vecCol))
    cent.write.mode("overwrite").parquet(s"$dir/codebook")
    pqCodes(candidates, cent, m, dsub, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$dir/codes")
    candidates.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Serve PQ ANN top-k from a persisted [[pqIndexWrite]] artifact —
    * the identical [[pqTopK]] tail (per-query ADC tables from the
    * re-read codebook, exhaustive ADC over the stored codes, exact-L2
    * re-rank of the shortlist against the stored vectors). Geometry
    * (m, dsub) comes from the stored codebook — a model-sized driver
    * lookup, not a data scan. */
  def pqTopKFromIndex(queries: DataFrame, dir: String, k: Int = 10,
                      rerank: Int = 160, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    requireIntegralIds(queries, idCol, "pqTopKFromIndex")
    val spark = queries.sparkSession
    VecExpressions.register(spark)
    val cent = spark.read.parquet(s"$dir/codebook")
    val geom = cent.agg(max(col("s")), min(size(col("csub")))).take(1)
    val (m, dsub) = (geom.head.getInt(0) + 1, geom.head.getInt(1))
    val code = spark.read.parquet(s"$dir/codes")
    val dt = pqQueryTables(queries, cent, m, dsub, idCol, vecCol)
    val adc = code.join(broadcast(dt), Seq("s", "j"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qd2").cast("decimal(30,12)")).cast("double").as("ad2"))
    exactL2ReRank(minHeapIds(adc, rerank), queries,
      spark.read.parquet(s"$dir/vectors")
        .select(col("vec_id").as(idCol), col("vec").as(vecCol)),
      k, idCol, vecCol)
  }

  /** IVFADC — [[ivfTopK]]'s coarse pruning composed with [[pqTopK]]'s
    * compressed scoring (the production shape: a query touches only its
    * `nProbe` coarse lists, and those lists are scanned as 8-byte PQ
    * codes, not float vectors). The coarse quantizer here is L2-based
    * (nearest of the `nCentroids` lowest-id vectors, ties to the lowest
    * centroid id) so the whole operator lives in one metric; codes are
    * over RAW vectors with one global codebook — the simplest twin to
    * read; [[ivfPqResTopK]] is the residual-encoded upgrade (per-list
    * codebooks over member displacements — more accurate, same
    * plumbing). Recall compounds the two approximations:
    * [[bruteTopK]]/[[pqTopK]] bound it from above at test scale.
    * Output: (query_id, neighbor_id, rank).
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int = 10,
                nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8,
                ksub: Int = 16, rerank: Int = 160,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    requireIntegralIds(queries, idCol, "ivfPqTopK")
    requireIntegralIds(candidates, idCol, "ivfPqTopK")
    VecExpressions.register(queries.sparkSession)
    val dsub = pqDims(candidates, m, vecCol, "ivfPqTopK") / m
    val (_, assigned, probes) =
      coarseRouting(queries, candidates, nCentroids, nProbe, idCol, vecCol)
    // fine quantizer: same PQ stages as pqTopK
    val cent = pqCent(candidates, ksub, m, dsub, idCol, vecCol)
    val code = pqCodes(candidates, cent, m, dsub, idCol, vecCol)
    val dt = pqQueryTables(queries, cent, m, dsub, idCol, vecCol)
    // candidate pairs = probed lists only, THEN the ADC lookup — the
    // join fans each surviving pair out to its m code rows and meets
    // the broadcast tables on (query_id, s, j)
    val pairs = probes.join(assigned, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val adc = pairs.join(code, "vec_id")
      .join(broadcast(dt), Seq("query_id", "s", "j"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qd2").cast("decimal(30,12)")).cast("double").as("ad2"))
    exactL2ReRank(minHeapIds(adc, rerank), queries, candidates, k,
      idCol, vecCol)
  }

  /** Residual-encoded IVFADC — [[ivfPqTopK]] upgraded to the canonical
    * Jégou-et-al deployment: each list's members are PQ-encoded as
    * RESIDUALS against their coarse centroid, with a PER-LIST codebook,
    * so the fine quantizer spends its 8 bytes on the (much smaller)
    * within-list displacement instead of re-describing the whole
    * vector — accuracy at identical plumbing. Queries build one ADC
    * table per PROBED list (the query residual differs per list).
    *
    * Determinism: residual subtraction is element-wise FLOAT (zip_with
    * over the float vectors — DuckDB REAL arithmetic reproduces it
    * bit-for-bit); every dot accumulates left-to-right in double
    * ([[graft.functions.VecDotF]]); the ADC sum routes through
    * DECIMAL(30,12); argmin/membership/rank ties all pinned (j asc,
    * vec_id asc), so the full chain is SQL-replayable.
    *
    * Scale posture: the per-list codebook is a bounded model artifact
    * (≤ nCentroids·m·ksub rows, broadcast); list membership for
    * codebook derivation uses the bounded heap (ksub ids per list per
    * partition cross the shuffle — NOT a window over all candidates);
    * query tables are queries × nProbe × m × ksub rows, broadcast;
    * everything else is the [[ivfPqTopK]] keyed-join shape. With
    * rerank=∞ the result is spec-proven identical to [[ivfPqTopK]]'s
    * (both collapse to exact L2 over the same probed lists).
    * Output: (query_id, neighbor_id, rank).
    */
  def ivfPqResTopK(queries: DataFrame, candidates: DataFrame, k: Int = 10,
                   nCentroids: Int = 16, nProbe: Int = 4, m: Int = 8,
                   ksub: Int = 16, rerank: Int = 160,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    requireIntegralIds(queries, idCol, "ivfPqResTopK")
    requireIntegralIds(candidates, idCol, "ivfPqResTopK")
    val spark = queries.sparkSession
    import spark.implicits._
    VecExpressions.register(spark)
    val dsub = pqDims(candidates, m, vecCol, "ivfPqResTopK") / m
    val (coarse, assigned0, probes) =
      coarseRouting(queries, candidates, nCentroids, nProbe, idCol, vecCol)
    // two consumers each (residuals+membership / codebook+codes) —
    // persist or the coarse assignment and the TF of the residual
    // subtree recompute (house invariant 9)
    val assigned = Scope.hold(assigned0)
    val cvec = coarse.select(col("ccid").as("cid"), col("ccvec"))
    val resid = Scope.hold(candidates
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .join(assigned, "vec_id")
      .join(broadcast(cvec), "cid")
      .select(col("vec_id"), col("cid"),
        zip_with(col("vec"), col("ccvec"), (x, c) => x - c).as("rvec")))
    // per-list codebook membership: the ksub lowest-id members of each
    // list via the bounded heap (score = -id keeps smallest ids; exact
    // for ids < 2^53); j = position in the (id asc) sorted output
    val members = assigned
      .select(col("cid"), col("vec_id")).as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, -t._2.toDouble))
      .agg(new graft.functions.TopKAgg(ksub).toColumn.name("top"))
      .toDF("cid", "top")
      .select(col("cid"), posexplode(col("top")))
      .select(col("cid"), col("col._2").as("vec_id"),
        col("pos").cast("long").as("j"))
    // per-list residual codebook (cid, s, j, csub, c2) — bounded
    val centR = members.join(resid, Seq("cid", "vec_id"))
      .select(col("cid"), col("j"),
        explode(pqSubs(col("rvec"), m, dsub)).as("e"))
      .select(col("cid"), col("e.s").as("s"), col("j"),
        col("e.sv").as("csub"), dot(col("e.sv"), col("e.sv")).as("c2"))
    // codes: nearest residual centroid WITHIN the candidate's own list
    val code = resid
      .select(col("vec_id"), col("cid"),
        explode(pqSubs(col("rvec"), m, dsub)).as("e"))
      .select(col("vec_id"), col("cid"), col("e.s").as("s"),
        col("e.sv").as("sv"), dot(col("e.sv"), col("e.sv")).as("x2"))
      .join(broadcast(centR), Seq("cid", "s"))
      .select(col("vec_id"), col("cid"), col("s"),
        struct(pqD2(col("sv"), col("x2")).as("d"), col("j")).as("dj"))
      .groupBy("vec_id", "cid", "s")
      .agg(min(col("dj")).as("best"))
      .select(col("vec_id"), col("cid"), col("s"), col("best.j").as("j"))
    // query residual + ADC table per probed list
    val qres = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .join(probes, "query_id")
      .join(broadcast(cvec), "cid")
      .select(col("query_id"), col("cid"),
        zip_with(col("qvec"), col("ccvec"), (x, c) => x - c).as("rq"))
    val dt = qres
      .select(col("query_id"), col("cid"),
        explode(pqSubs(col("rq"), m, dsub)).as("e"))
      .select(col("query_id"), col("cid"), col("e.s").as("s"),
        col("e.sv").as("qsv"), dot(col("e.sv"), col("e.sv")).as("q2"))
      .join(broadcast(centR), Seq("cid", "s"))
      .select(col("query_id"), col("cid"), col("s"), col("j"),
        pqD2(col("qsv"), col("q2")).as("qd2"))
    val pairs = probes.join(assigned, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "cid", "vec_id")
    val adc = pairs.join(code, Seq("vec_id", "cid"))
      .join(broadcast(dt), Seq("query_id", "cid", "s", "j"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("qd2").cast("decimal(30,12)")).cast("double").as("ad2"))
    exactL2ReRank(minHeapIds(adc, rerank), queries, candidates, k,
      idCol, vecCol)
  }

  // ---- PQ building blocks (shared by pqTopK and ivfPqTopK) ----

  /** Coarse L2 routing shared by [[ivfPqTopK]] and [[ivfPqResTopK]]:
    * codebook = the nCentroids lowest-id FULL vectors (cid = their own
    * vec_id — the ivfTopK default rule, L2 flavor); per-candidate
    * nearest-list assignment via struct-min (map-side combined, ties →
    * lowest cid); per-query nProbe nearest lists via the bounded heap.
    * Returns (coarse(ccid, ccvec, cc2), assigned(vec_id, cid),
    * probes(query_id, cid)).
    */
  private def coarseRouting(queries: DataFrame, candidates: DataFrame,
                            nCentroids: Int, nProbe: Int,
                            idCol: String, vecCol: String)
    : (DataFrame, DataFrame, DataFrame) = {
    val coarse = candidates.orderBy(col(idCol).asc).limit(nCentroids)
      .select(col(idCol).as("ccid"), col(vecCol).as("ccvec"),
        dot(col(vecCol), col(vecCol)).as("cc2"))
    def coarseD2(v: Column, v2: Column): Column =
      v2 - lit(2.0) * dot(v, col("ccvec")) + col("cc2")
    // nearest coarse list per candidate — struct-min, map-side combined
    val assigned = candidates
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        dot(col(vecCol), col(vecCol)).as("v2"))
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"),
        struct(coarseD2(col("vec"), col("v2")).as("d"),
          col("ccid")).as("dc"))
      .groupBy("vec_id")
      .agg(min(col("dc")).as("best"))
      .select(col("vec_id"), col("best.ccid").as("cid"))
    // nProbe nearest lists per query
    val probes = minHeapIds(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        dot(col(vecCol), col(vecCol)).as("q2"))
      .crossJoin(broadcast(coarse))
      .select(col("query_id"), col("ccid").as("vec_id"),
        coarseD2(col("qvec"), col("q2")).as("ad2")), nProbe)
      .withColumnRenamed("vec_id", "cid")
    (coarse, assigned, probes)
  }

  /** Vector dimensionality from a one-row metadata lookup (dims aren't
    * in the schema); uniform dims assumed as elsewhere
    * ([[Dedup.embeddingNearDup]] raises on violations). */
  private def pqDims(candidates: DataFrame, m: Int, vecCol: String,
                     op: String): Int = {
    val dims = candidates.select(size(col(vecCol))).take(1)
      .headOption.map(_.getInt(0)).getOrElse(m)
    require(dims % m == 0, s"$op: dims $dims not divisible by m=$m")
    dims
  }

  /** (s, j, sv) subvector structs for one vector. */
  private def pqSubs(v: Column, m: Int, dsub: Int): Column =
    array((0 until m).map(s =>
      struct(lit(s).as("s"), slice(v, s * dsub + 1, dsub).as("sv"))): _*)

  /** x² - 2·x·c + c² against the in-scope (csub, c2) centroid columns. */
  private def pqD2(xv: Column, x2: Column): Column =
    x2 - lit(2.0) * dot(xv, col("csub")) + col("c2")

  /** Per-subspace codebook (s, j, csub, c2): sub-blocks of the ksub
    * lowest-id candidates; j = rank by id. The window runs over <= ksub
    * rows — a bounded model artifact, not a data sort. */
  private def pqCent(candidates: DataFrame, ksub: Int, m: Int, dsub: Int,
                     idCol: String, vecCol: String): DataFrame = {
    val byId = org.apache.spark.sql.expressions.Window
      .orderBy(col("bid").asc)
    candidates.orderBy(col(idCol).asc).limit(ksub)
      .select(col(idCol).as("bid"), col(vecCol).as("bvec"))
      .withColumn("j", (row_number().over(byId) - 1).cast("long"))
      .select(col("j"), explode(pqSubs(col("bvec"), m, dsub)).as("e"))
      .select(col("e.s").as("s"), col("j"), col("e.sv").as("csub"),
        dot(col("e.sv"), col("e.sv")).as("c2"))
  }

  /** PQ codes (vec_id, s, j): nearest centroid per (candidate,
    * subspace); struct-min pins ties to the lowest j, map-side
    * combined, no window. */
  private def pqCodes(candidates: DataFrame, cent: DataFrame, m: Int,
                      dsub: Int, idCol: String,
                      vecCol: String): DataFrame =
    candidates
      .select(col(idCol).as("vec_id"),
        explode(pqSubs(col(vecCol), m, dsub)).as("e"))
      .select(col("vec_id"), col("e.s").as("s"), col("e.sv").as("sv"),
        dot(col("e.sv"), col("e.sv")).as("x2"))
      .join(broadcast(cent), "s")
      .select(col("vec_id"), col("s"),
        struct(pqD2(col("sv"), col("x2")).as("d"), col("j")).as("dj"))
      .groupBy("vec_id", "s")
      .agg(min(col("dj")).as("best"))
      .select(col("vec_id"), col("s"), col("best.j").as("j"))

  /** Per-query ADC lookup tables (query_id, s, j, qd2): exact subspace
    * distance to every centroid — m·ksub rows per query, a broadcast
    * model-sized side. */
  private def pqQueryTables(queries: DataFrame, cent: DataFrame, m: Int,
                            dsub: Int, idCol: String,
                            vecCol: String): DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        explode(pqSubs(col(vecCol), m, dsub)).as("e"))
      .select(col("query_id"), col("e.s").as("s"), col("e.sv").as("qsv"),
        dot(col("e.sv"), col("e.sv")).as("q2"))
      .join(broadcast(cent), "s")
      .select(col("query_id"), col("s"), col("j"),
        pqD2(col("qsv"), col("q2")).as("qd2"))

  /** Smallest-`k` (ad2 asc, vec_id asc) ids per query via the bounded
    * heap (TopKAgg keeps max, so the distance is negated).
    * Input (query_id, vec_id, ad2) → output (query_id, vec_id). */
  private def minHeapIds(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(col("query_id"), col("vec_id"), col("ad2"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, -t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), explode(col("top")).as("p"))
      .select(col("query_id"), col("p._2").as("vec_id"))
  }

  /** Exact re-rank of a (query_id, vec_id) shortlist by true L2² from
    * the full vectors. Output: (query_id, neighbor_id, rank). */
  private def exactL2ReRank(shortlist: DataFrame, queries: DataFrame,
                            candidates: DataFrame, k: Int,
                            idCol: String, vecCol: String): DataFrame = {
    val spark = shortlist.sparkSession
    import spark.implicits._
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), dot(col(vecCol), col(vecCol)).as("qq"))
    val cv = candidates.select(col(idCol).as("vec_id"),
      col(vecCol).as("cvec"), dot(col(vecCol), col(vecCol)).as("cc"))
    shortlist.join(broadcast(qv), "query_id").join(cv, "vec_id")
      .select(col("query_id"), col("vec_id"),
        (col("qq") - lit(2.0) * dot(col("qvec"), col("cvec")) + col("cc"))
          .as("ed2"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, -t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Sign-bucket LSH top-k — the scale path. Buckets vectors by the sign
    * pattern of `nBits` fixed coordinates (a degenerate random-hyperplane
    * LSH with axis-aligned planes — deterministic, no RNG); each query
    * searches only its own bucket plus Hamming-1 neighbor buckets.
    * Recall < 1 by construction; pair with [[bruteTopK]] as the oracle
    * at test scale. Output: (query_id, neighbor_id, rank).
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int = 10,
              nBits: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    requireIntegralIds(queries, idCol, "lshTopK")
    requireIntegralIds(candidates, idCol, "lshTopK")
    val spark = queries.sparkSession
    import spark.implicits._
    def bucket(vec: Column): Column =
      (0 until nBits).map { i =>
        when(get(vec, lit(i)) > 0, lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
    // probe set: own bucket + all Hamming-1 flips
    def probes(vec: Column): Column = {
      val own = bucket(vec)
      array((own +: (0 until nBits).map(i =>
        own.bitwiseXOR(lit(1 << i)))): _*)
    }
    val q = withNorm(queries, idCol, vecCol)
      .withColumn("bucket", explode(probes(col("vec"))))
      .withColumnsRenamed(Map("vec_id" -> "query_id", "vec" -> "qvec",
        "norm" -> "qnorm"))
    val c = withNorm(candidates, idCol, vecCol)
      .withColumn("bucket", bucket(col("vec")))
    // no broadcast hint: the scale path exists for LARGE query sets —
    // let the planner pick (shuffle-hash on bucket when q outgrows the
    // broadcast threshold)
    val scored = c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // nullif: ANSI mode raises on the 0/0 of a zero vector; NULL
        // cosine instead ranks/filters it out (oracle parity: DuckDB
        // also yields NULL there)
        (dot(col("qvec"), col("vec"))
          / nullif(col("qnorm") * col("norm"), lit(0.0)))
          .as("cos"))
    // no distinct needed before ranking: a candidate has exactly one
    // bucket and the probe set is distinct values, so each (query,
    // candidate) pair meets at most once. Ranking via the map-side
    // bounded-heap TopKAgg, same as bruteTopK — k rows per (partition,
    // query) cross the shuffle instead of every scored candidate.
    scored.filter(col("cos").isNotNull) // zero vectors: no defined ranking
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(new graft.functions.TopKAgg(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Mutual-kNN graph construction — the neighborhood-graph primitive
    * under density clustering, graph-based dedup, and ANN-index
    * bootstrap: every vector ranks its k nearest via the
    * bucket-blocked [[lshTopK]] (queries = candidates = the corpus;
    * never the all-pairs join), and an edge survives only if it is
    * MUTUAL (i ∈ knn(j) AND j ∈ knn(i)) — the standard asymmetry
    * filter that kills hub-node spokes and leaves the density
    * structure. The mutual check is a self semi-join on the k·n-sized
    * kNN list (persisted for its two consumers), and the cosine is
    * re-attached to the surviving pairs only — O(edges), not
    * O(candidates). Output: (u, v, cos) with u < v, round2 cosine.
    */
  def knnGraphMutual(emb: DataFrame, k: Int = 5, nBits: Int = 8,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    mutualCosTail(lshTopK(emb, emb, k, nBits, idCol, vecCol), emb,
      idCol, vecCol)

  /** IVF-routed mutual-kNN graph — [[knnGraphMutual]] with the
    * blocking upgraded from sign-bucket LSH to [[ivfTopK]]'s
    * inverted-file routing (round-9 verdict #1): every vector ranks
    * its k nearest within its nProbe nearest of nCentroids centroid
    * lists. Routing and ranking share the SAME cosine metric, so the
    * probed lists align with the neighborhoods being searched — at the
    * 16-of-128 default the routing recovers measurably MORE real
    * neighborhoods than the 8-of-128 point it replaced — re-pinned
    * from the round-11 frontier sweep (the IVF density-cluster
    * frontier table in BASELINE.md: at sf0.1 purity 0.446→0.453 AND
    * coverage 0.420→0.512 with convergence in 5 rounds instead of 6,
    * for a 12.5% scanned fraction; 8-of-128 recall itself was
    * 2.6–4.7× sign-bucket LSH at ~6%, BASELINE.md kNN-blocking table
    * — sign buckets cut the space by per-DIMENSION signs, which
    * embeddings do not cluster by). Same O(edges)
    * mutual/cosine tail.
    * Output: (u, v, cos) with u < v, round2 cosine. */
  def knnGraphMutualIvf(emb: DataFrame, k: Int = 5,
                        nCentroids: Int = 128, nProbe: Int = 16,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame =
    mutualCosTail(
      ivfTopK(emb, emb, k, nCentroids, nProbe, idCol, vecCol), emb,
      idCol, vecCol)

  /** The mutual-edge + cosine re-attachment tail shared by
    * [[knnGraphMutual]] (LSH blocking) and [[knnGraphMutualIvf]] (IVF
    * routing): an edge survives only if it is MUTUAL (i ∈ knn(j) AND
    * j ∈ knn(i)) — the standard asymmetry filter that kills hub-node
    * spokes — via a self semi-join on the k·n-sized kNN list
    * (persisted for its two consumers), with the cosine re-attached
    * to surviving pairs only — O(edges), not O(candidates). */
  private def mutualCosTail(knn0: DataFrame, emb: DataFrame,
                            idCol: String, vecCol: String): DataFrame = {
    // warm: the semi-join's build side is a broadcast (r13)
    val knn = Scope.warm(
      knn0.select(col("query_id"), col("neighbor_id")))
    val mutual = knn
      .join(knn.select(col("neighbor_id").as("query_id"),
        col("query_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("u"), col("neighbor_id").as("v"))
    val n = withNorm(emb, idCol, vecCol)
    mutual
      .join(n.select(col("vec_id").as("u"), col("vec").as("uv"),
        col("norm").as("un")), Seq("u"))
      .join(n.select(col("vec_id").as("v"), col("vec").as("vv"),
        col("norm").as("vn")), Seq("v"))
      .select(col("u"), col("v"),
        graft.functions.Fns.round2(dot(col("uv"), col("vv"))
          / nullif(col("un") * col("vn"), lit(0.0))).as("cos"))
  }

  /** Recall@k of the bucket-blocked [[lshTopK]] against the exact
    * [[bruteTopK]] on a query sample — the measurement that prices
    * the LSH blocking trade (the [[truncationRecall]] harness pointed
    * at the index structure instead of the embedding width): per
    * query, how many of the true top-k the bucket+Hamming-1 probe set
    * recovered. The brute arm is the bounded oracle (sampled queries
    * broadcast); at scale the recall of a blocking scheme is always
    * estimated on exactly this kind of sample — the full brute
    * ranking is the O(N²) cost being avoided.
    * Output: (query_id, n_hits, recall). */
  def knnRecall(emb: DataFrame, k: Int = 10, nBits: Int = 8,
                queryMod: Int = 10): DataFrame = {
    val queries = emb.filter(col("vec_id") % queryMod === 0)
    recallTail(bruteTopK(queries, emb, k),
      lshTopK(queries, emb, k, nBits), k)
  }

  /** Recall@k of the IVF routing against the exact [[bruteTopK]] — the
    * [[knnRecall]] harness pointed at [[ivfTopK]]'s blocking instead
    * of the sign buckets (round-9 verdict #1: the measurement that
    * justifies rebuilding the kNN graph on IVF routing). At the
    * 8-of-128 point the scanned fraction is comparable to the LSH
    * bucket+Hamming-1 probe set (~6% vs ~3.5%) and the measured recall
    * is 2.6–4.7× across SFs (kNN-blocking table, BASELINE.md); the
    * default follows the graph family's re-pinned 16-of-128 operating
    * point (BASELINE.md frontier table) so this eval keeps pricing the
    * blocking the gates actually run.
    * Output: (query_id, n_hits, recall). */
  def knnRecallIvf(emb: DataFrame, k: Int = 10, nCentroids: Int = 128,
                   nProbe: Int = 16, queryMod: Int = 10): DataFrame = {
    val queries = emb.filter(col("vec_id") % queryMod === 0)
    recallTail(bruteTopK(queries, emb, k),
      ivfTopK(queries, emb, k, nCentroids, nProbe), k)
  }

  /** IVF OPERATING-POINT AUTO-TUNER — "what nProbe do I actually
    * need?" answered by measurement instead of folklore: for every
    * candidate probe count, the mean recall@k of the IVF routing
    * against the exact [[bruteTopK]] truth on a deterministic query
    * sample, plus the scanned-pair cost — the recall/cost FRONTIER as
    * one result table, with the smallest candidate meeting
    * `targetRecall` flagged `chosen`.
    *
    * The sweep costs ONE routed scan, not one per candidate: a query's
    * nProbe=p probe set is exactly the prank ≤ p PREFIX of its routing
    * order ([[ivfScoredRanked]]), so the pairs scored at max(candidates)
    * price every smaller operating point by a per-row rank filter. The
    * per-point top-k re-rank is a window over each (candidate, query)'s
    * own ≤ scanned-pairs rows; recall means are exact integer hit sums
    * over the sample (no fp accumulation). The brute arm is the same
    * bounded-query-sample broadcast the recall gates are sanctioned
    * for — at 100 TB the sample is the knob, and everything downstream
    * of the two scans is candidate×query sized.
    * Output: (n_probe, n_scanned, n_hits, n_queries, mean_recall,
    * chosen) — one row per candidate, mean_recall round2, chosen false
    * everywhere if no candidate meets the target. */
  def ivfAutotune(emb: DataFrame, k: Int = 10, nCentroids: Int = 128,
                  candidateProbes: Seq[Int] = Seq(1, 2, 4, 8, 16),
                  targetRecall: Double = 0.4,
                  queryMod: Int = 10,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireIntegralIds(emb, idCol, "ivfAutotune")
    val probes = candidateProbes.distinct.sorted
    require(probes.nonEmpty && probes.head >= 1,
      s"candidateProbes must be >= 1: $candidateProbes")
    val queries = emb.filter(col(idCol) % queryMod === 0)
    // two consumers: hit overlap + query-count scalar
    val exact = Scope.hold(bruteTopK(queries, emb, k)
      .select("query_id", "neighbor_id"))
    val cand = withNorm(emb, idCol, vecCol).filter(col("norm") > 0)
    val cent = ivfCentroids(cand, nCentroids, None)
    // two consumers: scanned-cost agg + top-k re-rank
    val swept = Scope.hold(ivfScoredRanked(
        withNorm(queries, idCol, vecCol).filter(col("norm") > 0),
        cent, ivfAssign(cand, cent), probes.last)
      .select(col("query_id"), col("vec_id"), col("cos"), col("prank"),
        explode(array(probes.map(p => lit(p.toLong)): _*)).as("n_probe"))
      .filter(col("prank") <= col("n_probe")))
    val scanned = swept.groupBy("n_probe")
      .agg(count(lit(1)).as("n_scanned"))
    val w = Window.partitionBy("n_probe", "query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val hits = swept.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("n_probe"), col("query_id"),
        col("vec_id").as("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("n_probe").agg(count(lit(1)).as("n_hits"))
    val nq = exact.agg(countDistinct(col("query_id")).as("n_queries"))
    val spine = nq.select(col("n_queries"),
      explode(array(probes.map(p => lit(p.toLong)): _*)).as("n_probe"))
    // two consumers: the chosen-point scalar + output
    val frontier = Scope.hold(spine
      .join(scanned, Seq("n_probe"), "left")
      .join(hits, Seq("n_probe"), "left")
      .select(col("n_probe"),
        coalesce(col("n_scanned"), lit(0L)).as("n_scanned"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_queries"),
        graft.functions.Fns.round2(coalesce(col("n_hits"), lit(0L))
          / (lit(k) * col("n_queries"))).as("mean_recall")))
    val best = frontier.agg(
      min(when(col("mean_recall") >= targetRecall, col("n_probe")))
        .as("best"))
    frontier.crossJoin(broadcast(best))
      .select(col("n_probe"), col("n_scanned"), col("n_hits"),
        col("n_queries"), col("mean_recall"),
        coalesce(col("n_probe") === col("best"), lit(false))
          .as("chosen"))
  }

  /** Shared recall tail: per exact-ranked query, the overlap with the
    * approximate ranking (exact arm persisted for its two consumers —
    * query spine + overlap). */
  private def recallTail(exact0: DataFrame, approx: DataFrame,
                         k: Int): DataFrame = {
    val exact = Scope.hold(exact0)
    val hits = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        graft.functions.Fns.round2(
          coalesce(col("h"), lit(0L)) / lit(k)).as("recall"))
  }

  /** Embedding density clusters — connected components over the
    * [[knnGraphMutual]] graph (the SemDeDup-adjacent clustering a
    * curation pipeline runs to group near-identical content): mutual
    * edges both directions, [[Graph.minLabelFixpoint]] to convergence,
    * cluster id = min vec_id of the component. Vectors with NO mutual
    * edge are singletons by construction and are omitted (they'd each
    * be their own cluster — the graph rows are the signal). Every
    * stage is the already-bounded knn machinery plus the same
    * keyed-join fixpoint the purchase components run at scale.
    *
    * Default k=2: reciprocal-2NN clusters stay small and the fixpoint
    * lands in 10–13 rounds at every test SF (one-off probe) — k=5's
    * mutual graph on the synthetic embeddings fuses into ONE giant
    * component whose diameter blows past any twin-unrollable cap. If
    * a graph ever exceeds maxRounds, both engines agree on the capped
    * state (the connectedComponentsConverged contract).
    * Output: (vec_id, component, rounds). */
  def knnComponents(emb: DataFrame, k: Int = 2, nBits: Int = 8,
                    maxRounds: Int = 14): DataFrame =
    componentsTail(knnGraphMutual(emb, k, nBits), maxRounds)

  /** IVF-routed density clusters — [[knnComponents]] with the mutual
    * graph built by [[knnGraphMutualIvf]] instead of the sign-bucket
    * LSH (the round-9 "clustering inherits the weak blocking" finding,
    * closed): the IVF routing recovers 2.6–4.7× the true
    * neighbors at comparable scanned fraction (sim_knn_recall_ivf), so
    * the reciprocal-kNN edges — and therefore the component structure
    * a semantic-dedup pass acts on — are built from real neighborhoods
    * rather than per-dimension sign coincidences. Same min-label
    * fixpoint tail; k=2 keeps the clusters twin-unrollable (the
    * [[knnComponents]] diameter argument — the HIGHER-recall graph has
    * MORE true edges, so the cap is re-probed per SF, not assumed).
    * Output: (vec_id, component, rounds). */
  def knnComponentsIvf(emb: DataFrame, k: Int = 2,
                       nCentroids: Int = 128, nProbe: Int = 16,
                       maxRounds: Int = 14): DataFrame =
    componentsTail(knnGraphMutualIvf(emb, k, nCentroids, nProbe),
      maxRounds)

  /** Shared components tail: symmetric edge list from the mutual
    * graph, min-label propagation to convergence (or the agreed-on
    * capped state), cluster id = min vec_id of the component. */
  private def componentsTail(mutual: DataFrame,
                             maxRounds: Int): DataFrame = {
    val mu = mutual.select("u", "v")
    val edges = Scope.hold(mu.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(mu.select(col("v").as("src"), col("u").as("dst"))))
    val labels0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val (lbl, rounds) = Graph.minLabelFixpoint(labels0, edges, maxRounds)
    lbl.select(col("node").as("vec_id"), col("lbl").as("component"),
      lit(rounds.toLong).as("rounds"))
  }

  /** Embedding-space health report — the per-label QA table an
    * embedding pipeline prints before anyone trusts ANN results on the
    * corpus: vector counts, zero-vector counts (broken encodes — they
    * silently drop out of every cosine operator), mean norm (a
    * norm-collapse / scale-drift indicator across ingestion batches),
    * and TIGHTNESS — the mean cosine of members to their label
    * centroid (how much of the label's variance the embedding actually
    * captures; near-0 means the labels are not clustered in this
    * space, and semantic dedup / IVF routing quality will reflect it).
    *
    * Every mean runs through DECIMAL(30,12) sums (order-independent —
    * the house device for cross-engine double aggregation); the
    * centroid is the per-dimension mean of UNIT vectors (posexplode,
    * keyed agg — never a driver collect), and member cosines reduce
    * against the broadcast-sized (labels × dims) centroid table.
    * Labels are enum-sized; dims bounded — nothing here scales with
    * the corpus except the two keyed aggregations.
    * Output: (label, n_vecs, n_zero, mean_norm, tightness) — round2,
    * tightness NULL for labels with no non-zero vector or a zero
    * centroid. */
  def embedReport(emb: DataFrame, labelCol: String = "label",
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    VecExpressions.register(emb.sparkSession)
    // two consumers: per-label stats + the unit chain
    val base = Scope.hold(emb.select(col(labelCol).cast("long").as("label"),
        col(idCol).as("vec_id"), col(vecCol).as("vec"),
        l2norm(col(vecCol)).as("norm")))
    val stats = base.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("norm") === 0, 1L).otherwise(0L)).as("n_zero"),
      (sum(col("norm").cast("decimal(30,12)")).cast("double")
        / count(lit(1))).as("mn"))
    val units = Scope.hold(base.filter(col("norm") > 0)
      .select(col("label"),
        transform(col("vec"), x => x.cast("double") / col("norm"))
          .as("u"))) // two consumers: centroid dims + member cosines
    val cents = units.select(col("label"), posexplode(col("u")))
      .groupBy("label", "pos")
      .agg((sum(col("col").cast("decimal(30,12)")).cast("double")
        / count(lit(1))).as("m"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m")).as("cent"))
      .withColumn("cnorm", sqrt(aggregate(col("cent"), lit(0.0),
        (acc, x) => acc + x * x)))
    val tight = units.join(broadcast(cents), Seq("label"))
      .select(col("label"),
        (aggregate(zip_with(col("u"), col("cent"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)
          / nullif(col("cnorm"), lit(0.0))).as("c"))
      .groupBy("label")
      .agg((sum(col("c").cast("decimal(30,12)")).cast("double")
        / count(lit(1))).as("tr"))
    stats.join(tight, Seq("label"), "left")
      .select(col("label"), col("n_vecs"), col("n_zero"),
        graft.functions.Fns.round2(col("mn")).as("mean_norm"),
        graft.functions.Fns.round2(col("tr")).as("tightness"))
  }

  /** Matryoshka truncation evaluation: recall@k of cosine top-k under
    * the first `dims` dimensions against the full-width top-k — the
    * measurement behind serving truncated (MRL-style) embeddings,
    * where a dims/recall trade is bought without re-embedding. Both
    * rankings are [[bruteTopK]] (same ties, same zero-vector
    * exclusion); a query whose TRUNCATED vector is all-zero simply
    * ranks nothing and scores 0 hits — the honest outcome of serving
    * that truncation. recall = round2 of one IEEE division. Scale
    * shape: two bounded-heap top-k passes + one (query, neighbor)
    * semi-join on k-sized lists; the full ranking is persisted for its
    * two consumers (query spine + overlap). Output: (query_id,
    * n_hits, recall).
    */
  def truncationRecall(emb: DataFrame, dims: Int = 16, k: Int = 10,
                       queryMod: Int = 50): DataFrame = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    val queries = emb.filter(col("vec_id") % queryMod === 0)
    val full = Scope.hold(bruteTopK(queries, emb, k))
    val trunc = bruteTopK(
      queries.withColumn("embedding", slice(col("embedding"), 1, dims)),
      emb.withColumn("embedding", slice(col("embedding"), 1, dims)), k)
    val hits = full
      .join(trunc, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    full.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        graft.functions.Fns.round2(
          coalesce(col("h"), lit(0L)) / lit(k)).as("recall"))
  }
}
