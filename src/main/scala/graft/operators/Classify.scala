package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scope
import graft.functions.Fns.round2

/** In-plan trained text classification — the quality/language scorer
  * family (CCNet/fastText-style) a training-data pipeline runs over
  * every document before sampling decisions.
  *
  * Training and inference are both plain Catalyst aggregates/joins: the
  * model (per-class word log-likelihoods) is derived from the corpus in
  * the SAME plan that applies it — no driver round-trip, no UDFs. The
  * model tables are bounded artifacts (vocab × classes), so the scoring
  * join broadcasts them; the per-document side stays keyed and
  * data-sized.
  *
  * Numeric determinism (house rules): every `ln` result is `round2`'d
  * the moment it is produced (2-dp doubles are what both engines agree
  * on, the BM25 pattern), per-document contributions sum through
  * DECIMAL(20,8) (order-independent), the prior is added once after the
  * decimal sum, the final score is `round2`'d, and the argmax tie is
  * pinned (score desc, class asc).
  */
object Classify {

  /** Multinomial Naive Bayes over whitespace/alpha tokens with
    * Laplace(1) smoothing, trained on the corpus's own `lang` labels
    * and applied back to every document (self-scoring — the gate
    * shape; at scale the model CTEs train on a labeled slice and score
    * the rest unchanged).
    *
    * score(d, c) = round2( Σ_w cnt(d,w) · round2(ln((cw(c,w)+1) /
    * (tot(c)+V))) + round2(ln(nc(c)/N)) ), prediction = argmax_c with
    * (score desc, lang asc) pinned.
    * Output: (doc_id, pred_lang, score).
    */
  def nbLang(docs: DataFrame): DataFrame = {
    // tokenized corpus feeds 3 aggregates (doc-word, class-word, vocab)
    val toks = Scope.hold(WikiText.tokens(docs))
    val docLang = docs.select(col("doc_id"), col("lang"))
    val tokLang = toks.join(docLang, "doc_id")

    // model artifacts — all bounded by vocab × classes, broadcast below
    val classWord = tokLang.groupBy("lang", "word")
      .agg(count(lit(1)).as("cw"))
    val classTot = tokLang.groupBy("lang")
      .agg(count(lit(1)).as("tot"))
    val vocabN = toks.agg(countDistinct("word").as("v"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    val priors = docLang.groupBy("lang").agg(count(lit(1)).as("nc"))
      .crossJoin(broadcast(nDocs))
      .select(col("lang"),
        round2(log(col("nc").cast("double") / col("n")))
          .as("prior_ll"))
    val classes = classTot.join(priors, "lang")
      .crossJoin(broadcast(vocabN))

    // data-sized side: per-document term counts
    val docWord = toks.groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))

    // score every (doc, class): unseen class-words smooth to cw=0 via
    // the left join + coalesce (ll = ln(1/(tot+V)))
    val cw = classWord.select(col("lang").as("cw_lang"),
      col("word").as("cw_word"), col("cw"))
    val contribs = docWord
      .crossJoin(broadcast(classes))
      .join(broadcast(cw),
        col("word") === col("cw_word") && col("lang") === col("cw_lang"),
        "left")
      .select(col("doc_id"), col("lang"), col("prior_ll"),
        (col("cnt") *
          round2(log((coalesce(col("cw"), lit(0L)) + 1).cast("double") /
            (col("tot") + col("v"))))).as("contrib"))
    // prior_ll rides in the grouping key (functionally dependent on
    // lang) so the twin's GROUP BY matches shape-for-shape
    val scores = contribs
      .groupBy("doc_id", "lang", "prior_ll")
      .agg(sum(col("contrib").cast("decimal(20,8)")).as("s"))
      .select(col("doc_id"), col("lang"),
        round2(col("s").cast("double") + col("prior_ll")).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("lang").asc)
    scores.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"), col("score"))
  }

  /** Per-class evaluation report of [[nbLang]] against the true
    * labels — the confusion-summary every shipped classifier carries:
    * per language, support (`n_true`), predicted count (`n_pred`),
    * true positives, precision, recall, F1.
    *
    * F1 uses the exact-integer identity 2·TP / (n_pred + n_true)
    * (= 2TP/(2TP+FP+FN)) — ONE division over exact BIGINTs, no
    * compounding of two already-rounded ratios. Precision is NULL for
    * a class never predicted (0/0), matching SQL semantics in both
    * engines. Classes are language-count-sized, so everything past the
    * doc-level prediction join is a tiny keyed aggregation.
    * Output: (lang, n_true, n_pred, tp, precision, recall, f1).
    */
  def nbEval(docs: DataFrame): DataFrame = {
    // two consumers: by-true and by-predicted rollups
    val j = Scope.hold(nbLang(docs).select(col("doc_id"), col("pred_lang"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id"))
    val bt = j.groupBy(col("lang").as("cls"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
          .as("tp"))
    val bp = j.groupBy(col("pred_lang").as("cls"))
      .agg(count(lit(1)).as("n_pred"))
    bt.join(bp, Seq("cls"), "left")
      .select(col("cls").as("lang"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("tp"),
        when(coalesce(col("n_pred"), lit(0L)) > 0,
          round2(col("tp") / col("n_pred"))).as("precision"),
        round2(col("tp") / col("n_true")).as("recall"),
        round2((col("tp") * 2) /
          (coalesce(col("n_pred"), lit(0L)) + col("n_true"))).as("f1"))
  }

  // --------------------------------------------------------------
  // Trained LINEAR classifier (fastText-style quality/label filter):
  // full-batch gradient descent on hashed bag-of-words features, with
  // a RATIONAL squashing link ("fast sigmoid" f(m) = ½(1 + m/(1+|m|)))
  // instead of the logistic exp — IEEE +,·,/ are bit-exact across
  // engines while exp/ln are only ~1-ulp reproducible, so the DuckDB
  // twin replays TRAINING bit-for-bit, not ulp-for-ulp (the same
  // motive as the repo-wide round2/md5 conventions). Every
  // order-dependent sum (per-doc margins, per-feature gradients)
  // quantizes its terms to DECIMAL(20,12) and sums exactly; weight
  // updates re-quantize to the same grid, so the parameter vector is
  // identical in both engines after every step.
  // --------------------------------------------------------------

  /** Feature rows shared by [[lrTrain]] / [[lrScore]] / [[lrEval]]:
    * j = -1 is the bias (x = 1, every document), j ∈ [0, dims) the
    * [[TextStats.hashEmbedBuckets]] signed hashing-trick buckets
    * VARIANCE-STABILIZED by the document's token count (x = w/√dl —
    * random-hash bucket sums grow as √dl, so this puts every bucket
    * at O(1) alongside the unit bias whatever the document length;
    * √ is IEEE-correctly-rounded, hence bit-exact cross-engine), each
    * x landed on the 1e-12 decimal grid so
    * both engines consume identical feature values. Pure per-doc
    * expressions + one keyed agg; token-less documents carry only
    * their bias row. */
  private def lrFeatures(docs: DataFrame, dims: Int): DataFrame = {
    val toks = WikiText.tokens(docs)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val buckets = TextStats
      .hashEmbedBuckets(docs.select(col("doc_id"), col("text")), dims)
      .join(dl, "doc_id")
      .select(col("doc_id"), col("j").cast("int").as("j"),
        graft.functions.Fns.quant12(col("w") / sqrt(col("dl"))).as("x"))
    docs.select(col("doc_id"), lit(-1).as("j"), lit(1.0).as("x"))
      .unionByName(buckets)
  }

  /** The trained weight vector after `steps` full-batch GD steps at
    * rate `lr` against the binary label `lang = 'en'` (the gate's
    * stand-in for any quality label — production feeds human/LM
    * judgments through the same plan). Measured caveat on the gate
    * data (BASELINE.md learnability table): the driver testdata draws
    * every language from ONE shared vocabulary, so no lexical model
    * can beat the majority response on this label (nb_eval's non-en
    * F1 ≤ 0.23 is the same finding) — the gates pin the machinery and the
    * bit-exact replay; on separable data the same loop reaches
    * accuracy 1.0 by step 2 (LrProbe + Round25Spec). Weights start
    * at 0 and update
    * as w ← quantize(w − lr·Σᵢ xᵢⱼ·(f(mᵢ) − yᵢ)/N); each step is two
    * keyed aggregations (doc-keyed margin, feature-keyed gradient) +
    * one 65-row driver collect that feeds the next step's broadcast
    * literals — the [[graft.operators.Similarity]] trainCodebook
    * per-round-collect pattern (dims+1 doubles, never data-sized).
    * Output: (j, w) — dims+1 rows, w on the 1e-12 grid. */
  /** GD loop over an already-built (and caller-persisted) feature
    * frame — the share point that lets one gate train AND score off a
    * single tokenize/hash pass (the round-12 family re-built
    * [[lrFeatures]] once for training and AGAIN for scoring, a
    * redundant corpus scan per gate). Does not persist or unpersist
    * `f`; the caller owns its lifecycle. */
  private def lrWeightsOn(f: DataFrame, docs: DataFrame, dims: Int,
                          steps: Int, lr: Double): Seq[(Int, Double)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(steps >= 1 && dims >= 1,
      s"need steps >= 1 and dims >= 1: $steps/$dims")
    val y = docs.select(col("doc_id"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
    val n = docs.count().toDouble // one 8-byte driver scalar
    var w: Seq[(Int, Double)] = (-1 until dims).map(j => j -> 0.0)
    for (_ <- 1 to steps) {
      val wDf = w.toDF("j", "wj")
      val m = f.join(broadcast(wDf), Seq("j"))
        .groupBy("doc_id")
        .agg(sum(graft.functions.Fns.quant12(col("x") * col("wj"))
          .cast("decimal(20,12)")).cast("double").as("m"))
      val e = y.join(m, Seq("doc_id"))
        .select(col("doc_id"),
          (lit(0.5) * (lit(1.0) + col("m") / (lit(1.0) + abs(col("m"))))
            - col("y")).as("e"))
      val g = f.join(e, Seq("doc_id"))
        .groupBy("j")
        .agg((sum(graft.functions.Fns.quant12(col("x") * col("e"))
          .cast("decimal(20,12)")).cast("double") / lit(n)).as("g"))
      // the update re-quantizes by the floor device (Fns.quant12 —
      // the decimal CAST diverges by a grid ulp cross-engine; see the
      // helper's doc), then collects dims+1 rows
      w = wDf.join(g, Seq("j"), "left")
        .select(col("j"),
          graft.functions.Fns.quant12(
            col("wj") - lit(lr) * coalesce(col("g"), lit(0.0))).as("w"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toSeq
        .sortBy(_._1)
    }
    w
  }

  private def lrWeights(docs: DataFrame, dims: Int, steps: Int,
                        lr: Double): Seq[(Int, Double)] = Scope.run {
    lrWeightsOn(Scope.hold(lrFeatures(docs, dims)), docs, dims, steps, lr)
  }

  /** Scoring tail over a shared feature frame and a weight frame
    * (in-plan or artifact-served — the two must be bit-identical, the
    * family's identity pin). Output: (doc_id, y, p, pred). */
  private def lrScoreOn(f: DataFrame, docs: DataFrame,
                        wDf: DataFrame): DataFrame = {
    val p = f.join(broadcast(wDf), Seq("j"))
      .groupBy("doc_id")
      .agg(sum(graft.functions.Fns.quant12(col("x") * col("wj"))
        .cast("decimal(20,12)")).cast("double").as("m"))
      .select(col("doc_id"),
        (lit(0.5) * (lit(1.0) + col("m") / (lit(1.0) + abs(col("m")))))
          .as("praw"))
    docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .join(p, Seq("doc_id"))
      .select(col("doc_id"), col("y"),
        (floor(col("praw") * 1000000 + lit(0.5)) / 1000000).as("p"),
        (col("praw") >= 0.5).as("pred"))
  }

  /** Gate surface for the trained weights: (j, w), dims+1 rows. */
  def lrTrain(docs: DataFrame, dims: Int = 64, steps: Int = 3,
              lr: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    lrWeights(docs, dims, steps, lr).toDF("j", "w")
      .select(col("j").cast("long").as("j"), col("w"))
  }

  /** Score every document under the trained model: p = f(m) on the
    * final weights, prediction at the 0.5 threshold. p is floored to
    * the 1e-6 grid for the gate hash; the prediction compares the
    * UNfloored p (bit-identical cross-engine — the link is rational).
    * Output: (doc_id, y, p, pred). */
  def lrScore(docs: DataFrame, dims: Int = 64, steps: Int = 3,
              lr: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE feature build feeds training (materialized by the per-step
    // collects) and the returned scoring plan; the cache outlives the
    // call because the output depends on it (the cdcDedupRewrite
    // convention)
    val f = Scope.hold(lrFeatures(docs, dims))
    val wDf = lrWeightsOn(f, docs, dims, steps, lr).toDF("j", "wj")
    lrScoreOn(f, docs, wDf)
  }

  /** Persist the trained weight vector as a parquet artifact — the
    * persist-once/serve-many member of the LR family (the
    * bm25IndexWrite/lmArtifactWrite precedent): train on the labeled
    * corpus once, score any stream/batch from the stored dims+1 rows
    * without retraining. Weights are on the 1e-12 grid and doubles
    * round-trip parquet bit-exactly, so served scores are identical
    * to in-plan ones (the gate pins it via the shared twin). */
  def lrArtifactWrite(docs: DataFrame, dir: String, dims: Int = 64,
                      steps: Int = 3, lr: Double = 1.0): Unit =
    lrTrain(docs, dims, steps, lr)
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** Score documents from a persisted [[lrArtifactWrite]] weight
    * vector — the [[lrScore]] tail verbatim over the re-read
    * broadcast-sized artifact; the corpus never retrains at serve
    * time. Output: (doc_id, y, p, pred) — bit-identical to
    * [[lrScore]] on the training corpus. */
  def lrScoreFromArtifact(docs: DataFrame, dir: String,
                          dims: Int = 64): DataFrame = {
    val wDf = docs.sparkSession.read.parquet(dir)
      .select(col("j").cast("int").as("j"), col("w").as("wj"))
    lrScoreOn(lrFeatures(docs, dims), docs, wDf)
  }

  /** The COMPOSED classifier gate (round-12 verdict task 2): ONE
    * feature build + ONE training feed the artifact write, the
    * artifact-SERVED scoring, the confusion summary AND the ROC AUC —
    * the pipe_curate pattern applied to the LR family, collapsing what
    * round 12 gated as four train-per-gate queries (score / eval /
    * auc / from_artifact) into one plan that trains once. The scoring
    * path deliberately reads the weights BACK from the parquet
    * artifact, so the persist-once/serve-many identity stays on the
    * gated path (grid-aligned doubles round-trip bit-exactly).
    *
    * AUC comes from the rank-sum identity over the 1e-6-grid score
    * histogram computed as ONE ungrouped aggregation (no per-class
    * filter), so the output is ALWAYS exactly one row: a single-class
    * corpus — all-positive OR all-negative — yields NULL auc (0
    * discordant-pair mass) instead of the round-12 lrAuc's 0-row
    * all-negative surprise (ADVICE r12).
    * Output 1 row: (n, tp, tn, fp, fn, accuracy, pos_cnt, neg_cnt,
    * auc). */
  def lrPipelineReport(docs: DataFrame, artDir: String, dims: Int = 64,
                       steps: Int = 3, lr: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val f = Scope.hold(lrFeatures(docs, dims))
    lrWeightsOn(f, docs, dims, steps, lr).toDF("j", "w")
      .select(col("j").cast("long").as("j"), col("w"))
      .coalesce(1).write.mode("overwrite").parquet(artDir)
    val wServed = spark.read.parquet(artDir)
      .select(col("j").cast("int").as("j"), col("w").as("wj"))
    // scores feed the confusion rollup AND the AUC histogram
    val sc = Scope.hold(lrScoreOn(f, docs, wServed))
    val eval = sc
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(!col("pred") && col("y") === 0L, 1L).otherwise(0L))
          .as("tn"),
        sum(when(col("pred") && col("y") === 0L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("pred") && col("y") === 1L, 1L).otherwise(0L))
          .as("fn"))
      .select(col("n"), col("tp"), col("tn"), col("fp"), col("fn"),
        round2((col("tp") + col("tn")) / col("n")).as("accuracy"))
    eval.crossJoin(broadcast(lrAucFromScores(sc)))
  }

  /** Rank-sum AUC over already-scored (p, y) rows as ONE ungrouped
    * aggregation — always exactly one row; NULL auc whenever either
    * class is absent (the pos·neg pair mass is 0). */
  private def lrAucFromScores(scored: DataFrame): DataFrame = {
    // histogram + per-cell rank both consume it
    val g = Scope.hold(scored.groupBy("p", "y")
      .agg(count(lit(1)).as("cnt_sc")))
    val hist = g.groupBy("p").agg(sum("cnt_sc").as("cnt_s"))
    // partition-less window over the DISTINCT 1e-6-grid score
    // histogram (bounded by cardinality — the rel_auc sanction class)
    val wBelow = Window.orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val below = g.join(
      hist.select(col("p"), col("cnt_s"),
        (sum("cnt_s").over(wBelow) - col("cnt_s")).as("below")),
      "p")
    below
      .agg(
        sum(when(col("y") === 1L, col("cnt_sc"))).as("posn"),
        sum(when(col("y") === 0L, col("cnt_sc"))).as("negn"),
        sum(when(col("y") === 1L,
          col("cnt_sc") * (col("below") * 2 + col("cnt_s") + 1)))
          .as("s2"))
      .select(coalesce(col("posn"), lit(0L)).as("pos_cnt"),
        coalesce(col("negn"), lit(0L)).as("neg_cnt"),
        (floor((col("s2") - col("posn") * (col("posn") + 1))
            .cast("double") /
          nullif((col("posn") * col("negn") * 2).cast("double"),
            lit(0.0))
          * 1000000 + lit(0.5)) / 1000000).as("auc"))
  }

  /** Threshold-free ranking eval of [[lrScore]]: ROC AUC by the
    * rank-sum identity over the SCORE HISTOGRAM (the
    * [[Relational.aucByType]] device — the only partition-less window
    * runs over distinct 1e-6-grid scores, never rows; all sums exact
    * integers; one IEEE division, floored to 1e-6). Always exactly ONE
    * row: a single-class corpus — all-positive OR all-negative — gets
    * NULL auc (the round-12 form dropped the all-negative case to 0
    * rows, ADVICE r12). Output 1 row: (pos_cnt, neg_cnt, auc). */
  def lrAuc(docs: DataFrame, dims: Int = 64, steps: Int = 3,
            lr: Double = 1.0): DataFrame =
    lrAucFromScores(lrScore(docs, dims, steps, lr).select("p", "y"))

  /** One-row confusion summary of [[lrScore]]: exact integer counts +
    * round2 accuracy — the robust (transcendental-free, count-valued)
    * eval surface. Output: (n, tp, tn, fp, fn, accuracy). */
  def lrEval(docs: DataFrame, dims: Int = 64, steps: Int = 3,
             lr: Double = 1.0): DataFrame =
    lrScore(docs, dims, steps, lr)
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") && col("y") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(!col("pred") && col("y") === 0L, 1L).otherwise(0L))
          .as("tn"),
        sum(when(col("pred") && col("y") === 0L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(!col("pred") && col("y") === 1L, 1L).otherwise(0L))
          .as("fn"))
      .select(col("n"), col("tp"), col("tn"), col("fp"), col("fn"),
        round2((col("tp") + col("tn")) / col("n")).as("accuracy"))

  /** RELIABILITY (calibration) report of [[lrScore]] — the third eval
    * surface beside the confusion summary ([[lrEval]]) and the ranking
    * AUC ([[lrAuc]]): scores bucketed into ten fixed-width probability
    * bins; per non-empty bin the exact count, positive count, mean
    * predicted p, and the empirical positive rate. Reading `mean_p` vs
    * `frac_pos` per bin IS the calibration curve — the check a
    * pipeline runs before treating a quality-classifier score as a
    * keep-probability (e.g. for [[graft.operators.Sampling
    * .weightedSample]] ∝ p), where mis-calibration silently reweights
    * the corpus. Numeric determinism: the bin floor runs on the
    * 1e-6-gridded p both engines already share (same device as
    * [[lrScore]]'s `pred`); counts are exact BIGINTs, the p sum is an
    * exact DECIMAL over grid points, and each emitted ratio is ONE
    * IEEE division floored back to the 1e-6 grid (the [[lrAuc]]
    * discipline). Scale: one bins-sized keyed aggregation over the
    * scored corpus — nothing wider than (bucket) shuffles.
    * Output: (bucket 0-9, n, n_pos, mean_p, frac_pos). */
  def lrCalibration(docs: DataFrame, dims: Int = 64, steps: Int = 3,
                    lr: Double = 1.0): DataFrame =
    lrScore(docs, dims, steps, lr)
      .select(least(floor(col("p") * 10), lit(9L)).cast("long")
          .as("bucket"),
        col("p"), col("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("p").cast("decimal(20,6)")).as("psum"))
      .select(col("bucket"), col("n"), col("n_pos"),
        (floor(col("psum").cast("double") / col("n") * 1000000
          + lit(0.5)) / 1000000).as("mean_p"),
        (floor(col("n_pos").cast("double") / col("n") * 1000000
          + lit(0.5)) / 1000000).as("frac_pos"))

  // --------------------------------------------------------------
  // MULTICLASS linear classifier — one-vs-rest over [[lrWeights]]'s
  // GD machinery, VECTORIZED: the class axis rides in the aggregation
  // keys ((doc, class) margins, (class, feature) gradients), so C
  // classes train in the SAME number of jobs as the binary model —
  // one margin agg + one gradient agg + one (C·(dims+1))-row collect
  // per step, never a per-class loop.
  //
  // The gate label is a SYNTHETIC TEACHER (round-12 verdict task 4):
  // the corpus's own lang column carries no lexical signal (LrProbe /
  // nb_eval — every language draws from one shared vocabulary), so a
  // demonstrably-learnable, oracle-replayable target is derived from
  // the text itself: label(d) = argmax_c Σ_{j ≡ c (mod C)} cnt_j over
  // the same md5 hash buckets the features are built from (tie → the
  // smallest class, token-less docs → class 0). Features here are the
  // UNSIGNED bucket counts (x = cnt/√dl — the signed hashing trick
  // would wash the bucket-mass signal out of its own sign), so an
  // exact linear witness exists: w_cj = 1{j ≡ c} reproduces the label
  // by construction. Measured learnability (LrProbe mc rows,
  // BASELINE.md): on a class-separable corpus (four disjoint
  // vocabularies in four distinct bucket classes) the shipped 3-step
  // loop scores accuracy 1.0; on the near-uniform testdata the
  // dominant-bucket argmax is a LOW-MARGIN target (every class's mass
  // is ~dl/C ± √dl — the fluctuation IS the label) and few-step GD
  // sits near the majority response (~0.42-0.47) — the binary
  // LrProbe finding, one dimension up. The gate pins machinery +
  // bit-exact replay; Round26Spec pins the separable accuracy.
  // --------------------------------------------------------------

  /** Unsigned hashed bag-of-words features: j = -1 the bias (x = 1),
    * else x = quant12(cnt_j / √dl) over md5 buckets (the
    * [[TextStats.hashEmbedBuckets]] bucket basis without the sign).
    * Input `cnt` = (doc_id, j, cnt) per-doc bucket counts. */
  private def lrMcFeatures(docs: DataFrame, cnt: DataFrame): DataFrame = {
    val dl = cnt.groupBy("doc_id").agg(sum("cnt").as("dl"))
    docs.select(col("doc_id"), lit(-1).as("j"), lit(1.0).as("x"))
      .unionByName(cnt.join(dl, "doc_id")
        .select(col("doc_id"), col("j"),
          graft.functions.Fns.quant12(col("cnt") / sqrt(col("dl")))
            .as("x")))
  }

  /** Per-doc md5 bucket counts shared by the multiclass features and
    * the teacher label: (doc_id, j, cnt), j ∈ [0, dims). */
  private def lrMcBucketCounts(docs: DataFrame, dims: Int): DataFrame =
    WikiText.tokens(docs)
      .select(col("doc_id"),
        (conv(substring(md5(col("word")), 29, 4), 16, 10).cast("long")
          % dims).cast("int").as("j"))
      .groupBy("doc_id", "j").agg(count(lit(1)).as("cnt"))

  /** The synthetic teacher label: dominant bucket-class by total token
    * mass, tie → smallest class, token-less docs → class 0. */
  private def lrMcLabels(docs: DataFrame, cnt: DataFrame,
                         classes: Int): DataFrame = {
    val byCls = cnt
      .select(col("doc_id"), (col("j") % classes).as("c"), col("cnt"))
      .groupBy("doc_id", "c").agg(sum("cnt").as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("n").desc, col("c").asc)
    val lab = byCls.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("doc_id"), col("c").cast("long").as("y"))
    docs.select(col("doc_id")).join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("y"), lit(0L)).as("y"))
  }

  /** One-vs-rest multiclass prediction under the synthetic teacher:
    * per class the binary GD of [[lrWeightsOn]] (same rational link,
    * same 1e-12 quantization — the twin replays all C trainings
    * bit-for-bit), prediction = argmax_c f(m_c) with the (p desc, c
    * asc) tie pin. Output: (doc_id, y, pred, p) — y the teacher
    * class, p the winning score floored to the 1e-6 grid. */
  def lrMulticlass(docs: DataFrame, classes: Int = 4, dims: Int = 64,
                   steps: Int = 3, lr: Double = 1.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(classes >= 2 && steps >= 1 && dims >= classes,
      s"need classes >= 2, steps >= 1, dims >= classes: " +
        s"$classes/$steps/$dims")
    val cnt = lrMcBucketCounts(docs, dims)
    // features feed every step twice + final scoring; labels feed
    // every step's error + the output join (cache outlives the call —
    // output depends on it)
    val f = Scope.hold(lrMcFeatures(docs, cnt))
    val lbl = Scope.hold(lrMcLabels(docs, cnt, classes))
    val n = docs.count().toDouble
    var w: Seq[(Int, Int, Double)] =
      for (c <- 0 until classes; j <- -1 until dims)
        yield (c, j, 0.0)
    for (_ <- 1 to steps) {
      val wDf = w.toDF("c", "j", "wj")
      val m = f.join(broadcast(wDf), Seq("j"))
        .groupBy("doc_id", "c")
        .agg(sum(graft.functions.Fns.quant12(col("x") * col("wj"))
          .cast("decimal(20,12)")).cast("double").as("m"))
      val e = m.join(lbl, Seq("doc_id"))
        .select(col("doc_id"), col("c"),
          (lit(0.5) * (lit(1.0) + col("m") / (lit(1.0) + abs(col("m"))))
            - when(col("y") === col("c").cast("long"), 1.0)
              .otherwise(0.0)).as("e"))
      val g = f.join(e, Seq("doc_id"))
        .groupBy("c", "j")
        .agg((sum(graft.functions.Fns.quant12(col("x") * col("e"))
          .cast("decimal(20,12)")).cast("double") / lit(n)).as("g"))
      w = wDf.join(g, Seq("c", "j"), "left")
        .select(col("c"), col("j"),
          graft.functions.Fns.quant12(
            col("wj") - lit(lr) * coalesce(col("g"), lit(0.0))).as("w"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq
        .sortBy(t => (t._1, t._2))
    }
    val wDf = w.toDF("c", "j", "wj")
    val praw = lit(0.5) *
      (lit(1.0) + col("m") / (lit(1.0) + abs(col("m"))))
    val scored = f.join(broadcast(wDf), Seq("j"))
      .groupBy("doc_id", "c")
      .agg(sum(graft.functions.Fns.quant12(col("x") * col("wj"))
        .cast("decimal(20,12)")).cast("double").as("m"))
      .select(col("doc_id"), col("c"), praw.as("praw"))
    val pick = Window.partitionBy("doc_id")
      .orderBy(col("praw").desc, col("c").asc)
    scored.withColumn("_rn", row_number().over(pick))
      .filter(col("_rn") === 1)
      .join(lbl, Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("c").cast("long").as("pred"),
        (floor(col("praw") * 1000000 + lit(0.5)) / 1000000).as("p"))
  }
}
