package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Scope

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, document fingerprinting.
  * All pure `functions._` compositions (whole-stage codegen, no UDFs),
  * deterministic, and expressed so the DuckDB oracle computes the exact
  * same IEEE-754 doubles.
  */
object TextStats {

  // RE2-compatible whitespace class: Java's \s additionally matches
  // U+000B (vertical tab), which DuckDB's RE2 \s does not — spell the
  // class out so both engines split identically
  private val WsRe = "[ \\t\\n\\f\\r]+"

  /** Whitespace tokens with leading/trailing-empty artifacts removed. */
  private[operators] def wsTokens(text: Column): Column =
    filter(split(text, WsRe), t => t =!= "")

  /** GPT-2-ish tokenizer approximation: letter runs, single digits,
    * single non-alphanumeric marks. A real BPE would subdivide letter
    * runs further; this regex matches its pre-tokenization pass. */
  val BpeishPattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"

  private def charClassCount(text: Column, keepClassRe: String): Column =
    length(regexp_replace(text, keepClassRe, ""))

  /** Per-document statistics + a composite quality score.
    * Output: (doc_id, n_chars, n_tokens, n_bpe_tokens, alpha_ratio,
    * digit_ratio, punct_ratio, space_ratio, mean_token_len,
    * stopword_ratio, quality_score).
    */
  def stats(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    statsAndLang(docs, idCol, textCol)
      .drop("en_hits", "de_hits", "es_hits", "fr_hits", "lang_pred")

  /** One-pass fusion of [[stats]] and [[langId]] for pipeline
    * composition (e.g. [[Curate]]): both are per-row projections of the
    * same text, so computing them together costs one scan and no join.
    * Output: [[stats]] columns + (en/de/es/fr)_hits + lang_pred.
    */
  def signals(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    statsAndLang(docs, idCol, textCol)

  private def statsAndLang(docs: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = wsTokens(text)
    def hits(words: Seq[String]): Column = {
      val set = array(words.map(lit): _*)
      size(filter(toks, t => array_contains(set, lower(t)))).cast("long")
    }
    docs.select(
        col(idCol).as("doc_id"),
        length(text).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        charClassCount(text, "[^a-zA-Z]").as("alpha_chars"),
        charClassCount(text, "[^0-9]").as("digit_chars"),
        charClassCount(text, "[a-zA-Z0-9 ]").as("punct_chars"),
        charClassCount(text, "[^ ]").as("space_chars"),
        length(array_join(toks, "")).as("tok_chars"),
        // en stopword hits double as the stopword-ratio numerator and
        // the langId en score — identical definitions by construction
        hits(EnStopwords).as("stop_toks"),
        hits(DeStopwords).as("de_hits"),
        hits(EsStopwords).as("es_hits"),
        hits(FrStopwords).as("fr_hits"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_bpe_tokens"),
        // nullif guards: ANSI mode errors on x/0 while the DuckDB oracle
        // yields NULL — null denominators make both engines emit NULL for
        // empty/whitespace-only documents
        (col("alpha_chars") / nullif(col("n_chars"), lit(0L)))
          .as("alpha_ratio"),
        (col("digit_chars") / nullif(col("n_chars"), lit(0L)))
          .as("digit_ratio"),
        (col("punct_chars") / nullif(col("n_chars"), lit(0L)))
          .as("punct_ratio"),
        (col("space_chars") / nullif(col("n_chars"), lit(0L)))
          .as("space_ratio"),
        (col("tok_chars") / nullif(col("n_tokens"), lit(0L)))
          .as("mean_token_len"),
        (col("stop_toks") / nullif(col("n_tokens"), lit(0L)))
          .as("stopword_ratio"),
        col("stop_toks").as("en_hits"), col("de_hits"),
        col("es_hits"), col("fr_hits"))
      .withColumn("quality_score",
        lit(0.25) * least(lit(1.0), col("n_tokens") / 100.0) +
        lit(0.25) * col("alpha_ratio") +
        lit(0.25) * (lit(1.0) - col("punct_ratio")) +
        lit(0.25) * least(lit(1.0), col("stopword_ratio") * 4.0))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("de_hits") &&
             col("en_hits") >= col("es_hits") &&
             col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") >= col("es_hits") &&
                col("de_hits") >= col("fr_hits"), "de")
          .when(col("es_hits") >= col("fr_hits"), "es")
          .otherwise("fr"))
  }

  // Tiny per-language marker-word lists for the n-gram/stopword language
  // heuristic. ASCII-only on purpose (regex/charset parity with the oracle).
  val EnStopwords = Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for")
  val DeStopwords = Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf", "den")
  val EsStopwords = Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no")
  val FrStopwords = Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "est")

  /** Marker-word language ID. Scores each language by stopword hits over
    * lowercased whitespace tokens; argmax with fixed precedence
    * en > de > es > fr on ties (deterministic).
    * Output: (doc_id, en_hits, de_hits, es_hits, fr_hits, lang_pred).
    */
  def langId(docs: DataFrame, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame = {
    def hits(words: Seq[String]): Column = {
      val set = array(words.map(lit): _*)
      size(filter(wsTokens(col(textCol)), t => array_contains(set, lower(t))))
        .cast("long")
    }
    docs.select(col(idCol).as("doc_id"),
        hits(EnStopwords).as("en_hits"), hits(DeStopwords).as("de_hits"),
        hits(EsStopwords).as("es_hits"), hits(FrStopwords).as("fr_hits"))
      .withColumn("lang_pred",
        when(col("en_hits") >= col("de_hits") &&
             col("en_hits") >= col("es_hits") &&
             col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") >= col("es_hits") &&
                col("de_hits") >= col("fr_hits"), "de")
          .when(col("es_hits") >= col("fr_hits"), "es")
          .otherwise("fr"))
  }

  /** Chunk-level [[langId]] rolled into a per-document code-switching
    * profile — the multilingual-corpus reality a doc-level language tag
    * hides: a page that is 70% English with Spanish quotes classifies
    * "en" whole-doc, but its Spanish chunks poison an "en-only"
    * training mix. Non-overlapping `chunkTokens`-token tiles (overlap
    * would double-count the boundary tokens' language evidence) each
    * get the marker-word prediction; the per-doc rollup reports how
    * many tiles, how many distinct languages, the dominant language and
    * its chunk share.
    *
    * Dominant-language tie pin: argmax over (chunk count, langId's
    * fixed en>de>es>fr precedence) via one `max(struct(cnt, -rank))`
    * hash agg — languages are enum-sized, so the rank is a literal
    * CASE, and no per-doc window is needed.
    *
    * Scale posture: chunking and per-chunk scoring are pure codegen'd
    * array expressions (no shuffle); the only exchanges are the two
    * doc-keyed aggregations over the (doc, lang) counts — ≤4 rows per
    * doc, partial-aggregated. Zero-token docs emit nothing (as
    * [[chunk]]).
    * Output: (doc_id, n_chunks, n_langs, main_lang, main_frac,
    * code_switched).
    */
  def langIdMix(docs: DataFrame, chunkTokens: Int = 64,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    def hits(words: Seq[String]): Column = {
      val set = array(words.map(lit): _*)
      size(filter(wsTokens(col("chunk_text")),
        t => array_contains(set, lower(t)))).cast("long")
    }
    val perChunk = chunk(docs, chunkTokens, 0, idCol, textCol)
      .select(col("doc_id"),
        hits(EnStopwords).as("en_hits"), hits(DeStopwords).as("de_hits"),
        hits(EsStopwords).as("es_hits"), hits(FrStopwords).as("fr_hits"))
      .select(col("doc_id"),
        when(col("en_hits") >= col("de_hits") &&
             col("en_hits") >= col("es_hits") &&
             col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") >= col("es_hits") &&
                col("de_hits") >= col("fr_hits"), "de")
          .when(col("es_hits") >= col("fr_hits"), "es")
          .otherwise("fr").as("lang"))
    val rank = when(col("lang") === "en", 0)
      .when(col("lang") === "de", 1)
      .when(col("lang") === "es", 2).otherwise(3)
    perChunk.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(struct(col("c"), (-rank).as("nr"))).as("top"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        when(col("top.nr") === 0, "en").when(col("top.nr") === -1, "de")
          .when(col("top.nr") === -2, "es").otherwise("fr")
          .as("main_lang"),
        graft.functions.Fns.round2(col("top.c") / col("n_chunks"))
          .as("main_frac"),
        (col("n_langs") > 1).as("code_switched"))
  }

  /** Per-source corpus-composition card — the table on every dataset
    * card: for each source (domain/crawl/feed), how many documents and
    * tokens it contributes, its share of the total token budget, its
    * exact-duplicate rate, and its dominant predicted language. This is
    * the report a curation run prints BEFORE sampling decisions
    * ([[graft.operators.Sampling]] mixtures take exactly these shares
    * as input) and the after-the-fact audit of what a mix produced.
    *
    * Definitions are shared with the per-doc gates, not re-invented:
    * tokens = [[stats]]' whitespace tokens, language = [[langId]]'s
    * marker-word cascade (all-zero-hit docs tie to "en" — the
    * documented heuristic), duplicate = [[Dedup.exact]]'s
    * md5(normalized text) with corpus-WIDE multiplicity (a doc whose
    * clone lives in another source still counts — cross-source
    * boilerplate is precisely what the card must surface).
    *
    * Scale posture: one projection pass (tokens/hits/fingerprint are
    * per-row expressions), one fingerprint-keyed agg + join for the
    * multiplicity, then source-keyed aggs (sources are enum-sized) and
    * a 1-row broadcast total for the share. No window anywhere.
    * Output: (source, n_docs, n_tokens, token_share, mean_tokens,
    * dup_rate, main_lang, main_lang_share), round2 ratios.
    */
  /** Stopword-marker hit count for one language's word list — the
    * [[langId]] device, shared by the card operators. */
  private def stopHits(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(wsTokens(text), t => array_contains(set, lower(t))))
      .cast("long")
  }

  /** The marker-word language cascade as ONE column expression
    * (en >= de >= es >= fr tie precedence, all-zero docs tie to "en")
    * — shared by [[corpusCard]] and the streaming card state so both
    * classify identically by construction. */
  private def langExpr(text: Column): Column = {
    val en = stopHits(text, EnStopwords)
    val de = stopHits(text, DeStopwords)
    val es = stopHits(text, EsStopwords)
    val fr = stopHits(text, FrStopwords)
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  def corpusCard(docs: DataFrame, srcCol: String = "source",
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val per = docs.select(
        col(srcCol).as("source"),
        size(wsTokens(text)).cast("long").as("n_toks"),
        md5(normalized(text)).as("fp"),
        langExpr(text).as("lang"))
    val mult = per.groupBy("fp").agg(count(lit(1)).as("nfp"))
    val j = Scope.hold(per.join(mult, "fp")) // two rollups below
    val bySrc = j.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_toks")).as("n_tokens"),
      sum(when(col("nfp") > 1, 1L).otherwise(0L)).as("n_dup"))
    // dominant language: struct-max over (count, langId precedence) —
    // languages are enum-sized, so the rank is a literal CASE
    val rank = when(col("lang") === "en", 0)
      .when(col("lang") === "de", 1)
      .when(col("lang") === "es", 2).otherwise(3)
    val main = j.groupBy("source", "lang")
      .agg(count(lit(1)).as("c"))
      .withColumn("nr", -rank)
      .groupBy("source")
      .agg(max(struct(col("c"), col("nr"))).as("b"))
      .select(col("source"), col("b.c").as("main_cnt"),
        when(col("b.nr") === 0, "en").when(col("b.nr") === -1, "de")
          .when(col("b.nr") === -2, "es").otherwise("fr")
          .as("main_lang"))
    val total = bySrc.agg(sum(col("n_tokens")).as("tot"))
    bySrc.join(main, "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.functions.Fns.round2(
          col("n_tokens") / nullif(col("tot"), lit(0L)))
          .as("token_share"),
        graft.functions.Fns.round2(col("n_tokens") / col("n_docs"))
          .as("mean_tokens"),
        graft.functions.Fns.round2(col("n_dup") / col("n_docs"))
          .as("dup_rate"),
        col("main_lang"),
        graft.functions.Fns.round2(col("main_cnt") / col("n_docs"))
          .as("main_lang_share"))
  }

  /** The MERGEABLE state behind [[corpusCard]]: per (source, lang),
    * exact document and token counts — both integer sums, so state
    * from disjoint batches merges by addition with NO approximation
    * (the identity the streaming card maintainer rides:
    * cardState(A ∪ B) = merge(cardState(A), cardState(B)) for
    * disjoint A, B). The card's one NON-mergeable column — dup_rate,
    * whose fingerprint multiplicity needs fp-sized state — is the
    * documented exclusion; every other column of the card is a pure
    * function of this state ([[cardFromState]]).
    * Output: (source, lang, n_docs, n_tokens). */
  def cardState(docs: DataFrame, srcCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    docs.select(col(srcCol).as("source"),
        size(wsTokens(text)).cast("long").as("n_toks"),
        langExpr(text).as("lang"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
  }

  /** Assemble the dataset card from [[cardState]] — [[corpusCard]]
    * minus the dup_rate column, computable from the
    * (source, lang)-keyed state alone: source rollups, token shares,
    * dominant language via the same struct-max + literal rank device.
    * State is enum-sized (sources × 4 langs), so everything here is
    * broadcast-cheap regardless of corpus size.
    * Output: (source, n_docs, n_tokens, token_share, mean_tokens,
    * main_lang, main_lang_share), round2 ratios. */
  def cardFromState(state: DataFrame): DataFrame = {
    val bySrc = state.groupBy("source").agg(
      sum(col("n_docs")).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"))
    val rank = when(col("lang") === "en", 0)
      .when(col("lang") === "de", 1)
      .when(col("lang") === "es", 2).otherwise(3)
    val main = state
      .select(col("source"), col("n_docs").as("c"), (-rank).as("nr"))
      .groupBy("source")
      .agg(max(struct(col("c"), col("nr"))).as("b"))
      .select(col("source"), col("b.c").as("main_cnt"),
        when(col("b.nr") === 0, "en").when(col("b.nr") === -1, "de")
          .when(col("b.nr") === -2, "es").otherwise("fr")
          .as("main_lang"))
    val total = bySrc.agg(sum(col("n_tokens")).as("tot"))
    bySrc.join(main, "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.functions.Fns.round2(
          col("n_tokens") / nullif(col("tot"), lit(0L)))
          .as("token_share"),
        graft.functions.Fns.round2(col("n_tokens") / col("n_docs"))
          .as("mean_tokens"),
        col("main_lang"),
        graft.functions.Fns.round2(col("main_cnt") / col("n_docs"))
          .as("main_lang_share"))
  }

  /** Feature-hashing text embedding: each normalized token hashes to one
    * of `dims` buckets with a ±1 sign bit (hashing trick); the bucket
    * sums form a doc vector, L2-normalized, emitted as Array[Float] —
    * directly consumable by the Similarity/Dedup embedding operators.
    * Pure `functions._` (map_from_entries + transform), no UDFs.
    * Output: (doc_id, embedding array<float>).
    */
  def hashEmbed(docs: DataFrame, dims: Int = 64, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val asMap = hashEmbedBuckets(docs, dims, idCol, textCol)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("j"), col("w"))))
        .as("m"))
    val vec = transform(sequence(lit(0), lit(dims - 1)),
      // try_element_at: ANSI element_at raises on missing map keys
      i => coalesce(try_element_at(col("m"), i), lit(0L)).cast("double"))
    asMap
      .withColumn("v", vec)
      .withColumn("norm",
        sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))
      .filter(col("norm") > 0)
      .select(col("doc_id"),
        transform(col("v"), x => (x / col("norm")).cast("float"))
          .as("embedding"))
  }

  /** The sparse pre-normalization form of [[hashEmbed]]: per-(doc,
    * bucket) signed token-count sums — exact integers, so this surface
    * is hashable/comparable row-by-row (the dense float vector is not:
    * array columns crash a row-hash harness, and float normalization is
    * engine-specific). The dense embedding is derived from exactly these
    * rows, so a green check here covers the whole aggregation; only the
    * (purely per-row, unit-tested) normalize step sits outside it.
    *
    * Hash basis is md5 (NOT xxhash64) so the bucketing is reproducible
    * in any engine: bucket = (hex chars 29–32 of md5(word) as int) mod
    * dims, sign = parity of hex char 1 — in DuckDB,
    * `('0x' || substr(md5(word),29,4))::BIGINT % dims` and
    * `('0x' || substr(md5(word),1,1))::BIGINT % 2`. Both stay in
    * whole-stage codegen (md5 + conv are native expressions).
    * Output: (doc_id, j, w) — bucket index (int) and signed sum (long).
    */
  def hashEmbedBuckets(docs: DataFrame, dims: Int = 64,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    WikiText.tokens(docs, idCol, textCol)
      .select(col("doc_id"), md5(col("word")).as("h"))
      .select(col("doc_id"),
        (conv(substring(col("h"), 29, 4), 16, 10).cast("long") % dims)
          .cast("int").as("j"),
        when(conv(substring(col("h"), 1, 1), 16, 10).cast("long") % 2
            === 1L, lit(1L)).otherwise(lit(-1L)).as("sgn"))
      .groupBy("doc_id", "j").agg(sum("sgn").as("w"))

  /** Bigram language-model quality score: builds a corpus bigram model
    * over normalized tokens and scores each document by the mean
    * log10 P(w2|w1) of its bigram occurrences (MLE — every doc bigram is
    * in the corpus by construction, so no smoothing needed). Low scores
    * flag un-language-like token sequences — the perplexity-style
    * quality signal of a training-data pipeline.
    *
    * c1(w1) comes from a two-stage aggregation (count per (w1, w2), then
    * sum per w1), not a window partitioned by w1: both stages
    * partial-aggregate map-side, so a hot head-word ("the", with
    * ~vocabulary-many distinct successors) spreads across reducers
    * instead of concentrating one window partition. `minCount` drops
    * bigram contexts with c1 < minCount — the standard vocabulary
    * cutoff that keeps the broadcast-side model bounded as the corpus
    * (and its long tail of hapax contexts) grows. Scored bigrams are
    * then those present in the truncated model; n_bigrams counts
    * modeled occurrences only, and docs with no modeled bigram drop
    * (same semantics as scoring against any external truncated LM).
    *
    * The per-doc mean sums log-probabilities through DECIMAL(20,12) so
    * the result is partition-order-independent (double sums are not).
    * Output: (doc_id, n_bigrams, lm_score).
    */
  def lmScore(docs: DataFrame, minCount: Long = 0L,
              idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    lmScoreTail(docBigrams(docs, idCol, textCol),
      lmModel(docs, minCount, idCol, textCol))

  /** Per-doc bigram occurrences over normalized tokens (the shared
    * front of the LM family). */
  private def docBigrams(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val t = split(normalized(col(textCol)), " ")
    docs.select(col(idCol).as("doc_id"),
        explode(transform(sequence(lit(1), greatest(size(t) - 1, lit(1))),
          i => struct(get(t, i - 1).as("w1"), get(t, i).as("w2"))))
          .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w2").isNotNull)
  }

  /** The truncated bigram model (w1, w2, c2, c1): two-stage salted
    * aggregation, minCount context cutoff — see [[lmScore]]'s scaladoc
    * for the 100 TB reasoning. */
  private def lmModel(docs: DataFrame, minCount: Long, idCol: String,
                      textCol: String): DataFrame = {
    // c2 feeds BOTH c1 and the model join — persist, or the corpus-wide
    // bigram aggregation (the expensive shuffle) runs twice
    val c2 = Scope.hold(docBigrams(docs, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
    // stage 2 of the salted aggregation: the (w1, w2) grouping above
    // already spread the hot w1 over its successors; summing those
    // partials by w1 is partial-aggregated again — no single-reducer
    // hot spot anywhere
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
      .filter(col("c1") >= minCount)
    // fold c1 into the model FIRST (model ⋈ model, both sides vocab-
    // sized) so the occurrence table joins the finished model exactly
    // once — joining c1 directly to the corpus bigrams would be a
    // second pass over the corpus-sized frame
    c2.join(c1, Seq("w1"))
  }

  /** The shared scoring tail: occurrences ⋈ broadcast model → mean
    * DECIMAL-summed log10 P(w2|w1) per doc. Broadcast is the contract,
    * not a guess: minCount exists to keep the truncated model bounded,
    * and without the hint the planner's post-join size estimate
    * inflates past the threshold and demotes the corpus join to a full
    * sort-merge shuffle. */
  private def lmScoreTail(bigrams: DataFrame,
                          model: DataFrame): DataFrame =
    bigrams
      .join(broadcast(model), Seq("w1", "w2"))
      .select(col("doc_id"),
        log10(col("c2") / col("c1")).cast("decimal(20,12)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("lp")).cast("double") / count(lit(1))).as("lm_score"))

  /** Persist the truncated bigram LM as a parquet artifact — the
    * quality-model reality: the model is trained ONCE on a curated
    * reference corpus and every crawl batch scores against the frozen
    * artifact (scoring never rebuilds the model, never re-reads the
    * reference corpus). The artifact is the (w1, w2, c2, c1) table —
    * vocabulary²-bounded in theory, minCount-bounded in practice. */
  def lmArtifactWrite(docs: DataFrame, dir: String, minCount: Long = 0L,
                      idCol: String = "doc_id",
                      textCol: String = "text"): Unit =
    lmModel(docs, minCount, idCol, textCol)
      .write.mode("overwrite").parquet(dir)

  /** Score documents against the STORED LM artifact — the identical
    * [[lmScoreTail]] over the re-read model, so scoring the training
    * corpus itself is bit-identical to [[lmScore]] (the gate)
    * and scoring unseen data is the frozen-model production path. */
  def lmScoreFromArtifact(docs: DataFrame, dir: String,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    lmScoreTail(docBigrams(docs, idCol, textCol),
      docs.sparkSession.read.parquet(dir))

  /** Bigram PMI collocations — the corpus-level association mining
    * behind phrase detection (word2vec-style phrase joining, stopword
    * lists, tokenizer pre-merge candidates): for every adjacent token
    * pair with ≥ `minCount` occurrences,
    * PMI = log10(P(a,b) / (P(a)·P(b))) with P(a,b) over bigram
    * occurrences and P(·) over unigram occurrences, ranked top-`k`
    * (pmi desc, a asc, b asc — a total order, so ties are pinned).
    *
    * The PMI double is computed as ONE fixed association order —
    * ((c_ab·N)·N) / ((B·c_a)·c_b) — shared character-for-character
    * with the DuckDB twin, so IEEE double equality holds cross-engine;
    * round2 caps the comparison at the printed precision anyway.
    *
    * Scale posture: bigram and unigram models are keyed aggregations
    * (partial-agg map-side); the unigram side joined twice is |V|-sized
    * (Heaps' law) and broadcast; N and B are in-plan 1-row aggregates
    * (no driver count); the final rank is TakeOrderedAndProject, never
    * a global sort. minCount bounds the surviving bigram model exactly
    * like [[lmScore]]'s vocabulary cutoff.
    * Output: (a, b, c_ab, pmi).
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 100,
                      textCol: String = "text"): DataFrame = {
    val t = split(normalized(col(textCol)), " ")
    // three consumers: c_ab model, B total, (via uni) N
    val bigrams = Scope.hold(docs.select(
        explode(transform(sequence(lit(1), greatest(size(t) - 1, lit(1))),
          i => struct(get(t, i - 1).as("a"), get(t, i).as("b"))))
          .as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .filter(col("b").isNotNull)) // single-token docs have no bigram
    // three consumers: two model joins + the N total
    val uni = Scope.hold(docs
      .select(explode(t).as("w")).filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c")))
    val nUni = uni.agg(sum(col("c")).cast("long").as("n_uni"))
    val nBig = bigrams.agg(count(lit(1)).as("n_big"))
    val cAb = bigrams.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    cAb
      .join(broadcast(uni.select(col("w").as("a"), col("c").as("c_a"))),
        Seq("a"))
      .join(broadcast(uni.select(col("w").as("b"), col("c").as("c_b"))),
        Seq("b"))
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBig))
      .select(col("a"), col("b"), col("c_ab"),
        graft.functions.Fns.round2(log10(
          ((col("c_ab").cast("double") * col("n_uni")) * col("n_uni")) /
            ((col("n_big").cast("double") * col("c_a")) * col("c_b"))))
          .as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(k)
  }

  /** TextRank keyword extraction — PageRank over the word
    * co-occurrence graph (Mihalcea & Tarau 2004): adjacent-token pairs
    * (the window-2 co-occurrence) become undirected edges weighted by
    * corpus co-occurrence count, and [[Graph.pageRankOverEdges]]'
    * integer fixpoint ranks the words; the top-`k` by rank are the
    * corpus keywords. The same bigram expansion as [[pmiCollocations]]
    * (PMI scores the PAIR, TextRank scores the WORD by graph
    * centrality — complementary association surfaces).
    *
    * `minCount` prunes edges below the support threshold BEFORE the
    * fixpoint — at 100 TB the co-occurrence graph is vocabulary²-
    * bounded in theory but Zipf-concentrated in practice; the
    * threshold keeps it |V|-proportional, and every round is then a
    * keyed join + keyed sum on the pruned edge list (never N-sized).
    * Self-loops are dropped (a=b pairs feed rank back to themselves
    * and add nothing to the ordering).
    * Output: (word, rank) — rank in exact integer mass units.
    */
  def textRank(docs: DataFrame, minCount: Long = 3L, iters: Int = 4,
               k: Int = 50, textCol: String = "text"): DataFrame = {
    val t = split(normalized(col(textCol)), " ")
    val pairs = docs.select(
        explode(transform(sequence(lit(1), greatest(size(t) - 1, lit(1))),
          i => struct(get(t, i - 1).as("a"), get(t, i).as("b"))))
          .as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .filter(col("b").isNotNull && col("a") =!= "" && col("b") =!= "" &&
        col("a") =!= col("b"))
    val und = pairs
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCount)
    val edges = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(
        und.select(col("v").as("src"), col("u").as("dst"), col("w")))
    Graph.pageRankOverEdges(edges, iters)
      .orderBy(col("rank").desc, col("node"))
      .limit(k)
      .select(col("node").as("word"), col("rank"))
  }

  /** Sentence regex shared with the twin: maximal runs of
    * non-terminators plus their trailing terminator run. RE2-safe (no
    * lookbehind — DuckDB's RE2 has none), so both engines segment
    * identically. */
  private[operators] val SentenceRe = "[^.!?]+[.!?]*"

  /** Sentence segmentation — the granularity under per-sentence dedup,
    * citation alignment, and length-bucketed packing: each document
    * splits into terminator-delimited sentences (maximal `[^.!?]+`
    * runs keeping their `.!?` tail), trimmed, empties dropped,
    * zero-based index preserving document order. One codegen'd
    * regexp_extract_all + posexplode — embarrassingly parallel, no
    * shuffle (the [[chunk]] scale argument).
    * Output: (doc_id, sent_idx, sentence, n_tokens). */
  def sentences(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(regexp_extract_all(col(textCol), lit(SentenceRe),
          lit(0))))
      .select(col("doc_id"), col("pos").cast("long").as("sent_idx"),
        trim(col("col")).as("sentence"))
      .filter(col("sentence") =!= "")
      .withColumn("n_tokens",
        size(wsTokens(col("sentence"))).cast("long"))

  /** Token-window document chunking — the context-length splitter of a
    * training-data pipeline: each document becomes ⌈(n−overlap)/stride⌉
    * chunks of up to `chunkTokens` whitespace tokens, consecutive chunks
    * sharing `overlap` tokens (stride = chunkTokens − overlap). Zero-token
    * documents emit nothing; every other document emits at least one
    * chunk and every token is covered. Pure codegen'd array expressions
    * (split → sequence → explode → slice): embarrassingly parallel, no
    * shuffle at all — the 100 TB shape is "free" next to the scan.
    * Output: (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    */
  def chunk(docs: DataFrame, chunkTokens: Int = 128, overlap: Int = 32,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap / $chunkTokens")
    val stride = chunkTokens - overlap
    val toks = filter(split(trim(col(textCol)), "\\s+"), x => x =!= "")
    val n = size(col("t"))
    // integer ceil-div, clamped to ≥1 (a doc shorter than one chunk is
    // still one chunk); floor(x/y) on the positive-denominator double
    // division IS the integer floor-div
    val nChunks = greatest(lit(1L),
      floor((n - lit(overlap) + lit(stride - 1)) / lit(stride)))
    docs.select(col(idCol).as("doc_id"), toks.as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("t"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkTokens))).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("t"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkTokens)))
          .as("chunk_text"))
  }

  /** Gopher-style rule battery — the standard hard pre-training filters,
    * as explicit per-rule booleans (vs [[stats]]' soft composite score):
    *  - word count within [minWords, maxWords];
    *  - mean word length within [3, 10];
    *  - symbol-to-word ratio ('#' chars + '...' runs) ≤ 0.1;
    *  - ≥ 80% of words contain an alphabetic character;
    *  - ≥ 2 stopword hits.
    * `keep` is their conjunction; empty docs yield NULL ratios (and a
    * NULL keep) rather than dividing by zero. Pure codegen'd
    * expressions.
    * Output: (doc_id, n_words, mean_word_len, symbol_word_ratio,
    * alpha_word_ratio, n_stop_hits, r_words, r_mean_len, r_symbols,
    * r_alpha, r_stops, keep).
    */
  def gopherFlags(docs: DataFrame, minWords: Int = 50,
                  maxWords: Int = 100000, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val toks = wsTokens(text)
    val stop = array(EnStopwords.map(lit): _*)
    docs.select(
        col(idCol).as("doc_id"),
        size(toks).cast("long").as("n_words"),
        length(array_join(toks, "")).as("tok_chars"),
        (length(text) - length(regexp_replace(text, "#", "")) +
          size(regexp_extract_all(text, lit("\\.\\.\\."), lit(0))))
          .cast("long").as("symbols"),
        size(filter(toks, t => t.rlike("[a-zA-Z]")))
          .cast("long").as("alpha_words"),
        size(filter(toks, t => array_contains(stop, lower(t))))
          .cast("long").as("n_stop_hits"))
      .select(col("doc_id"), col("n_words"),
        (col("tok_chars") / nullif(col("n_words"), lit(0L)))
          .as("mean_word_len"),
        (col("symbols") / nullif(col("n_words"), lit(0L)))
          .as("symbol_word_ratio"),
        (col("alpha_words") / nullif(col("n_words"), lit(0L)))
          .as("alpha_word_ratio"),
        col("n_stop_hits"))
      .withColumn("r_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_symbols", col("symbol_word_ratio") <= 0.1)
      .withColumn("r_alpha", col("alpha_word_ratio") >= 0.8)
      .withColumn("r_stops", col("n_stop_hits") >= 2)
      .withColumn("keep",
        col("r_words") && col("r_mean_len") && col("r_symbols") &&
          col("r_alpha") && col("r_stops"))
  }

  /** Repetition signals (Gopher/C4-style quality filters): share of the
    * most frequent unigram, and the duplicate-trigram fraction
    * (1 − distinct/total), over normalized tokens. High values flag
    * boilerplate/spam-like documents. Short docs (<3 tokens) contribute
    * one whole-text gram (same guard as the shingle ops).
    * Output: (doc_id, n_tokens, top_unigram_share, dup_trigram_frac).
    */
  def repetition(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val t = split(normalized(col(textCol)), " ")
    val base = docs.select(col(idCol).as("doc_id"), t.as("toks"))
    val uni = base.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_c"), sum("c").as("n_tokens"))
    val tri = base.select(col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(size(col("toks")) - 2, lit(1))),
          i => concat_ws(" ", slice(col("toks"), i, lit(3))))).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n3"), countDistinct(col("g")).as("d3"))
    uni.join(tri, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        (col("top_c") / col("n_tokens")).as("top_unigram_share"),
        (lit(1.0) - col("d3") / col("n3")).as("dup_trigram_frac"))
  }

  // PII-shaped patterns, chosen to parse identically under Java regex
  // (Spark) and RE2 (DuckDB): no backrefs, no lookaround, explicit
  // classes. Deliberately high-recall/simple — a production scrubber
  // would extend the pattern set, not the plumbing.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ ]+"
  val DigitRunRe = "[0-9]{7,}"

  /** PII redaction — the scrub pass of a training-data pipeline: counts
    * then replaces email addresses, URLs, and long digit runs
    * (phone/id-shaped) with typed placeholder tokens. Replacement order
    * matters and is fixed: emails first (so their digit runs don't
    * half-match), then URLs, then digit runs. Pure codegen'd
    * regexp_replace/regexp_extract_all — no UDFs.
    * Output: (doc_id, clean_text, n_emails, n_urls, n_digit_runs).
    */
  def redactPii(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    docs.select(
      col(idCol).as("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"),
        DigitRunRe, "<NUM>").as("clean_text"),
      size(regexp_extract_all(text, lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(text, lit(UrlRe), lit(0)))
        .cast("long").as("n_urls"),
      size(regexp_extract_all(text, lit(DigitRunRe), lit(0)))
        .cast("long").as("n_digit_runs"))
  }

  /** Per-source PII audit — the before/after compliance report around
    * [[redactPii]]: for each source, how many documents carry any PII
    * pattern, the per-type match counts, and the round2 PII rate, with
    * a corpus TOTAL row (rollup; the sentinel source "TOTAL" is
    * documented, not inferable). A redaction pass is signed off
    * against exactly this table — per-source, because PII concentrates
    * by origin (forums vs encyclopedias) and the policy decision is
    * per-source.
    *
    * Scale posture: the counts are per-row regexp expressions (same
    * shared pattern vals as [[redactPii]] — one definition, two
    * surfaces), the rollup is one source-keyed partial-agg'd
    * aggregation over enum-sized groups. No join, no window.
    * Output: (source, n_docs, docs_with_pii, n_emails, n_urls,
    * n_digit_runs, pii_rate).
    */
  def piiReport(docs: DataFrame, srcCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    def cnt(re: String): Column =
      size(regexp_extract_all(text, lit(re), lit(0))).cast("long")
    docs.select(col(srcCol).as("source"),
        cnt(EmailRe).as("ne"), cnt(UrlRe).as("nu"),
        cnt(DigitRunRe).as("nd"))
      .rollup("source")
      .agg(grouping(col("source")).as("g"),
        count(lit(1)).as("n_docs"),
        sum(when(col("ne") + col("nu") + col("nd") > 0, 1L)
          .otherwise(0L)).as("docs_with_pii"),
        sum(col("ne")).as("n_emails"), sum(col("nu")).as("n_urls"),
        sum(col("nd")).as("n_digit_runs"))
      // The rollup row is identified by grouping(), NOT by coalescing
      // NULL (ADVICE r10: coalesce labels a genuine NULL-source group
      // 'TOTAL' too, making it indistinguishable from the sentinel). A
      // real source literally named 'TOTAL' would still collide with
      // the sentinel — that raises instead of aliasing silently.
      .select(
        when(col("g") === 1, lit("TOTAL"))
          .when(col("source") === "TOTAL", raise_error(lit(
            "piiReport: source value 'TOTAL' collides with the rollup sentinel")))
          .otherwise(col("source")).as("source"),
        col("n_docs"), col("docs_with_pii"), col("n_emails"),
        col("n_urls"), col("n_digit_runs"),
        graft.functions.Fns.round2(
          col("docs_with_pii") / col("n_docs")).as("pii_rate"))
  }

  /** Whitespace-normalized lowercase text — the dedup canonical form. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, WsRe, " ")))

  /** Adjacent-symbol pair statistics — the counting step of BPE
    * tokenizer training: for every pair of adjacent characters inside
    * a word, its corpus frequency (the quantity BPE greedily merges
    * on), top `k` pairs ranked (cnt desc, a asc, b asc).
    *
    * Scale posture: the pair expansion runs over the DISTINCT-word
    * frequency table, not the corpus — the classic BPE-training trick:
    * tokenize once (one keyed agg over N), then all per-symbol work is
    * vocabulary-sized (Heaps' law: |V| ≪ N), weighted by the word
    * frequency. Expansion is Σ|word| over distinct words; counts are
    * keyed aggs; the top-k is TakeOrderedAndProject. Words shorter
    * than 2 chars are filtered BEFORE the explode (Spark's
    * `sequence(1, 0)` runs backwards — invariant 7).
    * Output: (a, b, cnt, rank).
    */
  /** Distinct-word frequency dictionary — the shared input of the BPE
    * operators (tokenize once over N, then everything downstream is
    * vocabulary-sized). Output: (w, wf). */
  private def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(normalized(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wf"))

  def bpePairStats(docs: DataFrame, k: Int = 20,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    pairStatsFromWf(wordFreq(docs, textCol), k)

  /** [[bpePairStats]] over an already-built word-frequency dictionary
    * — shared with the merge step so one corpus tokenize feeds both
    * (invariant 9). */
  private def pairStatsFromWf(wf0: DataFrame, k: Int): DataFrame = {
    val wf = wf0.filter(length(col("w")) >= 2)
    wf.select(col("w"), col("wf"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(1)).as("a"),
        col("w").substr(col("i") + 1, lit(1)).as("b"), col("wf"))
      .groupBy("a", "b").agg(sum(col("wf")).as("cnt"))
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc))
        .cast("long"))
  }

  /** One BPE merge round applied to the vocabulary: take the top pair
    * from [[bpePairStats]] (a 1-row broadcast plan literal, like
    * purchaseKCore's in-plan k) and rewrite every word's occurrences
    * of it, leftmost-first non-overlapping — which is exactly the
    * semantics of LITERAL string `replace` in Spark and every SQL
    * engine, so the overlap rule that makes BPE merging look
    * sequential ("aaa" under pair (a,a) merges once, at the left) is
    * engine-portable with no regex and no escaping. The merged symbol
    * is rendered as `(ab)` so a later round can treat it as one unit.
    *
    * Scale posture: vocabulary-sized (the word-frequency dictionary),
    * one broadcast of one row, one projection — the corpus was
    * touched once, by the shared tokenize-count.
    * Output: (w, wf, merged, n_merges) for every distinct word.
    */
  def bpeApplyTopMerge(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // one tokenize pass serves both the top-pair derivation and the
    // dictionary rewrite (invariant 9)
    val wf = Scope.hold(wordFreq(docs, textCol))
    val top = pairStatsFromWf(wf, k = 1).select(col("a"), col("b"))
    wf.crossJoin(broadcast(top))
      .withColumn("merged",
        expr("replace(w, concat(a, b), concat('(', a, b, ')'))"))
      .select(col("w"), col("wf"), col("merged"),
        expr("(length(merged) - length(w)) div 2").cast("long")
          .as("n_merges"))
  }

  /** Full BPE tokenizer training — the iterative loop
    * [[bpePairStats]]/[[bpeApplyTopMerge]] take one step of: `rounds`
    * greedy merges, each picking the corpus-frequency-max adjacent
    * SYMBOL pair (ties pinned cnt desc, a asc, b asc) and rewriting the
    * vocabulary, so the trained tokenizer's vocab size is
    * |base symbols| + rounds. The returned merge table (round, a, b,
    * cnt) IS the tokenizer artifact a trainer ships (apply merges in
    * round order to encode new text).
    *
    * Representation: each distinct word is a SPACE-joined symbol
    * string ("hello" → "h e l l o") — words are split on spaces
    * upstream, so a space can never occur inside a symbol and the
    * join is unambiguous at every round (merged symbols concatenate,
    * e.g. "th"). A merge round rewrites every word's symbol sequence
    * leftmost-first non-overlapping via a left fold (string
    * accumulator; "a a a" under (a,a) → "aa a"), which both engines
    * express natively (Spark `aggregate`, DuckDB `list_reduce` over
    * the ''-prepended list).
    *
    * Driver-loop discipline = [[graft.operators.Similarity.trainCodebook]]
    * (round-7 verdict #3): per round ONE 3-field row (the argmax pair)
    * crosses to the driver — a bounded model artifact, not row data —
    * and the per-round rewrite is a vocabulary-sized projection. The
    * corpus is touched exactly once (the shared tokenize-count);
    * every subsequent round is |V|-sized work (Heaps' law: |V| ≪ N),
    * so 100 TB of text trains at the cost of one corpus aggregation
    * plus `rounds` dictionary passes. Stops early if the vocabulary
    * runs out of adjacent pairs. Output: (round, a, b, cnt), one row
    * per executed merge round, round = 1..rounds.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = 6,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    // the merge table is local rows, so the vocabulary dies here
    Scope.run(bpeTrainLoop(docs, rounds, textCol)._1)

  /** The shared trainer: returns (merge table, trained vocabulary) —
    * the vocabulary is (w, wf, repr) with repr the word's final
    * space-joined symbol sequence, held in the caller's scope
    * ([[bpeEncode]] joins it — the mmrTopK cand/ps pattern). */
  private def bpeTrainLoop(docs: DataFrame, rounds: Int,
                           textCol: String): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20] (twin unrolls them): $rounds")
    val spark = docs.sparkSession
    var cur = Scope.hold(wordFreq(docs, textCol)
      .select(col("w"), col("wf"),
        array_join(filter(split(col("w"), ""), x => x =!= ""), " ")
          .as("repr")))
    // the superseded frame is released only AFTER its successor has
    // materialized (the take() below runs the round's aggregation over
    // `cur`, populating its cache) — dropping it at hand-off would
    // force the next action to recompute the whole chain from the
    // corpus
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val top = cur
        .select(col("wf"), split(col("repr"), " ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("wf"),
          explode(sequence(lit(1), size(col("t")) - 1)).as("i"),
          col("t"))
        .select(element_at(col("t"), col("i")).as("a"),
          element_at(col("t"), col("i") + 1).as("b"), col("wf"))
        .groupBy("a", "b").agg(sum(col("wf")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1)
        .take(1)
      if (prev != null) { Scope.release(prev); prev = null }
      if (top.isEmpty) dry = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, cnt))
        // leftmost non-overlapping merge fold; symbol-boundary-exact
        // because symbols are space-free (see scaladoc)
        val next = Scope.hold(cur.select(col("w"), col("wf"),
          aggregate(split(col("repr"), " "), lit(""), (acc, x) =>
            when(acc === "", x)
              .when(x === lit(b) &&
                (acc === lit(a) || acc.endsWith(lit(" " + a))),
                concat(acc.substr(lit(1), length(acc) - lit(a.length)),
                  lit(a + b)))
              .otherwise(concat(acc, lit(" "), x))).as("repr")))
        prev = cur
        cur = next
        r += 1
      }
    }
    if (prev != null) Scope.release(prev)
    import spark.implicits._
    (merges.toSeq.toDF("round", "a", "b", "cnt"), cur)
  }

  /** ENCODE with the trained tokenizer — the apply half of
    * [[bpeTrain]]: trains the same `rounds` merges, then maps every
    * document's words through the trained vocabulary and counts the
    * resulting subword tokens. This is the token count a training-data
    * budget actually bills by (the ws/regex counts in [[stats]] are
    * pre-tokenizer heuristics). The trained dictionary is |V|-sized →
    * BROADCAST to the corpus-sized word join (one shuffle-free pass
    * over N after the trainer's one corpus aggregation).
    * Output: (doc_id, n_words, n_bpe_tokens).
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 6,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val (_, vocab) = bpeTrainLoop(docs, rounds, textCol)
    encodeWithVocab(docs, vocab, idCol, textCol)
  }

  /** The encode tail shared VERBATIM by [[bpeEncode]] (in-plan trained
    * vocabulary) and [[bpeEncodeFromArtifact]] (vocabulary re-read from
    * parquet) — the [[graft.operators.Similarity.ivfServe]] discipline:
    * train-then-serve is bit-identical to train-and-serve by
    * construction, because both run this exact plan over a (w, repr)
    * frame. */
  private def encodeWithVocab(docs: DataFrame, vocab: DataFrame,
                              idCol: String, textCol: String): DataFrame = {
    val words = docs
      .select(col(idCol).as("doc_id"),
        explode(split(normalized(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
    words
      .join(broadcast(vocab.select(col("w"),
        size(split(col("repr"), " ")).cast("long").as("n_sym"))), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_bpe_tokens"))
  }

  /** Train the BPE tokenizer ONCE and persist it as parquet — the
    * tokenizer-as-artifact half of the story (the
    * [[graft.operators.Similarity.ivfIndexWrite]] pattern applied to
    * text): production tokenizers are trained by one batch job and
    * shipped; every downstream encode applies the stored artifact,
    * never re-running the merge loop. Layout under `dir`:
    *  - `merges/` — (round, a, b, cnt): the ordered merge table, THE
    *    tokenizer artifact (apply merges in round order to encode text
    *    the training corpus never saw);
    *  - `vocab/` — (w, wf, repr): every training-corpus word's final
    *    space-joined symbol sequence — the precomputed fast path that
    *    [[bpeEncodeFromArtifact]] broadcast-joins, exactly the staged
    *    train-once/apply-many shape of the reference's idf.csv
    *    (reference `Code/TF_IDFWorker.java:22-39` consumes a staged
    *    artifact rather than re-deriving it).
    * Strings round-trip parquet exactly, so the served encode is
    * bit-identical to the in-plan one (the gate pins this). */
  def bpeArtifactWrite(docs: DataFrame, dir: String, rounds: Int = 6,
                       idCol: String = "doc_id",
                       textCol: String = "text"): Unit = Scope.run {
    val (merges, vocab) = bpeTrainLoop(docs, rounds, textCol)
    merges.write.mode("overwrite").parquet(s"$dir/merges")
    vocab.write.mode("overwrite").parquet(s"$dir/vocab")
  }

  /** ENCODE from a persisted [[bpeArtifactWrite]] tokenizer — the
    * identical [[encodeWithVocab]] tail over the re-read vocabulary.
    * The merge loop never runs here: a 100 TB encode job reads the
    * |V|-sized artifact, broadcasts it, and makes one shuffle-free
    * pass over the corpus. In-vocab fast path: words absent from the
    * training vocabulary drop out of the join — use [[bpeEncodeOov]]
    * when the corpus can contain unseen words.
    * Output: (doc_id, n_words, n_bpe_tokens). */
  def bpeEncodeFromArtifact(docs: DataFrame, dir: String,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    encodeWithVocab(docs,
      docs.sparkSession.read.parquet(s"$dir/vocab"), idCol, textCol)

  /** Tokenizer FERTILITY / compression evaluation from the stored
    * [[bpeArtifactWrite]] artifact — the standard per-language
    * tokenizer health check (a tokenizer trained on one language mix
    * over-fragments under-represented languages; fertility is how that
    * is measured and reported): per language, tokens-per-word
    * (`fertility`) and characters-per-token (`chars_per_token`) of the
    * stored vocabulary applied to the corpus.
    *
    * Scale posture: identical to [[bpeEncodeFromArtifact]] — one
    * shuffle-free corpus pass against the broadcast |V|-sized
    * vocabulary, then a languages-sized keyed aggregation. The
    * round2'd ratios divide the two exact BIGINT sums once, in the
    * same order as the twin.
    * Output: (lang, n_words, n_bpe_tokens, n_chars, fertility,
    * chars_per_token).
    */
  def bpeFertility(docs: DataFrame, dir: String,
                   textCol: String = "text",
                   langCol: String = "lang"): DataFrame = {
    val vocab = docs.sparkSession.read.parquet(s"$dir/vocab")
      .select(col("w"),
        size(split(col("repr"), " ")).cast("long").as("n_sym"))
    docs
      .select(col(langCol).as("lang"),
        explode(split(normalized(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(vocab), Seq("w"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_bpe_tokens"),
        sum(length(col("w"))).cast("long").as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        col("n_chars"),
        graft.functions.Fns.round2(col("n_bpe_tokens") / col("n_words"))
          .as("fertility"),
        graft.functions.Fns.round2(col("n_chars") / col("n_bpe_tokens"))
          .as("chars_per_token"))
  }

  /** The per-word merge application: char-split `word`, then replay
    * every trained merge in round order with the IDENTICAL
    * leftmost-first non-overlapping semantics the trainer's fold used
    * — so for any word the training corpus contained, this reproduces
    * the stored vocabulary repr exactly (same deterministic process),
    * and for an UNSEEN word it produces what the trainer would have
    * produced had the word been present with frequency 0 (the real BPE
    * apply semantics every shipped tokenizer implements). One native
    * Catalyst Expression ([[graft.functions.BpeApplyMergesExpr]],
    * round-13) instead of the former `rounds`-deep chain of
    * `aggregate()` folds, whose ~20 nested lambdas cost ~3-4 s of
    * SF-INDEPENDENT analysis/codegen per query — the round-12
    * text_bpe_encode_oov bench floor. */
  private def applyMerges(word: Column,
                          merges: Seq[(String, String)]): Column =
    graft.functions.BpeExpressions.bpeApply(word,
      typedLit(merges.map(p => Seq(p._1, p._2))))

  /** ENCODE ANY corpus — including words the tokenizer never saw —
    * from a persisted [[bpeArtifactWrite]] merge table: the stored
    * (round, a, b) rows are the tokenizer model (≤ 20 rows by the
    * trainer's cap — a bounded driver artifact, the codebook
    * discipline) and ride into ONE native merge-replay expression
    * ([[graft.functions.BpeApplyMergesExpr]], round-13 — formerly a
    * `rounds`-deep chain of aggregate() folds whose nested lambdas
    * cost ~3-4 s of SF-independent analysis/codegen, the round-12
    * bench floor) applied to every word. No vocabulary join at all:
    * the encode is a pure stateless projection + one keyed count —
    * works in streaming, needs no broadcast, and bills OOV words
    * correctly instead of dropping them. This is the apply path a
    * production pipeline runs on NEW data with a FROZEN tokenizer;
    * the vocab-join form ([[bpeEncodeFromArtifact]]) is its in-vocab
    * fast path (the spec pins their agreement on in-vocab corpora).
    * Output: (doc_id, n_words, n_bpe_tokens). */
  def bpeEncodeOov(docs: DataFrame, dir: String,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    graft.functions.BpeExpressions.register(docs.sparkSession)
    val merges = docs.sparkSession.read.parquet(s"$dir/merges")
      .orderBy("round").select("a", "b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    docs
      .select(col(idCol).as("doc_id"),
        explode(split(normalized(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), applyMerges(col("w"), merges).as("repr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(split(col("repr"), " ")).cast("long"))
          .as("n_bpe_tokens"))
  }

  /** Document fingerprints:
    *  - fp_md5: md5 of the normalized text (exact-dup key);
    *  - fp_shingle: winnowing-style minimum over md5 hashes of 5-word
    *    shingles of the normalized text — robust to local edits, portable
    *    across engines (md5 + lexicographic min are engine-independent,
    *    unlike xxhash64).
    * Output: (doc_id, fp_md5, fp_shingle).
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val norm = normalized(col(textCol))
    val t = split(norm, " ")
    val nsh = greatest(size(t) - 4, lit(1))
    docs.select(col(idCol).as("doc_id"),
      md5(norm).as("fp_md5"),
      array_min(transform(sequence(lit(1), nsh),
        i => md5(concat_ws(" ", slice(t, i, lit(5)))))).as("fp_shingle"))
  }

  /** WINNOWING fingerprints (Schleimer et al. 2003, the MOSS
    * algorithm) — the SPARSE local-fingerprint layer between
    * [[fingerprint]]'s one-hash-per-doc and
    * [[graft.operators.Dedup.duplicatedSpans]]' every-shingle
    * coverage: hash every k-token shingle, slide a `window`-position
    * frame over the hash sequence, and keep each frame's MINIMUM
    * (rightmost on ties — the standard winnowing tie rule, so
    * consecutive frames usually re-select the same hash and the kept
    * set stays ~2/(window+1) of the shingles). The guarantee that
    * makes the sparsity safe: any substring of ≥ window + k − 1
    * tokens shared by two documents contributes at least one COMMON
    * fingerprint — no shared passage of that length can hide. Pure
    * per-row array expressions (no shuffle except the final
    * distinct); the 60-bit hash is an md5 slice, so the twin replays
    * it exactly. Documents with < k tokens emit nothing; shingle
    * tails shorter than a full window still select (the last frames
    * clamp to the array end).
    * Output: (doc_id, pos, fp) — pos the 1-based shingle index of the
    * selected hash, distinct per document. */
  def winnow(docs: DataFrame, k: Int = 5, window: Int = 4,
             idCol: String = "doc_id",
             textCol: String = "text",
             positionDistinct: Boolean = true): DataFrame = {
    require(k >= 1 && window >= 1,
      s"need k >= 1 and window >= 1: $k/$window")
    val t = split(normalized(col(textCol)), " ")
    val raw = docs.select(col(idCol).as("doc_id"), t.as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => conv(substring(md5(
              concat_ws(" ", slice(col("t"), i, lit(k)))), 1, 15),
            16, 10).cast("long")).as("hs"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), greatest(size(col("hs")) - (window - 1),
            lit(1))),
          p => {
            val ws = slice(col("hs"), p, lit(window))
            val mn = array_min(ws)
            // rightmost in-frame position of the minimum (ties break
            // toward the most recent shingle — the winnowing rule)
            val jm = array_max(filter(sequence(lit(1), size(ws)),
              j => element_at(ws, j) === mn))
            struct((p + jm - 1).cast("long").as("pos"), mn.as("fp"))
          })).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
    // the per-(doc,pos,fp) dedup is the gate surface's contract;
    // callers that immediately re-distinct on a coarser key
    // (winnowPairs) skip it — one exchange less (r14)
    if (positionDistinct) raw.distinct() else raw
  }

  /** Shared-fingerprint candidate pairs — [[winnow]]'s consumer (the
    * MOSS match step): documents sharing ≥ `minShared` winnowing
    * fingerprints are local-overlap candidates, at a fraction of
    * [[graft.operators.Dedup.duplicatedSpans]]' every-shingle cost.
    * Fingerprints selected by more than `maxBucket` documents are
    * dropped BEFORE pairing — a corpus-wide fingerprint is template
    * text whose bucket would pair quadratically (the hot-posting-list
    * cap of sparse similarity, and at these parameters the same
    * boilerplate [[graft.operators.Dedup.boilerplateRewrite]] cuts);
    * the cap is the scale contract that bounds every bucket's pair
    * fan-out at maxBucket². Candidates, not verdicts: a downstream
    * exact verify (the candidates-then-verify discipline) confirms —
    * here n_shared ≥ minShared IS the winnowing guarantee that a
    * shared passage exists.
    * Output: (doc_a, doc_b, n_shared), smaller id first. */
  def winnowPairs(docs: DataFrame, k: Int = 5, window: Int = 4,
                  minShared: Int = 2, maxBucket: Int = 50,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(minShared >= 1 && maxBucket >= 2,
      s"need minShared >= 1, maxBucket >= 2: $minShared/$maxBucket")
    // distinct((doc,fp)) of distinct((doc,pos,fp)) ≡ distinct((doc,fp))
    // — [[winnow]]'s per-position distinct is the text_winnow gate's
    // contract, not a pairing prerequisite; skipping it removes one
    // full fingerprint exchange from every winnowPairs consumer (r14,
    // guide §2.4)
    // three consumers (bucket agg + both self-join sides); unwarmed,
    // the 831 KiB fingerprint shuffle was written 4× per
    // dedup_winnow_rewrite action (r14)
    val fps = Scope.warm(winnow(docs, k, window, idCol, textCol,
        positionDistinct = false)
      .select("doc_id", "fp").distinct()) // pair both sides
    val buckets = fps.groupBy("fp").agg(count(lit(1)).as("bs"))
      .filter(col("bs") >= 2 && col("bs") <= maxBucket)
      .select("fp")
    val keyed = fps.join(buckets, "fp")
    keyed.as("a").join(keyed.as("b"),
        col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact VERIFY tail for [[winnowPairs]] — the candidates-then-
    * verify discipline applied to the winnow family: every candidate
    * pair gets its exact count of shared distinct k-grams (the
    * fingerprints are md5 slices of exactly these k-grams, so a
    * shared fingerprint implies ≥ 1 shared k-gram up to a 2^-60
    * collision — the verified count MEASURES the overlap the sparse
    * fingerprints only signaled). Work is candidate-bounded end to
    * end: only documents appearing in a candidate pair re-tokenize
    * (one semi join), and the intersection join touches those docs'
    * distinct k-grams only — the corpus never re-pairs.
    * Output: (doc_a, doc_b, n_shared, n_common_kgrams). */
  def winnowPairsVerified(docs: DataFrame, k: Int = 5, window: Int = 4,
                          minShared: Int = 2, maxBucket: Int = 50,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    // the members spine + two pair joins, two of them broadcast sides;
    // unwarmed, dedup_winnow_rewrite wrote the same 831 KiB fingerprint
    // shuffle 5× per action (r14)
    val pairs = Scope.warm(winnowPairs(docs, k, window, minShared,
      maxBucket, idCol, textCol))
    val members = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val t = split(normalized(col(textCol)), " ")
    // both sides of the intersection join read it — warm (r14)
    val grams = Scope.warm(docs.select(col(idCol).as("doc_id"), t.as("t"))
      .join(members, Seq("doc_id"), "left_semi") // candidate-bounded
      .filter(size(col("t")) >= k)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - (k - 1)),
          i => concat_ws(" ", slice(col("t"), i, lit(k))))).as("g"))
      .distinct())
    val common = pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("g")),
        Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    pairs.join(common, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        coalesce(col("n_common"), lit(0L)).as("n_common_kgrams"))
  }

  /** Dense token-id vocabulary — the dictionary artifact of a training
    * tokenizer: the `maxVocab` most frequent normalized tokens (the
    * [[WikiText.tokens]] tokenizer) get ids 1..V by (count desc, word
    * asc); id 0 is reserved for out-of-vocabulary. Same
    * TakeOrderedAndProject-then-rank shape as the Q2 dictionary: the
    * ranking window runs over the `maxVocab` survivors only, never the
    * corpus. Output: (tid, word, cnt).
    */
  def vocab(docs: DataFrame, maxVocab: Int = 30000,
            idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1: $maxVocab")
    val byCount = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("word").asc)
    WikiText.tokens(docs, idCol, textCol)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(maxVocab)
      .withColumn("tid", row_number().over(byCount).cast("long"))
      .select("tid", "word", "cnt")
  }

  /** Position-aware token-id encoding — the tokenize-to-ids step
    * between curation and sequence packing: every kept token becomes
    * (doc_id, pos, tid) with dense 1-based per-doc positions in
    * original text order and OOV mapped to 0. The vocabulary side is a
    * bounded model artifact (≤ maxVocab rows) and broadcasts; the
    * per-doc position window carries one counter per document.
    * Output: (doc_id, pos, tid).
    */
  def tokenIds(docs: DataFrame, vocabDf: DataFrame,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("p").asc)
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ", -1)).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p"),
        graft.functions.Fns.normalizeToken(col("tok")).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("pos", row_number().over(byPos).cast("long"))
      .join(broadcast(vocabDf.select("word", "tid")), Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("tid"), lit(0L)).as("tid"))
  }

  /** Content-defined chunking — the insertion-robust splitter for
    * chunk-level dedup (FastCDC/rsync chunking lifted to token
    * granularity, with the token hash standing in for the rolling byte
    * hash): a chunk boundary falls AFTER every token whose md5-derived
    * 60-bit value is ≡ 0 (mod `avgTokens`), so boundaries are a pure
    * function of LOCAL content and chunks average `avgTokens` tokens.
    * Insert a paragraph into a document and only the chunks overlapping
    * the edit change identity; under [[chunk]]'s fixed stride every
    * downstream chunk shifts and chunk-level dedup misses all of them.
    * Hash basis is md5 (invariant 8: the one cross-engine hash), so the
    * oracle replays every boundary decision bit-for-bit. Scale shape:
    * the running boundary count is a per-doc-bounded window and the
    * regroup is one (doc_id, chunk_id) keyed aggregation — everything
    * is keyed by doc, nothing global. Zero-token documents emit
    * nothing. Output: (doc_id, chunk_id, n_chunk_tokens, chunk_md5).
    */
  def cdcChunk(docs: DataFrame, avgTokens: Int = 16,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    cdcTiles(docs, avgTokens, idCol, textCol)
      .select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        md5(col("ctext")).as("chunk_md5"))

  /** The content-defined tiling under [[cdcChunk]] and
    * [[graft.operators.Dedup.cdcDedupRewrite]]: per (doc, chunk) the
    * token count AND the reassembled chunk text (the rewrite needs the
    * text; the fingerprint gate hashes it). Boundary rule and window
    * shape are [[cdcChunk]]'s verbatim — one per-doc cumulative-count
    * window over token rows, one keyed agg.
    * Output: (doc_id, chunk_id, n_chunk_tokens, ctext). */
  private[operators] def cdcTiles(docs: DataFrame, avgTokens: Int,
                                  idCol: String,
                                  textCol: String): DataFrame = {
    require(avgTokens >= 2, s"avgTokens must be >= 2: $avgTokens")
    val w = org.apache.spark.sql.expressions.Window
    val byPos = w.partitionBy("doc_id").orderBy(col("pos").asc)
      .rowsBetween(w.unboundedPreceding, -1)
    // 15 hex chars = 60 bits — fits a signed long, non-negative
    val cut = conv(substring(md5(col("tok")), 1, 15), 16, 10)
      .cast("long") % avgTokens === 0
    docs.select(col(idCol).as("doc_id"),
        posexplode(wsTokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), col("tok"),
        coalesce(sum(when(cut, 1L).otherwise(0L)).over(byPos), lit(0L))
          .as("chunk_id"))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_chunk_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok"))).as("ctext"))
  }

  /** Unigram distribution drift between two corpus splits — the
    * monitoring step that catches a data-mix shift between training
    * snapshots before it silently moves the model. P = the `% modP ==
    * 0` doc split (the [[Dedup.decontaminate]] benchmark convention),
    * Q = the rest; per token the add-one-smoothed probabilities and
    * the pointwise KL contribution p·ln(p/q), whose sum over the
    * output is KL(P‖Q). Numeric discipline (the BM25/NB pattern): p
    * and q are exact integer ratios evaluated with ONE IEEE division
    * each, the log-ratio is round2'd at the source (absorbing the
    * ln ulp divergence between engines), and the kl term is one IEEE
    * multiply of those two — every column bit-replayable. Scale
    * shape: one token groupBy (conditional sums — no second pass per
    * split) against a broadcast 1-row totals; output is |vocab| rows.
    * Output: (word, c_p, c_q, log_ratio, kl_term).
    */
  def tokenDrift(docs: DataFrame, modP: Int = 20,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(modP >= 2, s"modP must be >= 2: $modP")
    // two consumers (totals + the output join): without the hold the
    // FULL tokenize+groupBy pass over N re-runs for the 1-row totals
    // aggregate (invariant 9)
    val counts = Scope.hold(docs
      .select(col(idCol).as("doc_id"),
        explode(split(normalized(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w").as("word"))
      .agg(sum(when(col("doc_id") % modP === 0, 1L).otherwise(0L))
          .as("c_p"),
        sum(when(col("doc_id") % modP =!= 0, 1L).otherwise(0L))
          .as("c_q")))
    val totals = counts.agg(sum("c_p").as("np"), sum("c_q").as("nq"),
      count(lit(1)).as("v"))
    val p = (col("c_p") + 1) / (col("np") + col("v"))
    val q = (col("c_q") + 1) / (col("nq") + col("v"))
    val lnr = graft.functions.Fns.round2(log(p / q))
    counts.crossJoin(broadcast(totals))
      .select(col("word"), col("c_p"), col("c_q"),
        lnr.as("log_ratio"), (p * lnr).as("kl_term"))
  }
}
