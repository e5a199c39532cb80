package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed shape of a production
  * training-data pipeline, as ONE declarative plan: predict language →
  * floor the quality score → keep only canonical-dedup survivors →
  * deterministic hash sample. Each stage is an operator this engine
  * already exposes; composing them keeps everything in a single
  * Catalyst plan (shared scans, pushed filters) instead of four
  * materialized passes.
  */
object Curate {

  /** Curated corpus slice. `lang` filters on the engine's own
    * [[TextStats.langId]] prediction (self-contained — no trusted lang
    * column required); `minQuality` floors [[TextStats.stats]]'
    * quality_score; dedup survivors are docs that ARE their component's
    * canonical id ([[Dedup.assignCanonical]]); the final
    * [[Sampling.hashSample]] draw is deterministic in (doc_id, salt).
    * Output: (doc_id, lang_pred, n_tokens, quality_score).
    */
  def curate(docs: DataFrame, lang: String = "en",
             minQuality: Double = 0.5, sampleP: Double = 0.5,
             dedupThreshold: Double = 0.8,
             salt: String = "graft"): DataFrame = {
    // stats + langId fused into ONE per-row projection (signals): the
    // two are independent functions of the same text — a join would
    // cost a second scan + shuffle for no information
    val sig = TextStats.signals(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("lang_pred"))
    val canon = Dedup.assignCanonical(docs, dedupThreshold)
    val kept = sig.join(canon, "doc_id")
      .filter(col("lang_pred") === lang &&
        col("quality_score") >= minQuality &&
        col("doc_id") === col("canonical_id"))
    Sampling.hashSample(kept, sampleP, "doc_id", salt)
      .select("doc_id", "lang_pred", "n_tokens", "quality_score")
  }

  /** End-to-end BUDGETED training-prep pass — the whole front half of
    * a data pipeline in one declarative plan: quality floor
    * ([[TextStats.signals]]' score), exact-dedup keep-first among the
    * survivors (md5(normalized) min-id — the [[Dedup.exact]] device),
    * the water-filling budget mix applied as hash thresholds
    * ([[Sampling.mixtureFitApply]] — scarce sources keep everything,
    * the rest share the remaining budget by weight), a deterministic
    * train/val/test hash split, and the per-(split, source)
    * composition report a run signs off on. One plan, one oracle —
    * every stage is an already-gated operator, so this gate pins the
    * COMPOSITION (stage order and the exact frame each stage sees),
    * which is where real pipelines silently drift.
    *
    * Scale posture: two scans of the corpus-sized data (signals
    * projection + fingerprint projection, joined on doc_id), one
    * fp-keyed agg, enum-sized source stats through the relational
    * water-level solve, one broadcast threshold join, one rollup. No
    * window over data-sized frames, no driver logic.
    * Output: (split, source, n_docs, n_tokens).
    */
  def budgetPrep(docs: DataFrame, minQuality: Double = 0.5,
                 budgetFrac: Double = 0.5,
                 splits: Seq[(String, Double)] =
                   Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                 salt: String = "graft-prep"): DataFrame = {
    val sig = TextStats.signals(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    // two consumers: first-occurrence agg + join-back
    val base = graft.Scope.hold(docs.select(col("doc_id"), col("source"),
        md5(TextStats.normalized(col("text"))).as("fp"),
        col("n_chars"))
      .join(sig, "doc_id")
      .filter(col("quality_score") >= minQuality))
    // two consumers: avail stats + the threshold apply
    val kept = graft.Scope.hold(base
      .join(base.groupBy("fp").agg(min(col("doc_id")).as("kid")), "fp")
      .filter(col("doc_id") === col("kid")))
    val stats = kept.groupBy("source")
      .agg(sum(col("n_chars")).as("avail"))
      .withColumn("w",
        conv(substring(md5(col("source")), 1, 4), 16, 10)
          .cast("long") % 5 + 1)
    val mixed = Sampling.mixtureFitApply(
      kept.select("doc_id", "source", "n_tokens"), stats, budgetFrac)
    Sampling.splitByHash(mixed, splits, "doc_id", salt)
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
  }
}
