package graft

import org.apache.spark.sql.functions._

import graft.operators.{Sampling, Similarity}

/** Round-10 pins, batch 2: the mergeable bottom-k sample sketch (and
  * its streaming maintainer's identity with the one-shot batch
  * sample), and the IVF-routed density clusters.
  */
class Round22Spec extends SparkSpec {

  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_spec_$tag").toString

  // --- Sampling.bottomK mergeability ---

  test("bottomK: merging per-part sketches equals the one-shot sketch " +
    "over the union (the identity the streaming maintainer rides)") {
    val all = (1L to 500L).toDF("doc_id")
    val parts = Seq(
      all.filter(col("doc_id") % 3 === 0),
      all.filter(col("doc_id") % 3 === 1),
      all.filter(col("doc_id") % 3 === 2))
    val merged = Sampling.bottomK(
      parts.map(p => Sampling.bottomK(p, 40))
        .reduce(_ unionByName _).select("doc_id"), 40)
    assert(rows(merged) === rows(Sampling.bottomK(all, 40)))
    // and the public sample is the sketch minus the hash column
    assert(rows(Sampling.fixedSizeSample(all, 40)) ===
      rows(Sampling.bottomK(all, 40).select("doc_id")))
  }

  test("sampleMaintain: the 3-batch maintained artifact is " +
    "bit-identical to the one-shot corpus sample") {
    val dir = scratch("smcorpus")
    (1L to 300L).toDF("doc_id")
      .withColumn("text", concat(lit("doc "), col("doc_id")))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val art = graft.streaming.EventsStream.sampleMaintain(
      spark, dir, scratch("smstage"), scratch("smart"), k = 25)
    val oneShot = Sampling.bottomK(
      spark.read.parquet(s"$dir/documents.parquet"), 25)
    assert(rows(art.select("doc_id", "h")) ===
      rows(oneShot.select("doc_id", "h")))
    Scope.releaseRoot()
  }

  // --- Similarity.knnComponentsIvf ---

  test("knnComponentsIvf: well-separated embedding groups land in " +
    "distinct min-labeled components") {
    // two tight clusters along different axes + one far-off singleton;
    // ids interleaved so the 2 lowest-id centroids land one per
    // cluster and 1-of-2 routing scans exactly the home cluster —
    // reciprocal-2NN edges cannot cross clusters
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.01f)),
      (3L, Array(0.99f, 0.0f, 0.0f, 0.02f)),
      (5L, Array(0.98f, 0.0f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.01f)),
      (4L, Array(0.0f, 0.99f, 0.01f, 0.0f)),
      (6L, Array(0.0f, 0.98f, 0.0f, 0.02f)),
      (20L, Array(0.0f, 0.0f, -1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnComponentsIvf(emb, k = 2, nCentroids = 2,
        nProbe = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Long]("component")).toMap
    assert(Seq(1L, 3L, 5L).forall(out(_) === 1L))
    assert(Seq(2L, 4L, 6L).forall(out(_) === 2L))
    // the singleton has no mutual edge — omitted by construction
    assert(!out.contains(20L))
    Scope.releaseRoot()
  }

  // --- Dedup.semanticDedupBest ---

  test("semanticDedupBest: the highest-quality member of a " +
    "near-identical group survives; quality ties fall to lowest id") {
    // ids interleaved so the 2 lowest-id centroids land one per group
    // (a group split across clusters is SemDeDup's by-design miss):
    // {1,3,5} near-identical, {2,4} identical direction equal quality,
    // 20 unrelated
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (3L, Array(0.999f, 0.001f)),
      (5L, Array(0.998f, 0.002f)),
      (2L, Array(0.0f, 1.0f)), (4L, Array(0.0f, 0.9f)),
      (20L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val quality = Seq((1L, 10L), (3L, 99L), (5L, 50L),
      (2L, 7L), (4L, 7L), (20L, 1L)).toDF("vec_id", "q")
    val out = graft.operators.Dedup
      .semanticDedupBest(emb, quality, threshold = 0.9, nClusters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Boolean]("keep")).toMap
    // id 3 wins its group on quality despite not being the lowest id
    assert(out(3L) && !out(1L) && !out(5L))
    // equal quality → lowest id keeps (the semanticDedup tie rule)
    assert(out(2L) && !out(4L))
    assert(out(20L))
    Scope.releaseRoot()
  }

  // --- TextStats.corpusCard / piiReport ---

  test("corpusCard: per-source tokens/share/dup-rate/dominant-lang " +
    "with corpus-wide duplicate multiplicity") {
    val d = Seq(
      (1L, "a", "the cat and the dog"),     // en, 5 toks
      (2L, "a", "the cat and the dog"),     // exact dup of 1
      (3L, "a", "der hund und die katze"),  // de
      (4L, "b", "THE  cat and the   dog"),  // dup of 1 AFTER normalize
      (5L, "b", "xyz qrs")                  // no hits → en tie
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.TextStats.corpusCard(d)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_docs") === 3L)
    assert(a.getAs[Long]("n_tokens") === 15L)
    // both copies of the boilerplate count as dups (corpus-wide ≥ 2)
    assert(a.getAs[Double]("dup_rate") === 0.67)
    assert(a.getAs[String]("main_lang") === "en")
    assert(a.getAs[Double]("main_lang_share") === 0.67)
    val b = out("b")
    // cross-source clone: doc 4 is a dup of source-a boilerplate
    assert(b.getAs[Long]("n_docs") === 2L)
    assert(b.getAs[Double]("dup_rate") === 0.5)
    assert(b.getAs[Double]("token_share") === 0.32) // 7/22
    Scope.releaseRoot()
  }

  test("piiReport: per-source counts, rate, and the TOTAL rollup row") {
    val d = Seq(
      ("a", "mail me at bob@x.example.com or https://x.example.com/p"),
      ("a", "clean text"),
      ("b", "ref 12345678 and 98765432109")).toDF("source", "text")
    val out = graft.operators.TextStats.piiReport(d)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("a").getAs[Long]("docs_with_pii") === 1L)
    assert(out("a").getAs[Long]("n_emails") === 1L)
    assert(out("a").getAs[Long]("n_urls") === 1L)
    assert(out("a").getAs[Double]("pii_rate") === 0.5)
    assert(out("b").getAs[Long]("n_digit_runs") === 2L)
    val t = out("TOTAL")
    assert(t.getAs[Long]("n_docs") === 3L)
    assert(t.getAs[Long]("docs_with_pii") === 2L)
    assert(t.getAs[Double]("pii_rate") === 0.67)
    Scope.releaseRoot()
  }

  // --- Similarity.embedReport ---

  test("embedReport: zero vectors counted, tight label scores ~1, " +
    "dispersed label scores ~0") {
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)), (2L, 0, Array(2.0f, 0.0f)),
      (3L, 0, Array(0.0f, 0.0f)),            // zero vec, label 0
      (10L, 1, Array(1.0f, 0.0f)), (11L, 1, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = graft.operators.Similarity.embedReport(emb)
      .collect().map(r => r.getAs[Long]("label") -> r).toMap
    val l0 = out(0L)
    assert(l0.getAs[Long]("n_vecs") === 3L)
    assert(l0.getAs[Long]("n_zero") === 1L)
    assert(l0.getAs[Double]("mean_norm") === 1.0) // (1+2+0)/3
    assert(l0.getAs[Double]("tightness") === 1.0) // identical units
    val l1 = out(1L)
    // centroid of (1,0) and (-1,0) is the zero vector → NULL tightness
    assert(l1.isNullAt(l1.fieldIndex("tightness")))
    Scope.releaseRoot()
  }

  // --- Sampling.mixtureFit (water-filling) ---

  test("mixtureFit: scarce sources cap at rate 1, the rest split the " +
    "remaining budget by weight at one water level") {
    // budget = 0.5 * 1000 = 500. Ratios a/w: c=50, a=200, b=600.
    // c saturates (50 ≤ λ·1); remaining 450 over w=3+1? — check:
    // after c: λ = (500-50)/4 = 112.5; a: r=200 > 112.5 → uncapped.
    // alloc: c=50, a=112.5·1=112.5, b=112.5·3=337.5; sum=500. ✓
    val stats = Seq(("a", 200L, 1L), ("b", 1800L, 3L), ("c", 50L, 1L))
      .toDF("source", "avail", "w")
    // keep availabilities summing to 1000: adjust b to 750
    val st2 = Seq(("a", 200L, 1L), ("b", 750L, 3L), ("c", 50L, 1L))
      .toDF("source", "avail", "w")
    val out = graft.operators.Sampling.mixtureFit(st2, budgetFrac = 0.5)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("c").getAs[Boolean]("capped"))
    assert(out("c").getAs[Double]("alloc_tokens") === 50.0)
    assert(out("c").getAs[Double]("rate") === 1.0)
    assert(!out("a").getAs[Boolean]("capped"))
    assert(out("a").getAs[Double]("alloc_tokens") === 112.5)
    assert(out("b").getAs[Double]("alloc_tokens") === 337.5)
    // Σ alloc = budget
    assert(out.values.map(_.getAs[Double]("alloc_tokens")).sum === 500.0)
    // full budget → every source capped at rate 1
    val full = graft.operators.Sampling.mixtureFit(stats, budgetFrac = 1.0)
      .collect()
    assert(full.forall(_.getAs[Boolean]("capped")))
    assert(full.forall(_.getAs[Double]("rate") === 1.0))
    Scope.releaseRoot()
  }

  // --- CompatIo stats index on a PARTITIONED layout (ADVICE r9) ---

  test("statsIndex on a Hive-partitioned lake: manifest keys are " +
    "root-relative (nested), the plan skips files, cursor advances") {
    import graft.io.CompatIo
    val root = scratch("idxpart")
    (1L to 400L).toDF("k")
      .withColumn("pt", col("k") % 4)
      .repartitionByRange(4, col("k"))
      .write.partitionBy("pt").parquet(s"$root/data")
    CompatIo.statsIndexWrite(spark, s"$root/data", s"$root/idx", "k")
    val idx = spark.read.parquet(s"$root/idx").collect()
    // every manifest key carries its partition dir — no bare basenames
    assert(idx.forall(_.getAs[String]("file").contains("=")))
    assert(idx.forall(_.getAs[String]("file").contains("/")))
    val nFiles = idx.length
    val planned = CompatIo.skippingPlan(spark, s"$root/idx", 10L, 60L)
      .collect()
    assert(planned.length < nFiles && planned.nonEmpty)
    val got = CompatIo.readWithSkipping(spark, s"$root/data",
      s"$root/idx", "k", 10L, 60L)
    assert(got.count() === 51L)
    // partition column is recovered through the explicit-file read
    assert(got.filter(col("pt") === col("k") % 4).count() === 51L)
    // cursor: land a delta in a NEW partition dir, increment sees it
    Seq(1000L, 1001L).toDF("k").withColumn("pt", lit(9L))
      .coalesce(1).write.mode("append").partitionBy("pt")
      .parquet(s"$root/data")
    val inc = CompatIo.readIncrement(spark, s"$root/data", s"$root/idx")
    assert(inc.count() === 2L)
    CompatIo.statsIndexAppend(spark, s"$root/data", s"$root/idx", "k")
    assert(CompatIo.readIncrement(spark, s"$root/data", s"$root/idx")
      .count() === 0L)
    Scope.releaseRoot()
  }

  // --- Curate.budgetPrep composition ---

  test("budgetPrep: low-quality docs drop, exact dups keep first, " +
    "full budget keeps every survivor, split+source rollup") {
    val good = "the cat and the dog sat in the house for you " * 10
    val d = Seq(
      (1L, "a", good),          // survivor
      (2L, "a", good),          // exact dup of 1 → dropped
      (3L, "b", good + "tail"), // survivor
      (4L, "b", "?!?! ?!")      // punct-only → quality floor kills it
    ).toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val out = graft.operators.Curate
      .budgetPrep(d, budgetFrac = 1.0)
      .collect()
    // only docs 1 and 3 survive; budget 1.0 caps every source
    assert(out.map(_.getAs[Long]("n_docs")).sum === 2L)
    val bySrc = out.map(r => r.getAs[String]("source") ->
      r.getAs[Long]("n_docs")).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).sum }
    assert(bySrc === Map("a" -> 1L, "b" -> 1L))
    Scope.releaseRoot()
  }

  // --- Dedup.crossSourceMatrix ---

  test("crossSourceMatrix: near-dup pairs fold into ordered source " +
    "cells; diagonal counts within-source pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = Seq(
      (1L, "a", base),
      (2L, "b", base + " mu"),     // near-dup of 1 → (a, b)
      (3L, "b", base + " nu"),     // near-dup of 1 and 2 → (a,b) + (b,b)
      (4L, "a", "totally different words everywhere here now")
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.Dedup.crossSourceMatrix(d)
      .collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        r.getAs[Long]("n_pairs")).toMap
    assert(out(("a", "b")) === 2L)
    assert(out(("b", "b")) === 1L)
    assert(!out.contains(("a", "a")))
    Scope.releaseRoot()
  }
}
