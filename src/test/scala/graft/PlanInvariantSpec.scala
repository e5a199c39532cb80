package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, GlobalLimitExec, LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}

/** Scale-posture plan invariants, asserted instead of printed (round-8
  * verdict #6 — tools/JobProfile's plan is for human review; this FAILS the
  * build): across the headline gate queries the physical plan must
  * never contain
  *  - a CartesianProduct (an accidental unkeyed join is THE 100 TB
  *    scale-killer), or
  *  - a BroadcastNestedLoopJoin whose broadcast side is not the
  *    sanctioned 1-row-aggregate scalar pattern (crossJoin(broadcast(
  *    global agg)) — the in-plan-constant idiom used throughout; any
  *    OTHER BNLJ means a data-sized side is being replicated to every
  *    task),
  * and io_partition_prune's scan must carry real PartitionFilters
  * (losing them silently turns a pruned read into a full-lake scan).
  *
  * Plans are built on a NON-AQE twin session so the static physical
  * plan (what a plan review sees) is asserted directly; AQE only ever
  * replaces these joins with better ones at runtime, never introduces
  * them. Queries whose construction runs driver-side loops or writes
  * (converged gates, artifact builds, io writers, streaming drains)
  * are audited by their own gates/specs instead — building their plans
  * here would re-run those jobs, not add coverage.
  */
class PlanInvariantSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  private lazy val audit = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** The sanctioned BNLJ: the broadcast side is BOUNDED BY
    * CONSTRUCTION — its subtree contains a node that caps its row
    * count independent of data volume:
    *  - a grouping-free aggregate (the 1-row in-plan-scalar idiom),
    *  - a TakeOrderedAndProject / GlobalLimit (literal top-k/limit —
    *    the codebook / argmax-pair model artifacts),
    *  - a LocalTableScan (driver-built model rows, e.g. a trained
    *    codebook), or a small literal Range (pseudo-doc spines).
    * LEAF wrappers are RESOLVED rather than trusted: ReusedExchangeExec
    * to its referenced exchange (ADVICE r9 — accepting reuse blindly
    * would let a reused data-sized broadcast slip through),
    * InMemoryTableScanExec to the cached plan, AdaptiveSparkPlanExec
    * to its current physical plan. Anything else broadcasting under a
    * BNLJ means a data-sized side is replicated to every task. */
  private def boundedByConstruction(p: SparkPlan): Boolean = {
    var ok = false
    p.foreach {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty =>
        ok = true
      case _: TakeOrderedAndProjectExec => ok = true
      case _: GlobalLimitExec => ok = true
      case _: LocalTableScanExec => ok = true
      case r: RangeExec if r.numElements <= BigInt(10000) => ok = true
      case r: ReusedExchangeExec =>
        if (boundedByConstruction(r.child)) ok = true
      case i: InMemoryTableScanExec =>
        if (boundedByConstruction(i.relation.cachedPlan)) ok = true
      case a: AdaptiveSparkPlanExec =>
        if (boundedByConstruction(a.executedPlan)) ok = true
      case _ => ()
    }
    ok
  }

  private def isScalarBroadcast(j: BroadcastNestedLoopJoinExec): Boolean =
    boundedByConstruction(j.buildSide match {
      case BuildLeft => j.left
      case BuildRight => j.right
    })

  private def violations(plan: SparkPlan): Seq[String] =
    plan.collectWithSubqueries {
      case c: CartesianProductExec =>
        Seq(s"CartesianProduct: ${c.simpleStringWithNodeId()}")
      case j: BroadcastNestedLoopJoinExec if !isScalarBroadcast(j) =>
        Seq(s"non-scalar BroadcastNestedLoopJoin: " +
          j.simpleStringWithNodeId())
    }.flatten

  // Join-shape coverage across the ENTIRE registry (round-9 verdict
  // #7): every registered gate's executed plan is walked, so a future
  // gate cannot land with a scale-killer plan unaudited. Queries whose
  // construction runs driver-side work (artifact writes, converged
  // fixpoints, stream drains) simply pay that work at sf0.001 here —
  // cheap, hermetic (pid-scoped scratch dirs), and their FINAL frame's
  // plan is still the one a consumer executes.
  private val Audited: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Gates whose BNLJ is the operator's CONTRACT, not an accident:
    * the exhaustive-cosine family broadcasts the sampled (bounded)
    * query set against all candidates over a non-equi condition BY
    * DESIGN — it is the baseline the ANN gates are measured against
    * (Similarity.bruteTopK scaladoc; the scale path is
    * sim_topk_ivf/lsh). Adding a name here requires the same
    * bounded-broadcast justification in the operator's scaladoc. */
  private val SanctionedBnlj: Set[String] =
    Set("sim_topk_brute", "sim_hard_negatives", "sim_label_eval",
      // brute arms of the recall/eval harnesses (the exact oracle the
      // approximate ranking is measured against — bounded query sample
      // broadcast by construction; Similarity.knnRecall scaladoc)
      "sim_knn_recall", "sim_knn_recall_ivf", "sim_trunc_eval",
      // the auto-tuner's truth arm is the same bounded-sample brute
      // oracle (Similarity.ivfAutotune scaladoc)
      "sim_ivf_autotune",
      // MMR's candidate generation is the same bounded brute scoring
      // (Similarity.mmrTopK scaladoc)
      "sim_mmr") ++
    // Artifact-serving gates whose BNLJ build side is a RE-READ
    // bounded artifact (the k-row IVF codebook / the 1-row BM25 corpus
    // stats as parquet): the row bound is a WRITER-side invariant
    // (ivfIndexWrite / bm25IndexWrite scaladoc), invisible to the
    // serving plan's scan node — the in-plan twins of these same
    // queries pass the structural check above.
    Set("sim_topk_ivf_persisted", "sim_topk_ivf_updated",
      "text_bm25_from_index",
      // the two-tower artifact serves the same re-read 1-row BM25
      // stats (Search.hybridIndexWrite scaladoc)
      "text_hybrid_rrf_from_index")

  test("registry plans contain no CartesianProduct and no non-scalar " +
    "BroadcastNestedLoopJoin") {
    val bad = Audited.flatMap { name =>
      val plan = SparkEntry.queries(name)(audit, SfDir)
        .queryExecution.executedPlan
      val v = violations(plan).filterNot(msg =>
        SanctionedBnlj.contains(name) &&
          msg.contains("BroadcastNestedLoopJoin"))
      Scope.releaseRoot()
      v.map(name + ": " + _)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** Gates whose PARTITION-LESS window is sanctioned (round-10
    * verdict #6 — the two historically-documented sites plus every
    * other audited-bounded one, so a NEW partition-less WindowExec
    * fails the build until justified here AND in the operator's
    * scaladoc). Three sanctioned classes:
    *  1. input bounded by CONSTRUCTION — a limit/top-k, a model
    *     artifact, file metadata, or an enum-sized aggregate feeds the
    *     window, so the single window task is constant-sized;
    *  2. input bounded by CARDINALITY — the window runs over a
    *     distinct-value histogram or a day spine, not the corpus;
    *  3. exact-total-order CONTRACT gates that document the
    *     one-reducer hazard and ship a scalable twin gate pinning the
    *     same output. */
  private val SanctionedGlobalWindow: Set[String] =
    // 1. bounded by construction
    Set("q2_dictionary", "q3_task1", // rank over the TakeOrdered <=5000 dictionary
      "io_compaction_plan", // prefix-sum over |files| METADATA rows
      "text_bpe_pairs", // rank AFTER .limit(k) (TextStats.bpePairs)
      "samp_bootstrap", // rank over <= reps(=200) replicate means
      // (Sampling.bootstrapMeanCI scaladoc: bounded by the literal)
      "text_token_ids", // vocab rank AFTER .limit(maxVocab)
      "text_hybrid_rrf", // rank over the r-row BM25 list (Search.hybridRrf)
      "text_hybrid_rrf_from_index", // same r-row rank, artifact-served
      "sim_topk_pq", "sim_topk_ivfpq", // pqCent codebook, <= ksub rows
      // the water-level solves: windows over the enum-sized source
      // table (mixtureFit family scaladoc; floors = 2·|sources| events)
      "samp_mix_fit", "samp_mix_fit_apply", "samp_mix_fit_floors",
      "samp_mix_fit_floors_apply", "pipe_budget_prep") ++
    // 2. bounded by cardinality (distinct-score histogram / day spine)
    Set("rel_auc", // ROC prefix sums over the score histogram
      "text_lr_pipeline", // same device over the 1e-6-grid p histogram
      "text_lr_auc", // restored r14 gate — same histogram device
      "samp_curriculum_scalable", // curriculum score histogram
      // the token-budget score histogram, under both names
      "samp_token_budget", "samp_token_budget_scalable",
      "rel_cumulative_users", "rel_rolling_stats") ++ // day spine
    // 3. two-pass global-rank gates (r14): the corpus-sized window
    // became Window.partitionBy(_pid); the ONLY residual partition-
    // less window is the per-partition OFFSET table, bounded by
    // defaultParallelism rows (Sampling.globalRowNumber scaladoc)
    Set("samp_curriculum", "rel_revenue_deciles", "rel_gini")

  /** Partition-less WindowExec occurrences, INCLUDING inside cached
    * subtrees (a persisted solve hides its window behind an
    * InMemoryTableScan — trusting the scan would blind the audit,
    * the same resolution rule boundedByConstruction applies). */
  private def globalWindows(p: SparkPlan): Seq[String] =
    p.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        Seq(s"partition-less Window: ${w.simpleStringWithNodeId()}")
      case i: InMemoryTableScanExec =>
        globalWindows(i.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => globalWindows(a.executedPlan)
      case r: ReusedExchangeExec => globalWindows(r.child)
    }.flatten.distinct

  test("registry plans contain no partition-less Window outside the " +
    "sanctioned bounded-input sites") {
    val bad = Audited.flatMap { name =>
      val plan = SparkEntry.queries(name)(audit, SfDir)
        .queryExecution.executedPlan
      val v = globalWindows(plan)
        .filterNot(_ => SanctionedGlobalWindow.contains(name))
      Scope.releaseRoot()
      v.map(name + ": " + _)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("io_partition_prune's scan carries real PartitionFilters") {
    val plan = SparkEntry.queries("io_partition_prune")(audit, SfDir)
      .queryExecution.executedPlan
    val scans = plan.collectWithSubqueries {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.exists(_.partitionFilters.nonEmpty),
      s"no PartitionFilters on any scan:\n$plan")
  }
}
