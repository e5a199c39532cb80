package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Scope

/** Graph analytics over relationship tables — the iterative-computation
  * family (rank propagation) done Spark-first: each iteration is one
  * keyed join + one keyed aggregate, and every state-threading loop
  * runs through [[Graph.iterate]], which re-roots each round's state
  * with an eager local checkpoint so the lineage (and therefore the
  * replan cost) stays flat in the iteration count instead of
  * compounding.
  *
  * Numeric determinism: ranks are BIGINT micro-units of total mass
  * (integer fixed-point), so every operation — `div` for the per-edge
  * share, `sum` for the in-mass, the damping multiply — is EXACT and
  * order-independent. No doubles, no decimals, no rounding rules to
  * pin: the DuckDB twin replays the iterations bit-identically with
  * `//`. The cost is deterministic floor leakage (mass shrinks by < 1
  * unit per node per step), which both engines leak identically.
  */
object Graph {

  /** Total rank mass in fixed-point units (1e12: quotients stay well
    * inside BIGINT through the 85× damping multiply). */
  val TotalMass: Long = 1000000000000L

  /** Undirected customer–supplier purchase edges in one namespaced key
    * space (customer → 2k, supplier → 2k+1), both directions emitted —
    * the shared graph for pageRank and connectedComponents. */
  def purchaseEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val e0 = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    e0.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(e0.select(col("s").as("src"), col("c").as("dst")))
      // every consumer joins/aggregates this table BY src, most of them
      // once per iteration round: land it hash-partitioned AND sorted
      // on src once, so the cached blocks satisfy the join/agg
      // distribution and SMJ ordering and the per-round edge-side
      // Exchange+Sort drop out of every round (guide §2.4 — measured
      // r13: one 64-task 10.7 MB exchange per PageRank/LPA round
      // before). Same rows, same results: exact-integer aggregates are
      // order-independent.
      .repartition(col("src"))
      .sortWithinPartitions("src")
  }

  /** The shared PageRank machinery: degree/teleport setup over the
    * purchase graph and the one-round transition, so the fixed-round
    * gate form and the run-to-convergence form execute the IDENTICAL
    * per-round plan (the spec pins their agreement directly). */
  private[graft] final case class PrState(edges: DataFrame,
                                          deg: DataFrame,
                                          nAgg: DataFrame) {
    private val teleport = expr(s"${Graph.TotalMass * 15 / 100} div n")
    /** One synchronous PageRank round (keyed join + keyed sum). */
    def step(ranks: DataFrame): DataFrame = {
      val inMass = ranks
        .join(edges, col("node") === col("src"))
        .select(col("dst"), expr("rank div deg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("m"))
      deg.crossJoin(broadcast(nAgg))
        .join(inMass, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"),
          (teleport + expr("(85 * coalesce(m, 0)) div 100")).as("rank"))
    }
    /** Uniform initial mass M div n per node. */
    def init: DataFrame = deg.crossJoin(broadcast(nAgg))
      .select(col("node"), col("deg"),
        expr(s"${Graph.TotalMass} div n").as("rank"))
  }

  private[graft] def prSetup(orders: DataFrame,
                             lineitem: DataFrame): PrState = {
    val edges = Scope.hold(purchaseEdges(orders, lineitem))
    // out-degree per node; undirected construction ⇒ this is also the
    // node set (no dangling nodes by construction)
    // warm deg: the one count fills BOTH caches (deg scans the held
    // edges) for the per-round nAgg broadcasts and edge joins
    val deg = Scope.warm(edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg")))
    // N stays in-plan (a 1-row broadcast), not a driver count(): the
    // teleport constant is derived where it is used
    val nAgg = deg.agg(count(lit(1)).as("n"))
    PrState(edges, deg, nAgg)
  }

  /** The one round driver of the iterative family: checkpoint `init`,
    * then run `step(state, round)` for rounds 1..`maxRounds`, each
    * output re-rooted with an eager `localCheckpoint`, until
    * `stop(prev, next)` holds. Returns the last state and the number of
    * rounds run.
    *
    * Every round re-roots because a round's state is read more than
    * once (the next round's join and its merge, a broadcast side, a
    * convergence aggregate): with lazy persists each reader re-derives
    * the whole chain — a broadcast-exchange thread from base tables —
    * and the logical plan doubles per round (measured r13: 23 s wall /
    * 157 s summed job time on rel_label_prop; the first k-core cut
    * reached 112k scan nodes by round 3). The checkpoint truncates the
    * lineage to a flat in-memory scan; on a cluster with lossy
    * executors use a reliable checkpoint dir instead.
    *
    * The release order is the one condition every loop shares: a
    * released checkpoint cannot be recovered (its lineage is gone by
    * construction), so the superseded state is released only after its
    * successor has materialized and `stop`, the last reader of the old
    * state, has run. */
  private[graft] def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(
      stop: (DataFrame, DataFrame) => Boolean = (_, _) => false)
  : (DataFrame, Int) = {
    var state = Scope.checkpoint(init)
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      val next = Scope.checkpoint(step(state, rounds))
      done = stop(state, next)
      Scope.release(state)
      state = next
    }
    (state, rounds)
  }

  /** (node_type, key, values…) from a namespaced `node` column
    * (customer → 2k, supplier → 2k+1). */
  private def decodeNode(df: DataFrame, valueCols: Column*): DataFrame =
    df.select(
      (when(col("node") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("node_type") +:
        expr("node div 2").as("key") +: valueCols): _*)

  /** PageRank with damping 0.85 over the undirected customer–supplier
    * purchase graph: an edge links a customer to every supplier that
    * ever filled one of their orders (both directions, so the bipartite
    * walk circulates and no node dangles — every node in the graph has
    * at least the edge that put it there).
    *
    * Node ids are namespaced into one key space (customer → 2k,
    * supplier → 2k+1); `iters` is fixed and small, so the oracle twin
    * unrolls it as CTE pairs. Scale posture: edges/degrees/ranks are
    * all keyed DataFrames — the joins shuffle on node id, the per-node
    * state is one long, and each round's output is checkpointed by
    * [[iterate]] and bounded by the node count (the workhorse join is
    * edge-sized, the classic Pregel-on-relational shape).
    * Output: (node_type, key, rank) — rank in units of 1e-12 mass.
    */
  def pageRank(orders: DataFrame, lineitem: DataFrame,
               iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    val st = prSetup(orders, lineitem)
    val (ranks, _) = iterate(st.init, iters)((r, _) => st.step(r))()
    decodeNode(ranks, col("rank"))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    * customer→supplier purchase graph — the natural bipartite case:
    * hubs are customers (a good buyer points at good suppliers),
    * authorities are suppliers. Complements [[pageRank]]'s undirected
    * global centrality with the mutually-reinforcing two-score view.
    *
    * Same integer micro-mass fixed point as the PageRank family:
    * h₀(c) = M div n_C; each round a_raw(s) = Σ_{c→s} h(c) then the
    * EXACT-INTEGER rescale a = a_raw div max(Σa_raw div M, 1) (one
    * 1-row agg + one division — replaces the usual L2 normalization,
    * whose sqrt would be fine cross-engine but whose double sums would
    * not; the rescale preserves the ranking exactly and keeps every
    * intermediate a bounded long), then h symmetrically from a.
    * Overflow headroom: raw sums ≤ M · maxDeg ≪ 2⁶³. `iters` rounds,
    * twin unrolls them. Scale shape: per round two edge-keyed joins +
    * keyed sums + two 1-row aggs — the [[PrState.step]] plan doubled.
    * Output: (node_type, key, score) — hub score per customer,
    * authority score per supplier, micro-units of mass. */
  def hits(orders: DataFrame, lineitem: DataFrame,
           iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    val m = Graph.TotalMass
    val e0 = Scope.warm(orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()) // 2 consumers/round + the nC broadcast
    val nC = e0.select("c").distinct().agg(count(lit(1)).as("nc"))
    // each round's frame feeds TWO consumers (the 1-row Σ for the
    // rescale AND the next join) and the next round builds on it —
    // with lazy persists that DAG re-evaluates with per-round doubling
    // at the final action (measured: 109-190 s at sf0.1 before the
    // fix). Eager localCheckpoint per round (the pageRankConverged
    // pattern) materializes each score table once and truncates
    // lineage; superseded checkpoints are released (round-8 ADVICE).
    var h = Scope.checkpoint(e0.select("c").distinct()
      .crossJoin(broadcast(nC))
      .select(col("c"), expr(s"$m div nc").as("h")))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = e0.join(h, "c").groupBy("s").agg(sum("h").as("ar"))
      val sa = aRaw.agg(sum("ar").as("sa"))
      val aNext = Scope.checkpoint(aRaw.crossJoin(broadcast(sa))
        .select(col("s"),
          expr(s"ar div greatest(sa div $m, 1)").as("a")))
      if (a != null) Scope.release(a)
      a = aNext
      val hRaw = e0.join(a, "s").groupBy("c").agg(sum("a").as("hr"))
      val sh = hRaw.agg(sum("hr").as("sh"))
      val hNext = Scope.checkpoint(hRaw.crossJoin(broadcast(sh))
        .select(col("c"),
          expr(s"hr div greatest(sh div $m, 1)").as("h")))
      Scope.release(h)
      h = hNext
    }
    // the returned checkpoints outlive the call, and their lineage no
    // longer references e0: release it early
    Scope.release(e0)
    h.select(lit("customer").as("node_type"), col("c").as("key"),
        col("h").as("score"))
      .unionByName(a.select(lit("supplier").as("node_type"),
        col("s").as("key"), col("a").as("score")))
  }

  /** Personalized PageRank — the recommendation-engine workhorse:
    * identical transition to [[pageRank]], but ALL teleport mass
    * returns to a source set instead of spreading uniformly, so ranks
    * measure proximity to the sources rather than global centrality.
    * Sources here are the purchase-graph hubs (degree ≥ 3 × mean,
    * derived IN-PLAN like [[hubSources]] — a fixed threshold either
    * selects nothing or everything as degree scales with SF; the "3×"
    * keeps |S| a stable fraction of nodes).
    *
    * Same integer fixed-point discipline: mass M div |S| seeds each
    * source, each round is one edge-keyed join + node-keyed sum with
    * `div` arithmetic — bit-replayable, the twin unrolls the rounds.
    * Non-source nodes get teleport 0 (the `is_src` multiplier), so
    * rank decays with hop distance from the hub set.
    * Output: (node_type, key, rank) — micro-units of mass.
    */
  def personalizedPageRank(orders: DataFrame, lineitem: DataFrame,
                           iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    val st = prSetup(orders, lineitem)
    val thrAgg = st.edges.agg(count(lit(1)).as("ne"))
      .crossJoin(broadcast(st.deg.agg(count(lit(1)).as("nn"))))
      .select(expr("3 * (ne div nn)").as("thr"))
    // per-round consumer + nsAgg broadcast: warm it once
    val degS = Scope.warm(st.deg.crossJoin(broadcast(thrAgg))
      .select(col("node"), col("deg"),
        (col("deg") >= col("thr")).cast("long").as("is_src")))
    val nsAgg = degS.agg(sum("is_src").as("ns"))
    val tele = Graph.TotalMass * 15 / 100
    def step(ranks: DataFrame, round: Int): DataFrame = {
      val inMass = ranks
        .join(st.edges, col("node") === col("src"))
        .select(col("dst"), expr("rank div deg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("m"))
      degS.crossJoin(broadcast(nsAgg))
        .join(inMass, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"), col("is_src"),
          // nullif: a graph with NO hubs (ns = 0) has no teleport
          // targets — every rank is 0, not a DIVIDE_BY_ZERO
          (expr(s"is_src * coalesce(${tele}L div nullif(ns, 0), 0)")
            + expr("(85 * coalesce(m, 0)) div 100")).as("rank"))
    }
    val init = degS.crossJoin(broadcast(nsAgg))
      .select(col("node"), col("deg"), col("is_src"),
        expr(s"is_src * coalesce(${Graph.TotalMass}L div nullif(ns, 0), 0)")
          .as("rank"))
    val (ranks, _) = iterate(init, iters)(step)()
    decodeNode(ranks, col("rank"))
  }

  /** Run-to-convergence PageRank with an ORACLE-EXPRESSIBLE stopping
    * rule (round-7 verdict #5 — the convergence loop itself, gated):
    * iterate [[PrState.step]] until the L∞ rank movement falls to
    * `1/residualDiv` of the FIRST round's movement (the classic
    * relative-residual criterion of iterative solvers), capped at
    * `maxRounds`. Everything is exact BIGINT micro-mass arithmetic, so
    * the twin unrolls `maxRounds` rounds, computes every per-round
    * delta, and selects the first round at/under tol — bit-identical
    * rounds_executed and ranks in both engines.
    *
    * Relative (not absolute) tolerance on purpose: with damping 0.85
    * the residual contracts ~0.85× per round INDEPENDENT of graph
    * size (measured: Δ ratios 0.849±0.001 at sf0.001/0.01/0.1,
    * one-off probe), so rounds-to-tol is a property of the divisor
    * alone — div 3 ⇒ 8 rounds at every test SF — while an absolute
    * micro-mass tol scales with per-node mass (1/n) and would need
    * per-SF retuning plus a 30+-round unroll. The driver-side check per
    * round is ONE 8-byte aggregate over a frame that CARRIES prev_rank
    * (the delta fuses into the step's own job — no extra per-round
    * join pass). Output: (node_type, key, rank, rounds) — rounds =
    * rounds executed, constant per run.
    */
  def pageRankConverged(orders: DataFrame, lineitem: DataFrame,
                        residualDiv: Long = 3,
                        maxRounds: Int = 12): DataFrame = {
    require(residualDiv >= 2 && maxRounds >= 1 && maxRounds <= 20,
      s"residualDiv/maxRounds: $residualDiv/$maxRounds")
    val st = prSetup(orders, lineitem)
    var tol = -1L
    val (ranks, rounds) = iterate(st.init, maxRounds) { (ranks, _) =>
      // fuse prev_rank into the step output so the convergence check
      // is an aggregate over the round's own frame, not a second join
      st.step(ranks)
        .join(ranks.select(col("node"), col("rank").as("prev")), "node")
        .select(col("node"), col("deg"), col("rank"), col("prev"))
    } { (_, next) =>
      val d = next.agg(max(abs(col("rank") - col("prev"))).as("d"))
        .head().getLong(0)
      if (tol < 0) tol = d / residualDiv
      d <= tol
    }
    decodeNode(ranks, col("rank"), lit(rounds.toLong).as("rounds"))
  }

  /** One synchronous min-label round: every node takes the minimum of
    * its own and its neighbors' labels, carrying the old label as
    * `prev` for the change count of [[minLabelFixpoint]]. */
  private def minLabelRound(edges: DataFrame)(labels: DataFrame,
                                              round: Int): DataFrame = {
    val nbr = labels
      .join(edges, col("node") === col("src"))
      .groupBy(col("dst")).agg(min("lbl").as("nl"))
    labels
      .join(nbr, col("node") === col("dst"), "left")
      .select(col("node"), col("lbl").as("prev"),
        least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
  }

  /** Generic k-step min-label propagation: each iteration is one
    * edge-sized keyed join + one node-keyed `min` aggregate — the
    * distributed shape that replaces a driver-side union-find when the
    * edge list no longer fits one machine. Node/label type is anything
    * with a total order (BIGINT ids here, lexicographic strings in
    * entity resolution).
    *
    * The label after k iterations is EXACTLY min(seed label within
    * graph distance ≤ k) — deterministic in both engines regardless of
    * whether the graph has converged, which is what makes a fixed-k
    * gate oracle-expressible (the twin unrolls the k steps as CTE
    * pairs). Convergence needs k ≥ the component diameter; callers at
    * scale either pick k from a known diameter bound or iterate to the
    * fixpoint with [[minLabelFixpoint]].
    *
    * `labels0` is (node, lbl); `edges` is (src, dst), already
    * symmetrized if the relation is undirected. Isolated nodes (in
    * `labels0` but touching no edge) keep their seed label.
    */
  def minLabelPropagate(labels0: DataFrame, edges0: DataFrame,
                        iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    val edges = Scope.warm(edges0) // per-round join + seed source
    val (labels, _) = iterate(labels0, iters)(minLabelRound(edges))()
    labels.select("node", "lbl")
  }

  /** Run-to-convergence min-label propagation — the production form of
    * [[minLabelPropagate]] (fixed k is the gate semantic; convergence
    * needs k ≥ the component diameter, which is unknowable up front on
    * real graphs). Each round counts the rows whose label changed — a
    * monotone quantity to drive the fixpoint: labels only DECREASE
    * under min-propagation, so changed == 0 is a true fixpoint, not a
    * cycle. The per-round driver check is one LIMIT-1 probe. Returns
    * (labels, rounds); rounds == converged-diameter+1 (the last round
    * verifies no change).
    */
  def minLabelFixpoint(labels0: DataFrame, edges0: DataFrame,
                       maxIters: Int = 60): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters: $maxIters")
    val edges = Scope.hold(edges0)
    val (labels, rounds) = iterate(labels0, maxIters)(
      minLabelRound(edges)) { (_, next) =>
      next.filter(col("lbl") =!= col("prev")).isEmpty
    }
    (labels.select("node", "lbl"), rounds)
  }

  /** Per-node triangle counts by DEGREE-ORIENTED wedge closure — the
    * join-based triangle enumeration that survives skew: each
    * undirected edge is oriented from its (degree, id)-smaller
    * endpoint to the larger, every wedge is rooted at its smallest
    * vertex, and a triangle is a wedge whose far pair is itself an
    * oriented edge. Orientation caps every node's out-degree at
    * O(√m) (a node of out-degree d has d neighbors of degree ≥ its
    * own, so d² ≤ 2m) — the wedge self-join fans out by out-degree²,
    * so the celebrity node that makes the naive neighbor join
    * quadratic contributes almost nothing here. Total wedge work is
    * O(m^1.5), the MapReduce-triangles bound, as keyed equi-joins.
    *
    * The triangle SET is orientation-independent, so the oracle twin
    * replays it with plain lexicographic a<b<c enumeration — simpler
    * SQL, identical rows — while the Spark side keeps the skew-proof
    * plan. Ids need only a total order (binary string compare here;
    * both engines agree on ASCII).
    *
    * `pairs` is the canonical undirected edge list: (key_a, key_b)
    * distinct with key_a < key_b (e.g. [[Dedup.editDistancePairs]]'s
    * match graph). Output: (node, n_triangles) for every node in at
    * least one triangle.
    */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // e feeds deg (twice, via broadcast subtrees) and the orientation
    // join; warm, so rel_triangles' fuzzy-match pair generator runs once
    val e = Scope.warm(pairs.select(col("key_a").as("a"),
      col("key_b").as("b")))
    // two consumers (the da/db attach joins, typically broadcast
    // sides) — warm so the degree agg runs once (r13)
    val deg = Scope.warm(e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d")))
    // orient low (d, id) -> high (d, id); carry the dst's degree for
    // the wedge ordering below
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // three consumers: e1, e2, the closing-edge join
    val oriented = Scope.warm(e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"),
        when(fwd, col("db")).otherwise(col("da")).as("dd")))
    // wedges rooted at src: out-neighbor pairs ordered by (dd, dst) —
    // the same order the orientation used, so the closing edge of a
    // true triangle is stored exactly as x -> y
    val e1 = oriented.select(col("src"), col("dst").as("x"),
      col("dd").as("dx"))
    val e2 = oriented.select(col("src"), col("dst").as("y"),
      col("dd").as("dy"))
    val wedges = e1.join(e2, "src")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("src").as("w"), col("x"), col("y"))
    // the three union arms below each scan it concurrently
    val tri = Scope.warm(wedges
      .join(oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y")))
    tri.select(col("w").as("node"))
      .unionAll(tri.select(col("x").as("node")))
      .unionAll(tri.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Connected components over the purchase graph — [[minLabelPropagate]]
    * seeded with each node's own id (the 100 TB arm of
    * `Dedup.assignCanonical`'s bounded driver path, exposed as a
    * first-class relational operator).
    * Output: (node_type, key, component) — component is the namespaced
    * min node id, BIGINT.
    */
  def connectedComponents(orders: DataFrame, lineitem: DataFrame,
                          iters: Int = 4): DataFrame = {
    val edges = purchaseEdges(orders, lineitem)
    val labels0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    decodeNode(minLabelPropagate(labels0, edges, iters),
      col("lbl").as("component"))
  }

  /** Run-to-convergence connected components, gated (the
    * [[pageRankConverged]] pattern applied to [[minLabelFixpoint]]):
    * min-label propagation until NO label changes, rounds_executed in
    * the output. The change count is exact-integer and label
    * propagation is bit-deterministic, so the twin unrolls `maxRounds`
    * label steps, counts per-round diffs, and picks the first
    * zero-change round. Measured fixpoint on the purchase graph: 3/4/5
    * rounds at sf0.001/0.01/0.1 (one-off probe) — cap 8 covers with
    * margin, and if a graph ever exceeded the cap both engines would
    * agree on the capped state anyway.
    * Output: (node_type, key, component, rounds).
    */
  def connectedComponentsConverged(orders: DataFrame,
                                   lineitem: DataFrame,
                                   maxRounds: Int = 8): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 12,
      s"maxRounds (twin unrolls them): $maxRounds")
    val edges = purchaseEdges(orders, lineitem)
    val labels0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val (lbl, rounds) = minLabelFixpoint(labels0, edges, maxRounds)
    decodeNode(lbl, col("lbl").as("component"),
      lit(rounds.toLong).as("rounds"))
  }

  /** Generic k-step synchronous label propagation (LPA community
    * detection, Raghavan et al. 2007) — the MODE-label sibling of
    * [[minLabelPropagate]]: each round every node adopts the most
    * frequent label among its neighbors (ties broken by SMALLEST
    * label — the pin that makes fixed-k oracle-expressible), isolated
    * nodes keep their seed. Where min-label converges to connected
    * components, mode-label density-clusters WITHIN a component —
    * the cheap distributed community detector (no modularity
    * objective, no driver state).
    *
    * Each round is one edge-sized keyed join + TWO keyed aggregations:
    * count per (node, label) — partial-aggregated map-side, so a hub
    * node's neighbor list spreads across reducers by label — then one
    * argmax per node via `max(struct(cnt, -label))` (no per-node
    * window over the corpus-wide count table). Labels only need
    * non-negative BIGINTs (node ids here) for the negation trick;
    * [[iterate]] keeps the lineage flat. Synchronous LPA on a bipartite graph can oscillate
    * rather than converge — irrelevant to a fixed-k gate, which both
    * engines replay deterministically either way.
    */
  def labelPropagate(labels0raw: DataFrame, edges0: DataFrame,
                     iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    // The max(struct(c, -lbl)) smallest-label tie-break INVERTS for
    // negative labels — enforce the non-negative contract in-plan (one
    // codegen'd branch on the seed projection; raises on first
    // violation instead of yielding silently wrong communities —
    // ADVICE r9)
    // NULL lbl must raise too: when(lbl < 0, …) is NULL (not an
    // error) for NULL lbl, which would slip past the guard and corrupt
    // the same tie-break — ADVICE r10.
    val labels0 = labels0raw.select(col("node"),
      when(col("lbl").isNull || col("lbl") < 0, raise_error(concat(
          lit("labelPropagate requires non-negative non-null labels; got "),
          coalesce(col("lbl").cast("string"), lit("NULL")),
          lit(" on node "), col("node").cast("string"))))
        .otherwise(col("lbl")).as("lbl"))
    val edges = Scope.warm(edges0) // per-round join, warm once
    // The struct argmax is the MEASURED winner (BASELINE.md LPA table,
    // interleaved same-JVM reps on the sf0.1 purchase graph): struct
    // ~9.2 s, single-BIGINT packed key ~11.6 s, packed+broadcast-labels
    // ~9.6 s for 3 rounds — ObjectHashAggregate on the 2-field struct
    // is NOT the bottleneck; the round cost is the (dst, lbl) count
    // aggregation itself, whose ~|E| distinct keys defeat map-side
    // partial aggregation in round 1 by construction (every neighbor
    // label distinct), an inherent property of mode-label counting.
    val (labels, _) = iterate(labels0, iters) { (labels, _) =>
      val cnt = labels
        .join(edges, col("node") === col("src"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      val best = cnt.groupBy("dst")
        .agg(max(struct(col("c").as("c"), (-col("lbl")).as("nl")))
          .as("m"))
        .select(col("dst"), (-col("m.nl")).as("nl"))
      labels
        .join(best, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("nl"), col("lbl")).as("lbl"))
    }()
    labels
  }

  /** LPA communities over the purchase graph — [[labelPropagate]]
    * seeded with each node's own id, `iters` fixed rounds (the gate
    * semantic, like [[connectedComponents]]).
    * Output: (node_type, key, community).
    */
  def purchaseCommunities(orders: DataFrame, lineitem: DataFrame,
                          iters: Int = 3): DataFrame = {
    val edges = purchaseEdges(orders, lineitem)
    val labels0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    decodeNode(labelPropagate(labels0, edges, iters),
      col("lbl").as("community"))
  }

  /** Newman modularity Q of a node partition — the quality score that
    * tells you whether a community assignment (LPA, components, an
    * external clustering) beats random: Q = Σ_c [in_c/E − (d_c/E)²]
    * over the directed-symmetrized edge list (in_c = intra-community
    * directed edges, d_c = community degree sum, E = directed edge
    * count — algebraically identical to the undirected 2m form).
    *
    * Exactness: the numerator is computed as ONE exact BIGINT sum,
    * Σ_c (in_c·E − d_c²), divided by E² only at the end — no per-class
    * double terms to sum in nondeterministic order. Q then rounds to
    * 6 dp (round2 would flatten the typical Q range). Overflow bound:
    * in_c·E ≤ E² needs E < 2^31.5 directed edges for BIGINT — beyond
    * ~3B edges route the sum through DECIMAL(38,0).
    *
    * Scale posture: two label joins on the edge list, two keyed
    * aggregations (communities-sized output), one 1-row broadcast E —
    * all partial-aggregated; nothing driver-side.
    * Output: one row (n_communities, m_directed, q_modularity).
    */
  def modularity(labels: DataFrame, edges0: DataFrame): DataFrame = {
    // three consumers each (E/in_c/d_c, sl/dl×2) — warm both so the
    // broadcast subtrees (eCnt, the label sides) scan warm cache (r13)
    val edges = Scope.warm(edges0)
    val lbl = Scope.warm(labels)
    val eCnt = edges.agg(count(lit(1)).as("e"))
    val sl = lbl.select(col("node").as("src"), col("lbl").as("sl"))
    val dl = lbl.select(col("node").as("dst"), col("lbl").as("dl"))
    val inC = edges.join(sl, "src").join(dl, "dst")
      .filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("cls")).agg(count(lit(1)).as("in_c"))
    val dC = edges.join(sl, "src")
      .groupBy(col("sl").as("cls")).agg(count(lit(1)).as("d_c"))
    dC.join(inC, Seq("cls"), "left")
      .crossJoin(broadcast(eCnt))
      .select(col("cls"),
        (coalesce(col("in_c"), lit(0L)) * col("e") -
          col("d_c") * col("d_c")).as("t"),
        col("e"))
      .agg(count(lit(1)).as("n_communities"),
        max(col("e")).as("m_directed"),
        sum(col("t")).as("num"))
      .select(col("n_communities"), col("m_directed"),
        (floor(col("num").cast("double") /
          (col("m_directed").cast("double") * col("m_directed")) *
          1000000 + lit(0.5)) / 1000000).as("q_modularity"))
  }

  /** [[modularity]] of the `iters`-round [[purchaseCommunities]]
    * partition — community detection AND its quality score as one
    * gated pipeline. Output: (n_communities, m_directed,
    * q_modularity), one row. */
  def purchaseModularity(orders: DataFrame, lineitem: DataFrame,
                         iters: Int = 3): DataFrame = {
    val edges = purchaseEdges(orders, lineitem)
    val labels0 = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    modularity(labelPropagate(labels0, edges, iters), edges)
  }

  /** Fixed-round k-core peeling: `iters` rounds of "drop every node
    * with degree < k, then drop edges touching dropped nodes" over the
    * canonical (a < b) undirected pair list — the standard community-
    * density filter before expensive per-node graph features. Like
    * [[pageRank]] and [[minLabelPropagate]], the FIXED round count is
    * the oracle-expressible semantic: the result after r rounds is
    * deterministic whether or not peeling has converged (convergence
    * needs r ≥ the longest peel chain; [[kCoreFixpoint]] iterates to
    * it). Each round is one degree aggregation + two semi-joins —
    * edge-sized keyed shuffles, nothing quadratic. Output: surviving
    * (node, degree) over the final edge set.
    */
  def kCorePeel(pairs: DataFrame, k: Int = 2, iters: Int = 3)
  : DataFrame = {
    require(k >= 1 && iters >= 1 && iters <= 10,
      s"k >= 1 and iters in [1, 10] (twin unrolls them): $k/$iters")
    val e0 = Scope.hold(pairs.select(col("key_a").as("a"),
      col("key_b").as("b")))
    val (keep, _) = peelNodes(e0, lit(k), iters)()
    coreDegrees(e0, keep)
  }

  /** Run-to-convergence k-core — the production form of [[kCorePeel]]
    * (fixed rounds are the gate semantic; convergence needs rounds ≥
    * the longest peel CASCADE, which is data-dependent — a path graph
    * peels one node per round). See [[peelToFixpoint]] for the stop.
    * Returns (surviving (node, degree), rounds executed — the last
    * round verifies no shrink).
    */
  def kCoreFixpoint(pairs: DataFrame, k: Int, maxIters: Int = 100)
  : (DataFrame, Int) = {
    require(k >= 1 && maxIters >= 1, s"k/maxIters: $k/$maxIters")
    val e0 = Scope.hold(pairs.select(col("key_a").as("a"),
      col("key_b").as("b")))
    val (keep, rounds) = peelToFixpoint(e0, lit(k), maxIters)
    (coreDegrees(e0, keep), rounds)
  }

  /** The shared peel loop: iterate the KEEP NODE SET, not the edge
    * set. k-core peeling is exactly K_i = {n : deg(n) ≥ k within
    * e0 ∩ K_{i-1}×K_{i-1}}, so the edge set never needs to be a
    * chained intermediate — each round reads the SAME persisted e0
    * plus the (node-bounded) previous keep set. Iterating the EDGE
    * frame referenced the previous round's full plan ~6× per round →
    * an exponentially-growing logical plan (112k scan nodes by round
    * 3, measured on the sf0.1 purchase graph: 15-17 s → ~5 s).
    *
    * The keep-set semi-joins carry NO broadcast hint: round 0's keep
    * set is ALL distinct nodes — O(|V|), data-sized — so a forced
    * broadcast would bypass autoBroadcastJoinThreshold and OOM on a
    * large graph. The checkpoint materializes real size stats each
    * round, so the planner (plus AQE at runtime) picks broadcast
    * exactly when the shrinking set actually fits, and a shuffled
    * semi-join when it does not. Returns (keep set, rounds run). */
  private def peelNodes(e0: DataFrame, k: Column, maxRounds: Int)(
      stop: (DataFrame, DataFrame) => Boolean = (_, _) => false)
  : (DataFrame, Int) =
    iterate(e0.select(explode(array(col("a"), col("b"))).as("n"))
      .distinct(), maxRounds) { (keep, _) =>
      e0.join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
        .select(explode(array(col("a"), col("b"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("n")
    }(stop)

  /** [[peelNodes]] until the keep set stops shrinking. The check rides
    * the keep-set COUNT: peeling only removes nodes (K_i ⊆ K_{i-1}),
    * so equal count ⟺ equal set ⟺ true fixpoint — one 8-byte driver
    * aggregate per round, no row data. */
  private def peelToFixpoint(e0: DataFrame, k: Column,
                             maxRounds: Int): (DataFrame, Int) = {
    var last = -1L
    peelNodes(e0, k, maxRounds) { (prev, next) =>
      if (last < 0) last = prev.count()
      val c = next.count()
      val same = c == last
      last = c
      same
    }
  }

  /** Degrees over e0 restricted to the kept node set (the final peel
    * round's edge set, by monotonicity of K). Unhinted for the same
    * reason as [[peelNodes]]: the surviving core can still be
    * data-sized (k below the graph's degeneracy keeps almost
    * everything), so broadcast is the planner's call, not ours. */
  private def coreDegrees(e0: DataFrame, keep: DataFrame): DataFrame =
    e0.join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** The purchase graph as canonical (a, b) pairs (customer 2k,
    * supplier 2k+1; persisted) and its mean degree |E| div |N| — exact
    * integers, ONE 8-byte driver artifact (the IVF-codebook pattern,
    * not a row-data collect); the twin replays the same division. */
  private def purchasePairs(orders: DataFrame,
                            lineitem: DataFrame): (DataFrame, Long) = {
    val e0 = Scope.hold(orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct())
    val k = e0.agg(count(lit(1)).as("ne"))
      .crossJoin(
        e0.select(col("a").as("n")).unionAll(e0.select(col("b").as("n")))
          .agg(countDistinct(col("n")).as("nn")))
      .select(expr("ne div nn").as("k"))
      .head().getLong(0)
    (e0, k)
  }

  /** [[kCorePeel]] over the purchase graph with the threshold derived
    * as the mean degree ([[purchasePairs]]): "peel to the
    * denser-than-average core". A fixed absolute k cannot travel
    * across data scales — mean degree grows with SF, so any constant
    * either peels nothing or everything; the derived threshold keeps
    * the gate meaningful at every SF (measured: survivors 148 / 1027 /
    * ~12k at sf0.001/0.01/0.1, stable from round 1).
    * Output: (node_type, key, degree) over the final edge set.
    */
  def purchaseKCore(orders: DataFrame, lineitem: DataFrame,
                    iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    val (e0, k) = purchasePairs(orders, lineitem)
    val (keep, _) = peelNodes(e0, lit(k), iters)()
    decodeNode(coreDegrees(e0, keep), col("degree"))
  }

  /** Run-to-convergence k-core over the purchase graph, gated: peel
    * with the mean-degree threshold until the keep set stops shrinking
    * ([[peelToFixpoint]]), rounds_executed in the output. Measured
    * fixpoint: 2 rounds (1 peel + 1 verify) at every test SF (one-off
    * probe) — the mean-degree core is shallow on this graph; cap 6
    * covers any cascade the testdata could produce, and past the cap
    * both engines agree on the capped state.
    * Output: (node_type, key, degree, rounds).
    */
  def purchaseKCoreConverged(orders: DataFrame, lineitem: DataFrame,
                             maxRounds: Int = 6): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 10,
      s"maxRounds (twin unrolls them): $maxRounds")
    val (e0, k) = purchasePairs(orders, lineitem)
    val (keep, rounds) = peelToFixpoint(e0, lit(k), maxRounds)
    decodeNode(coreDegrees(e0, keep), col("degree"),
      lit(rounds.toLong).as("rounds"))
  }

  /** Multi-source BFS: dist(n) = min hop count from any source node,
    * in `iters` synchronous rounds — after round k every node within
    * distance k carries its exact BFS distance (and nodes farther away
    * are absent), so a fixed-k gate is oracle-expressible by unrolling
    * the rounds as CTE pairs (the [[minLabelPropagate]] argument, with
    * `+1 per hop` instead of min-label).
    *
    * Frontier-only: with synchronous unweighted rounds a node's
    * distance never improves after first assignment, so round k only
    * expands the nodes REACHED IN round k-1 — exactly `dist == k-1` in
    * the running set, which is therefore the whole loop state. Per
    * round: frontier⋈edges (edge work proportional to the frontier's
    * adjacency, not |reached|), a distinct, and one anti-join against
    * the reached set. On a saturating graph the frontier empties and
    * later rounds cost ~nothing (BASELINE.md's BFS table measured this
    * form against the full-set re-join it replaced).
    * `sources` is (node); `edges0` is (src, dst), symmetrized.
    * Output: (node, dist), only nodes within `iters` hops.
    */
  def bfsHops(sources: DataFrame, edges0: DataFrame,
              iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    val edges = Scope.hold(edges0)
    val init = sources.select(col("node"), lit(0L).as("dist"))
    val (dist, _) = iterate(init, iters) { (dist, k) =>
      val reached = dist.filter(col("dist") === k - 1)
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
      dist.unionAll(reached.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("dist")))
    }()
    dist
  }

  /** WEIGHTED purchase edges for shortest-path analytics: one edge per
    * distinct customer–supplier pair (the [[purchaseEdges]] node space),
    * weighted by the CHEAPEST lineitem price that ever linked them, in
    * exact BIGINT cents — min over DECIMAL(18,2) then ×100 is
    * engine-exact, so path costs add with no float drift (the
    * [[TotalMass]] fixed-point discipline applied to weights).
    * Output: (src, dst, w), both directions. */
  def purchaseWeightedEdges(orders: DataFrame,
                            lineitem: DataFrame): DataFrame = {
    val e0 = orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"),
        (col("l_suppkey") * 2 + 1).as("s"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"))
      .groupBy("c", "s")
      .agg((min(col("p")) * 100).cast("long").as("w"))
    e0.select(col("c").as("src"), col("s").as("dst"), col("w"))
      .unionAll(e0.select(col("s").as("src"), col("c").as("dst"),
        col("w")))
      // src-partitioned+sorted once for the per-round src-keyed joins —
      // the [[purchaseEdges]] r13 layout argument
      .repartition(col("src"))
      .sortWithinPartitions("src")
  }

  /** Bounded-round single-source (multi-source) shortest path —
    * synchronous Bellman–Ford, the weighted member of the iterative
    * family [[bfsHops]] anchors: per round every changed distance
    * relaxes its out-edges (`min(dist + w)` per neighbor) and merges
    * with the running dist set. After round k every node carries the
    * exact cheapest cost over paths of ≤ k edges — the bounded-round
    * semantics a fixed-k gate can pin and the twin can unroll as CTE
    * pairs (negative-cycle-safe by construction: rounds are bounded,
    * and purchase weights are positive anyway).
    *
    * Costs are BIGINT cents ([[purchaseWeightedEdges]]), so `dist + w`
    * and `min` are exact and order-independent in both engines.
    * Delta-frontier: a round-k relaxation through node n can only
    * produce a NEW minimum if n's own distance changed in round k-1 (an
    * unchanged node's offers were already made and absorbed), so each
    * round expands only the CHANGED set — the classic queue-based /
    * delta-stepping property. Unlike unweighted BFS a settled node CAN
    * improve in a later round (a cheaper many-edge path), so the delta
    * is dist-changed nodes, not first-reached nodes. The loop state is
    * the merged frame with its `improved` flag (sources start flagged),
    * so the next delta is a filter over it; per round: delta⋈edges,
    * one keyed min-agg, one full-outer merge. On a converging graph the
    * delta empties and later rounds cost ~nothing (BASELINE.md's SSSP
    * table measured this form against the full-set re-join it
    * replaced).
    * `sources` is (node); output (node, dist) for nodes within
    * `rounds` edges of a source. */
  def ssspBounded(sources: DataFrame, wedges0: DataFrame,
                  rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10,
      s"rounds must be in [1, 10] (twin unrolls them): $rounds")
    val wedges = Scope.hold(wedges0)
    val init = sources.select(col("node"), lit(0L).as("dist"),
      lit(true).as("improved"))
    val (dist, _) = iterate(init, rounds) { (state, _) =>
      val relaxed = state.filter(col("improved"))
        .join(wedges, col("node") === col("src"))
        .groupBy(col("dst")).agg(min(col("dist") + col("w")).as("nd"))
      // least() would skip a NULL side here (Spark semantics), but the
      // double-coalesce form is explicit AND engine-portable — the
      // DuckDB twin uses the identical expression
      state.select("node", "dist")
        .join(relaxed, col("node") === col("dst"), "full")
        .select(
          coalesce(col("node"), col("dst")).as("node"),
          least(coalesce(col("dist"), col("nd")),
            coalesce(col("nd"), col("dist"))).as("dist"),
          (col("nd").isNotNull &&
            (col("node").isNull || col("nd") < col("dist"))).as("improved"))
    }()
    dist.select("node", "dist")
  }

  /** WEIGHTED PageRank over the purchase graph — transition mass
    * proportional to edge weight ([[purchaseWeightedEdges]]' cheapest
    * linking price) instead of the uniform 1/deg of [[pageRank]]: the
    * centrality a spend-weighted supplier network actually wants.
    *
    * Integer exactness under the weighted transition: edge shares are
    * pre-quantized ONCE to parts-per-million of the source's
    * out-weight (`ppm = (w × 1e6) div Σw`), so the per-round multiply
    * `rank × ppm` stays inside BIGINT (rank ≤ 1e12 mass units,
    * ppm ≤ 1e6 → product ≤ 1e18 < 2^63) and every round is exact,
    * order-independent integer arithmetic the twin replays with `//`.
    * Floor leakage: ≤ 1 µ-unit per edge at the share quantization plus
    * the per-round div leakage the unweighted form documents — both
    * engines leak identically. Same keyed join + keyed sum shape and
    * [[iterate]] round driver as [[pageRank]].
    * Output: (node_type, key, rank).
    */
  def pageRankWeighted(orders: DataFrame, lineitem: DataFrame,
                       iters: Int = 3): DataFrame =
    decodeNode(
      pageRankOverEdges(purchaseWeightedEdges(orders, lineitem), iters),
      col("rank"))

  /** The weighted-PageRank fixpoint loop over an ARBITRARY
    * (src, dst, w) edge list — [[pageRankWeighted]]'s integer
    * machinery (ppm-quantized shares, exact BIGINT rounds, twin
    * replayable with `//`) freed from the purchase graph so any
    * domain can rank on it (TextRank runs it over the word
    * co-occurrence graph). Node keys may be any joinable type;
    * the node set is the out-weight key set (an undirected edge
    * construction has no dangling nodes). Output: (node, rank). */
  def pageRankOverEdges(wedges0: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10] (twin unrolls them): $iters")
    val wedges = Scope.hold(wedges0)
    val sw = wedges.groupBy("src").agg(sum(col("w")).as("sw"))
    // warm shares (one count fills wedges too) for the per-round join
    // and the nAgg broadcast; shares lands hash(src)-partitioned off its
    // join, so the per-round rank join's edge side needs no Exchange
    val shares = Scope.warm(wedges.join(sw, "src")
      .select(col("src"), col("dst"),
        expr("(w * 1000000) div sw").as("ppm")))
    val nodes = Scope.warm(sw.select(col("src").as("node")))
    val nAgg = nodes.agg(count(lit(1)).as("n"))
    val init = nodes.crossJoin(broadcast(nAgg))
      .select(col("node"), expr(s"$TotalMass div n").as("rank"))
    val (ranks, _) = iterate(init, iters) { (ranks, _) =>
      val inMass = ranks.join(shares, col("node") === col("src"))
        .select(col("dst"),
          expr("(rank * ppm) div 1000000").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("m"))
      nodes.crossJoin(broadcast(nAgg))
        .join(inMass, col("node") === col("dst"), "left")
        .select(col("node"),
          (expr(s"${TotalMass * 15 / 100} div n")
            + expr("(85 * coalesce(m, 0)) div 100")).as("rank"))
    }()
    ranks
  }

  /** The purchase-graph hubs: nodes of degree ≥ 3 × mean degree, over
    * any (src, …) edge list with both directions emitted. A fixed
    * threshold either selects nothing or everything as degree scales
    * with SF (measured sources: 10 / 100 / 1000 hubs at
    * sf0.001/0.01/0.1). The threshold is one 8-byte driver artifact;
    * everything else is keyed. Output: (node). */
  private def hubSources(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val thr = edges.agg(count(lit(1)).as("ne"))
      .crossJoin(deg.agg(count(lit(1)).as("nn")))
      .select(expr("3 * (ne div nn)").as("t"))
      .head().getLong(0)
    deg.filter(col("deg") >= thr).select(col("src").as("node"))
  }

  /** Hub-cost gate over the weighted purchase graph: the cheapest
    * ≤-`rounds`-edge path cost (in cents) from each node to the nearest
    * hub ([[hubSources]] — weighted edges are one per distinct partner
    * pair, so the degree sets coincide with [[purchaseHubDistance]]'s).
    * Output: (node_type, key, cost). */
  def purchaseHubCost(orders: DataFrame, lineitem: DataFrame,
                      rounds: Int = 3): DataFrame = {
    val wedges = Scope.hold(purchaseWeightedEdges(orders, lineitem))
    decodeNode(ssspBounded(hubSources(wedges), wedges, rounds),
      col("dist").as("cost"))
  }

  /** Adamic–Adar link prediction over the customer–part co-purchase
    * bipartite graph: score(a, b) = Σ over shared parts p of
    * round2(1 / ln(deg(p))), where deg(p) counts distinct purchasing
    * customers — the "customers who bought the same things" affinity
    * that drives recommendation candidate generation.
    *
    * Scale posture: the wedge self-join through parts fans out by
    * deg(p)² per part, so a celebrity part is the quadratic killer —
    * `maxDeg` EXCLUDES parts above the ceiling, which is Adamic–Adar's
    * own semantics (a hub that everyone bought carries ~0 bits; its
    * weight 1/ln(deg) → 0 anyway), the same knob as tf-idf's
    * maxDfFrac. With the cap, wedge work is ≤ maxDeg² × |parts| and
    * everything is keyed equi-joins + one keyed agg + a global top-k
    * (TakeOrderedAndProject — k rows per partition cross the shuffle,
    * no full sort).
    *
    * Numeric determinism: each wedge term is round2(1/ln(deg)) — deg
    * is an exact int, ln-then-divide is two IEEE ops round2'd at
    * source (the text_drift/BM25 pattern) — and the per-pair sum
    * routes through DECIMAL(18,2), so shuffle order cannot move the
    * result. Ties in the top-k are pinned (score desc, cust_a,
    * cust_b). Output: (cust_a, cust_b, score) with cust_a < cust_b,
    * top `k` pairs.
    */
  def adamicAdar(orders: DataFrame, lineitem: DataFrame,
                 maxDeg: Long = 200L, k: Int = 20): DataFrame = {
    val e = Scope.hold(orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct())
    val w = e.groupBy("p").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= maxDeg)
      .select(col("p"),
        graft.functions.Fns.round2(lit(1.0) / log(col("deg")))
          .cast("decimal(18,2)").as("aa"))
    // join the capped weight table onto the edges BEFORE the wedge
    // self-join: the cap must prune a hot part's edges ahead of the d²
    // expansion (joining w afterwards would still generate every wedge
    // of an excluded celebrity part and then drop it — the exact
    // failure the cap exists to prevent), and carrying `aa` on the
    // a-side keeps the post-expansion plan join-free. No broadcast
    // hint on w: it is |parts|-sized (data-scaled), the planner can
    // pick broadcast when it fits (the k-core lesson).
    val ew = Scope.hold(e.join(w, Seq("p")))
    ew.select(col("p"), col("c").as("a"), col("aa"))
      .join(ew.select(col("p"), col("c").as("b")), Seq("p"))
      .filter(col("a") < col("b"))
      .groupBy(col("a").as("cust_a"), col("b").as("cust_b"))
      .agg(sum(col("aa")).cast("double").as("score"))
      .orderBy(col("score").desc, col("cust_a"), col("cust_b"))
      .limit(k)
  }

  /** Hub-distance gate over the purchase graph: how many hops is each
    * node from the nearest hub ([[hubSources]]), within `iters` hops.
    * Output: (node_type, key, dist). */
  def purchaseHubDistance(orders: DataFrame, lineitem: DataFrame,
                          iters: Int = 3): DataFrame = {
    val edges = Scope.hold(purchaseEdges(orders, lineitem))
    decodeNode(bfsHops(hubSources(edges), edges, iters), col("dist"))
  }

  /** Deterministic RANDOM-WALK corpus over the purchase graph — the
    * sequence-generation step of DeepWalk/node2vec-style graph
    * embedding (Perozzi et al. 2014): every node starts one walk of
    * `steps` hops, and the walk corpus (start, step, node) is what a
    * skip-gram trainer consumes as "sentences". The walk is
    * derandomized the way every sampler here is: hop `s` of the walk
    * started at `start` takes the neighbor whose dst-sorted adjacency
    * rank is `md5-uniform(start, s) mod outdeg + 1` — each walk owns
    * an independent hash stream, so the corpus is a pure function of
    * the graph and replays bit-identically in the twin.
    *
    * Scale posture: each hop is TWO node-keyed equi-joins — frontier ⋈
    * degree (|V| rows out) to derive the chosen rank, then (node, rank)
    * ⋈ the rank-indexed adjacency (|V| rows out, NOT |E|: the rank is
    * derived BEFORE touching the adjacency, so the join never fans out
    * by degree). The adjacency rank is a per-src window (bounded by
    * max degree) built once; per-hop frontiers are |V|-sized and
    * persisted so the step-union replays nothing. A 1000-executor
    * 100 TB walk generation is exactly this plan with more partitions.
    * Output: (start, step, node) — step 0 is the start itself. */
  def randomWalks(orders: DataFrame, lineitem: DataFrame,
                  steps: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = Scope.hold(purchaseEdges(orders, lineitem))
    // warm adj (one count fills edges too) and deg: both are read per
    // hop, the small side through a broadcast
    val adj = Scope.warm(edges
      .withColumn("rk",
        row_number().over(Window.partitionBy("src").orderBy("dst"))))
    val deg = Scope.warm(edges.groupBy("src").agg(count(lit(1)).as("odeg")))
    // eager per-hop checkpoints: each hop frame is read twice (next
    // hop's rank join + its union arm), so materialize it once; the
    // union then scans `steps`+1 flat in-memory frames
    var cur = Scope.checkpoint(deg.select(col("src").as("start"),
      col("src").as("node")))
    val frames = scala.collection.mutable.ArrayBuffer(
      cur.select(col("start"), lit(0).as("step"), col("node")))
    for (s <- 1 to steps) {
      // rank first (node-keyed join against the degree table), THEN
      // one (src, rk) lookup into the adjacency — never a fan-out
      val ranked = cur
        .join(deg, cur("node") === deg("src"))
        .select(col("start"), col("node"),
          (Sampling.hashValue(
            concat(col("start").cast("string"), lit("|"), lit(s.toString)),
            "graft-walk") % col("odeg") + 1).as("_rk"))
      cur = Scope.checkpoint(ranked
        .join(adj, ranked("node") === adj("src")
          && ranked("_rk") === adj("rk"))
        .select(col("start"), col("dst").as("node")))
      frames += cur.select(col("start"), lit(s).as("step"), col("node"))
    }
    frames.reduce(_ unionAll _)
  }

  /** Skip-gram pair extraction over the [[randomWalks]] corpus — the
    * step that turns walk "sentences" into the (center, context)
    * training pairs a word2vec-style embedding trainer consumes
    * (DeepWalk's co-occurrence materialization): for every walk
    * position, every other position within ±`window` steps. One
    * walk-keyed self equi-join (each walk is `steps`+1 rows, so the
    * fan-out is the fixed ≤ 2·window factor — bounded by GEOMETRY,
    * not by degree or data volume); the window predicate rides the
    * join as a residual filter.
    * Output: (start, step, center, context, offset ∈ [−w, w] \ {0}). */
  def walkSkipGrams(orders: DataFrame, lineitem: DataFrame,
                    steps: Int = 4, window: Int = 2): DataFrame = {
    // the self-join reads the walk corpus twice — materialize it once
    // (flat (start, step, node) rows, |V|·(steps+1)-bounded)
    val walks = Scope.checkpoint(randomWalks(orders, lineitem, steps))
    val a = walks.select(col("start"), col("step"),
      col("node").as("center"))
    val b = walks.select(col("start").as("bstart"),
      col("step").as("bstep"), col("node").as("context"))
    a.join(b, col("start") === col("bstart")
        && col("bstep") =!= col("step")
        && abs(col("bstep") - col("step")) <= window)
      .select(col("start"), col("step"), col("center"), col("context"),
        (col("bstep") - col("step")).as("offset"))
  }
}
