package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Scope

/** Deterministic, hash-based sampling for a large-scale training-data
  * pipeline. Random sampling (`df.sample`) is non-reproducible across
  * runs, partitionings, and engines; hash sampling decides per ROW from
  * a stable key, so the same (key, salt, fraction) always draws the
  * same rows — on this engine, on a 1000-executor cluster, and in a
  * SQL twin. It is also a pure per-row filter: no shuffle, pushes to
  * the scan, trivially parallel at 100 TB.
  *
  * Hash basis: the first 8 hex chars of md5(salt || '|' || key) as a
  * 32-bit value in [0, 2^32) — engine-portable (DuckDB:
  * `('0x' || substr(md5(salt || '|' || key), 1, 8))::BIGINT`), uniform,
  * and independent draws for different salts.
  */
object Sampling {

  /** 2^32 — the hash-value range. */
  private val HashRange = 4294967296.0

  /** The 32-bit hash of (salt, key) both engines compute. `concat`
    * (NOT concat_ws, which silently skips NULLs): a NULL key hashes to
    * NULL, the threshold comparison is NULL, and the row drops — the
    * same semantics as the SQL twins' `salt || '|' || key`. */
  def hashValue(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), lit("|"), key.cast("string"))),
      1, 8), 16, 10).cast("long")

  /** Global 1-based row_number over a TOTAL order, without the
    * single-partition WindowExec (r14, VERDICT-r13 item 5 — the
    * classic 100 TB killer): range-repartition by the sort key, rank
    * within each range partition, add per-partition row-count offsets
    * (a partitions-sized aggregate, broadcast back). Because range
    * partitions are disjoint and ordered and the caller's sort order
    * is TOTAL (include a unique tiebreaker!), the ranks are
    * bit-identical to `row_number().over(Window.orderBy(sortCols))`
    * whatever boundaries the range sampler picks. The input is
    * held for the two passes (counts + rank), in the caller's scope.
    * Partition count follows defaultParallelism
    * (scale-adaptive, not a local constant).
    * Output: input columns + `rankCol`. */
  private[graft] def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                                     rankCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    // the cache pins the partition layout: both consumers (offset agg +
    // rank pass) must see the SAME spark_partition_id assignment
    val parted = Scope.warm(df.repartitionByRange(p, sortCols: _*)
      .withColumn("_pid", spark_partition_id()))
    val offsets = parted.groupBy("_pid")
      .agg(count(lit(1)).as("_cnt"))
    val wOff = Window.orderBy(col("_pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // partitions-sized window (≤ p rows) — the bounded-window class
    val off = offsets
      .withColumn("_off", coalesce(sum("_cnt").over(wOff), lit(0L)))
      .select(col("_pid"), col("_off"))
    val wIn = Window.partitionBy(col("_pid")).orderBy(sortCols: _*)
    parted
      .withColumn("_rn", row_number().over(wIn).cast("long"))
      .join(broadcast(off), "_pid")
      .withColumn(rankCol, col("_rn") + col("_off"))
      .drop("_pid", "_rn", "_off")
  }

  /** `ntile(b)`'s bucket (1-based, long) for the row at 1-based
    * `rank` of `n` rows, from ntile's published arithmetic: the first
    * n % b buckets hold n div b + 1 rows, the rest n div b. Exact for a
    * total order, where the rank fixes the bucket. The ELSE arm divides
    * by n div b — unreachable when that is 0 (every rank then takes the
    * first arm), and CASE short-circuits under ANSI. */
  private[graft] def ntileOf(rank: Column, n: Column, b: Int): Column = {
    def div(x: Column, y: Column) = call_function("div", x, y)
    val q = div(n, lit(b))
    val r = n % lit(b)
    val head = r * (q + 1)
    when(rank <= head, div(rank - 1, q + 1) + 1)
      .otherwise(r + div(rank - head - 1, q) + 1)
      .cast("long")
  }

  /** Cumulative Poisson(1) thresholds (4 dp) for the bootstrap's
    * deterministic replicate weights: P(0)=P(1)=e⁻¹, P(2)=e⁻¹/2,
    * P(3)=e⁻¹/6, tail mass to 4. Quantized constants so both engines
    * compare the same literals. */
  private val PoisCdf = Seq(0.3679, 0.7358, 0.9197, 0.9810)

  /** POISSON BOOTSTRAP confidence interval for a mean — the
    * one-pass distributed bootstrap (Chamandy et al., the standard
    * replacement for m-out-of-n resampling when rows can't be
    * enumerated centrally): each of `reps` replicates weighs every row
    * by an independent Poisson(1) count, here DETERMINISTIC — the
    * count is the inverse-CDF lookup of the md5-uniform of
    * (salt, key, rep) against [[PoisCdf]] — so the interval is a pure
    * function of the data and replays bit-exactly in the twin.
    * Replicate means are exact-BIGINT Σw·x / Σw (ONE IEEE division
    * each; a theoretically-empty replicate nulls out and drops); the
    * CI endpoints are RANK-SELECTED order statistics of the ≤reps
    * means (the rel_order_stats convention — no interpolation
    * arithmetic), ties pinned by rep asc.
    *
    * Scale shape: one rows×reps explode (the controlled multiplier —
    * reps·N rows, each a pure expression), one rep-keyed aggregation,
    * one window over ≤reps rows (bounded by the literal).
    * Output 1 row: (n_reps, mean, ci_lo, ci_hi), round2. */
  def bootstrapMeanCI(df: DataFrame, valueCol: String,
                      reps: Int = 200, alpha: Double = 0.05,
                      keyCol: String = "doc_id",
                      salt: String = "graft-boot"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(reps >= 10 && alpha > 0 && alpha < 0.5,
      s"need reps >= 10 and 0 < alpha < 0.5: $reps/$alpha")
    val u = (hashValue(concat(col(keyCol).cast("string"), lit("#"),
      col("rep").cast("string")), salt) + lit(1L)) / lit(HashRange)
    val w = PoisCdf.zipWithIndex.foldRight(lit(PoisCdf.size)) {
      case ((thr, k), rest) => when(u < thr, lit(k)).otherwise(rest)
    }
    val weighted = df
      .select(col(keyCol), col(valueCol).cast("long").as("x"))
      .filter(col(keyCol).isNotNull && col("x").isNotNull)
      .crossJoin(explodeReps(df, reps))
      .select(col("rep"), w.cast("long").as("w"), col("x"))
    val means = weighted.groupBy("rep")
      .agg((sum(col("w") * col("x")).cast("double") /
        nullif(sum("w").cast("double"), lit(0.0))).as("mn"))
      .filter(col("mn").isNotNull)
    val byMean = Window.orderBy(col("mn").asc, col("rep").asc)
    // three rank lookups below
    val ranked = Scope.hold(means
      .select(col("rep"), col("mn"),
        row_number().over(byMean).cast("long").as("r"))
      .crossJoin(broadcast(means.agg(count(lit(1)).as("nr")))))
    def atQuantile(q: Double) =
      ranked.filter(col("r") ===
          (floor(lit(q) * (col("nr") - 1)) + 1).cast("long"))
        .select(graft.functions.Fns.round2(col("mn")).as("v"))
    val overall = df
      .select(col(valueCol).cast("long").as("x"), col(keyCol))
      .filter(col(keyCol).isNotNull && col("x").isNotNull)
      .agg((sum("x").cast("double") /
        nullif(count(lit(1)).cast("double"), lit(0.0))).as("m"))
    ranked.select(col("nr").as("n_reps")).limit(1)
      .crossJoin(broadcast(overall
        .select(graft.functions.Fns.round2(col("m")).as("mean"))))
      .crossJoin(broadcast(atQuantile(alpha / 2)
        .withColumnRenamed("v", "ci_lo")))
      .crossJoin(broadcast(atQuantile(1 - alpha / 2)
        .withColumnRenamed("v", "ci_hi")))
  }

  /** The 1..reps spine for [[bootstrapMeanCI]] (a literal Range — the
    * sanctioned bounded broadcast class). */
  private def explodeReps(df: DataFrame, reps: Int): DataFrame =
    df.sparkSession.range(1, reps + 1)
      .select(col("id").cast("int").as("rep"))

  /** Recency-decayed sampling — the "keep everything fresh, an
    * exponentially thinning sample of history" retention policy a
    * rolling training corpus runs on its event log: rows are banded
    * by age (`bandDays` per band, newest band 0, age measured against
    * the in-plan max event date — a fixed date constant would go
    * stale), and band b keeps a 2^-b fraction via the md5 hash
    * threshold — so the kept set is a pure row-local function of
    * (event_id, max_day), deterministic under reruns, and each band's
    * sample is a SUBSET of what a younger band would have kept (the
    * same hash, a halving threshold: thinning history never resamples
    * it, the property that makes incremental re-runs append-only).
    *
    * All integer arithmetic: bucket in [0, 10000), threshold
    * 10000 div 2^min(b, 30) (floor division, identical both engines;
    * bands past 13 floor to 0 = drop — the min() only guards the
    * shift). One scan, one 8-byte broadcast, no shuffle at all.
    * Output: (event_id, band) for kept rows.
    */
  def decaySample(events: DataFrame, bandDays: Int = 7,
                  salt: String = "graft-decay"): DataFrame = {
    require(bandDays >= 1, s"bandDays must be >= 1: $bandDays")
    val mx = events.agg(max(to_date(col("ts"))).as("mx"))
    events.crossJoin(broadcast(mx))
      .select(col("event_id"),
        expr(s"datediff(mx, cast(ts as date)) div $bandDays")
          .cast("long").as("band"),
        (hashValue(col("event_id"), salt) % 10000L).as("bucket"))
      .filter(col("bucket") <
        expr("10000L div shiftleft(1L, cast(least(band, 30) as int))"))
      .select(col("event_id"), col("band"))
  }

  /** The integer threshold a fraction maps to (rows with hash below it
    * are kept): floor(p · 2^32), exact for p in [0, 1]. */
  def thresholdFor(p: Double): Long = {
    require(p >= 0.0 && p <= 1.0, s"fraction out of [0,1]: $p")
    math.floor(p * HashRange).toLong
  }

  /** Deterministic Bernoulli(p) sample keyed on `keyCol`. */
  def hashSample(df: DataFrame, p: Double, keyCol: String = "doc_id",
                 salt: String = "graft"): DataFrame =
    df.filter(hashValue(col(keyCol), salt) < thresholdFor(p))

  /** Deterministic Bernoulli with a PER-ROW probability — the
    * importance/token-budget sampler (e.g. keep probability ∝ document
    * length, or ∝ an upstream quality score). `prob` is any in-plan
    * expression; it is clamped to [0, 1] and mapped to the same
    * floor(p·2^32) integer threshold as [[hashSample]], so both engines
    * decide each row from identical float64 arithmetic. Still a pure
    * per-row filter: no shuffle, pushes to the scan. A NULL probability
    * (like a NULL key) drops the row.
    */
  def weightedSample(df: DataFrame, prob: Column,
                     keyCol: String = "doc_id",
                     salt: String = "graft-w"): DataFrame = {
    // least/greatest SKIP nulls (a NULL prob would clamp to 1.0 and
    // keep everything); the explicit NULL branch makes the comparison
    // NULL so the row drops instead
    val clamped = when(prob.isNull, lit(null).cast("double"))
      .otherwise(greatest(lit(0.0), least(lit(1.0), prob)))
    df.filter(hashValue(col(keyCol), salt) < floor(clamped * lit(HashRange)))
  }

  /** Deterministic train/val/test-style assignment: buckets the key
    * hash into 10,000 slots and labels each row by cumulative split
    * weight (weights need not sum to 1 — they are normalized). Every
    * row gets EXACTLY one split, disjoint by construction; adding a
    * column, not filtering, so downstream can materialize all splits
    * in one pass. Output: input columns + `split`.
    */
  /** Cumulative 10,000-bucket bounds for a weight list — the ONE
    * definition both [[splitByHash]] and its SQL twin derive from.
    * Rejects any split whose weight rounds to zero buckets: a silently
    * empty split (e.g. a 0.004% holdout) is a data bug, not a choice. */
  private def bucketBounds(splits: Seq[(String, Double)]): Seq[Long] = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      "splits must be non-empty with positive weights")
    val total = splits.map(_._2).sum
    val bounds = splits.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w / total * 10000.0)
    }.tail
    val widths = (0L +: bounds).sliding(2).map(p => p(1) - p(0)).toSeq
    splits.zip(widths).foreach { case ((name, w), buckets) =>
      require(buckets >= 1,
        s"split '$name' (weight $w) rounds to zero of the 10000 hash " +
          "buckets — increase its weight or rescale")
    }
    // nominal widths >= 1 is necessary but NOT sufficient: if the
    // earlier splits' rounded widths already cover all 10000 buckets,
    // every later split is starved even though its own width rounded
    // to >= 1 (e.g. 0.49997/0.49997/0.00006 → 5000+5000 buckets leave
    // nothing for the third split)
    bounds.dropRight(1).zipWithIndex.foreach { case (b, i) =>
      require(b < 10000L,
        s"splits up to '${splits(i)._1}' already cover all 10000 hash " +
          s"buckets — later splits would be silently empty; rescale")
    }
    bounds.dropRight(1) // the last split absorbs the rounding residue
  }

  /** Deterministic train/val/test-style assignment: buckets the key
    * hash into 10,000 slots and labels each row by cumulative split
    * weight (weights need not sum to 1 — they are normalized). Every
    * non-NULL-key row gets EXACTLY one split, disjoint by construction;
    * adding a column, not filtering, so downstream can materialize all
    * splits in one pass. Output: input columns + `split`.
    */
  def splitByHash(df: DataFrame, splits: Seq[(String, Double)],
                  keyCol: String = "doc_id",
                  salt: String = "graft"): DataFrame = {
    val bounds = bucketBounds(splits)
    val bucket = hashValue(col(keyCol), salt) % 10000L
    val split = splits.map(_._1).zip(bounds :+ Long.MaxValue)
      .foldRight(null: Column) { case ((name, bound), rest) =>
        if (rest == null) lit(name)
        else when(bucket < bound, name).otherwise(rest)
      }
    df.withColumn("split", split)
  }

  /** SQL bucket expression for [[splitByHash]]'s oracle twin — derived
    * from the SAME [[bucketBounds]], so the two cannot drift. */
  def splitCaseSql(splits: Seq[(String, Double)], keyCol: String,
                   salt: String): String = {
    val bounds = bucketBounds(splits)
    val bucket = s"(('0x' || substr(md5('$salt' || '|' || " +
      s"CAST($keyCol AS VARCHAR)), 1, 8))::BIGINT % 10000)"
    val whens = splits.map(_._1).zip(bounds)
      .map { case (name, b) => s"WHEN $bucket < $b THEN '$name'" }
      .mkString(" ")
    s"CASE $whens ELSE '${splits.last._1}' END"
  }

  /** Deterministic global shuffle + sharding — the "write the training
    * set in randomized order into N shard files" step every pretraining
    * pipeline ends with. Each row gets a `shard` in [0, numShards) and
    * a 1-based `pos` within its shard; reading shards in (shard, pos)
    * order replays one fixed md5-random permutation of the corpus,
    * identical across runs, partitionings, and engines (no `rand()`,
    * no `monotonically_increasing_id` — both are partition-layout-
    * dependent). Ties on the 32-bit hash break by key, so the order is
    * total. Output: (key, shard, pos).
    *
    * Scale posture: one shuffle, partitioned BY SHARD — exactly the
    * physical layout the shard writer needs (`repartition(shard)` +
    * sort within shard = this window). Each shard sorts only corpus/N
    * rows; numShards scales with the cluster, so no single sort ever
    * sees the whole corpus — the global sort this op replaces is the
    * thing that does NOT survive 100 TB.
    */
  def shardAssign(df: DataFrame, numShards: Int,
                  keyCol: String = "doc_id",
                  salt: String = "graft-shard"): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    val h = hashValue(col(keyCol), salt)
    val byHash = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("h").asc, col(keyCol).asc)
    // a NULL key has no stable position anywhere — drop, like the
    // other samplers (NULL hash → NULL comparison → row drops)
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol), h.as("h"), (h % numShards).as("shard"))
      .withColumn("pos", row_number().over(byHash).cast("long"))
      .select(col(keyCol), col("shard"), col("pos"))
  }

  /** Deterministic FIXED-SIZE uniform sample — "carve an eval set of
    * exactly k docs": the first k rows of the md5-random permutation
    * ([[shardAssign]]'s hash order, ties broken by key, so the order
    * is total and the kept set identical across runs, partitionings,
    * and engines). Complements [[hashSample]], whose REALIZED size is
    * binomial around p·N — an eval/holdout set needs an exact count.
    * Scale posture: sort-limit plans as TakeOrderedAndProject — k rows
    * per partition cross the shuffle, no global sort ever
    * materializes. Output: (key), exactly min(k, N) rows.
    */
  def fixedSizeSample(df: DataFrame, k: Int, keyCol: String = "doc_id",
                      salt: String = "graft-fix"): DataFrame =
    bottomK(df, k, keyCol, salt).select(col(keyCol))

  /** The bottom-k SKETCH behind [[fixedSizeSample]] — (key, h) kept so
    * the structure is MERGEABLE: for disjoint key sets,
    * bottomK(bottomK(A) ∪ bottomK(B)) = bottomK(A ∪ B), because a
    * globally-bottom-k hash is bottom-k within whichever part held it.
    * That identity is what lets a stream MAINTAIN a uniform fixed-size
    * corpus sample one micro-batch at a time (union the stored sketch
    * with the batch's sketch, re-take bottom-k — k rows of state, ever)
    * and what makes the sample of a sharded corpus computable
    * shard-locally with a k-row final merge. Same
    * TakeOrderedAndProject shape — no global sort materializes.
    * Output: (key, h), exactly min(k, N) rows. */
  def bottomK(df: DataFrame, k: Int, keyCol: String = "doc_id",
              salt: String = "graft-fix"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol), hashValue(col(keyCol), salt).as("h"))
      .orderBy(col("h").asc, col(keyCol).asc)
      .limit(k)
  }

  /** WEIGHTED fixed-size sample without replacement — exactly k rows
    * with inclusion biased by a per-row weight (Efraimidis & Spirakis
    * 2006): "carve a k-doc eval set where long documents count by
    * their tokens, not one-doc-one-vote". Each row enters an
    * exponential race with rate = its weight — key = −ln(u)/w where u
    * is the row's md5-uniform draw in (0, 1] — and the k SMALLEST keys
    * win; bottom-k of exponentials is distributed exactly as k
    * successive weighted draws without replacement. Deterministic: u
    * derives from md5(salt|key) like every sampler in this file, so
    * the winner set is a pure function of (salt, keys, weights),
    * stable across runs, partitionings, and engines.
    *
    * Cross-engine contract: the race key is floored onto an integer
    * 1e-9 grid before comparison (the [[graft.functions.Fns.round2]]
    * device) — both engines compute −ln(u)/w in float64 from identical
    * u and w, and the grid absorbs any last-ulp libm disagreement;
    * ties on the grid pin by key ascending. The key stays INTERNAL
    * (the output is the winner rows, not the clock values), so a
    * boundary disagreement would need a flip at exactly rank k on the
    * grid to be visible at all.
    *
    * Contract: NULL keys and NULL weights drop (the file-wide NULL
    * contract); weight ≤ 0 raises in-plan — a non-positive rate makes
    * the race undefined, and silently dropping such rows would hide a
    * broken upstream weight column.
    *
    * Same mergeable bottom-k shape as [[bottomK]]: the global winners
    * are bottom-k within whichever shard held them, so per-shard
    * bottom-k then re-bottom-k of the k·S survivors is exact — the
    * 100 TB plan is TakeOrderedAndProject (k rows per partition cross
    * the exchange, no global sort), and a stream can maintain the
    * sample with k rows of state. Output: input columns, exactly
    * min(k, #valid rows) rows.
    */
  def weightedBottomK(df: DataFrame, k: Int, weight: Column,
                      keyCol: String = "doc_id",
                      salt: String = "graft-wk"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    df.filter(col(keyCol).isNotNull)
      .withColumn("_ekey", esKey(keyCol, salt, weight))
      .filter(col("_ekey").isNotNull) // NULL weight → NULL key → drop
      .orderBy(col("_ekey").asc, col(keyCol).asc)
      .limit(k)
      .drop("_ekey")
  }

  /** The Efraimidis-Spirakis race clock shared by [[weightedBottomK]]
    * and [[weightedCapPerStratum]]: −ln(u)/w on the 1e-9 floor grid,
    * u the row's md5-uniform in (0, 1], NULL weight → NULL clock
    * (drop), weight ≤ 0, NaN, OR below [[MinWeight]] raises in-plan
    * (NaN fails the ≤ 0 comparison and would ride into the clock as
    * NaN; a sub-1e-8 weight scales the grid key past Long.MaxValue —
    * both would die as an opaque ANSI long-cast overflow, so raise
    * the clean message instead; ADVICE r11). At w = 1e-8 the worst
    * clock is −ln(2^-32)/1e-8·1e9 ≈ 2.2e18 < Long.MaxValue. */
  private def esKey(keyCol: String, salt: String,
                    weight: Column): Column = {
    // (h + 1) / 2^32 ∈ (2^-32, 1] — never 0, so ln(u) is finite
    val u = (hashValue(col(keyCol), salt) + lit(1L)) / lit(HashRange)
    val wd = weight.cast("double")
    val w = when(weight.isNull, lit(null).cast("double"))
      .otherwise(when(wd <= 0.0 || isnan(wd) || wd < MinWeight,
          raise_error(concat(
            lit(s"weighted sample: weight must be >= $MinWeight, got "),
            weight.cast("string"), lit(" for key "), col(keyCol).cast("string"))))
        .otherwise(wd))
    floor(-log(u) / w * lit(1.0e9)).cast("long")
  }

  /** Smallest weight [[esKey]] accepts: keeps the 1e-9-grid race key
    * inside Long (see the esKey bound). Rescale tiny rates upstream —
    * the race only depends on weight RATIOS, so multiplying every
    * weight by a constant leaves the sample unchanged. */
  val MinWeight: Double = 1.0e-8

  /** WEIGHTED per-stratum cap — [[capPerStratum]] with the
    * [[weightedBottomK]] race inside each stratum: at most
    * `maxPerStratum` rows per stratum, drawn weighted-without-
    * replacement by the row weight ("100 docs per source, long docs
    * counting by their tokens" — the domain cap and the token
    * weighting in one pass). A per-stratum window over the race key
    * ([[capPerStratum]]'s hash-bucket rewrite applies if a stratum
    * outgrows a partition sort); same NULL/guard contract as the
    * global race. */
  def weightedCapPerStratum(df: DataFrame, maxPerStratum: Int,
                            weight: Column,
                            stratumCol: String = "source",
                            keyCol: String = "doc_id",
                            salt: String = "graft-wkc"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerStratum >= 1,
      s"maxPerStratum must be >= 1: $maxPerStratum")
    val w = Window.partitionBy(stratumCol)
      .orderBy(col("_ekey").asc, col(keyCol).asc)
    df.filter(col(keyCol).isNotNull)
      .withColumn("_ekey", esKey(keyCol, salt, weight))
      .filter(col("_ekey").isNotNull)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxPerStratum)
      .drop("_ekey", "_rn")
  }

  /** [[capPerStratum]]'s buckets are the 32-bit hash's top 10 bits:
    * 1024 buckets. */
  private val CapBucketBits = 10

  /** Per-stratum cap — the "domain cap" of corpus mixing: keeps at most
    * `maxPerStratum` rows per stratum, chosen deterministically by hash
    * order (not arrival/partition order, so the kept set is stable
    * across runs and engines): the `maxPerStratum` smallest rows by
    * (hash, key). No per-stratum sort: a bucket = the hash's high bits
    * is a PREFIX of that order, so per-(stratum, bucket) counts (one
    * map-side-combined aggregation, strata×1024 rows — broadcast-sized)
    * give each row the count of its stratum's rows in lower buckets. Buckets at or below the boundary are then ranked
    * within (stratum, bucket) — many small parallel sorts instead of
    * one per stratum — and buckets past it drop before any shuffle.
    * Exact, no sampling error: one huge stratum never funnels through
    * a single reducer's sort. A NULL stratum is its own group; NULL
    * keys drop.
    */
  def capPerStratum(df: DataFrame, maxPerStratum: Long,
                    stratumCol: String = "source",
                    keyCol: String = "doc_id",
                    salt: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NULL keys drop (same contract as every other op in this file):
    // a NULL hash would otherwise sort NULLS FIRST and preferentially
    // occupy cap slots, evicting real rows
    val base = df.filter(col(keyCol).isNotNull)
      .withColumn("_h", hashValue(col(keyCol), salt))
      .withColumn("_b", shiftright(col("_h"), 32 - CapBucketBits))
    // rows in strictly-lower buckets of the same stratum
    val below = base.groupBy(col(stratumCol), col("_b"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_below", sum("_c").over(
        Window.partitionBy(stratumCol).orderBy(col("_b").asc)) - col("_c"))
    // null-safe stratum join: a NULL stratum is its own group;
    // Seq-join equality would silently drop it
    val inBucket = Window.partitionBy(col(stratumCol), col("_b"))
      .orderBy(col("_h").asc, col(keyCol).asc)
    base.as("rows").join(broadcast(below).as("cnt"),
        col(s"rows.$stratumCol") <=> col(s"cnt.$stratumCol") &&
          col("rows._b") === col("cnt._b"))
      .filter(col("cnt._below") < maxPerStratum)
      .select((df.columns.map(c => col(s"rows.$c")) ++
        Seq(col("rows._h"), col("rows._b"), col("cnt._below"))): _*)
      .withColumn("_rn", row_number().over(inBucket))
      .filter(col("_below") + col("_rn") <= maxPerStratum)
      .drop("_h", "_b", "_below", "_rn")
  }

  /** Cluster-stratified diversity sample — per SEMANTIC cluster, keep
    * `perCluster` deterministic representatives: the cluster-balanced
    * sampling a curation run uses to build diverse eval/seed sets
    * (uniform sampling over-represents dense regions of embedding
    * space; stratifying by [[Similarity.ivfAssignments]]' clusters
    * caps every region at the same count). Selection within a cluster
    * is the [[capPerStratum]] device — the perCluster smallest
    * (md5 hash, id) — so the sample is a pure function of
    * (codebook, salt, emb) and replays in any engine.
    *
    * Scale posture: one broadcast-codebook assignment (struct-max, no
    * window over N×C) + [[capPerStratum]]'s hash-bucketed cap, which
    * never sorts a whole cluster on one reducer however large the
    * cluster grows. Output: (vec_id, cid). */
  def clusterStratifiedSample(emb: DataFrame, perCluster: Int = 10,
                              nClusters: Int = 16,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding",
                              salt: String = "graft-div"): DataFrame =
    capPerStratum(
      Similarity.ivfAssignments(emb, nClusters, idCol, vecCol),
      perCluster, stratumCol = "cid", keyCol = "vec_id", salt = salt)

  /** Mixture resampling — rebalance a corpus to target stratum shares
    * (e.g. language rebalancing before training): each stratum s with
    * target weight w_s is down-sampled by fraction w_s·T* / count_s where
    * T* = min_s(count_s/w_s) is the LARGEST total at which every
    * stratum can meet its share exactly (no stratum is ever
    * up-sampled). Strata absent from `targets` are dropped. Fractions
    * are computed IN-PLAN (counts → broadcast threshold table — no
    * driver collect) and applied as deterministic hash thresholds.
    */
  def mixtureSample(df: DataFrame, targets: Map[String, Double],
                    stratumCol: String = "lang",
                    keyCol: String = "doc_id",
                    salt: String = "graft"): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be non-empty with positive weights")
    val wExpr = targets.toSeq.sortBy(_._1)
      .foldRight(lit(0.0)) { case ((s, w), rest) =>
        when(col(stratumCol) === s, lit(w)).otherwise(rest)
      }
    val withW = df.groupBy(stratumCol).agg(count(lit(1)).as("_c"))
      .withColumn("_w", wExpr).filter(col("_w") > 0)
    val tstar = withW.agg(min(col("_c") / col("_w")).as("_tstar"))
    val thresholds = withW.crossJoin(broadcast(tstar))
      .select(col(stratumCol),
        floor(col("_w") * col("_tstar") / col("_c") * lit(HashRange))
          .cast("long").as("_thr"))
    df.join(broadcast(thresholds), stratumCol)
      .filter(hashValue(col(keyCol), salt) < col("_thr"))
      .drop("_thr")
  }

  /** [[mixtureSample]] with TOKEN-share targets — the form an LLM data
    * mix actually specifies ("30% of training TOKENS from lang X"):
    * the stratum size C_s is its token sum, not its row count, so a
    * stratum of long documents is down-weighted accordingly. The keep
    * decision stays per-ROW (hash threshold at fraction w_s·T* / C_s) —
    * kept token mass matches the target in expectation, the standard
    * row-level approximation (exact token-budget selection is what
    * [[tokenBudgetSelect]] does within one stratum). Same in-plan
    * threshold machinery, same determinism argument; token counts are
    * exact integers (the TF raw-len convention), so C_s/w_s is one
    * IEEE division per stratum, identical cross-engine.
    */
  def mixtureSampleByTokens(df: DataFrame, targets: Map[String, Double],
                            stratumCol: String = "lang",
                            keyCol: String = "doc_id",
                            textCol: String = "text",
                            salt: String = "graft"): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be non-empty with positive weights")
    val wExpr = targets.toSeq.sortBy(_._1)
      .foldRight(lit(0.0)) { case ((s, w), rest) =>
        when(col(stratumCol) === s, lit(w)).otherwise(rest)
      }
    val withW = df.groupBy(stratumCol)
      .agg(sum(graft.functions.Fns.rawTokenCount(col(textCol))).as("_c"))
      .withColumn("_w", wExpr).filter(col("_w") > 0)
    val tstar = withW.agg(min(col("_c") / col("_w")).as("_tstar"))
    val thresholds = withW.crossJoin(broadcast(tstar))
      .select(col(stratumCol),
        floor(col("_w") * col("_tstar") / col("_c") * lit(HashRange))
          .cast("long").as("_thr"))
    df.join(broadcast(thresholds), stratumCol)
      .filter(hashValue(col(keyCol), salt) < col("_thr"))
      .drop("_thr")
  }

  /** Budgeted mixture FIT — the water-filling solver behind a fixed
    * compute budget: [[mixtureSample]] sizes the total by the scarcest
    * stratum (no source capped), but a real training run fixes the
    * token budget B first and asks "what rate per source hits my
    * target shares under availability?". The answer allocates each
    * source alloc_s = min(avail_s, λ·w_s) with ONE water level λ
    * chosen so Σ alloc = B: scarce sources saturate (contribute all
    * they have), the rest split the remainder by target weight.
    *
    * The solve is RELATIONAL, not iterative: sort sources by the
    * saturation ratio r_s = avail_s/w_s ascending — that is the order
    * in which sources cap as λ rises — and for each prefix boundary
    * compute the candidate level λ_k = (B − Σ_{<k} avail)/(W − Σ_{<k}
    * w). A source saturates iff r_s ≤ its boundary's λ, the flag is
    * prefix-monotone by construction, so the first unsaturated row
    * pins k* and λ* in one pass: two ordered prefix-sum windows over
    * the ENUM-SIZED source table (the single-partition window is a
    * dozen rows — the per-row work all happened in the upstream agg
    * that produced `stats`), two 1-row broadcast scalars, zero driver
    * logic and zero loops. If B ≥ Σ avail every source caps at rate 1.
    *
    * `stats` rows: (source, avail, w); rows with w ≤ 0 or NULL avail
    * are dropped (a zero-weight source gets no allocation by
    * definition; ordering NULL ratios differs across engines, so they
    * never enter the sort). Output: (source, avail_tokens, target_w,
    * alloc_tokens, rate, capped) — alloc/rate round2, Σ alloc = B
    * (up to the last uncapped source's rounding).
    */
  def mixtureFit(stats: DataFrame, budgetFrac: Double = 0.5,
                 srcCol: String = "source", availCol: String = "avail",
                 wCol: String = "w"): DataFrame =
    waterLevel(stats, budgetFrac, srcCol, availCol, wCol)
      .select(col("source"),
        col("a").cast("long").as("avail_tokens"),
        graft.functions.Fns.round2(col("w")).as("target_w"),
        graft.functions.Fns.round2(
          when(col("capped"), col("a"))
            .otherwise(col("lamstar") * col("w"))).as("alloc_tokens"),
        graft.functions.Fns.round2(
          when(col("capped"), lit(1.0))
            .otherwise(col("lamstar") * col("w") / col("a")))
          .as("rate"),
        col("capped"))

  /** The shared water-level solve behind [[mixtureFit]] and
    * [[mixtureFitApply]]: per source, (a, w, rn, capped, lamstar) with
    * the exact (un-rounded) λ* — the report rounds for presentation,
    * the apply derives hash thresholds from the exact level. */
  private def waterLevel(stats: DataFrame, budgetFrac: Double,
                         srcCol: String, availCol: String,
                         wCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetFrac > 0 && budgetFrac <= 1,
      s"budgetFrac must be in (0, 1]: $budgetFrac")
    val s = stats.select(col(srcCol).as("source"),
        col(availCol).cast("double").as("a"),
        col(wCol).cast("double").as("w"))
      .filter(col("w") > 0 && col("a").isNotNull)
    val tot = s.agg(sum(col("a")).as("ta"), sum(col("w")).as("tw"))
    val ord = Window.orderBy(col("r").asc, col("source").asc)
    val pre = ord.rowsBetween(Window.unboundedPreceding, -1)
    // two consumers: the k* agg and the output projection
    val lv = Scope.hold(s.withColumn("r", col("a") / col("w"))
      .crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(ord))
      .withColumn("ap", coalesce(sum(col("a")).over(pre), lit(0.0)))
      .withColumn("wp", coalesce(sum(col("w")).over(pre), lit(0.0)))
      .withColumn("lam",
        (lit(budgetFrac) * col("ta") - col("ap"))
          / nullif(col("tw") - col("wp"), lit(0.0)))
      .withColumn("sat", col("r") <= col("lam")))
    // first unsaturated row pins BOTH k* and λ* — struct-min orders by
    // rn, so the lam rides along with its boundary row
    val kstar = lv.agg(
      min(when(!col("sat"), struct(col("rn"), col("lam")))).as("kl"))
    lv.crossJoin(broadcast(kstar))
      .withColumn("k", col("kl.rn"))
      .withColumn("lamstar", col("kl.lam"))
      .withColumn("capped", col("k").isNull || col("rn") < col("k"))
  }

  /** APPLY the fitted mixture — [[mixtureFit]]'s water level turned
    * into per-source deterministic hash thresholds and executed as one
    * broadcast-join + filter over the corpus (the [[hashSample]]
    * device, per-source p = min(1, λ*·w/avail)): the end-to-end
    * budgeted-mix pass a training-data run actually ships. Every row's
    * verdict is a pure function of (key, source stats), so the kept
    * set is stable across runs, partitionings, and engines; the
    * realized per-source token mass is binomial around its allocation
    * (the standard row-level approximation — [[mixtureSampleByTokens]]
    * documents the same trade). Output: the kept rows of `df`.
    */
  def mixtureFitApply(df: DataFrame, stats: DataFrame,
                      budgetFrac: Double = 0.5,
                      srcCol: String = "source",
                      availCol: String = "avail", wCol: String = "w",
                      keyCol: String = "doc_id",
                      salt: String = "graft-fit"): DataFrame = {
    val thr = waterLevel(stats, budgetFrac, srcCol, availCol, wCol)
      .select(col("source").as(srcCol),
        floor(least(lit(1.0),
          when(col("capped"), lit(1.0))
            .otherwise(col("lamstar") * col("w") / col("a")))
          * lit(HashRange)).cast("long").as("_thr"))
    df.join(broadcast(thr), srcCol)
      .filter(hashValue(col(keyCol), salt) < col("_thr"))
      .drop("_thr")
  }

  /** [[mixtureFit]] with per-source FLOORS — the fairness knob a
    * multilingual mix actually needs (min tokens per language): each
    * source is guaranteed at least `floorCol` tokens (clamped to its
    * avail), and the REMAINING budget water-fills by weight exactly as
    * the unconstrained solve does. Per source the allocation as a
    * function of the level λ is clamp(λ·w, lo, a) with lo =
    * min(floor, a) — piecewise linear with TWO breakpoint classes
    * (leave-floor at lo/w, hit-cap at a/w), so the solve explodes each
    * source into its two events, sorts them once, and finds the
    * interval whose candidate level lands inside it — still prefix-sum
    * windows over the enum-sized source table, zero driver logic.
    * Allocations: floor-bound sources sit at lo (λ* below their
    * leave-floor point), capped sources at a, active sources at λ*·w;
    * Σ alloc = budget by construction.
    *
    * Infeasible floors (Σ lo > budget) RAISE in-plan — silently
    * shrinking a fairness guarantee is the one thing this operator
    * must never do. `budgetFrac` is strict (0, 1): at 1.0 the solve is
    * vacuous (keep everything; no level exists once every source is
    * capped). Sources with w <= 0 or NULL avail are dropped (the
    * [[mixtureFit]] contract — a floor needs a positive weight to
    * define its leave-floor breakpoint).
    * Output: (source, avail_tokens, target_w, floor_tokens,
    * alloc_tokens, rate, capped, floored). */
  def mixtureFitFloors(stats: DataFrame, budgetFrac: Double = 0.5,
                       srcCol: String = "source",
                       availCol: String = "avail", wCol: String = "w",
                       floorCol: String = "floor_tokens"): DataFrame =
    floorsLevel(stats, budgetFrac, srcCol, availCol, wCol, floorCol)
      .select(col("source"),
        col("a").cast("long").as("avail_tokens"),
        graft.functions.Fns.round2(col("w")).as("target_w"),
        graft.functions.Fns.round2(col("lo")).as("floor_tokens"),
        graft.functions.Fns.round2(
          when(col("lamstar").isNull, raise_error(lit(
            "mixtureFitFloors: floors infeasible — sum of floors " +
              "exceeds the budget")))
            .when(col("a") / col("w") <= col("lamstar"), col("a"))
            .when(col("lo") / col("w") > col("lamstar"), col("lo"))
            .otherwise(col("lamstar") * col("w"))).as("alloc_tokens"),
        graft.functions.Fns.round2(
          when(col("a") / col("w") <= col("lamstar"), lit(1.0))
            .when(col("lo") / col("w") > col("lamstar"),
              col("lo") / nullif(col("a"), lit(0.0)))
            .otherwise(col("lamstar") * col("w")
              / nullif(col("a"), lit(0.0)))).as("rate"),
        (col("a") / col("w") <= col("lamstar")).as("capped"),
        (col("lo") / col("w") > col("lamstar")).as("floored"))

  /** APPLY the floored mixture — [[mixtureFitFloors]]' level turned
    * into per-source deterministic hash thresholds (EXACT rate, not
    * the round2 report value) and executed as one broadcast-join +
    * filter over the corpus, the same end-to-end pass as
    * [[mixtureFitApply]] with the fairness floors honored: floor-bound
    * sources keep at rate lo/avail, capped sources at 1, active
    * sources at λ*·w/avail. The realized per-source token mass is
    * binomial around its allocation — a FLOOR is therefore guaranteed
    * in expectation, the standard row-level approximation
    * ([[mixtureFitApply]] documents the same trade; a hard realized
    * floor needs the token-ordered prefix cut, [[tokenBudgetSelect]]'s
    * device). Infeasible floors raise through the threshold
    * projection, same as the report. Output: the kept rows of `df`. */
  def mixtureFitFloorsApply(df: DataFrame, stats: DataFrame,
                            budgetFrac: Double = 0.5,
                            srcCol: String = "source",
                            availCol: String = "avail",
                            wCol: String = "w",
                            floorCol: String = "floor_tokens",
                            keyCol: String = "doc_id",
                            salt: String = "graft-fit"): DataFrame = {
    val thr = floorsLevel(stats, budgetFrac, srcCol, availCol, wCol,
        floorCol)
      .select(col("source").as(srcCol),
        floor(least(lit(1.0),
          when(col("lamstar").isNull, raise_error(lit(
            "mixtureFitFloorsApply: floors infeasible — sum of " +
              "floors exceeds the budget")))
            .when(col("a") / col("w") <= col("lamstar"), lit(1.0))
            .when(col("lo") / col("w") > col("lamstar"),
              col("lo") / nullif(col("a"), lit(0.0)))
            .otherwise(col("lamstar") * col("w")
              / nullif(col("a"), lit(0.0))))
          * lit(HashRange)).cast("long").as("_thr"))
    df.join(broadcast(thr), srcCol)
      .filter(hashValue(col(keyCol), salt) < col("_thr"))
      .drop("_thr")
  }

  /** The shared floors water solve behind [[mixtureFitFloors]] and
    * [[mixtureFitFloorsApply]]: per source, (source, a, w, lo) with
    * the exact (un-rounded) level λ* attached — the report rounds for
    * presentation, the apply derives hash thresholds from the exact
    * level (the [[waterLevel]] split, floors edition; λ* is NULL iff
    * the floors are infeasible, and both consumers raise on it). */
  private def floorsLevel(stats: DataFrame, budgetFrac: Double,
                          srcCol: String, availCol: String,
                          wCol: String, floorCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetFrac > 0 && budgetFrac < 1,
      s"budgetFrac must be in (0, 1) for the floors solve: $budgetFrac")
    require(stats.columns.contains(floorCol),
      s"mixtureFitFloors: stats frame has no column '$floorCol' " +
        s"(columns: ${stats.columns.mkString(", ")})")
    // two consumers: the event solve + the output projection
    val s = Scope.hold(stats.select(col(srcCol).as("source"),
        col(availCol).cast("double").as("a"),
        col(wCol).cast("double").as("w"),
        greatest(lit(0.0),
          coalesce(col(floorCol).cast("double"), lit(0.0))).as("f"))
      .filter(col("w") > 0 && col("a").isNotNull)
      .withColumn("lo", least(col("f"), col("a"))))
    val tot = s.agg(sum(col("a")).as("ta"), sum(col("w")).as("tw"),
      sum(col("lo")).as("tl"))
    // the two event classes; ty orders a source's leave-floor event
    // before its hit-cap event on ties (lo = a makes them coincide)
    val ev = s.select(col("source"), (col("lo") / col("w")).as("re"),
        (-col("lo")).as("dlo"), col("w").as("dw"),
        lit(0.0).as("da"), lit(0).as("ty"))
      .unionByName(s.select(col("source"), (col("a") / col("w")).as("re"),
        lit(0.0).as("dlo"), (-col("w")).as("dw"),
        col("a").as("da"), lit(1).as("ty")))
    // global window over 2·|sources| event rows — enum-sized by the
    // same argument as waterLevel's (the sanctioned solve windows)
    val ord = Window.orderBy(col("re").asc, col("source").asc,
      col("ty").asc)
    val run = ord.rowsBetween(Window.unboundedPreceding, 0)
    val lv = ev.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(ord))
      .withColumn("lox", sum(col("dlo")).over(run))
      .withColumn("wa", sum(col("dw")).over(run))
      .withColumn("ac", sum(col("da")).over(run))
      .withColumn("rnext", lead(col("re"), 1).over(ord))
      // budget mass at level λ in this interval:
      //   (tl + lox) floor-bound + ac capped + λ·wa active
      .withColumn("cand",
        (lit(budgetFrac) * col("ta") - col("tl") - col("lox")
          - col("ac")) / nullif(col("wa"), lit(0.0)))
      .withColumn("ok", col("cand").isNotNull &&
        col("cand") >= col("re") &&
        (col("rnext").isNull || col("cand") < col("rnext")))
    // first valid interval pins λ*; none valid ⇔ Σ lo > budget
    val lam = lv.agg(min(when(col("ok"),
        struct(col("rn"), col("cand")))).as("kl"))
      .select(col("kl.cand").as("lamstar"))
    s.crossJoin(broadcast(lam))
  }

  /** Temperature-scaled mixture resampling — the multilingual-corpus
    * reweighting trick (mBERT/XLM-R style): stratum shares are
    * rebalanced toward count^(1/T), down-weighting dominant strata and
    * (relatively) up-weighting rare ones; T=1 is the identity mix, T→∞
    * the uniform mix. Implemented as [[mixtureSample]]'s in-plan
    * threshold machinery with DERIVED weights w_s = count_s^(1/T):
    * the keep fraction w_s·T* / count_s is scale-invariant in w, so
    * no normalizing share sum exists anywhere — which is what makes
    * the operator bit-replayable (a Σ over strata would be a fold
    * whose order both engines must pin).
    *
    * Default T=2 computes the exponent with `sqrt`, which IEEE 754
    * requires to be correctly rounded — the thresholds are
    * bit-identical in any engine. Other temperatures go through
    * `pow` (within-1-ulp, not correctly rounded) — fine in practice
    * but not oracle-pinnable, hence the gate runs T=2. The smallest
    * stratum always keeps 100% (T* = min sqrt(count)); every other
    * stratum keeps sqrt(count_min/count_s).
    */
  def temperatureMixture(df: DataFrame, temperature: Double = 2.0,
                         stratumCol: String = "lang",
                         keyCol: String = "doc_id",
                         salt: String = "graft"): DataFrame = {
    require(temperature >= 1.0, s"temperature < 1 up-samples: $temperature")
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("_c"))
    val withW = counts.withColumn("_w",
      if (temperature == 2.0) sqrt(col("_c"))
      else pow(col("_c"), lit(1.0 / temperature)))
    val tstar = withW.agg(min(col("_c") / col("_w")).as("_tstar"))
    val thresholds = withW.crossJoin(broadcast(tstar))
      .select(col(stratumCol),
        floor(col("_w") * col("_tstar") / col("_c") * lit(HashRange))
          .cast("long").as("_thr"))
    df.join(broadcast(thresholds), stratumCol)
      .filter(hashValue(col(keyCol), salt) < col("_thr"))
      .drop("_thr")
  }

  /** Curriculum binning, exact form: rank every row by (score, key)
    * and deal rows into `nBins` equal buckets — `ntile` over a GLOBAL
    * sort. The key tie-break is mandatory: `ntile` over a non-total
    * order assigns ties by arrival order (nondeterministic under
    * shuffle). This is the baseline semantics; the global window is
    * the classic one-reducer sort hazard at corpus scale —
    * [[curriculumBinsScalable]] is the 100 TB path.
    * Output: original columns + `bin` (1-based).
    */
  def curriculumBins(df: DataFrame, scoreCol: String, nBins: Int = 10,
                     keyCol: String = "doc_id"): DataFrame = {
    require(nBins > 0, s"nBins must be positive: $nBins")
    // r14 (VERDICT-r13 item 5): exact ntile without the single-
    // partition window — two-pass global rank, then [[ntileOf]].
    // Bit-identical to ntile(nBins).over(orderBy(score, key)): the
    // order is total, so rank fixes the bucket exactly.
    val ranked = globalRowNumber(df,
      Seq(col(scoreCol).asc, col(keyCol).asc), "_i")
    val tot = ranked.agg(count(lit(1)).as("_n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("bin", ntileOf(col("_i"), col("_n"), nBins))
      .drop("_i", "_n")
  }

  /** Curriculum binning, scalable form — VALUE-quantile bins from the
    * score histogram: aggregate counts per distinct score (a keyed
    * map-side-combined agg), take the running total over the DISTINCT
    * scores only (the window touches score-cardinality rows, not the
    * corpus — the same bounded-window argument as the PQ codebooks),
    * and assign every row of a score block the bin of the block's
    * FIRST row, `ceil((cum−c+1)·nBins/N)` (block-start keeps low bins
    * populated under heavy ties; block-end would drain them). No
    * global row sort anywhere; the join back is keyed on the score
    * (broadcast — the histogram is score-cardinality-sized).
    *
    * Semantics differ from [[curriculumBins]] deliberately: a tie
    * block lands WHOLE in one bin (value-quantile binning) instead of
    * being split positionally across bins, so bin populations are
    * equal only up to tie-block granularity — the honest trade for
    * removing the global sort, and fully deterministic/SQL-replayable
    * (ntile's tie-splitting needs the total order this form avoids).
    * Output: original columns + `bin` (1-based).
    */
  def curriculumBinsScalable(df: DataFrame, scoreCol: String,
                             nBins: Int = 10): DataFrame = {
    require(nBins > 0, s"nBins must be positive: $nBins")
    // Both windows ride the SAME histogram sort: _cum is the running
    // total, _n the grand total from an unbounded frame — N comes out
    // of the histogram pass itself, not a second scan of df (a
    // df.count() here would be a third full read of the corpus).
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val binned = df.groupBy(scoreCol).agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(wCum))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .select(col(scoreCol),
        ceil((col("_cum") - col("_c") + 1) * lit(nBins.toDouble)
          / col("_n").cast("double")).cast("long").as("bin"))
    df.join(broadcast(binned), scoreCol)
  }

  /** Epoch-repeat upsampling — the "N epochs of source s" mixing step
    * of a pretraining data recipe (e.g. 2.5 epochs of wiki, 1 epoch of
    * web): each row of stratum s explodes into `ceil(epochs_s)` copies
    * tagged `epoch` = 1..k; copies up to `floor(epochs_s)` are
    * unconditional, and the one extra copy of a fractional epoch is
    * kept for a deterministic hash-chosen `frac(epochs_s)` subset of
    * the stratum — so stratum s contributes EXACTLY count_s·epochs_s
    * rows in expectation with zero variance across runs/engines (the
    * same docs repeat, the same docs make the partial epoch). Strata
    * without a factor drop (same contract as [[mixtureSample]]).
    *
    * All three per-stratum constants (floor, ceil, partial-epoch
    * threshold) are derived in Scala once and land in the plan as a
    * literal when/otherwise chain — no join, no shuffle; the explode
    * is a pure per-row Generate that scales with OUTPUT size. The
    * ≤ 64-epoch bound keeps a fat-fingered factor from exploding the
    * corpus 1000×. Output: input columns + `epoch` (1-based BIGINT).
    */
  def repeatEpochs(df: DataFrame, epochs: Map[String, Double],
                   stratumCol: String = "lang",
                   keyCol: String = "doc_id",
                   salt: String = "graft-ep"): DataFrame = {
    require(epochs.nonEmpty && epochs.values.forall(e => e > 0 && e <= 64),
      "epoch factors must be in (0, 64]")
    def chain(f: Double => Column): Column =
      epochs.toSeq.sortBy(_._1).foldRight(lit(null).cast("long")) {
        case ((s, e), rest) =>
          when(col(stratumCol) === s, f(e)).otherwise(rest)
      }
    val full = chain(e => lit(math.floor(e).toLong))
    val ceilE = chain(e => lit(math.ceil(e).toLong))
    val thr = chain(e => lit(thresholdFor(e - math.floor(e))))
    df.filter(col(keyCol).isNotNull)
      .withColumn("_full", full)
      .withColumn("_ceil", ceilE)
      .withColumn("_thr", thr)
      .filter(col("_ceil").isNotNull)
      .withColumn("epoch", explode(sequence(lit(1L), col("_ceil"))))
      .filter(col("epoch") <= col("_full") ||
        hashValue(col(keyCol), salt) < col("_thr"))
      .drop("_full", "_ceil", "_thr")
  }

  /** Token-budget selection: keep documents in quality order
    * (`scoreCol` desc, `keyCol` asc — a pinned total order) while the
    * running token total stays within `budget` — the "take the best B
    * tokens" step of corpus curation. PREFIX semantics: the kept set is
    * the longest prefix of the quality order whose inclusive token sum
    * is ≤ budget (no first-fit backfilling — a doc that overflows the
    * budget does not let a later, smaller doc jump it; that would be a
    * knapsack, not a deterministic cut).
    *
    * No global row sort. Same shape as [[capPerStratum]]: a
    * per-distinct-score token histogram (keyed map-side-combined agg;
    * the running window touches score-cardinality rows only) locates
    * the boundary score block — blocks wholly inside the budget pass
    * through unsorted, blocks past it drop, and only the ONE boundary
    * block (the docs sharing the cut-off score) is window-sorted by key
    * for the remaining token allowance. At corpus scale this sorts one
    * tie block instead of the corpus. NULL keys drop;
    * `scoreCol`/`tokensCol` must be non-null (a NULL score has no place
    * in a total order — filter upstream).
    */
  def tokenBudgetSelect(df: DataFrame, budget: Long,
                        tokensCol: String = "n_tokens",
                        scoreCol: String = "score",
                        keyCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 0, s"budget must be non-negative: $budget")
    val wcum = Window.orderBy(col("_s").desc)
    // both arms join against the histogram — persist the (tiny,
    // score-cardinality-sized) subtree so the corpus agg runs once
    val hist = Scope.hold(df.filter(col(keyCol).isNotNull)
      .groupBy(col(scoreCol).as("_s"))
      .agg(sum(col(tokensCol)).as("_t"))
      .withColumn("_below", sum("_t").over(wcum) - col("_t")))
    val keyed = df.filter(col(keyCol).isNotNull)
      .join(broadcast(hist), col(scoreCol) === col("_s"))
    val whole = keyed.filter(col("_below") + col("_t") <= budget)
    // at most one boundary block exists → the window sorts only the
    // rows sharing the cut-off score
    val wb = Window.partitionBy(col("_s")).orderBy(col(keyCol).asc)
    val topped = keyed
      .filter(col("_below") < budget &&
        col("_below") + col("_t") > budget)
      .withColumn("_cum", sum(col(tokensCol)).over(wb))
      .filter(col("_below") + col("_cum") <= budget)
      .drop("_cum")
    val aux = Seq("_s", "_t", "_below")
    whole.drop(aux: _*).unionByName(topped.drop(aux: _*))
  }

  /** Deterministic stratified sample: per-stratum fractions, keyed on
    * `keyCol`. Strata missing from `fractions` use `defaultFraction`.
    * The fraction map is a literal when/otherwise chain (stays in
    * codegen — no join; stratum cardinality is config-sized).
    */
  def stratifiedSample(df: DataFrame, fractions: Map[String, Double],
                       stratumCol: String = "lang",
                       defaultFraction: Double = 0.0,
                       keyCol: String = "doc_id",
                       salt: String = "graft"): DataFrame = {
    val threshold = fractions.toSeq.sortBy(_._1)
      .foldRight(lit(thresholdFor(defaultFraction))) {
        case ((stratum, p), rest) =>
          when(col(stratumCol) === stratum, lit(thresholdFor(p)))
            .otherwise(rest)
      }
    df.filter(hashValue(col(keyCol), salt) < threshold)
  }

  /** Class-balanced downsample: every stratum capped to the SMALLEST
    * stratum's size — the classifier-training counterpart of
    * [[capPerStratum]] where the cap is derived from the data instead
    * of passed in (majority classes downsample, the minority class
    * survives whole). The cap is a 1-row broadcast (min over the
    * stratum-count aggregate), membership is the same deterministic
    * (md5 hash, key) rank order as every sampler here, and NULL keys
    * drop (the capPerStratum contract). At a multi-million cap swap
    * the row_number window for the boundary-bucket construction of
    * [[capPerStratum]] — identical kept set. Output: the input rows of
    * the balanced sample.
    */
  def balanceClasses(df: DataFrame, stratumCol: String = "lang",
                     keyCol: String = "doc_id",
                     salt: String = "graft-bal"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = df.filter(col(keyCol).isNotNull)
    val cap = d.groupBy(stratumCol).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("_cap"))
    val w = Window.partitionBy(stratumCol)
      .orderBy(hashValue(col(keyCol), salt).asc, col(keyCol).asc)
    d.withColumn("_rn", row_number().over(w))
      .crossJoin(broadcast(cap))
      .filter(col("_rn") <= col("_cap"))
      .drop("_rn", "_cap")
  }

  /** Hashed-feature bucket count for DSIR — the one hash both engines
    * derive the feature space from. */
  val DsirBuckets = 256

  /** DSIR-style importance SELECTION (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): pick the raw-corpus documents whose
    * hashed-n-gram distribution looks most like a TARGET distribution,
    * by per-document importance log-weight
    * `log w(d) = Σ_features log( p_target(b) / p_raw(b) )`
    * over a bag of hashed unigram+bigram features (the paper's hashed
    * n-gram parameterization — two smoothed multinomials over
    * [[DsirBuckets]] buckets, add-one smoothing). Here the target is
    * the `targetLang` slice of the corpus itself (the quality-proxy
    * choice a pipeline makes when it has a trusted subset rather than
    * an external corpus) and selection is deterministic top-k by log
    * weight — the τ→0 limit of the paper's Gumbel resampling, which is
    * the variant an oracle can replay exactly.
    *
    * Numeric determinism: every count is an exact BIGINT; each
    * bucket's log-ratio unfolds into FOUR `ln` calls on
    * exactly-representable (< 2^53) doubles and is floored ONCE onto
    * the 1e-9 grid (the samp_weighted_k device — a last-ulp ln()
    * disagreement cannot reorder the race beyond the grid), so the
    * per-document sum is again exact BIGINT arithmetic and the top-k
    * race has no float path at all.
    *
    * Scale posture: one tokenize pass feeds (a) the bucket-count
    * aggregation — ≤ [[DsirBuckets]] rows whatever the corpus size,
    * with the target slice counted by a conditional sum in the SAME
    * pass, no second scan — and (b) the per-doc score, a broadcast
    * join against the bucket-sized log-ratio table + one keyed sum;
    * the final top-k is TakeOrderedAndProject. No shuffle touches
    * anything wider than (doc_id, bucket). Documents with no features
    * (empty after normalization) have no weight and cannot be
    * selected.
    * Output: (doc_id, n_feats, logw_q) — logw_q in 1e-9 log units —
    * the k highest-weight docs, ties pinned doc_id asc. */
  /** The hashed feature bag both DSIR halves share: one (doc, lang,
    * bucket) row per unigram AND per adjacent bigram of the normalized
    * text — the paper's hashed n-gram parameterization. */
  private def dsirFeats(docs: DataFrame, idCol: String,
                        textCol: String, langCol: String): DataFrame = {
    val t = filter(split(TextStats.normalized(col(textCol)), " "),
      x => x =!= "")
    val bi = when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat(element_at(t, i), lit("_"), element_at(t, i + 1))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        explode(concat(t, bi)).as("f"))
      .select(col("doc_id"), col("lang"),
        (hashValue(col("f"), "graft-dsir") % DsirBuckets).as("b"))
  }

  /** The ≤[[DsirBuckets]]-row gridded log-ratio table off a feature
    * bag: raw + target bucket counts in ONE keyed pass (target slice
    * via conditional sum — no second scan), add-one smoothing, each
    * ratio = four ln() calls on exactly-representable doubles floored
    * ONCE to the 1e-9 grid. `cnt` is held (two consumers: the totals
    * row and the ratio projection) — bucket-sized. */
  private def dsirLogRatiosOn(feats: DataFrame,
                              targetLang: String): DataFrame = {
    val dims = DsirBuckets
    val cnt = Scope.hold(feats.groupBy("b")
      .agg(count(lit(1)).as("rc"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L))
          .as("tc")))
    val tot = cnt.agg(sum("rc").as("rtot"), sum("tc").as("ttot"))
    cnt.crossJoin(broadcast(tot))
      .select(col("b"),
        floor((log(col("tc") + 1) - log(col("rc") + 1)
          + log(col("rtot") + dims) - log(col("ttot") + dims))
          * 1e9).cast("long").as("lr"))
  }

  /** Per-doc importance log-weights off a feature bag and a (b, lr)
    * table: one broadcast join + one keyed BIGINT sum. Documents with
    * no features have no weight and emit no row. */
  private def dsirScoreOn(feats: DataFrame, lr: DataFrame): DataFrame =
    feats
      .join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr").as("logw_q"))

  def dsirSelect(docs: DataFrame, targetLang: String = "en",
                 k: Int = 200, idCol: String = "doc_id",
                 textCol: String = "text",
                 langCol: String = "lang"): DataFrame = {
    // one tokenize pass; cached because the bucket-count aggregation
    // and the per-doc scoring sum both consume it and the output plan
    // depends on the cache (the cdcDedupRewrite convention)
    val feats = Scope.hold(dsirFeats(docs, idCol, textCol, langCol))
    dsirScoreOn(feats, dsirLogRatiosOn(feats, targetLang))
      .orderBy(col("logw_q").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Persist the DSIR bucket log-ratio table as a parquet artifact —
    * the train-once/serve-many split of [[dsirSelect]] (the
    * lrArtifactWrite precedent): derive the target-vs-raw bucket LMs
    * on the reference corpus ONCE, ship the ≤[[DsirBuckets]]-row
    * table, and score any batch or stream against it without ever
    * re-deriving the LMs. Gridded BIGINTs round-trip parquet exactly,
    * so served scores are bit-identical to in-plan ones. */
  def dsirIndexWrite(docs: DataFrame, dir: String,
                     targetLang: String = "en",
                     idCol: String = "doc_id", textCol: String = "text",
                     langCol: String = "lang"): Unit =
    dsirLogRatiosOn(dsirFeats(docs, idCol, textCol, langCol), targetLang)
      .coalesce(1).write.mode("overwrite").parquet(dir)

  /** Score documents against a persisted [[dsirIndexWrite]] table —
    * the [[dsirScoreOn]] tail verbatim over the re-read
    * broadcast-sized artifact: a stateless projection + broadcast
    * join + keyed sum, so it composes into streaming foreachBatch
    * unchanged (per-row purity under a frozen table).
    * Output: (doc_id, n_feats, logw_q) for every doc with features. */
  def dsirScoreFromIndex(docs: DataFrame, dir: String,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         langCol: String = "lang"): DataFrame =
    dsirScoreOn(dsirFeats(docs, idCol, textCol, langCol),
      docs.sparkSession.read.parquet(dir))

  /** DSIR against an EXTERNAL target corpus — the paper's actual
    * setup (target = a trusted reference corpus, raw = the crawl;
    * [[dsirSelect]]'s target-is-a-slice-of-the-corpus form is the
    * degenerate case): the target LM counts come from a SEPARATE
    * frame, so buckets can exist on either side only — the bucket
    * tables full-outer merge and add-one smoothing covers the zeros
    * (an unseen-in-target bucket scores log(1/(rc+1)) + C, the
    * correct penalty). Scored set = the raw corpus only. Same grid
    * discipline and scale posture as [[dsirSelect]]: two tokenize
    * passes (one per corpus), bucket-bounded counts, broadcast
    * log-ratio join, TakeOrderedAndProject top-k.
    * Output: (doc_id, n_feats, logw_q) — raw-corpus doc ids. */
  def dsirSelectAgainst(corpus: DataFrame, target: DataFrame,
                        k: Int = 200, idCol: String = "doc_id",
                        textCol: String = "text",
                        langCol: String = "lang"): DataFrame = {
    val dims = DsirBuckets
    // raw-side feats feed both the bucket counts and the scoring sum
    // (the dsirSelect cache convention)
    val rf = Scope.hold(dsirFeats(corpus, idCol, textCol, langCol))
    val rc = rf.groupBy("b").agg(count(lit(1)).as("rc"))
    val tc = dsirFeats(target, idCol, textCol, langCol)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val cnt = Scope.hold(rc.join(tc, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc")))
    val tot = cnt.agg(sum("rc").as("rtot"), sum("tc").as("ttot"))
    val lr = cnt.crossJoin(broadcast(tot))
      .select(col("b"),
        floor((log(col("tc") + 1) - log(col("rc") + 1)
          + log(col("rtot") + dims) - log(col("ttot") + dims))
          * 1e9).cast("long").as("lr"))
    rf.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("lr").as("logw_q"))
      .orderBy(col("logw_q").desc, col("doc_id").asc)
      .limit(k)
  }

  /** DSIR GUMBEL RESAMPLING — the paper's actual selection step
    * (sampling without replacement ∝ importance weight w = e^logw),
    * derandomized: by the Gumbel-top-k identity, drawing k docs
    * without replacement ∝ w is EXACTLY taking the top k of
    * `g_d + logw_d` where g_d = −ln(−ln u_d) is a per-doc Gumbel from
    * its own md5-uniform — so the whole race runs in LOG domain and
    * never evaluates exp() at all (the [[weightedBottomK]] exponential
    * race, shifted to Gumbel keys). [[dsirSelect]] is this operator's
    * τ→0 limit; at τ = 1 the tail of the weight distribution gets
    * proportional representation instead of hard truncation — the
    * diversity/purity knob the paper tunes. The race key is floored
    * ONCE onto the 1e-9 grid (a last-ulp ln() disagreement cannot
    * reorder the race beyond the grid); grid ties pin doc_id asc.
    * Still one tokenize pass + a bucket join + TakeOrderedAndProject.
    * Output: (doc_id, n_feats, logw_q, gkey_q) — the k sampled docs. */
  def dsirResample(docs: DataFrame, targetLang: String = "en",
                   k: Int = 200, idCol: String = "doc_id",
                   textCol: String = "text", langCol: String = "lang",
                   salt: String = "graft-dsir-g"): DataFrame = {
    val feats = Scope.hold(dsirFeats(docs, idCol, textCol, langCol))
    // u strictly inside (0, 1): h + 0.5 can reach neither 0 nor 2^32,
    // so −ln(−ln u) never hits ±∞ (u = 1 would — the (h+1)/2^32 form
    // of the E-S race is benign there but NOT under a Gumbel)
    val u = (hashValue(col("doc_id"), salt) + 0.5) / lit(HashRange)
    val gumbel = -log(-log(u))
    dsirScoreOn(feats, dsirLogRatiosOn(feats, targetLang))
      .select(col("doc_id"), col("n_feats"), col("logw_q"),
        floor((gumbel + col("logw_q") / 1e9) * 1e9).cast("long")
          .as("gkey_q"))
      .orderBy(col("gkey_q").desc, col("doc_id").asc)
      .limit(k)
  }
}
