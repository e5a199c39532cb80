package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classify, Dedup, Relational}

/** Round-13 pins: the composed LR pipeline + multiclass teacher
  * (VERDICT r12 tasks 2/4), the winnow artifact split (task 3), the
  * weekly-seasonal forecast family (task 5), the ADVICE r12 contract
  * fixes (lrAuc single-class, manifest schema pin, bloom sentinel),
  * and the quant12 boundary tripwire (task 8).
  */
class Round26Spec extends SparkSpec {

  import spark.implicits._

  /** Binary-separable corpus (the Round25Spec construction). */
  private def sepBinary(n: Long) = (0L until n).map { i =>
    val en = i % 2 == 0
    val text = if (en) "alpha beta gamma delta epsilon " * 6
               else "uno dos tres cuatro cinco " * 6
    (i, text.trim, if (en) "en" else "es")
  }.toDF("doc_id", "text", "lang")

  /** Multiclass-separable corpus: four disjoint vocabularies whose
    * md5 buckets land in four DISTINCT bucket classes (verified:
    * bucket%4 of each vocab's words is 0/1/2/3 respectively), so the
    * dominant-bucket teacher label equals the vocabulary id. */
  private def sepMulti(n: Long) = {
    val vocab = Seq("epsilon zeta mu nu rho",
      "alpha theta iota kappa upsilon", "beta gamma omicron pi tau",
      "delta eta xi phi uno")
    (0L until n).map { i =>
      val c = (i % 4).toInt
      (i, ((vocab(c) + " ") * 8).trim, "en")
    }.toDF("doc_id", "text", "lang")
  }

  // --- ADVICE r12: lrAuc single-class contract ---

  test("lrAuc: an all-NEGATIVE corpus returns exactly one row with " +
    "NULL auc (round-12 dropped it to zero rows)") {
    val mono = (0L until 20L).map(i => (i, "alpha beta " * 5, "es"))
      .toDF("doc_id", "text", "lang")
    val out = Classify.lrAuc(mono).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("pos_cnt") === 0L)
    assert(out.head.getAs[Long]("neg_cnt") === 20L)
    assert(out.head.isNullAt(out.head.fieldIndex("auc")))
    Scope.releaseRoot()
  }

  // --- composed pipeline (VERDICT r12 task 2) ---

  test("lrPipelineReport: one row whose eval and auc sections agree " +
    "with the standalone operators on a separable corpus") {
    val sep = sepBinary(200L)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spec_lrpipe").toString
    val r = Classify.lrPipelineReport(sep, dir).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Double]("accuracy") === 1.0)
    assert(row.getAs[Double]("auc") === 1.0)
    // count identities: n = tp+tn+fp+fn, pos = tp+fn, neg = tn+fp
    assert(row.getAs[Long]("n") ===
      row.getAs[Long]("tp") + row.getAs[Long]("tn") +
        row.getAs[Long]("fp") + row.getAs[Long]("fn"))
    assert(row.getAs[Long]("pos_cnt") ===
      row.getAs[Long]("tp") + row.getAs[Long]("fn"))
    assert(row.getAs[Long]("neg_cnt") ===
      row.getAs[Long]("tn") + row.getAs[Long]("fp"))
    // the artifact the pipeline served from equals lrTrain's weights
    assert(rows(spark.read.parquet(dir).orderBy("j")) ===
      rows(Classify.lrTrain(sep).orderBy("j")))
    Scope.releaseRoot()
  }

  // --- multiclass teacher (VERDICT r12 task 4) ---

  test("lrMulticlass: accuracy >= 0.95 on the class-separable " +
    "construction at shipped params, deterministic run-to-run") {
    val sep = sepMulti(200L)
    val out = Classify.lrMulticlass(sep)
    val acc = out.agg(avg(when(col("y") === col("pred"), 1.0)
      .otherwise(0.0))).collect().head.getDouble(0)
    assert(acc >= 0.95, s"separable multiclass accuracy $acc < 0.95")
    assert(rows(Classify.lrMulticlass(sep)) ===
      rows(Classify.lrMulticlass(sep)))
    Scope.releaseRoot()
  }

  test("lrMulticlass: a token-less document takes teacher class 0 " +
    "(the coalesce pin) and still gets a prediction") {
    val d = sepMulti(40L)
      .unionByName(Seq((99L, "12345 678", "en"))
        .toDF("doc_id", "text", "lang"))
    val r = Classify.lrMulticlass(d).filter(col("doc_id") === 99L)
      .collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("y") === 0L)
    assert(r.head.getAs[Long]("pred") >= 0L)
    Scope.releaseRoot()
  }

  // --- winnow artifact split (VERDICT r12 task 3) ---

  test("winnowRewriteFromIndex: the rewrite served from the persisted " +
    "verified-pair store is bit-identical to the in-plan rewrite") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_spec_winart").toString
    Dedup.winnowPairsWrite(d, dir)
    assert(rows(Dedup.winnowRewriteFromIndex(d, dir)) ===
      rows(Dedup.winnowRewrite(d)))
    Scope.releaseRoot()
  }

  // --- weekly-seasonal forecast family (VERDICT r12 task 5) ---

  test("seasonalMeanFromDaily: hand-computed means of the last 4 " +
    "same-weekday values, zero-fill supplying silent days") {
    val daily =
      ((0L to 27L).map(d => ("a", d, d)) :+ ("b", 3L, 5L))
        .toDF("event_type", "day", "n")
    val got = Relational.seasonalMeanFromDaily(daily)
      .orderBy("event_type", "day").collect()
    // type a: yhat(f) = ((f-7)+(f-14)+(f-21)+(f-28))/4 = f - 17.5
    val a = got.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(1)).toSeq === (28L to 34L))
    assert(a.forall(_.getAs[Long]("n_hist") === 4L))
    assert(a.map(_.getAs[Double]("yhat")).toSeq ===
      (28L to 34L).map(_ - 17.5))
    // type b fired once on day 3 (weekday 3): every forecast is the
    // mean of four zero-filled values except weekday 3's 5/4
    val b = got.filter(_.getString(0) == "b")
    assert(b.map(r => r.getLong(1) -> r.getAs[Double]("yhat")).toMap ===
      (28L to 34L).map(f => f -> (if (f == 31L) 1.25 else 0.0)).toMap)
    Scope.releaseRoot()
  }

  test("seasonalAnomaly: a spike against its own weekday baseline is " +
    "flagged; constant weekdays and short history are not") {
    val daily = (0L to 34L).map { d =>
      val n =
        if (d % 7 != 0L) 2L
        else if (d == 28L) 50L
        else if ((d / 7) % 2 == 0L) 10L else 12L
      ("x", d, n)
    }.toDF("event_type", "day", "n")
    val got = Relational.seasonalAnomalyFromDaily(daily)
    val flagged = got.filter(col("anomaly")).collect()
    assert(flagged.length === 1)
    assert(flagged.head.getAs[Long]("day") === 28L)
    // baseline 10,12,10,12 -> mean 11, sd sqrt(4/3): z = 39/sd = 33.77
    assert(flagged.head.getAs[Double]("z") === 33.77)
    // short history (< minBaseline) scores NULL, never anomalous
    assert(got.filter(col("base_n") < 3 && col("z").isNotNull)
      .count() === 0L)
    Scope.releaseRoot()
  }

  test("periodDetect: a weekly pulse train detects period 7 (the " +
    "multiple-lag tie resolves to the smallest lag)") {
    // days 0..27, 5 events on every 7th day, 1 otherwise: score(7) and
    // score(14) are the identical rational (periodic structure), the
    // (score desc, lag asc) pin keeps the fundamental
    val ev = (0 until 28).flatMap { d =>
      val k = if (d % 7 == 0) 5 else 1
      (0 until k).map(i => ("x", java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(d * 86400L + i))))
    }.toDF("event_type", "ts")
    val got = Relational.periodDetect(ev).collect()
    assert(got.length === 1)
    assert(got.head.getAs[Long]("period") === 7L)
    // L=7: 3 peak-peak pairs of 25 + 18 unit pairs over 21 = 4.43
    assert(got.head.getAs[Double]("score") === 4.43)
    Scope.releaseRoot()
  }

  test("seasonalMeanMaintain: the streamed daily-counter controller " +
    "derives the identical forecast to the one-shot batch") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_smf").toString
    val got = graft.streaming.EventsStream.seasonalMeanMaintain(spark,
      "/root/testdata/sf0.001", s"$root/stage", s"$root/art")
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    assert(rows(got) === rows(Relational.seasonalMeanForecast(ev)))
    Scope.releaseRoot()
  }

  // --- ADVICE r12: manifest schema pin + bloom sentinel ---

  test("manifestWrite records the pin-time schema; readSnapshot " +
    "serves listed files under it (evolution cannot leak)") {
    import graft.io.CompatIo
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_mschema").toString
    (1L to 10L).toDF("a").write.mode("overwrite")
      .parquet(s"$root/data")
    CompatIo.manifestWrite(spark, s"$root/data", s"$root/m1")
    val mf = spark.read.parquet(s"$root/m1")
    assert(mf.columns.contains("schema"))
    val sj = mf.select("schema").collect().map(_.getString(0)).distinct
    assert(sj.length === 1 && sj.head != null)
    // evolve the lake; the m1 snapshot keeps the pinned 1-col schema
    (11L to 15L).map(i => (i, i * 2)).toDF("a", "b")
      .write.mode("append").parquet(s"$root/data")
    val snap = CompatIo.readSnapshot(spark, s"$root/data", s"$root/m1")
    assert(snap.columns.toSeq === Seq("a"))
    assert(snap.count() === 10L)
  }

  test("bloom index carries a sentinel row per scanned file, so an " +
    "all-NULL-key file counts as indexed and never re-scans") {
    import graft.io.CompatIo
    val root = java.nio.file.Files
      .createTempDirectory("graft_spec_bnull").toString
    (1L to 50L).map(i => (i, Some(i)))
      .toDF("id", "k").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/data")
    (51L to 60L).map(i => (i, None: Option[Long]))
      .toDF("id", "k").coalesce(1)
      .write.mode("append").parquet(s"$root/data")
    CompatIo.bloomIndexWrite(spark, s"$root/data", s"$root/idx", "k")
    val idx = spark.read.parquet(s"$root/idx")
    // every lake file has its sentinel, including the all-NULL one
    assert(idx.filter(col("bitpos") === -1L).select("file").distinct()
      .count() === 2L)
    // a no-new-files append adds nothing (no re-scan, no re-index)
    val before = idx.count()
    CompatIo.bloomIndexAppend(spark, s"$root/data", s"$root/idx", "k")
    assert(spark.read.parquet(s"$root/idx").count() === before)
    // lookups ignore sentinels and stay exact
    assert(CompatIo.readWithBloomSkipping(spark, s"$root/data",
      s"$root/idx", "k", 7L).count() === 1L)
  }

  // --- VERDICT r12 task 8: quant12 boundary tripwire ---

  test("quant12 tripwire: every lmScore log-probability in the gate " +
    "fixture sits OFF the cast-vs-floor boundary (a failure here " +
    "means convert the consumer to Fns.quant12 BEFORE a gate flips)") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val t = split(graft.operators.TextStats.normalized(col("text")), " ")
    val bigrams = d.select(
        explode(transform(sequence(lit(1),
          greatest(size(t) - 1, lit(1))),
          i => struct(get(t, i - 1).as("w1"), get(t, i).as("w2"))))
          .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w2").isNotNull)
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum("c2").over(
        org.apache.spark.sql.expressions.Window.partitionBy("w1")))
    val lp = log10(col("c2") / col("c1"))
    val bad = c2.select(col("w1"), col("w2"),
        lp.cast("decimal(20,12)").as("cast_side"),
        graft.functions.Fns.quant12(lp).cast("decimal(20,12)")
          .as("floor_side"))
      .filter(col("cast_side") =!= col("floor_side"))
      .collect()
    assert(bad.isEmpty,
      "boundary-sitting log-probs (cast vs floor grid): " +
        bad.take(5).mkString("; "))
    Scope.releaseRoot()
  }
}
