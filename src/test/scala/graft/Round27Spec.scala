package graft

import org.apache.spark.sql.functions._

import graft.operators.{Classify, Graph, Relational, Sampling}

/** Round-13 additions: the streaming histogram maintainer (closing the
  * mergeable-sketch maintainer matrix), DSIR importance selection, and
  * the deterministic random-walk corpus generator.
  */
class Round27Spec extends SparkSpec {

  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_spec_$tag").toString

  // --- EventsStream.histMaintain ---

  test("histMaintain: the 3-batch maintained histogram serves the " +
    "same quantile audit as a from-scratch batch build") {
    val dir = "/root/testdata/sf0.001"
    val maintained = graft.streaming.EventsStream.histMaintain(
      spark, dir, scratch("histstage"), scratch("histart"))
    val batch = Relational.histQuantiles(
      Relational.histBuild(Tables.load(spark, dir, "events")))
    assert(rows(maintained) === rows(batch))
    assert(rows(maintained).nonEmpty)
  }

  // --- Sampling.dsirSelect ---

  /** Corpus where the target slice (en) has a distinctive vocabulary
    * and ONE non-target doc shares it — the doc DSIR exists to find. */
  private def dsirCorpus = {
    val en = (0L until 40L).map(i =>
      (i, "alpha beta gamma delta epsilon " * 4, "en"))
    val es = (100L until 140L).map(i =>
      (i, "uno dos tres cuatro cinco " * 4, "es"))
    val ringer = Seq((999L, "alpha beta gamma delta epsilon " * 4, "de"))
    (en ++ es ++ ringer).toDF("doc_id", "text", "lang")
  }

  test("dsirSelect: a non-target doc with target-like text outranks " +
    "every target-unlike doc") {
    val sel = Sampling.dsirSelect(dsirCorpus, targetLang = "en", k = 45)
      .collect()
    assert(sel.length === 45)
    val byId = sel.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_q")).toMap
    assert(byId.contains(999L), "the target-like ringer must be selected")
    val esScores = byId.collect { case (id, s) if id >= 100 && id < 140 => s }
    // the ringer carries the target vocabulary: strictly positive log
    // weight, above every selected es doc
    assert(byId(999L) > 0L)
    esScores.foreach(s => assert(byId(999L) > s))
    Scope.releaseRoot()
  }

  test("dsirSelect: deterministic across runs and pure top-k " +
    "(k larger than the corpus returns everything with features)") {
    val a = rows(Sampling.dsirSelect(dsirCorpus, k = 10))
    Scope.releaseRoot()
    val b = rows(Sampling.dsirSelect(dsirCorpus, k = 10))
    Scope.releaseRoot()
    assert(a === b)
    val all = Sampling.dsirSelect(dsirCorpus, k = 10000).count()
    assert(all === 81L)
    Scope.releaseRoot()
  }

  // --- Classify.lrCalibration ---

  test("lrCalibration: bins partition the scored corpus, ratios in " +
    "[0,1], and a separable corpus separates the extreme bins") {
    val sep = (0L until 200L).map { i =>
      val en = i % 2 == 0
      val text = if (en) "alpha beta gamma delta epsilon " * 6
                 else "uno dos tres cuatro cinco " * 6
      (i, text.trim, if (en) "en" else "es")
    }.toDF("doc_id", "text", "lang")
    val out = Classify.lrCalibration(sep).collect()
    assert(out.map(_.getAs[Long]("n")).sum === 200L)
    out.foreach { r =>
      val n = r.getAs[Long]("n")
      val np = r.getAs[Long]("n_pos")
      assert(np >= 0L && np <= n)
      val b = r.getAs[Long]("bucket")
      assert(b >= 0L && b <= 9L)
      Seq("mean_p", "frac_pos").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
    }
    // the trained model separates the two classes (Round25/26 pin
    // accuracy 1.0 here), so the highest-score bin must be purely
    // positive and the lowest purely negative
    val byB = out.map(r => r.getAs[Long]("bucket") -> r).toMap
    val hi = byB(byB.keys.max)
    val lo = byB(byB.keys.min)
    assert(hi.getAs[Double]("frac_pos") > lo.getAs[Double]("frac_pos"))
    Scope.releaseRoot()
  }

  // --- Graph.randomWalks ---

  test("randomWalks: one node per (start, step), step 0 is the start, " +
    "every hop follows a real edge, deterministic") {
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    val walks = Graph.randomWalks(orders, lineitem, steps = 3)
    val w = walks.collect()
    val starts = w.map(_.getAs[Long]("start")).distinct
    // exactly steps+1 rows per start, one node per (start, step)
    val perKey = w.groupBy(r =>
      (r.getAs[Long]("start"), r.getAs[Int]("step")))
    assert(perKey.forall(_._2.length == 1))
    assert(w.length === starts.length * 4)
    // step 0 is the start itself
    w.filter(_.getAs[Int]("step") == 0)
      .foreach(r => assert(r.getAs[Long]("node") === r.getAs[Long]("start")))
    // every consecutive hop is an edge of the purchase graph
    val edges = Graph.purchaseEdges(orders, lineitem)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    val byStart = w.groupBy(_.getAs[Long]("start"))
    byStart.values.foreach { rs =>
      val path = rs.sortBy(_.getAs[Int]("step")).map(_.getAs[Long]("node"))
      path.sliding(2).foreach { p =>
        assert(edges.contains((p(0), p(1))),
          s"hop ${p(0)} -> ${p(1)} is not an edge")
      }
    }
    // deterministic
    val again = Graph.randomWalks(orders, lineitem, steps = 3)
    assert(rows(walks) === rows(again))
    Scope.releaseRoot()
  }

  test("walkSkipGrams: pair count = sum over positions of in-window " +
    "partners; every pair consistent with the walk rows") {
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    val walks = Graph.randomWalks(orders, lineitem, steps = 4).collect()
      .map(r => (r.getAs[Long]("start"), r.getAs[Int]("step"))
        -> r.getAs[Long]("node")).toMap
    val pairs = Graph.walkSkipGrams(orders, lineitem).collect()
    val nStarts = walks.keys.map(_._1).toSet.size
    // per walk of 5 positions with window 2 the partner counts are
    // 2+3+4+3+2 = 14 ordered pairs
    assert(pairs.length === nStarts * 14)
    pairs.foreach { r =>
      val st = r.getAs[Long]("start")
      val sp = r.getAs[Int]("step")
      val off = r.getAs[Int]("offset")
      assert(off != 0 && math.abs(off) <= 2)
      assert(walks((st, sp)) === r.getAs[Long]("center"))
      assert(walks((st, sp + off)) === r.getAs[Long]("context"))
    }
    Scope.releaseRoot()
  }

  test("dsirSelectAgainst: scores only the raw corpus, prefers the " +
    "target-vocabulary ringer, deterministic") {
    val target = (0L until 40L).map(i =>
      (i, "alpha beta gamma delta epsilon " * 4, "en"))
      .toDF("doc_id", "text", "lang")
    val raw = ((100L until 140L).map(i =>
      (i, "uno dos tres cuatro cinco " * 4, "es"))
      :+ ((999L, "alpha beta gamma delta epsilon " * 4, "de")))
      .toDF("doc_id", "text", "lang")
    val sel = Sampling.dsirSelectAgainst(raw, target, k = 41).collect()
    assert(sel.length === 41)
    val ids = sel.map(_.getAs[Long]("doc_id")).toSet
    assert(ids.forall(id => id >= 100), "only raw-corpus ids selected")
    val byId = sel.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_q")).toMap
    assert(byId.contains(999L))
    byId.collect { case (id, s) if id < 999 => s }
      .foreach(s => assert(byId(999L) > s))
    Scope.releaseRoot()
    val again = rows(Sampling.dsirSelectAgainst(raw, target, k = 41))
    assert(again === rows(
      Sampling.dsirSelectAgainst(raw, target, k = 41)))
    Scope.releaseRoot()
  }

  test("dsirResample: deterministic Gumbel race; the Gumbel noise " +
    "(±~3 log units) cannot flip the huge target/non-target gap") {
    val a = rows(Sampling.dsirResample(dsirCorpus, k = 45))
    Scope.releaseRoot()
    val b = rows(Sampling.dsirResample(dsirCorpus, k = 45))
    Scope.releaseRoot()
    assert(a === b)
    val sel = Sampling.dsirResample(dsirCorpus, k = 45).collect()
    assert(sel.length === 45)
    val byId = sel.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("gkey_q")).toMap
    assert(byId.contains(999L))
    byId.collect { case (id, g) if id >= 100 && id < 140 => g }
      .foreach(g => assert(byId(999L) > g))
    Scope.releaseRoot()
  }

  // --- Relational.conformalForecast ---

  test("conformalForecast: a perfectly periodic stream gets q = 0 and " +
    "coverage 1.0; real data obeys the structural bounds") {
    // one event per day, one type, 42 days — seasonal-naive residuals
    // are all zero, so the conformal half-width must be 0 and every
    // test day is covered
    val periodic = (0 until 42).map { d =>
      (d.toLong, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(d.toLong * 86400 + 3600)),
        1L, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Relational.conformalForecast(periodic).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("q") === 0L)
    assert(out.head.getAs[Double]("coverage") === 1.0)
    assert(out.head.getAs[Long]("n_test") === 14L)
    Scope.releaseRoot()
    val real = Relational.conformalForecast(
      Tables.load(spark, "/root/testdata/sf0.001", "events")).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getAs[Long]("q") >= 0L)
      assert(r.getAs[Long]("n_covered") <= r.getAs[Long]("n_test"))
      val c = r.getAs[Double]("coverage")
      assert(c >= 0.0 && c <= 1.0)
      assert(r.getAs[Long]("n_cal") > 0L)
    }
    Scope.releaseRoot()
  }

  test("conformalMaintain: the 3-batch maintained interval equals the " +
    "one-shot batch conformalForecast") {
    val dir = "/root/testdata/sf0.001"
    val maintained = graft.streaming.EventsStream.conformalMaintain(
      spark, dir, scratch("cfstage"), scratch("cfart"))
    val batch = Relational.conformalForecast(
      Tables.load(spark, dir, "events"))
    assert(rows(maintained) === rows(batch))
    assert(rows(maintained).nonEmpty)
    Scope.releaseRoot()
  }

  // --- Relational.abTest ---

  /** The engine's md5 arm assignment, replayed driver-side. */
  private def armOf(uid: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"graft-ab|$uid".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % 2
  }

  test("abTest: a constructed treatment effect is detected with the " +
    "right sign; arm counts partition the events") {
    val rows0 = (1L to 300L).map { u =>
      val v = if (armOf(u) == 0L) 10.0 + (u % 3) else 1.0 + (u % 3)
      (u, java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(u * 3600)),
        u, "click", v, "{}")
    }
    val ev = rows0.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val out = Relational.abTest(ev).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === 300L)
    assert(r.getAs[Double]("mean_a") > r.getAs[Double]("mean_b"))
    assert(r.getAs[Double]("z_q") > 0.0)
    assert(r.getAs[Boolean]("significant"))
    Scope.releaseRoot()
  }

  test("abTestCuped: regressing out a predictive pre-period covariate " +
    "recovers theta ~ 1 and sharpens the z of a true effect") {
    // per user: one PRE event at the user's base level, one POST event
    // at base + 3 if arm A — the base varies across users (noise the
    // covariate fully explains), the effect is arm-only
    val cutoffSec = 1706616000L
    val rows0 = (1L to 200L).flatMap { u =>
      val base = (u % 7).toDouble * 2.0
      val eff = if (armOf(u) == 0L) 3.0 else 0.0
      Seq(
        (u * 2, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(cutoffSec - 86400)),
          u, "click", base, "{}"),
        (u * 2 + 1, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(cutoffSec + 86400)),
          u, "click", base + eff, "{}"))
    }
    val ev = rows0.toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val cuped = Relational.abTestCuped(ev).collect().head
    val plain = Relational.abTest(
      ev.filter(expr(s"unix_micros(ts) >= ${cutoffSec}000000"))
    ).collect().head
    assert(cuped.getAs[Long]("n_a") + cuped.getAs[Long]("n_b") === 200L)
    val theta = cuped.getAs[Double]("theta_q")
    assert(math.abs(theta - 1.0) < 0.2, s"theta $theta should be ~1")
    assert(cuped.getAs[Boolean]("significant"))
    assert(math.abs(cuped.getAs[Double]("z_q")) >
      math.abs(plain.getAs[Double]("z_q")),
      "CUPED must sharpen the z of a covariate-noised effect")
    Scope.releaseRoot()
  }

  // --- Sampling.dsirIndexWrite / dsirScoreFromIndex ---

  test("dsirScoreFromIndex: served scores are bit-identical to the " +
    "in-plan selection's scores on the training corpus") {
    val dir = scratch("dsiridx")
    Sampling.dsirIndexWrite(dsirCorpus, dir)
    val served = Sampling.dsirScoreFromIndex(dsirCorpus, dir)
    // the in-plan top-everything selection exposes the same scores
    val inPlan = Sampling.dsirSelect(dsirCorpus, k = 10000)
    assert(rows(served.select("doc_id", "n_feats", "logw_q")) ===
      rows(inPlan.select("doc_id", "n_feats", "logw_q")))
    Scope.releaseRoot()
  }
}
