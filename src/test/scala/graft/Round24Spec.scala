package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling}

/** Round-11 pins, batch 2: weighted fixed-size sampling
  * (Efraimidis-Spirakis exponential race).
  */
class Round24Spec extends SparkSpec {

  import spark.implicits._

  // --- Sampling.weightedBottomK ---

  test("weightedBottomK: exactly k rows, deterministic, and heavy " +
    "weights dominate the winner set") {
    val df = (1L to 200L).toDF("doc_id")
      .withColumn("w", when(col("doc_id") <= 100, lit(1000.0))
        .otherwise(lit(1.0)))
    val s1 = Sampling.weightedBottomK(df, 50, col("w"))
    val got = s1.collect().map(_.getAs[Long]("doc_id"))
    assert(got.length === 50)
    assert(rows(s1) === rows(Sampling.weightedBottomK(df, 50, col("w"))))
    // a 1000:1 rate ratio makes a light-row win a ~1e-3 event per
    // boundary slot; the fixed salt makes the count a constant — pin
    // a conservative floor rather than the exact draw
    assert(got.count(_ <= 100L) >= 45,
      s"heavy rows in top-50: ${got.count(_ <= 100L)}")
  }

  test("weightedBottomK: merge identity — per-part bottom-k then " +
    "re-bottom-k equals the one-shot draw") {
    val df = (1L to 500L).toDF("doc_id")
      .withColumn("w", (col("doc_id") % 13 + 1).cast("double"))
    val parts = Seq(df.filter(col("doc_id") % 3 === 0),
      df.filter(col("doc_id") % 3 === 1),
      df.filter(col("doc_id") % 3 === 2))
    val merged = Sampling.weightedBottomK(
      parts.map(Sampling.weightedBottomK(_, 40, col("w")))
        .reduce(_ unionByName _), 40, col("w"))
    assert(rows(merged) === rows(Sampling.weightedBottomK(df, 40, col("w"))))
  }

  test("weightedBottomK: NULL keys and NULL weights drop; " +
    "non-positive weights raise in-plan") {
    val df = Seq((java.lang.Long.valueOf(1L), java.lang.Double.valueOf(2.0)),
      (null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(5.0)),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[java.lang.Double]),
      (java.lang.Long.valueOf(4L), java.lang.Double.valueOf(1.0)))
      .toDF("doc_id", "w")
    val kept = Sampling.weightedBottomK(df, 10, col("w"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L, 4L))
    val bad = Seq((1L, 2.0), (2L, 0.0)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      Sampling.weightedBottomK(bad, 10, col("w")).collect()
    }
    assert(e.getMessage.contains("weight must be >="))
    // NaN weight: the clean guard, not an opaque ANSI cast error
    val nan = Seq((1L, 2.0), (2L, Double.NaN)).toDF("doc_id", "w")
    val e2 = intercept[Exception] {
      Sampling.weightedBottomK(nan, 10, col("w")).collect()
    }
    assert(e2.getMessage.contains("weight must be >="))
    // sub-MinWeight weight: the same clean guard, not a Long overflow
    // in the 1e-9-grid race key (ADVICE r11: w < ~3e-9 scaled the key
    // past Long.MaxValue and died as an opaque ANSI cast error)
    val tiny = Seq((1L, 2.0), (2L, 1.0e-9)).toDF("doc_id", "w")
    val e3 = intercept[Exception] {
      Sampling.weightedBottomK(tiny, 10, col("w")).collect()
    }
    assert(e3.getMessage.contains("weight must be >="))
    // at exactly MinWeight the race key stays in Long and the row lives
    val edge = Seq((1L, 2.0), (2L, Sampling.MinWeight)).toDF("doc_id", "w")
    assert(Sampling.weightedBottomK(edge, 10, col("w"))
      .collect().length === 2)
  }

  // --- Relational.markovTransitions ---

  test("markovTransitions: per-user successor pairs with event_id " +
    "tie-pinning, probabilities normalized per from-state") {
    import graft.operators.Relational
    // user 1: A B A C; user 2: A B B — the two t=2 events of user 1
    // share a timestamp, event_id orders them (B before A)
    val ev = Seq(
      (1L, 1L, "A", "2026-01-01 00:00:01"),
      (2L, 1L, "B", "2026-01-01 00:00:02"),
      (3L, 1L, "A", "2026-01-01 00:00:02"),
      (4L, 1L, "C", "2026-01-01 00:00:03"),
      (5L, 2L, "A", "2026-01-01 00:00:01"),
      (6L, 2L, "B", "2026-01-01 00:00:02"),
      (7L, 2L, "B", "2026-01-01 00:00:03"))
      .toDF("event_id", "user_id", "event_type", "s")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))
    val out = Relational.markovTransitions(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("p")))).toMap
    // A→B twice (u1: 1→2, u2: 5→6), A→C once (u1: 3→4), B→A once
    // (tie-pinned 2→3), B→B once (u2: 6→7); last events emit nothing
    assert(out === Map(
      ("A", "B") -> ((2L, 0.67)), ("A", "C") -> ((1L, 0.33)),
      ("B", "A") -> ((1L, 0.5)), ("B", "B") -> ((1L, 0.5))))
  }

  // --- Sampling.weightedCapPerStratum ---

  test("weightedCapPerStratum: per-stratum quota, deterministic, " +
    "heavy weights dominate within each stratum") {
    val df = (1L to 400L).toDF("doc_id")
      .withColumn("source", concat(lit("s"), col("doc_id") % 2))
      .withColumn("w", when(col("doc_id") <= 200, lit(1000.0))
        .otherwise(lit(1.0)))
    val s1 = Sampling.weightedCapPerStratum(df, 20, col("w"))
    val perSrc = s1.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSrc === Map("s0" -> 20L, "s1" -> 20L))
    assert(rows(s1) === rows(Sampling.weightedCapPerStratum(df, 20,
      col("w"))))
    val heavy = s1.filter(col("doc_id") <= 200).count()
    assert(heavy >= 36, s"heavy rows in 40 winners: $heavy")
  }

  // --- Relational.cusumChangepoint ---

  test("cusumChangepoint: the scaled cumulative deviation peaks at " +
    "the level shift (hand-computed)") {
    import graft.operators.Relational
    // 10 days at 1/day then 10 days at 3/day: total 40, n_days 20;
    // S*_d = 20*csum_d - rk_d*40 peaks in magnitude at day 10
    // (|S*| = 200; days 9 and 11 give 180)
    val rows0 = for {
      d <- 1 to 20
      i <- 1 to (if (d <= 10) 1 else 3)
    } yield ((d * 10 + i).toLong, 1L, "X", f"2026-01-$d%02d 00:00:01")
    val ev = rows0.toDF("event_id", "user_id", "event_type", "s")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))
    val out = Relational.cusumChangepoint(ev).collect().head
    assert(out.getAs[java.sql.Date]("cp_day").toString === "2026-01-10")
    assert(out.getAs[Long]("max_cusum") === 200L)
    assert(out.getAs[Long]("n_days") === 20L)
  }

  // --- TextStats.winnow ---

  test("winnow: any shared run of >= window+k-1 tokens yields a " +
    "common fingerprint; ties select the rightmost position; the " +
    "kept set is sparser than the shingle set") {
    import graft.operators.TextStats
    // two docs share the 8-token run at different offsets
    val shared = "q w e r t y u i"
    val docs = Seq(
      (1L, s"a b c d $shared x y z"),
      (2L, s"m n $shared o p"))
      .toDF("doc_id", "text")
    val fp = TextStats.winnow(docs).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("fp")).toSet).toMap
    assert((fp(1L) intersect fp(2L)).nonEmpty,
      "shared 8-token run produced no common fingerprint")
    // rightmost-tie rule: all-identical tokens → one fp at positions
    // frame_start + window - 1
    val mono = Seq((3L, Seq.fill(10)("a").mkString(" ")))
      .toDF("doc_id", "text")
    val sel = TextStats.winnow(mono).collect()
      .map(r => r.getAs[Long]("pos")).sorted.toSeq
    assert(sel === Seq(4L, 5L, 6L))
    // sparsity: far fewer selections than shingles on a long doc
    val long = Seq((4L, (1 to 300).map(i => s"t${i % 97}")
      .mkString(" "))).toDF("doc_id", "text")
    val nSel = TextStats.winnow(long).count()
    assert(nSel < 296 / 2, s"winnowing kept $nSel of 296 shingles")
  }

  // --- TextStats.winnowPairs ---

  test("winnowPairs: docs sharing a long passage pair up; a " +
    "fingerprint in more docs than the bucket cap never pairs") {
    import graft.operators.TextStats
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $passage"),
      (2L, s"$passage epsilon zeta eta theta"),
      (3L, "unrelated words entirely different content here today"))
      .toDF("doc_id", "text")
    val pairs = TextStats.winnowPairs(docs, minShared = 2)
      .collect().map(r => (r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"))).toSet
    assert(pairs === Set((1L, 2L)))
    // bucket cap: the same passage in MORE docs than maxBucket drops
    // its fingerprints before pairing — no quadratic template blow-up
    val many = (1L to 6L).map(i => (i, s"filler$i $passage end$i"))
      .toDF("doc_id", "text")
    assert(TextStats.winnowPairs(many, minShared = 1, maxBucket = 5)
      .count() === 0L)
  }

  // --- EventsStream.cusumMaintain ---

  test("cusumMaintain: the final maintained verdict equals the " +
    "one-shot detector, and the surviving intermediate version " +
    "detects on exactly its batch prefix") {
    import graft.operators.Relational
    def scratch(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_spec_$tag").toString
    val dir = scratch("cmcorpus")
    val rows0 = for {
      d <- 1 to 12
      i <- 1 to (if (d <= 6) 2 else 5)
    } yield ((d * 100 + i).toLong, 1L, "X", f"2026-02-$d%02d 00:00:01", 1.0)
    val ev = rows0.toDF("event_id", "user_id", "event_type", "s", "value")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"), col("value"))
    ev.coalesce(1).write.parquet(s"$dir/events.parquet")
    val artDir = scratch("cmart")
    val fin = graft.streaming.EventsStream.cusumMaintain(
      spark, dir, scratch("cmstage"), artDir)
    assert(rows(fin) === rows(Relational.cusumChangepoint(ev)))
    assert(rows(spark.read.parquet(s"$artDir/v1/cp")) ===
      rows(Relational.cusumChangepoint(
        ev.filter(col("event_id") % 3 =!= 2))))
    assert(!new java.io.File(s"$artDir/v0").isDirectory)
    Scope.releaseRoot()
  }

  // --- TextStats.winnowPairsVerified ---

  test("winnowPairsVerified: shared-k-gram counts are exact, and " +
    "every fingerprint-candidate pair verifies with >= 1 common " +
    "k-gram (the md5-slice faithfulness)") {
    import graft.operators.TextStats
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta $passage"),
      (2L, s"$passage epsilon zeta eta theta"),
      (3L, "unrelated words entirely different content here today"))
      .toDF("doc_id", "text")
    val out = TextStats.winnowPairsVerified(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) === ((1L, 2L)))
    // the 20-token shared passage has exactly 16 distinct 5-grams,
    // and nothing else is shared
    assert(r.getAs[Long]("n_common_kgrams") === 16L)
    assert(r.getAs[Long]("n_shared") >= 2L)
  }

  // --- Relational.markovScore ---

  test("markovScore: per-user mean -log10 transition probability " +
    "under the population model (hand-computed)") {
    import graft.operators.Relational
    val ev = Seq(
      (1L, 1L, "A", "2026-01-01 00:00:01"),
      (2L, 1L, "B", "2026-01-01 00:00:02"),
      (3L, 1L, "A", "2026-01-01 00:00:02"),
      (4L, 1L, "C", "2026-01-01 00:00:03"),
      (5L, 2L, "A", "2026-01-01 00:00:01"),
      (6L, 2L, "B", "2026-01-01 00:00:02"),
      (7L, 2L, "B", "2026-01-01 00:00:03"))
      .toDF("event_id", "user_id", "event_type", "s")
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_timestamp(col("s")).as("ts"))
    val out = Relational.markovScore(ev)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_transitions"), r.getAs[Double]("avg_nll"))))
      .toMap
    // model: A→B 2/3, A→C 1/3, B→A 1/2, B→B 1/2
    // user 1: -(lg(2/3)+lg(1/2)+lg(1/3))/3 = 0.3181 → 0.32
    // user 2: -(lg(2/3)+lg(1/2))/2 = 0.2386 → 0.24
    assert(out === Map(1L -> ((3L, 0.32)), 2L -> ((2L, 0.24))))
  }

  // --- CompatIo.bloomIndexWrite / readWithBloomSkipping ---

  test("bloom skipping: the point lookup opens strictly fewer files " +
    "than the lake holds, returns exactly the full-scan filter's " +
    "rows, and a missing key returns nothing") {
    import graft.io.CompatIo
    val lake = java.nio.file.Files
      .createTempDirectory("graft_spec_bloom").toString
    // 1000 distinct keys scattered over 16 files: any one key lives
    // in at most a few files, the rest must be bloom-skipped
    (1L to 5000L).toDF("id").withColumn("k", col("id") % 1000)
      .repartition(16)
      .write.mode("overwrite").parquet(s"$lake/data")
    CompatIo.bloomIndexWrite(spark, s"$lake/data", s"$lake/idx", "k")
    val planned = CompatIo.bloomPlannedFiles(spark, s"$lake/idx", 37L)
    assert(planned.nonEmpty && planned.size < 16,
      s"bloom plan did not skip: ${planned.size} of 16 files")
    val got = CompatIo.readWithBloomSkipping(spark, s"$lake/data",
      s"$lake/idx", "k", 37L).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(got === (1L to 5000L).filter(_ % 1000 == 37).toSet)
    assert(CompatIo.readWithBloomSkipping(spark, s"$lake/data",
      s"$lake/idx", "k", 5555L).count() === 0L)
    // incremental maintenance: land a delta with NEW keys, append —
    // the served lookup equals a fresh rebuild's, bit-for-bit
    (5001L to 6000L).toDF("id").withColumn("k", col("id") % 1000 + 2000)
      .repartition(4)
      .write.mode("append").parquet(s"$lake/data")
    CompatIo.bloomIndexAppend(spark, s"$lake/data", s"$lake/idx", "k")
    CompatIo.bloomIndexWrite(spark, s"$lake/data", s"$lake/idx2", "k")
    for (probe <- Seq(37L, 2042L)) {
      assert(rows(CompatIo.readWithBloomSkipping(spark, s"$lake/data",
        s"$lake/idx", "k", probe)) ===
        rows(CompatIo.readWithBloomSkipping(spark, s"$lake/data",
          s"$lake/idx2", "k", probe)))
    }
    assert(CompatIo.readWithBloomSkipping(spark, s"$lake/data",
      s"$lake/idx", "k", 2042L).count() > 0L)
  }

  test("bloom skipping: NULL keys contribute no bit positions — an " +
    "all-NULL file is skipped by every probe (ADVICE r11: concat_ws " +
    "aliased NULLs onto the salt-only bits, opening NULL-bearing " +
    "files on every lookup)") {
    import graft.io.CompatIo
    val lake = java.nio.file.Files
      .createTempDirectory("graft_spec_bloom_null").toString
    Seq(Some(1L), Some(2L), Some(3L)).toDF("k")
      .coalesce(1).write.mode("overwrite").parquet(s"$lake/data")
    Seq(None, None, None).asInstanceOf[Seq[Option[Long]]].toDF("k")
      .coalesce(1).write.mode("append").parquet(s"$lake/data")
    CompatIo.bloomIndexWrite(spark, s"$lake/data", s"$lake/idx", "k")
    // the NULL-only file sets zero REAL bits — it appears only via its
    // bitpos = -1 indexed-file sentinel (round-13 ADVICE fix: `known`
    // is explicit, so the file never re-scans on append), and probe
    // positions are >= 0 so the sentinel can never qualify it
    assert(spark.read.parquet(s"$lake/idx")
      .filter(org.apache.spark.sql.functions.col("bitpos") >= 0)
      .select("file").distinct().count() === 1L)
    assert(spark.read.parquet(s"$lake/idx")
      .select("file").distinct().count() === 2L)
    // and no probe ever opens it
    assert(CompatIo.bloomPlannedFiles(spark, s"$lake/idx", 1L).size === 1)
    assert(CompatIo.readWithBloomSkipping(spark, s"$lake/data",
      s"$lake/idx", "k", 2L).count() === 1L)
  }

  // --- CompatIo.manifestWrite / readSnapshot ---

  test("readSnapshot: rows appended after the manifest pin are " +
    "invisible, and a vacuumed listed file fails loudly") {
    import graft.io.CompatIo
    val lake = java.nio.file.Files
      .createTempDirectory("graft_spec_snap").toString
    (1L to 50L).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(s"$lake/data")
    CompatIo.manifestWrite(spark, s"$lake/data", s"$lake/m0")
    (51L to 80L).toDF("id").repartition(2)
      .write.mode("append").parquet(s"$lake/data")
    val snap = CompatIo.readSnapshot(spark, s"$lake/data", s"$lake/m0")
      .collect().map(_.getLong(0)).toSet
    assert(snap === (1L to 50L).toSet)
    // the live read sees everything — the manifest is what isolates
    assert(spark.read.parquet(s"$lake/data").count() === 80L)
    // premature vacuum: deleting a pinned file must not serve partial
    // history silently
    val pinned = spark.read.parquet(s"$lake/m0")
      .select("file").collect().map(_.getString(0))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$lake/data/${pinned.head}"))
    intercept[Exception] {
      CompatIo.readSnapshot(spark, s"$lake/data", s"$lake/m0")
        .collect()
    }
  }

  test("vacuumToManifest: orphans go, pinned files stay, re-run is " +
    "a no-op") {
    import graft.io.CompatIo
    val lake = java.nio.file.Files
      .createTempDirectory("graft_spec_vac").toString
    (1L to 40L).toDF("id").repartition(2)
      .write.mode("overwrite").parquet(s"$lake/data")
    CompatIo.manifestWrite(spark, s"$lake/data", s"$lake/m0")
    (41L to 60L).toDF("id").repartition(2)
      .write.mode("append").parquet(s"$lake/data")
    val kept = CompatIo.vacuumToManifest(spark, s"$lake/data",
      s"$lake/m0").collect().map(_.getLong(0)).toSet
    assert(kept === (1L to 40L).toSet)
    // the directory itself is clean: a plain read sees only the
    // pinned table, and a second vacuum changes nothing
    assert(spark.read.parquet(s"$lake/data").count() === 40L)
    assert(CompatIo.vacuumToManifest(spark, s"$lake/data", s"$lake/m0")
      .count() === 40L)
  }

  // --- CompatIo.retentionPlan / retentionExec ---

  test("retention: the cutoff is calendar days off the newest " +
    "partition (a gap still ages out), exec deletes exactly the " +
    "dropped dirs, and a re-run is a no-op") {
    import graft.io.CompatIo
    val lake = java.nio.file.Files
      .createTempDirectory("graft_spec_ret").toString
    // days 2026-01-01..03 and a gapped 2026-01-20: keepDays=5 keeps
    // ONLY the 20th (the 1st-3rd are 17+ calendar days old — calendar
    // TTL, not keep-last-5-partitions)
    val df = Seq("2026-01-01", "2026-01-02", "2026-01-03", "2026-01-20")
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("event_id", "d")
      .select(col("event_id"), to_date(col("d")).as("day"))
    CompatIo.writePartitioned(df, lake, "day")
    val plan = CompatIo.retentionPlan(spark, lake, keepDays = 5)
      .collect().map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[String]("action")).toMap
    assert(plan === Map("2026-01-01" -> "drop", "2026-01-02" -> "drop",
      "2026-01-03" -> "drop", "2026-01-20" -> "keep"))
    val kept = CompatIo.retentionExec(spark, lake, keepDays = 5)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(3L))
    assert(!new java.io.File(s"$lake/day=2026-01-01").isDirectory)
    assert(new java.io.File(s"$lake/day=2026-01-20").isDirectory)
    // idempotent re-run: the surviving partition is its own newest —
    // nothing further ages out
    val again = CompatIo.retentionExec(spark, lake, keepDays = 5)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(again === Set(3L))
  }

  // --- Similarity.ivfAutotune ---

  test("ivfAutotune: recall is monotone in nProbe, the all-lists " +
    "point recovers brute recall 1.0, and chosen is the smallest " +
    "candidate meeting the target (false everywhere if unreachable)") {
    import graft.operators.Similarity
    val emb = (1L to 60L).toDF("vec_id")
      .withColumn("embedding", array(
        (col("vec_id") % 7).cast("float") + lit(0.1f),
        (col("vec_id") % 5).cast("float") + lit(0.2f),
        (col("vec_id") % 3).cast("float") + lit(0.3f)))
    val fr = Similarity.ivfAutotune(emb, k = 5, nCentroids = 4,
        candidateProbes = Seq(1, 2, 4), targetRecall = 0.99,
        queryMod = 6)
      .orderBy("n_probe").collect()
    val recalls = fr.map(_.getAs[Double]("mean_recall"))
    val scanned = fr.map(_.getAs[Long]("n_scanned"))
    assert(recalls.sliding(2).forall(p => p(0) <= p(1)),
      s"recall not monotone: ${recalls.toSeq}")
    assert(scanned.sliding(2).forall(p => p(0) < p(1)))
    // probing all 4 lists scans every candidate — brute by another name
    assert(recalls.last === 1.0)
    val chosen = fr.filter(_.getAs[Boolean]("chosen"))
      .map(_.getAs[Long]("n_probe")).toSeq
    val expected = fr.find(_.getAs[Double]("mean_recall") >= 0.99)
      .map(_.getAs[Long]("n_probe")).toSeq
    assert(chosen === expected)
    // unreachable target: no point flagged
    val none = Similarity.ivfAutotune(emb, k = 5, nCentroids = 4,
      candidateProbes = Seq(1, 2), targetRecall = 1.01, queryMod = 6)
    assert(none.filter(col("chosen")).count() === 0L)
  }

  // --- EventsStream.mixRefit ---

  test("mixRefit: the final fit equals the one-shot batch fit, and " +
    "the surviving intermediate version is the exact fit of its " +
    "prefix — the controller re-solves every batch") {
    def scratch(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_spec_$tag").toString
    val dir = scratch("mrcorpus")
    val docs = (1L to 90L).toDF("doc_id")
      .withColumn("source", concat(lit("s"), (col("doc_id") % 4)))
      .withColumn("n_chars", col("doc_id") * 7 % 100 + 20)
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val artDir = scratch("mrart")
    val fin = graft.streaming.EventsStream.mixRefit(
      spark, dir, scratch("mrstage"), artDir)
    def oneShot(d: org.apache.spark.sql.DataFrame) =
      Sampling.mixtureFit(d.groupBy("source")
        .agg(sum(col("n_chars")).as("avail"))
        .withColumn("w",
          conv(substring(md5(col("source")), 1, 4), 16, 10)
            .cast("long") % 5 + 1))
    assert(rows(fin) === rows(oneShot(docs)))
    // v0 is reaped; v1 must be the exact fit of batches 0+1 — the
    // evidence the solve ran (correctly) BEFORE the stream finished
    assert(rows(spark.read.parquet(s"$artDir/v1/fit")) ===
      rows(oneShot(docs.filter(col("doc_id") % 3 =!= 2))))
    assert(!new java.io.File(s"$artDir/v0").isDirectory)
    Scope.releaseRoot()
  }

  // --- Dedup.boilerplateRewrite ---

  test("boilerplateRewrite: a cross-doc chunk is cut from EVERY " +
    "occurrence, within-doc repetition alone never triggers, and a " +
    "doc losing all chunks keeps an empty row") {
    // w=2 chunks. "accept cookies" appears in docs 1,2,3 → boilerplate
    // (cut everywhere, including doc 1's first occurrence). Doc 4
    // repeats "la la" twice WITHIN itself only → kept (distinct-doc
    // count is 1). Doc 3 is pure boilerplate → empty text_clean.
    val docs = Seq(
      (1L, "accept cookies real content one"),
      (2L, "accept cookies other content two"),
      (3L, "accept cookies"),
      (4L, "la la la la"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateRewrite(docs, w = 2, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_boiler"), r.getAs[String]("text_clean")))).toMap
    assert(out(1L) === ((1L, "real content one")))
    assert(out(2L) === ((1L, "other content two")))
    assert(out(3L) === ((1L, "")))
    assert(out(4L) === ((0L, "la la la la")))
    // contrast with keep-first dedup: doc 1 RETAINS the first copy
    val keepFirst = Dedup.chunkDedupRewrite(docs, w = 2)
      .filter(col("doc_id") === 1L).collect().head
    assert(keepFirst.getAs[String]("text_clean")
      === "accept cookies real content one")
  }
}
