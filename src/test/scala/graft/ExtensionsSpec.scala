package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.multimodal.Multimodal

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replace("theta", "THETA")), // near-dup of 1 (one word差)
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "totally different words completely unrelated content here now"),
    (5L, base), // exact dup of 1
  ).toDF("doc_id", "text")

  test("dedup_exact groups identical normalized text") {
    // normalized() lowercases, so docs 1, 2 (THETA→theta), 5 all collapse
    val r = Dedup.exact(docs).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.exists { case (_, keep, n) => keep == 1L && n == 3L })
    assert(r.length == 3) // 3 distinct normalized texts
  }

  test("ngram jaccard and minhash-lsh find the same near-dup pairs") {
    val exact = rows(Dedup.ngramJaccardPairs(docs, threshold = 0.5))
    val approx = rows(Dedup.minHashLsh(docs, threshold = 0.5))
    assert(exact == approx)
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // exact dup: jac = 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 5L))) // near-dup
  }

  test("ngram jaccard keeps pairs at exactly the threshold (fp boundary)") {
    // A's 8 shingles ⊂ B's 10 → jac = 8/10 = exactly 0.8; the prefix and
    // size filters must not drop it (regression: ceil(0.8*10) fp slop)
    val words = (1 to 12).map(i => s"w$i")
    val d = Seq(
      (1L, words.take(10).mkString(" ")), // 8 distinct trigram shingles
      (2L, words.mkString(" ")), // 10 shingles, superset
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((1L, 2L, 0.8)))
  }

  test("assignCanonical: clones + transitive near-dup chains collapse") {
    // chain: c1 ~ c2 (one-word edit), c2 ~ c3 (another edit) — c1 and c3
    // differ by two words but must share a component (transitivity);
    // 40 is an exact clone of 10 (case only); 30 stands alone
    val words = (1 to 30).map(i => s"w$i")
    def edit(at: Int, v: String) = words.updated(at, v).mkString(" ")
    val d = Seq(
      (10L, words.mkString(" ")),
      (11L, edit(5, "xx")), // near-dup of 10
      (12L, edit(5, "xx").replace("w20", "yy")), // near-dup of 11
      (30L, (1 to 30).map(i => s"z$i").mkString(" ")),
      (40L, words.mkString(" ").toUpperCase), // exact clone of 10 (norm.)
    ).toDF("doc_id", "text")
    val got = Dedup.assignCanonical(d, threshold = 0.6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 10L && got(40L) == 10L) // clone joins 10
    assert(got(11L) == 10L && got(12L) == 10L) // transitive chain
    assert(got(30L) == 30L) // singleton keeps itself
  }

  test("assignCanonical: 25-hop chain converges (pointer jumping)") {
    // doc_i differs from doc_{i-1} by one word — a 25-link chain whose
    // min label must travel 24 hops; pointer jumping makes that
    // O(log n) rounds, well inside maxIter
    val base = (1 to 30).map(i => s"c$i").toVector
    val texts = (0 until 25).scanLeft(base) { (w, i) =>
      w.updated(i % w.size, s"m$i")
    }.tail
    val d = texts.zipWithIndex
      .map { case (w, i) => (100L + i, w.mkString(" ")) }
      .toDF("doc_id", "text")
    // exercise BOTH component engines: driver union-find (default) and
    // the distributed pointer-jumping loop (forced via maxEdges = 0)
    for (maxEdges <- Seq(1000000L, 0L)) {
      val got = Dedup.assignCanonical(d, threshold = 0.5,
        driverCcMaxEdges = maxEdges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.values.toSet == Set(100L),
        s"components split (maxEdges=$maxEdges): $got")
    }
  }

  test("simhash: near-dups close in hamming, unrelated docs far") {
    val sigs = Dedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(5L)) == 0) // identical text
    assert(ham(sigs(1L), sigs(2L)) <= 8) // one-token difference
    assert(ham(sigs(1L), sigs(4L)) > 8) // unrelated
    val pairs = Dedup.simHashPairs(docs, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("embedding near-dup + brute topk agree with hand math") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // ~cos 0.995 with 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (50L, Array(1.0f, 0.05f, 0.0f)), // query; nearest = 0 or 1
    ).toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDup(emb, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((0L, 1L)) && nd.contains((0L, 50L)) &&
      nd.contains((1L, 50L)))
    val topk = Similarity.bruteTopK(
      emb.filter($"vec_id" === 50L), emb, k = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // cos(q,0)=1/1.00125≈0.99875 beats cos(q,1)=0.995/0.99628≈0.99872
    assert(topk.toSeq.sortBy(_._2).map(_._1) == Seq(0L, 1L))
  }

  test("lsh topk returns a subset consistent with brute force") {
    val emb = (0L until 100L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val q = emb.filter($"vec_id" % 50 === 0)
    val brute = Similarity.bruteTopK(q, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, emb, k = 5, nBits = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH searches own + hamming-1 buckets: recall<1 but nonempty and
    // every hit must be a real vector; spot-check overlap is substantial
    assert(lsh.nonEmpty)
    assert(lsh.intersect(brute).size >= lsh.size / 2)
  }

  test("text stats: ratios bounded, quality in [0,1]") {
    val r = TextStats.stats(docs).collect()
    assert(r.length == 5)
    r.foreach { x =>
      val q = x.getDouble(x.fieldIndex("quality_score"))
      assert(q >= 0.0 && q <= 1.0)
      assert(x.getDouble(x.fieldIndex("alpha_ratio")) <= 1.0)
    }
  }

  test("langid picks en for English-stopword text") {
    val d = Seq((1L, "the cat and the dog in the house of it"),
      (2L, "el perro y la casa de la que no se")).toDF("doc_id", "text")
    val m = TextStats.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("lang_pred"))).toMap
    assert(m(1L) == "en")
    assert(m(2L) == "es")
  }

  test("fingerprint: identical docs share both fingerprints") {
    val fp = TextStats.fingerprint(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(fp(1L) == fp(5L))
    assert(fp(1L) != fp(4L))
    // shingle fingerprint is robust to a single-word edit when the min
    // shingle is elsewhere — at minimum it stays a valid md5
    assert(fp(2L)._2.matches("[0-9a-f]{32}"))
  }

  test("multimodal: payload schema + deterministic stub features") {
    val media = Multimodal.withPayload(docs)
    assert(media.schema.fieldNames.toSeq ==
      Seq("doc_id", "data", "format", "width", "height"))
    val feats = Multimodal.extractFeatures(media, batchSize = 2).collect()
    assert(feats.length == 5)
    val f1 = feats.find(_.doc_id == 1L).get
    val f5 = feats.find(_.doc_id == 5L).get
    assert(f1.features.toSeq == f5.features.toSeq) // same bytes → same feats
    assert(f1.features.length == 8)
    assert(f1.n_bytes == base.length)
    val frames = Multimodal.sampleFrames(media).collect()
    assert(frames.nonEmpty)
    val resized = Multimodal.resize(media, maxDim = 128).collect()
    resized.foreach { r =>
      assert(r.getInt(3) <= 128 && r.getInt(4) <= 128)
      assert(r.getAs[Array[Byte]](1).nonEmpty)
    }
    // resized media still feeds the feature extractor
    assert(Multimodal.extractFeatures(
      Multimodal.resize(media)).count() == 5)
  }

  test("asof join: latest right row at or before left time, per key") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq( // (key, time, px)
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:00:05"), 101.0),
      (1L, ts("2024-01-01 10:00:09"), 102.0),
      (2L, ts("2024-01-01 10:00:02"), 200.0),
    ).toDF("qkey", "qts", "px")
    val trades = Seq( // (key, time, qty)
      (1L, ts("2024-01-01 10:00:05"), 10L), // equal ts → matches 101
      (1L, ts("2024-01-01 10:00:07"), 20L), // between → matches 101
      (1L, ts("2024-01-01 09:59:00"), 30L), // before any quote → dropped
      (2L, ts("2024-01-01 11:00:00"), 40L), // after → matches 200
      (3L, ts("2024-01-01 10:00:00"), 50L), // no key → dropped
    ).toDF("tkey", "tts", "qty")
    val r = Relational.asofJoin(trades, quotes, "tkey", "qkey", "tts", "qts")
      .select("qty", "px").collect().map(x => (x.getLong(0), x.getDouble(1)))
      .toSet
    assert(r == Set((10L, 101.0), (20L, 101.0), (40L, 200.0)))
  }

  test("asof join: NULL payloads stay atomic, NULL keys never match") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val right = Seq(
      (Some(1L), ts("2024-01-01 10:00:00"), Some(10.0)),
      (Some(1L), ts("2024-01-01 11:00:00"), None), // matched row, NULL px
      (None, ts("2024-01-01 09:00:00"), Some(99.0)), // NULL key
    ).toDF("rk", "rt", "px")
    val left = Seq(
      (Some(1L), ts("2024-01-01 12:00:00"), 100L),
      (Option.empty[Long], ts("2024-01-01 12:00:00"), 200L), // NULL key
    ).toDF("lk", "lt", "lid")
    val r = Relational.asofJoin(left, right, "lk", "rk", "lt", "rt")
      .collect()
    // exactly one match: lid=100 → the 11:00 row with its real NULL px
    // (NOT 10.0 torn from the earlier row); NULL-key rows drop entirely
    assert(r.length == 1)
    assert(r(0).getAs[Long]("lid") == 100L)
    assert(r(0).isNullAt(r(0).fieldIndex("px")))
    assert(r(0).getAs[Timestamp]("rt") == ts("2024-01-01 11:00:00"))
  }

  test("asof join == naive join-then-latest on random data") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(99)
    def t(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val left = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, t(rnd.nextInt(500))))
      .toDF("lid", "k", "lt")
    val right = (1 to 200).map(i =>
      (i.toLong, rnd.nextInt(20).toLong, t(rnd.nextInt(500)), rnd.nextInt(1000)))
      .toDF("rid", "k", "rt", "payload")
      // unique per (k, rt): keep max rid (same rule as asofJoin contract)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("k", "rt").orderBy(col("rid").desc)))
      .filter(col("rn") === 1).drop("rn")
    val got = rows(Relational.asofJoin(
        left, right.withColumnRenamed("k", "rk"), "k", "rk", "lt", "rt")
      .select("lid", "rid"))
    // naive: all-pairs filter + pick latest rt (tie impossible: unique rt)
    val naive = left.join(right, left("k") === right("k") &&
        col("rt") <= col("lt"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lid").orderBy(col("rt").desc, col("rid").desc)))
      .filter(col("rn") === 1)
    assert(got == rows(naive.select("lid", "rid")))
    assert(got.nonEmpty)
  }

  test("stateful streaming user counts == batch counts on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val streamed = rows(
      graft.streaming.EventsStream.userCountsStateful(spark, dir))
    val batch = rows(Tables.load(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events")))
    assert(streamed == batch)
  }

  test("hashEmbed: unit vectors, dup docs identical, text→near-dup e2e") {
    val emb = TextStats.hashEmbed(docs, dims = 32)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs.values.forall(_.length == 32))
    vecs.values.foreach { v =>
      val n = v.map(x => x.toDouble * x.toDouble).sum
      assert(math.abs(n - 1.0) < 1e-5) // L2-normalized
    }
    assert(vecs(1L) == vecs(5L)) // identical text → identical embedding
    // end-to-end: text → embedding → cosine near-dup finds the dup pair
    val nd = Dedup.embeddingNearDup(
      emb.withColumnRenamed("doc_id", "vec_id"), threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 5L)))
    assert(!nd.contains((1L, 4L))) // unrelated text stays apart
  }

  test("lm score: predictable sequences beat unique-bigram soup") {
    val d = Seq(
      (1L, "a b a b a b a b a b"), // every bigram fully predictable
      (2L, "q w e r t y u i o p"), // successors split 50/50 with doc 3
      (3L, "q x e x t x u x o x"),
    ).toDF("doc_id", "text")
    val m = TextStats.lmScore(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(1L) == 0.0) // P = 1 throughout → mean log10 = 0
    assert(m(2L) < 0.0 && m(1L) > m(2L))
  }

  test("multimodal features feed the similarity operators end-to-end") {
    val media = Multimodal.withPayload(docs)
    val feats = Multimodal.extractFeatures(media).toDF()
      .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
    val topk = Similarity.bruteTopK(
      feats.filter(col("vec_id") === 1L), feats, k = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    // doc 5 is byte-identical to doc 1 → identical features → cosine 1,
    // tie broken by id → rank 1
    assert(topk.head == (5L, 1L))
  }

  test("generated code is reused across sessions: a second " +
    "newSession() compiles no class for the same query") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def materialize(s: org.apache.spark.sql.SparkSession): Unit = {
      val d = s.createDataFrame(Seq((1L, base), (2L, base.toUpperCase),
        (3L, "one two three four five"))).toDF("doc_id", "text")
      val sh = Dedup.shingles(d)
      sh.join(sh.groupBy("s").agg(count(lit(1)).as("n")), "s")
        .write.format("noop").mode("overwrite").save()
    }
    materialize(spark.newSession())
    // 150 distinct one-class plans in between: a 100-entry code cache
    // would evict the first session's classes before the second asks
    (1 to 150).foreach(i => spark.range(1).selectExpr(s"id * $i + $i")
      .write.format("noop").mode("overwrite").save())
    val second = spark.newSession()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    materialize(second)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
    // the setting that lets executor-side classes hit the cache: one
    // class loader for every session instead of one per session UUID
    assert(second.conf.get("spark.sql.artifact.isolation.enabled") ==
      "false")
    assert(spark.sparkContext.getConf
      .get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("streaming hourly == batch hourly on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val streamed = rows(graft.streaming.EventsStream.hourlyCounts(spark, dir))
    val batch = rows(Relational.eventsHourly(Tables.load(spark, dir, "events"))
      .select("hour", "event_type", "n_events"))
    assert(streamed == batch)
  }
}
