package graft

import org.apache.spark.sql.functions._

import graft.operators.{Graph, Sampling}

/** Round-6 eighth-session behavior pins: epoch-repeat upsampling
  * (full/fractional/absent arms) and token-budget selection (prefix
  * semantics, checked against a plain-Scala prefix sum).
  */
class Round9Spec extends SparkSpec {

  import spark.implicits._

  // ---- samp_repeat_epochs: repeatEpochs ----

  private def corpus(n: Int) =
    spark.range(1, n + 1).select(col("id").as("doc_id"),
      lit("a").as("lang"))

  test("repeatEpochs: integer factor repeats every row exactly N times") {
    val got = Sampling.repeatEpochs(corpus(20), Map("a" -> 2.0))
    assert(got.count() == 40)
    val epochs = got.groupBy("doc_id").agg(collect_set("epoch"))
      .collect().map(_.getSeq[Long](1).toSet)
    assert(epochs.forall(_ == Set(1L, 2L)))
  }

  test("repeatEpochs: fractional epoch is the hash-chosen subset") {
    val df = corpus(200)
    val got = Sampling.repeatEpochs(df, Map("a" -> 1.5)).persist()
    // every doc has epoch 1; only the hash subset has epoch 2
    assert(got.filter(col("epoch") === 1).count() == 200)
    val extra = got.filter(col("epoch") === 2)
      .select("doc_id").as[Long].collect().toSet
    val expected = df.filter(
        Sampling.hashValue(col("doc_id"), "graft-ep")
          < Sampling.thresholdFor(0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(extra == expected)
    assert(extra.nonEmpty && extra.size < 200)
    got.unpersist()
  }

  test("repeatEpochs: sub-1 factor keeps only the partial-epoch subset") {
    val df = corpus(200)
    val got = Sampling.repeatEpochs(df, Map("a" -> 0.25)).persist()
    assert(got.select(max("epoch")).head().getLong(0) == 1L)
    val n = got.count()
    assert(n > 0 && n < 200)
    got.unpersist()
  }

  test("repeatEpochs: strata without a factor and NULL keys drop") {
    val df = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "a"))
      .toDF("doc_id", "lang")
    val got = Sampling.repeatEpochs(df, Map("a" -> 2.0))
      .select("doc_id").as[Long].collect()
    assert(got.toSeq == Seq(1L, 1L))
  }

  test("repeatEpochs: rejects factors outside (0, 64]") {
    assertThrows[IllegalArgumentException] {
      Sampling.repeatEpochs(corpus(1), Map("a" -> 0.0))
    }
    assertThrows[IllegalArgumentException] {
      Sampling.repeatEpochs(corpus(1), Map("a" -> 65.0))
    }
  }

  // ---- samp_token_budget: tokenBudgetSelect ----

  private val budgetDocs = Seq(
    (1L, 10L, 5L), // cum 5
    (2L, 10L, 5L), // cum 10
    (3L, 5L, 10L), // cum 20 -> out
    (4L, 5L, 2L)   // cum 22 -> out (prefix: no backfill past doc 3)
  ).toDF("doc_id", "score", "n_tokens")

  test("tokenBudgetSelect: longest prefix of the quality order, " +
    "no backfill") {
    val got = Sampling.tokenBudgetSelect(budgetDocs, budget = 12L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L))
  }

  test("tokenBudgetSelect: budget 0 keeps nothing, budget >= total " +
    "keeps all") {
    assert(Sampling.tokenBudgetSelect(budgetDocs, 0L).count() == 0)
    assert(Sampling.tokenBudgetSelect(budgetDocs, 22L).count() == 4)
  }

  test("tokenBudgetSelect: identical kept set to a prefix-sum " +
    "reference on a tie-heavy corpus, cutting mid-block") {
    // 7 distinct scores over 210 rows; budget lands inside a tie block
    val df = spark.range(1, 211).select(
      col("id").as("doc_id"),
      (col("id") % 7).as("score"),
      (col("id") * 13 % 50 + 1).as("n_tokens"))
    // (score desc, id asc) order, inclusive running token sum
    val ordered = df.collect().toSeq
      .sortBy(r => (-r.getLong(1), r.getLong(0)))
    val cum = ordered.scanLeft(0L)(_ + _.getLong(2)).tail
    val total = cum.last
    for (budget <- Seq(total / 3, total / 2, total - 1)) {
      val expect = ordered.zip(cum).takeWhile(_._2 <= budget)
        .map(_._1.toSeq.map(String.valueOf).mkString("|")).sorted
      assert(rows(Sampling.tokenBudgetSelect(df, budget)) == expect,
        s"budget=$budget")
    }
  }

  // ---- rel_triangles: triangleCounts ----

  test("triangleCounts: K4 has 4 triangles, 3 per node; paths and " +
    "pairs contribute none") {
    // K4 on a..d, a path e-f-g, an isolated edge h-i
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d"),
      ("e", "f"), ("f", "g"),
      ("h", "i")
    ).toDF("key_a", "key_b")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("triangleCounts: triangles sharing an edge count per node") {
    // {p,q,r} and {p,q,s} share edge pq
    val edges = Seq(("p", "q"), ("p", "r"), ("q", "r"), ("p", "s"),
      ("q", "s")).toDF("key_a", "key_b")
    val got = Graph.triangleCounts(edges).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("p" -> 2L, "q" -> 2L, "r" -> 1L, "s" -> 1L))
  }

  test("triangleCounts: matches brute-force enumeration on a hashed " +
    "random graph") {
    // ~120 deterministic edges over 30 nodes (md5-derived, no rand())
    val edges = spark.range(0, 400).select(
        concat(lit("n"), conv(substring(md5(concat(lit("ta|"),
          col("id"))), 1, 8), 16, 10) % 30).as("key_a"),
        concat(lit("n"), conv(substring(md5(concat(lit("tb|"),
          col("id"))), 1, 8), 16, 10) % 30).as("key_b"))
      .filter(col("key_a") < col("key_b")).distinct().persist()
    val got = Graph.triangleCounts(edges).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // brute force: lexicographic 3-join
    val p1 = edges.select(col("key_a").as("x"), col("key_b").as("y"))
    val p2 = edges.select(col("key_a").as("x"), col("key_b").as("z"))
    val p3 = edges.select(col("key_a").as("y"), col("key_b").as("z"))
    val tri = p1.join(p2, "x").filter(col("y") < col("z"))
      .join(p3, Seq("y", "z")).persist()
    val brute = tri.select(col("x").as("n"))
      .unionAll(tri.select(col("y")))
      .unionAll(tri.select(col("z")))
      .groupBy("n").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(brute.nonEmpty, "degenerate fixture: no triangles")
    assert(got == brute)
    edges.unpersist(); tri.unpersist()
  }

  test("tokenBudgetSelect: boundary block fills by key order") {
    // one score block: budget 7 keeps docs 1,2,3 (2+2+2=6; doc 4 would
    // make 8) — the in-block order is the key, not arrival
    val df = Seq((4L, 1L, 2L), (1L, 1L, 2L), (3L, 1L, 2L), (2L, 1L, 2L))
      .toDF("doc_id", "score", "n_tokens")
    val got = Sampling.tokenBudgetSelect(df, 7L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  // ---- io_zorder_write: Morton value + clustered layout ----

  test("mortonZ: matches a reference bit-interleave; rejects negative " +
    "and NULL keys") {
    def ref(x: Long, y: Long): Long =
      (0 until 31).foldLeft(0L) { (z, i) =>
        z | ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (63L, 21L),
      (2147483647L, 2147483647L), (12345L, 918273645L))
    val got = pts.toDF("x", "y")
      .select(graft.io.CompatIo.mortonZ(col("x"), col("y")))
      .as[Long].collect().toSeq
    assert(got == pts.map { case (x, y) => ref(x, y) })
    assertThrows[Exception] {
      Seq((-1L, 0L)).toDF("x", "y")
        .select(graft.io.CompatIo.mortonZ(col("x"), col("y"))).collect()
    }
    assertThrows[Exception] {
      Seq((Some(1L), Option.empty[Long])).toDF("x", "y")
        .select(graft.io.CompatIo.mortonZ(col("x"), col("y"))).collect()
    }
  }

  test("writeZOrder: per-file bounding boxes prune a band predicate " +
    "on EITHER key; rows identical") {
    // 64x64 grid -> 16 z-range files. A narrow y-band must hit only
    // the files whose bounding box reaches it; the 1-D x-sorted layout
    // (full-height slabs) hits every file.
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val zOut = java.nio.file.Files.createTempDirectory("zorder").toString
    graft.io.CompatIo.writeZOrder(grid, zOut, 16, "x", "y")
    val sOut = java.nio.file.Files.createTempDirectory("xsort").toString
    graft.io.CompatIo.writeSortedRange(grid, sOut, 16, Seq("x"))

    def boxes(dir: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map { f =>
          val r = spark.read.parquet(f.toString)
            .agg(min("x"), max("x"), min("y"), max("y")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }.toSeq
    val zb = boxes(zOut)
    val sb = boxes(sOut)
    assert(zb.size == 16 && sb.size == 16)
    def hitsY(bs: Seq[(Long, Long, Long, Long)]) =
      bs.count { case (_, _, y0, y1) => y0 <= 3 && y1 >= 0 }
    def hitsX(bs: Seq[(Long, Long, Long, Long)]) =
      bs.count { case (x0, x1, _, _) => x0 <= 3 && x1 >= 0 }
    // z-order prunes on both axes; x-sort only on x
    assert(hitsY(zb) <= 8, s"z-layout y-band hit ${hitsY(zb)}/16")
    assert(hitsY(sb) == 16, s"x-sorted layout should span all y")
    assert(hitsX(zb) <= 8, s"z-layout x-band hit ${hitsX(zb)}/16")
    // layout never changes the row multiset
    assert(rows(spark.read.parquet(zOut)) == rows(grid.toDF()))
  }
}
