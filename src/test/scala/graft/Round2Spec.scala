package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.CompatIo
import graft.operators._

/** Round-2 behavior pins: read-side ref-CSV source (S6), LSH-pruned
  * embedding near-dup, id-type-generic canonical assignment, conf
  * isolation of the scoped-session paths, and the asof column-collision
  * rename. */
class Round2Spec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("readRefCsv round-trips writeRefCsv output (S6)") {
    val tf = Seq(
      (5L, "bb", 3L, 0.5), (5L, "aa", 2L, 0.33), (5L, "cc", 1L, 0.17),
      (6L, "zz", 2L, 0.67), (6L, "yy", 1L, 0.33),
    ).toDF("doc_id", "word", "cnt", "tf")
    val out = tmpDir("refcsv_rt")
    CompatIo.writeRefCsv(tf, Seq("doc_id", "word", "cnt", "tf"), out)
    val back = CompatIo.readRefCsv(spark, out,
      Seq("doc_id" -> "long", "word" -> "string",
        "cnt" -> "long", "tf" -> "double"))
    assert(rows(back) == rows(tf))
  }

  test("readRefCsv reads writeRefCsv's perDoc partition layout") {
    val tf = Seq(
      (5L, "bb", 3L, 0.5), (6L, "zz", 2L, 0.67),
    ).toDF("doc_id", "word", "cnt", "tf")
    val out = tmpDir("refcsv_pd")
    CompatIo.writeRefCsv(tf, Seq("doc_id", "word", "cnt", "tf"), out,
      perDoc = true)
    // doc_id arrives as the auto-discovered partition column
    val back = CompatIo.readRefCsv(spark, out,
        Seq("word" -> "string", "cnt" -> "long", "tf" -> "double"))
      .select(col("doc_id").cast("long"), col("word"), col("cnt"), col("tf"))
    assert(rows(back) == rows(tf))
  }

  test("readRefDocsDir parses the reference golden per-doc layout (S6)") {
    // two files from the reference's golden output corpus when present;
    // otherwise two hand-written files of the same shape (FIXTURES.md
    // §A4: `word, count, tf, tf_idf`, count-descending), 418298 with
    // the reference's `includedoc` quirk row
    val dir = tmpDir("golden_docs")
    val written = Map(
      "418298" -> Seq("the, 12, 0.08, 0.0", "includedoc, 3, 0.02, 0.07",
        "protein, 2, 0.01, 0.05", "fold, 1, 0.01, 0.03"),
      "12" -> Seq("and, 5, 0.1, 0.0", "anarchism, 4, 0.08, 0.31",
        "car, 1, 0.02, 0.06"))
    for ((id, lines) <- written) {
      val src = java.nio.file.Paths.get(s"/root/reference/TF-IDF-Docs/$id.csv")
      val dst = java.nio.file.Paths.get(dir, s"$id.csv")
      if (Files.exists(src)) Files.copy(src, dst)
      else Files.write(dst, java.util.Arrays.asList(lines: _*))
    }
    val got = CompatIo.readRefDocsDir(spark, dir,
      Seq("word" -> "string", "cnt" -> "long",
        "tf" -> "double", "tf_idf" -> "double"))
    val byDoc = got.groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDoc.keySet == written.keySet)
    // row counts equal the physical line counts; every field parsed
    for ((id, n) <- byDoc) {
      val lines = Files.readAllLines(
        java.nio.file.Paths.get(dir, s"$id.csv")).size
      assert(n == lines.toLong, s"doc $id")
    }
    assert(got.filter(col("word").isNull || col("cnt").isNull ||
      col("tf").isNull || col("tf_idf").isNull).isEmpty)
    // the golden quirk fingerprint survives a read round-trip
    assert(got.filter(col("doc_id") === "418298" &&
      col("word") === "includedoc").count() == 1)
  }

  test("embeddingNearDup: LSH path == all-pairs, and no nested-loop join") {
    val rng = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rng.nextGaussian().toFloat)
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.map(x => x + eps * rng.nextGaussian().toFloat)
    val bases = Array.fill(40)(vec())
    val planted = bases.take(6).zipWithIndex.map { case (v, i) =>
      (100L + i, jitter(v, 0.15f)) // cos ≈ 0.97-0.99 vs base i
    }
    val emb = (bases.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      planted).toSeq.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val lsh = Dedup.embeddingNearDup(emb, threshold = 0.5)
    val exact = Dedup.embeddingNearDup(emb, threshold = 0.5,
      allPairs = true)
    assert(rows(lsh) == rows(exact))
    assert(rows(lsh).nonEmpty)
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("assignCanonical handles string doc ids (generic union-find)") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      ("docB", text), ("docA", text), ("docC", text + "!"), // near/exact dups
      ("docZ", "completely different content lives here today"),
    ).toDF("doc_id", "text")
    val got = Dedup.assignCanonical(docs, threshold = 0.6)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("docA") == "docA" && got("docB") == "docA" &&
      got("docC") == "docA" && got("docZ") == "docZ")
  }

  test("simhash maxHamming=0: exact-signature pairs, pruning intact") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta iota kappa"),
    ).toDF("doc_id", "text")
    val got = Dedup.simHashPairs(docs, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 2L, 0)))
  }

  test("scoped-session paths never mutate the shared session conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val run = Future {
      graft.streaming.EventsStream.hourlyCounts(spark,
        "/root/testdata/sf0.001").count()
    }
    // poll the PARENT session's conf while the stream runs: the scoped
    // clone owns the 8-partition override, the parent must never see it
    var observed = Set.empty[String]
    while (!run.isCompleted) {
      observed += spark.conf.get(key)
      Thread.sleep(10)
    }
    Await.result(run, 120.seconds)
    assert(observed.subsetOf(Set(before)) && spark.conf.get(key) == before)
  }

  test("asofJoin renames the right time column on collision") {
    val left = Seq((1L, 10L, "e1")).toDF("k", "ts", "tag")
    val right = Seq((1L, 5L, 2.0)).toDF("k2", "ts", "v")
    val out = Relational.asofJoin(left, right, "k", "k2", "ts", "ts")
    assert(out.columns.toSeq == Seq("k", "ts", "tag", "v", "ts_right"))
    val r = out.collect().head
    assert(r.getLong(out.columns.indexOf("ts")) == 10L &&
      r.getLong(out.columns.indexOf("ts_right")) == 5L)
  }

  test("hashEmbed == L2-normalized hashEmbedBuckets (gate surface)") {
    val docs = Seq((1L, "alpha beta beta gamma"), (2L, "delta delta"))
      .toDF("doc_id", "text")
    val dims = 16
    val dense = TextStats.hashEmbed(docs, dims).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val sparse = TextStats.hashEmbedBuckets(docs, dims).collect()
      .groupBy(_.getLong(0))
      .view.mapValues { rs =>
        val v = new Array[Double](dims)
        rs.foreach(r => v(r.getInt(1)) = r.getLong(2).toDouble)
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat).toSeq
      }.toMap
    assert(dense.keySet == sparse.keySet)
    for (k <- dense.keySet) assert(dense(k) == sparse(k), s"doc $k")
  }

  test("promoRevenue: shares bounded, promo <= total (Q14 shape)") {
    val got = Relational.promoRevenue(
      Tables.load(spark, "/root/testdata/sf0.001", "lineitem"),
      Tables.load(spark, "/root/testdata/sf0.001", "part")).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (promo, total, share) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(promo >= 0 && promo <= total)
      assert(share >= 0 && share <= 100)
    }
  }
}
