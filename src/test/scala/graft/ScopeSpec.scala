package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** [[Scope]]: every frame a scope holds is gone when it closes, and
  * nothing else is. */
class ScopeSpec extends SparkSpec {
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"

  /** Gates that cannot release everything they hold within their own
    * scope, each with its reason. */
  private val Exempt: Map[String, String] = Map.empty

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs
    .keySet.toSet

  test("every gate's scope releases all it held, and nothing else") {
    assume(new java.io.File(Sf).isDirectory, s"$Sf is absent")
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val problems = holdingRdds { grab =>
      SparkEntry.gates.filterNot(g => Exempt.contains(g.name)).flatMap { g =>
        grab()
        val before = persisted
        val failed =
          try {
            Scope.run(g.plan(spark, Sf).write.format("noop")
              .mode("overwrite").save())
            None
          } catch { case e: Exception => Some(s"failed: ${e.getMessage}") }
        val after = persisted
        val problem = failed
          .orElse(Option.when(after != before)(
            s"left ${after diff before}, dropped ${before diff after}"))
          .orElse(Option.when(!cache.isEmpty)("the cache manager holds plans"))
        // judge the next gate alone
        if (problem.isDefined) {
          Scope.releaseRoot()
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .filterNot(r => before(r.id)).foreach(_.unpersist())
        }
        problem.map(p => s"${g.name}: $p")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("a throwing body releases its lazy, warm and checkpoint holds and " +
    "its exception arrives unchanged") {
    val base = spark.range(0L, 1000L).toDF("id")
    val boom = new IllegalStateException("boom")
    var lazyHeld: DataFrame = null
    holdingRdds { grab =>
      grab()
      val before = persisted
      val thrown = intercept[IllegalStateException] {
        Scope.run {
          lazyHeld = Scope.hold(base.filter(col("id") % 2 === 0))
          Scope.warm(base.filter(col("id") % 3 === 0))
          Scope.checkpoint(base.filter(col("id") % 5 === 0))
          assert(persisted.size == before.size + 2)
          throw boom
        }
      }
      assert(thrown eq boom)
      assert(persisted == before)
    }
    assert(lazyHeld.storageLevel == StorageLevel.NONE)
  }

  test("an embedder's own cache outlives a CLI job, and a near-dup " +
    "ingest holds nothing in the root scope") {
    val mine = spark.range(0L, 50L).toDF("id").filter(col("id") > 7)
    mine.persist().count()
    try {
      val wiki = Files.createTempFile("scope_wiki", ".txt")
      Files.write(wiki, java.util.Arrays.asList(
        """<doc id="1" url="u" title="A">alpha alpha beta</doc>""",
        """<doc id="2" url="u" title="B">gamma gamma delta</doc>"""))
      val out = Files.createTempDirectory("scope_out").resolve("tfidf")
      cli.Main.run(spark, "tfidf",
        Map("input" -> wiki.toString, "output" -> out.toString))
      assert(spark.read.parquet(out.toString).count() == 4)
      assert(mine.storageLevel != StorageLevel.NONE)
    } finally mine.unpersist()

    Scope.releaseRoot()
    val dir = Files.createTempDirectory("scope_nd").toString
    (1L to 20L).map(i => (i, s"doc ${i % 4} shares words with its kin $i"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val res = streaming.EventsStream.neardupIngest(spark, dir, s"$dir/stage",
      s"$dir/idx", s"$dir/res")
    assert(res.count() == 4)
    // closing the root scope finds nothing to release
    val (released, _) = Scope.tally
    Scope.releaseRoot()
    assert(Scope.tally._1 == released)
  }
}
