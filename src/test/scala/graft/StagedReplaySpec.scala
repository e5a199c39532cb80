package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.EventsStream.{deleteTree, latestVersion, versionStep}

/** The versioned-artifact step the streaming maintainers share: the
  * predecessor each batch sees, what a retry rewrites, and what the
  * reap leaves behind. */
class StagedReplaySpec extends SparkSpec {

  import spark.implicits._

  private def exists(p: String) = new java.io.File(p).exists()

  test("versionStep: first batch sees no predecessor, a retried batch " +
    "re-reads v(N-1) and rewrites identical rows, v(N-2) is reaped") {
    val art = Files.createTempDirectory("graft_versionstep_").toString
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Option[String])]()
    // a running-sum artifact: v<N> = v(N-1) + the batch's value
    def step(batchId: Long, value: Long): Unit =
      versionStep(art, batchId) { (prev, out) =>
        seen += batchId -> prev
        val part = Seq(("k", value)).toDF("k", "n")
        val merged = prev match {
          case None => part
          case Some(p) => spark.read.parquet(p).unionByName(part)
            .groupBy("k").agg(sum(col("n")).as("n"))
        }
        merged.write.mode("overwrite").parquet(out)
      }
    def read(v: Long) = rows(spark.read.parquet(s"$art/v$v"))

    step(0, 10)
    assert(seen.last == (0L -> None))
    assert(read(0) == Seq("k|10"))

    step(1, 5)
    assert(read(1) == Seq("k|15"))
    // retry of batch 1 after v1 exists: same predecessor, same rows
    step(1, 5)
    assert(seen.last == (1L -> Some(s"$art/v0")))
    assert(read(1) == Seq("k|15"))
    assert(exists(s"$art/v0"), "v0 is v(N-1) of batch 1, kept for retries")

    step(2, 1)
    assert(seen.last == (2L -> Some(s"$art/v1")))
    assert(read(2) == Seq("k|16"))
    assert(!exists(s"$art/v0"), "v(N-2) must be reaped once v2 lands")
    assert(exists(s"$art/v1"))
    assert(latestVersion(art) == s"$art/v2")
    deleteTree(art)
  }

  test("deleteTree: removes a nested tree; a missing path is a no-op") {
    val root = Files.createTempDirectory("graft_deletetree_")
    val leaf = Files.createDirectories(root.resolve("a/b"))
    Files.write(leaf.resolve("f.txt"), "x".getBytes)
    deleteTree(root.toString)
    assert(!Files.exists(root))
    deleteTree(root.toString) // already gone
    deleteTree(root.resolve("never/was").toString)
  }
}
