package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Session housekeeping between independent query runs: several
  * operators persist() intermediates they consume multiple times
  * (shingle sets, the TF table) and the streaming queries register
  * memory-sink tables — both are method-local, so the caller releases
  * them here once the query's result is materialized.
  */
object Housekeeping {
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    // localCheckpoint frames returned by the iterative-graph queries
    // hold MEMORY_AND_DISK blocks the CacheManager cannot see (they
    // are checkpointed RDDs, not catalog-cached plans), so a long
    // bench/verify session leaks them until exit (ADVICE r13 #1).
    // Sweep every persistent RDD still registered after clearCache —
    // anything the CacheManager owned is already gone, the rest is
    // checkpoint debris of the JUST-FINISHED query (callers release
    // between queries, never mid-plan). A failed unpersist of one RDD
    // must not stop the sweep; an interrupt or a fatal error must
    // still propagate (the CLI releases after every job).
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => try r.unpersist(blocking = false)
        catch { case NonFatal(_) => () })
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && (t.name.startsWith("graft_stream_") ||
        t.name.startsWith("graft_rollup_") || t.name.startsWith("graft_cube_")))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}
