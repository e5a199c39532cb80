package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard config: AQE on, UTC,
  * shuffle parallelism matched to local cores (not the 200 default —
  * on a real cluster this is sized to executors × cores instead).
  * The one place a `SparkSession` is built: the CLI, `Bench`, `Verify`
  * and the specs all come through here.
  */
object GraftSession {
  def local(app: String, cores: Int = 32): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // NOTE (r14, measured negative and NOT enabled):
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true
      // lets AQE coalesce shuffles inside cached plans — it fixed the
      // winnow family's 32-task tiny stages (dedup_winnow_rewrite
      // 9.8→7.1 s) but byte-based coalescing collapses CPU-heavy
      // small-byte cached stages to ONE task (sim_docs_tfidf's pair
      // dot-product job ran 3.95 s single-task; the gate ~2× slower).
      // Bytes are the wrong proxy for CPU-bound text work — default
      // kept.
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet uses TIMESTAMP(NANOS); read as epoch-nanos
      // long and convert in Tables.normalizeTs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Spark's generated-code cache is keyed by (class loader, source).
      // With artifact isolation on (the default), every session UUID gets
      // its own executor class loader — each `newSession()` and each
      // streaming query's cloned session — so task-side classes would
      // never hit the cache across sessions (~280 recompiles per warm
      // near-dup ingest). The engine adds no session artifacts (no
      // `addArtifact` anywhere), so one shared loader loses nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // One cold near-dup ingest alone needs ~150 entries; the default
      // 100 thrashed (~220 recompiles per warm ingest with a shared
      // loader). Static: it holds only if set before the first session.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietBenignWarnings()
    s
  }

  /** Known-benign WARN lines that would bury new warnings, each dropped
    * by a filter on its logger; the loggers' other warnings (say, a
    * failed checkpoint-exists probe) still show. Streaming queries log,
    * from `ResolveWriteToStream`, on every query:
    *  - `Temporary checkpoint location created ...` — a query without
    *    a `checkpointLocation` (all but the resume gate's) drains
    *    through a temp dir that is deleted once it stops;
    *  - `spark.sql.adaptive.enabled is not supported in streaming
    *    DataFrames/Datasets and will be disabled` — misleading here:
    *    the jobs a `foreachBatch` body starts do run under AQE.
    * From `MicroBatchExecution`, on every stateful query (windowed
    * aggregation, `dropDuplicates`, stream-stream join):
    *  - `Disabling AQE since AQE is not supported in stateful
    *    workloads.` — by design: state-store partitions must keep the
    *    checkpoint's shuffle partition count, which AQE would change.
    * From `MapPartitionsRDD`, on each checkpoint [[Scope]] releases:
    *  - `RDD N was locally checkpointed, its lineage has been truncated
    *    and cannot be recomputed after unpersisting` — by then nothing
    *    reads it again. */
  private def quietBenignWarnings(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val streaming = "org.apache.spark.sql.execution.streaming.runtime"
    Seq(
      s"$streaming.ResolveWriteToStream" ->
        ("(?s)(Temporary checkpoint location created |" +
          "spark\\.sql\\.adaptive\\.enabled is not supported in " +
          "streaming ).*"),
      s"$streaming.MicroBatchExecution" ->
        ("(?s)Disabling AQE since AQE is not supported in stateful " +
          "workloads\\..*"),
      "org.apache.spark.rdd.MapPartitionsRDD" ->
        ("(?s)RDD \\d+ was locally checkpointed, its lineage has been " +
          "truncated and cannot be recomputed after unpersisting.*")
    ).foreach { case (name, regex) =>
      if (!conf.getLoggers.containsKey(name)) {
        // null level: the logger keeps inheriting the root's level
        val lc = new LoggerConfig(name, null, true)
        lc.addFilter(RegexFilter.createFilter(
          regex, null, false, Filter.Result.DENY, Filter.Result.NEUTRAL))
        conf.addLogger(name, lc)
        ctx.updateLoggers()
      }
    }
  }
}
