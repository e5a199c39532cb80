package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming coverage over the `events` table: tumbling-window
  * aggregation with a watermark, executed with Trigger.AvailableNow for
  * deterministic batch-equivalent results (the batch twin is
  * Relational.eventsHourly, which shares the oracle).
  */
object EventsStream {

  /** The events parquet as a normalized file stream (the source needs a
    * directory path, hence the glob filter). */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Build the streaming frame against a CLONED session scoped to 8
    * shuffle partitions, drain it into a fresh memory sink with
    * AvailableNow, and return the materialized table.
    *
    * Why a cloned session: stateful streaming pays per (partition ×
    * state store × batch) — e.g. a stream-stream join maintains 2 stores
    * per partition — so the stream's shuffle parallelism is scoped far
    * below the batch default. Mutating the SHARED session's conf for the
    * duration (the previous approach) races against concurrent queries
    * on the same session; `newSession()` shares the SparkContext but
    * owns its SQLConf, so the parent session's conf is never touched.
    * (On a real cluster the scoped value would be sized to state
    * volume.) The memory-sink temp view lives in the scoped session's
    * catalog and is dropped once drained — the returned frame is bound
    * to the parent session.
    */
  private[graft] def runToMemory(spark: SparkSession,
                                 build: SparkSession => DataFrame,
                                 prefix: String,
                                 mode: String): DataFrame = {
    val scoped = scopedSession(spark)
    val name = s"graft_stream_${prefix}_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = build(scoped).writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // hand the sink table back to the parent session by re-binding its
    // RDD (RDDs are context-level, not session-level — same pattern as
    // Dedup.assignCanonical's cross-session rebind). No driver
    // collect(): the memory sink is already driver-resident by harness
    // construction, but the rows flow to the parent plan as partitions,
    // not a second driver materialization.
    val drained = scoped.table(name)
    val result = spark.createDataFrame(drained.rdd, drained.schema)
    scoped.catalog.dropTempView(name)
    result
  }

  /** The session every stream here runs on: a clone of `spark` with
    * its own SQLConf, scoped to 8 shuffle partitions (the reason is in
    * [[runToMemory]]'s scaladoc). */
  private def scopedSession(spark: SparkSession): SparkSession = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    scoped
  }

  /** The `b<NN>.parquet` files [[stageBatches]] wrote under `stageDir`
    * as a file stream, ONE file per micro-batch, in staging order. */
  private[graft] def stagedSource(s: SparkSession,
                                  stageDir: String): DataFrame =
    s.readStream.schema(s.read.parquet(s"$stageDir/b00.parquet").schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "b*.parquet")
      .parquet(stageDir)

  /** Replay the staged micro-batches under `stageDir` through `f`
    * (batch, batchId) and return once the last one is done: append
    * mode, AvailableNow, foreachBatch, on a [[scopedSession]] — the
    * driver of every staged gate that lands its own per-batch results
    * or [[versionStep]] artifacts. Each call of `f` runs in its own
    * [[graft.Scope]], on the stream's thread. */
  private def replayStaged(spark: SparkSession, stageDir: String)(
      f: (DataFrame, Long) => Unit): Unit =
    stagedSource(scopedSession(spark), stageDir).writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) => graft.Scope.run(f(b, id)))
      .start()
      .awaitTermination()

  /** One micro-batch of a batch_id-VERSIONED artifact under `artDir`:
    * `write` gets v(N-1) — None when it does not exist, as on the first
    * batch — and the v<N> path it must (over)write; then v(N-2) is
    * reaped. State between batches lives in the artifact, not in Spark
    * state stores, so it survives restarts; a retried batch N re-reads
    * only v(N-1) and overwrites exactly v<N> (the exactly-once
    * file-sink recipe), so v(N-2) is dead once v<N> lands — without the
    * reap the dir would grow one full copy per micro-batch forever. */
  private[graft] def versionStep(artDir: String, batchId: Long)(
      write: (Option[String], String) => Unit): Unit = {
    val prev = s"$artDir/v${batchId - 1}"
    write(Some(prev).filter(new java.io.File(_).isDirectory),
      s"$artDir/v$batchId")
    deleteTree(s"$artDir/v${batchId - 2}")
  }

  /** The newest `v<N>` dir a [[versionStep]] sequence left in
    * `artDir`. */
  private[graft] def latestVersion(artDir: String): String = {
    val versions = Option(new java.io.File(artDir).listFiles()).toSeq
      .flatten.filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(_.getName.drop(1).toLong)
    s"$artDir/v${versions.max}"
  }

  /** Delete `path` and everything under it; a missing path is a no-op. */
  private[graft] def deleteTree(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists)
      finally walk.close()
    }
  }

  /** Stage `df` as three micro-batches, split on `key % 3`. */
  private def stageThirds(stageDir: String, df: DataFrame,
                          key: String): Unit =
    stageBatches(stageDir,
      (0 to 2).map(r => df.filter(col(key) % 3 === r)): _*)

  /** Per-(1-hour tumbling window, event_type) counts with the window
    * start as a string — the aggregation every hourly gate shares.
    * Output: (hour string, event_type, n_events). */
  private def hourlyWindows(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"))

  /** Hourly tumbling-window event counts as a stream job. Reads the
    * events parquet as a file stream, aggregates into 1-hour windows
    * (1h watermark), drains with AvailableNow into a memory sink, and
    * returns the final complete result.
    * Output: (hour string, event_type, n_events).
    */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => hourlyAgg(s, dir), "hourly", "complete")

  /** Streaming raw-HTML ingestion: the batch
    * [[graft.operators.HtmlText.extract]] projection applied UNCHANGED
    * to a text-file stream — it is a stateless map, so it is
    * streaming-composable by construction (this gate PROVES it) —
    * rolled up into per-language page counts (complete mode,
    * AvailableNow). `stageDir` first receives the rendered pages
    * through the text sink: the staged-file replay pattern every
    * file-stream gate here uses. At scale this is the continuous-crawl
    * shape: raw page files land in a directory, the stream picks them
    * up incrementally, and the same extraction plan serves batch and
    * streaming. Output: (lang, n_pages).
    */
  def htmlIngestCounts(spark: SparkSession, dir: String,
                       stageDir: String): DataFrame = {
    graft.operators.HtmlText.renderPages(
        graft.Tables.load(spark, dir, "documents"))
      .write.mode("overwrite").text(stageDir)
    runToMemory(spark, s =>
      graft.operators.HtmlText.extract(s.readStream.text(stageDir))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_pages")),
      "htmlingest", "complete")
  }

  /** Recrawl-variant URL rewrite shared by the Spark staging and the
    * DuckDB twin (group-1 keeps the canonical href prefix; the
    * replacement appends tracking noise that
    * [[graft.operators.Dedup.canonicalUrl]] must strip). Spark
    * substitutes `$1`, DuckDB `\1` — same pattern constants, the
    * splitCaseSql discipline. */
  private[graft] val UrlVariantRe =
    "(href=\"https://example\\.org/p/[0-9]+)\""
  private[graft] val UrlVariantNoise =
    "?utm_source=feed&fbclid=x9\""

  /** Streaming dedup-by-canonical-URL — the crawl-ingest composition
    * (round-8 verdict #7): every document page is staged TWICE, once at
    * its canonical URL and once as a tracking-parameter recrawl
    * variant (`?utm_source=feed&fbclid=…`), then the stream extracts,
    * canonicalizes the URL in-flight
    * ([[graft.operators.Dedup.canonicalUrl]] is a stateless projection,
    * streaming-composable exactly like the extract), and
    * `dropDuplicates` on the canonical URL keeps one page per real
    * document — the continuous-crawl reality where the same page
    * re-arrives under URL noise. Append mode: each canonical URL is
    * emitted exactly once. At scale the dedup state is bounded with
    * `dropDuplicatesWithinWatermark` over the crawl timestamp (the
    * [[dedupPairsBounded]] contract); the staged replay here carries
    * no event time, so the gate pins the unbounded-state form.
    * Output: (curl, lang) — one row per canonical URL.
    */
  def urlDedupIngest(spark: SparkSession, dir: String,
                     stageDir: String): DataFrame = {
    val pages = graft.operators.HtmlText.renderPages(
      graft.Tables.load(spark, dir, "documents"))
    pages.unionAll(pages.select(
        regexp_replace(col("value"), UrlVariantRe,
          "$1" + UrlVariantNoise).as("value")))
      .write.mode("overwrite").text(stageDir)
    runToMemory(spark, s =>
      graft.operators.HtmlText.extract(s.readStream.text(stageDir))
        .select(graft.operators.Dedup.canonicalUrl(col("url"))
          .as("curl"), col("lang"))
        .dropDuplicates("curl"),
      "urldedup", "append")
  }

  /** Sliding-window event counts (1-hour windows every 30 minutes —
    * each event lands in two windows), watermarked, AvailableNow.
    * Output: (hour string, event_type, n_events).
    */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events")),
      "sliding", "complete")

  /** Stream-static join: the event stream enriched against the static
    * customer dimension (broadcast per micro-batch), aggregated to
    * per-segment event counts. Output: (c_mktsegment, n_events).
    */
  def eventsBySegment(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      eventsStream(s, dir)
        .join(broadcast(customer), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"))
    }, "segment", "complete")

  /** Streaming deduplication: distinct (user_id, event_type) pairs seen
    * on the stream (dropDuplicates keeps first-arrival state per key;
    * emitting only the key columns makes the result order-independent).
    * Output: (user_id, event_type).
    */
  def dedupPairs(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => eventsStream(s, dir)
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type"),
      "dedup", "append")

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    * keeps a key's dedup state only until the watermark passes its
    * event time, so state is O(keys-per-watermark-window) instead of
    * [[dedupPairs]]'s O(all keys ever) — the only dedup that survives
    * an unbounded stream. Contract: duplicates are guaranteed dropped
    * only when they arrive within the watermark delay of the first
    * occurrence; the events table spans ~a month and the delay here
    * is 40 days, so every duplicate falls inside one window and the
    * result equals global DISTINCT — which is exactly what the shared
    * oracle checks (same twin, different physical operator: the
    * decontam-bloom one-oracle-two-plans pattern). */
  def dedupPairsBounded(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => eventsStream(s, dir)
      .withWatermark("ts", "40 days")
      .select("user_id", "event_type", "ts")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type"),
      "dedupb", "append")

  /** Stream-stream inner join with event-time range: signups joined to
    * the same user's purchases within the following hour. Both sides are
    * watermarked and the join condition carries the time bounds, so
    * Spark can expire join state; with AvailableNow the result equals
    * the batch self-join. Output: (signup_id, purchase_id, user_id).
    */
  def signupToPurchase(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => {
      val signups = eventsStream(s, dir)
        .filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"),
          col("user_id").as("s_user"), col("ts").as("s_ts"))
        .withWatermark("s_ts", "1 hour")
      val purchases = eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      signups.join(purchases,
          col("s_user") === col("p_user") &&
            col("p_ts") >= col("s_ts") &&
            col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("signup_id"), col("purchase_id"),
          col("s_user").as("user_id"))
    }, "sjoin", "append")

  /** Watermarked stream-stream LEFT OUTER join — the state-eviction
    * emission semantics the inner variant never exercises: an unmatched
    * signup row is emitted (purchase columns NULL) only when the
    * watermark proves no future purchase can still match it.
    *
    * Replay shape (same 3-batch staging as [[hourlyCountsLate]], for
    * the same reason): batch 0 carries ALL events — every inner match
    * is produced there, while the watermark is still at MIN_VALUE so
    * nothing is dropped on input; batches 1 and 2 are EMPTY carrier
    * files whose only job is to bring batch 0's watermark into effect
    * (the one-batch lag means a single trailing batch may still run
    * against MIN_VALUE) so left-state eviction actually fires before
    * AvailableNow terminates.
    *
    * The final row set is deterministic: every matched pair, plus the
    * unmatched signups whose last matchable instant (s_ts + 1h) lies
    * STRICTLY below the terminal watermark W = min(max signup ts,
    * max purchase ts) - 1min (two event-time columns → the global
    * watermark is their min; probed boundary: eviction is
    * `s_ts + 1h < W` — a row exactly AT the watermark stays, pinned
    * by Round14Spec). Unmatched signups at or above that stay in
    * state at termination and are never
    * emitted — exactly the production behavior users get wrong.
    * Output: (signup_id, purchase_id nullable, user_id).
    */
  def signupToPurchaseOuter(spark: SparkSession, dir: String,
                            stageDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    stageBatches(stageDir, raw, raw.limit(0), raw.limit(0))
    def staged(s: SparkSession): DataFrame =
      graft.Tables.normalizeTs(stagedSource(s, stageDir))
    runToMemory(spark, s => {
      val signups = staged(s)
        .filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"),
          col("user_id").as("s_user"), col("ts").as("s_ts"))
        .withWatermark("s_ts", "1 minute")
      val purchases = staged(s)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 minute")
      signups.join(purchases,
          col("s_user") === col("p_user") &&
            col("p_ts") >= col("s_ts") &&
            col("p_ts") <= col("s_ts") + expr("INTERVAL 1 HOUR"),
          "left_outer")
        .select(col("signup_id"), col("purchase_id"),
          col("s_user").as("user_id"))
    }, "sojoin", "append")
  }

  /** Native session-window aggregation: Spark's `session_window` merges
    * an event into the current session while it falls within the
    * previous event's ts + gap extension INCLUSIVE of the boundary —
    * a gap of exactly 30 minutes still merges (probed empirically;
    * the batch twin's break condition is therefore `diff > gap`).
    * Complete mode
    * (session windows reject update mode; append would withhold
    * sessions newer than the final watermark) + AvailableNow = the
    * final table holds every merged session.
    * Output: (user_id, session_start string, n_events).
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    runToMemory(spark, s => eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events")),
      "sessionwin", "complete")

  /** The hourly windowed aggregation shared by [[hourlyCounts]] and
    * [[hourlyViaForeachBatch]] — ONE definition, one oracle. */
  private def hourlyAgg(s: SparkSession, dir: String): DataFrame =
    hourlyWindows(eventsStream(s, dir).withWatermark("ts", "1 hour"))

  /** foreachBatch sink — the production pattern for landing a stream in
    * a batch-format table: each micro-batch is written through the
    * ordinary batch writer, partitioned by the batch id so replays
    * OVERWRITE their own partition (idempotent under retries — the
    * exactly-once recipe for file sinks). Complete mode: each batch
    * rewrites the whole aggregate; reading back only the LAST batch id
    * yields the final table. Returns the read-back result.
    * Output: (hour string, event_type, n_events) — same surface/oracle
    * as [[hourlyCounts]].
    */
  def hourlyViaForeachBatch(spark: SparkSession, dir: String,
                            outDir: String): DataFrame = {
    val q = hourlyAgg(scopedSession(spark), dir).writeStream
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // explicit batch_id=<id> subdirectory (not partitionBy): each
        // replayed batch overwrites exactly its own directory, and an
        // EMPTY batch still writes parquet schema metadata — the
        // read-back below never hits schema-inference failures
        batch.write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
    q.awaitTermination()
    // zero batches (empty source): no directories were written — hand
    // back an empty frame with the aggregation's schema
    val batchDirs = Option(new java.io.File(outDir).listFiles()).toSeq
      .flatten.filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    if (batchDirs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("hour",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_events",
            org.apache.spark.sql.types.LongType, nullable = false))))
    val all = spark.read.parquet(outDir)
    // partition-column type is INFERRED on read (int for small ids)
    val last = all.agg(max(col("batch_id")).cast("long")).head().getLong(0)
    all.filter(col("batch_id") === last).drop("batch_id")
  }

  /** Streaming MATERIALIZED-AGGREGATE maintenance — the production
    * "streaming materialized view" composition of the foreachBatch
    * sink and the rollup artifact (round-9; completes the
    * [[graft.operators.Relational.rollupArtifactWrite]] story): the
    * events stream replays as three staged micro-batches, and each
    * batch MERGES its daily partial aggregate into a batch_id-VERSIONED
    * rollup artifact — v(N) = day-keyed sum-merge of v(N-1) and
    * dailyRollup(batch N), one [[versionStep]] per batch. State between
    * batches lives in the ARTIFACT, not in Spark state stores, so the
    * view survives restarts for free; versioned dirs make replays
    * idempotent. DECIMAL partial sums make the merge exact under ANY
    * batch split, so the final artifact equals the one-shot batch
    * recompute — the gate shares rel_incremental_refresh's
    * full-recompute twin.
    * Output: (day, n_events, sum_value).
    */
  def rollupMaintain(spark: SparkSession, dir: String, stageDir: String,
                     artDir: String): DataFrame = {
    stageThirds(stageDir, spark.read.parquet(s"$dir/events.parquet"),
      "event_id")
    val zero = lit(BigDecimal(0)).cast("decimal(18,6)")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        val part = graft.operators.Relational
          .dailyRollup(graft.Tables.normalizeTs(batch))
          .withColumnsRenamed(Map("n_events" -> "bn", "sv" -> "bsv"))
        val merged = prev match {
          case None => part.select(col("day"), col("bn").as("n_events"),
            col("bsv").as("sv"))
          case Some(p) => batch.sparkSession.read.parquet(p)
            .join(part, Seq("day"), "full_outer")
            .select(col("day"),
              (coalesce(col("n_events"), lit(0L))
                + coalesce(col("bn"), lit(0L))).as("n_events"),
              (coalesce(col("sv"), zero) + coalesce(col("bsv"), zero))
                .cast("decimal(18,6)").as("sv"))
        }
        merged.write.mode("overwrite").parquet(out)
      }
    }
    spark.read.parquet(latestVersion(artDir))
      .select(col("day"), col("n_events"),
        col("sv").cast("double").as("sum_value"))
  }

  /** Late-data drop gate: the events stream replayed as THREE
    * deterministic micro-batches so the watermark actually FIRES.
    *
    * Every other stream gate drains ordered input in one AvailableNow
    * pass, where the watermark starts at MIN_VALUE and nothing is ever
    * dropped — the row-dropping semantics were unexercised. Probed
    * semantics (pinned by Round5Spec): Spark filters batch N's late
    * rows against the watermark of batch N-1 — i.e. the value computed
    * after batch N-2 — and the drop predicate is
    * `window.end <= watermark` (a window whose end EQUALS the watermark
    * is already closed). Two batches therefore never drop anything
    * (batch 1 is filtered against the initial MIN_VALUE watermark); the
    * replay needs three:
    *   batch 0 (event_id%10 >= 2, 80% of events spanning the full time
    *     range) advances the watermark to W = max(ts)-1min;
    *   batch 1 (event_id%10 == 1) is the carrier batch that brings W
    *     into late-filter effect (its own rows all pass — they are
    *     filtered against MIN_VALUE — and it evicts state <= W);
    *   batch 2 (event_id%10 == 0) arrives LATE: only rows whose
    *     hour-window end exceeds W survive.
    *
    * Update mode + memory sink: each batch emits the updated count per
    * touched window; counts per key only grow, so `max` per
    * (hour, event_type) collapses the update log to the final table.
    * Output: (hour string, event_type, n_events) — DIFFERS from
    * [[hourlyCounts]] exactly by the dropped late rows; the oracle
    * recomputes the drop rule relationally, so the gate fails if the
    * watermark ever stops dropping.
    */
  def hourlyCountsLate(spark: SparkSession, dir: String,
                       stageDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    stageBatches(stageDir,
      raw.filter(col("event_id") % 10 >= 2),
      raw.filter(col("event_id") % 10 === 1),
      raw.filter(col("event_id") % 10 === 0))
    hourlyCountsStaged(spark, stageDir)
  }

  /** [[stageBatches]] with an explicit starting file index — used by
    * the resume gate to APPEND later micro-batch files to an
    * already-drained stage directory without clobbering the files the
    * checkpoint has committed. */
  private[graft] def stageBatchesFrom(stageDir: String, startIdx: Int,
                                      batches: DataFrame*): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    batches.zipWithIndex.foreach { case (df, off) =>
      val i = startIdx + off
      val tmp = s"$stageDir/_stage$i"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(stageDir, f"b$i%02d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified((i + 1) * 60000L)
      deleteTree(tmp)
    }
  }

  /** Checkpointed stop-and-resume: the exactly-once semantics a
    * production streaming job actually depends on. Phase 1 stages
    * batches 0–1 and drains them with a checkpoint; phase 2 appends a
    * THIRD staged file to the same directory and starts a NEW query
    * from the SAME checkpoint — the restarted query must restore its
    * aggregation state and file-source offsets, process ONLY the new
    * file, and emit the complete counts over all three batches. If
    * restart re-read the committed files, every restored hour would
    * double-count and the oracle hash (the plain batch aggregate)
    * would catch it; if state were lost, phase-1 hours would vanish.
    * The foreachBatch batch_id=N layout also pins offset restoration:
    * the resumed run's directory continues the batch numbering
    * (asserted by spec) instead of restarting at 0.
    * Output: (hour string, event_type, n_events) over ALL events.
    */
  def hourlyCountsResumed(spark: SparkSession, dir: String,
                          stageDir: String, outDir: String,
                          ckptDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    stageBatchesFrom(stageDir, 0,
      raw.filter(col("event_id") % 10 >= 2),
      raw.filter(col("event_id") % 10 === 1))
    def drain(): Unit = {
      val q = hourlyWindows(graft.Tables.normalizeTs(
          stagedSource(scopedSession(spark), stageDir)))
        .writeStream
        .outputMode("complete")
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         batchId: Long) =>
          batch.write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$batchId")
        }
        .start()
      q.awaitTermination()
    }
    drain() // phase 1: batches 0-1, checkpoint committed
    stageBatchesFrom(stageDir, 2, raw.filter(col("event_id") % 10 === 0))
    drain() // phase 2: resume — only the new file may be processed
    val all = spark.read.parquet(outDir)
    val last = all.agg(max(col("batch_id")).cast("long")).head().getLong(0)
    all.filter(col("batch_id") === last).drop("batch_id")
  }

  /** Write each frame as ONE parquet file `bNN.parquet` under
    * `stageDir` with strictly increasing modification times —
    * FileStreamSource orders by (modTime, path), so with
    * maxFilesPerTrigger=1 ([[stagedSource]]) the files replay as
    * micro-batches in exactly this sequence. */
  private[graft] def stageBatches(stageDir: String,
                                  batches: DataFrame*): Unit =
    stageBatchesFrom(stageDir, 0, batches: _*)

  /** The staged events with a 1-minute watermark, hourly-windowed —
    * the replay behind the late-drop and append-finalization gates. */
  private def hourlyStagedWatermarked(s: SparkSession,
                                      stageDir: String): DataFrame =
    hourlyWindows(graft.Tables.normalizeTs(stagedSource(s, stageDir))
      .withWatermark("ts", "1 minute"))

  /** The watermarked hourly aggregation over a staged batch directory,
    * one file per micro-batch (see [[stageBatches]]). */
  private[graft] def hourlyCountsStaged(spark: SparkSession,
                                        stageDir: String): DataFrame =
    runToMemory(spark, hourlyStagedWatermarked(_, stageDir),
        "late", "update")
      .groupBy("hour", "event_type")
      .agg(max(col("n_events")).as("n_events"))

  /** Hourly tumbling counts in APPEND mode over the same 3-batch
    * staged replay as [[hourlyCountsLate]] — the production output
    * mode: a window is emitted ONCE, when the watermark passes its
    * end, and its state is dropped. Complete mode re-emits the whole
    * result every batch (fine for a gate, unbounded at scale); append
    * is what a 100 TB hourly rollup actually runs, and what this gate
    * pins is the finalization rule — which windows have been emitted
    * by end-of-stream and which are still held in state (never
    * emitted under AvailableNow).
    *
    * Emission rule (probed, same one-batch lag as the late-drop rule):
    * at batch N the engine finalizes against the watermark computed
    * after batch N−1, so by the final commit the emitted set is
    * windows with end ≤ max(ts over batches 0..1) − 1 min; equality
    * still held (the drop rule's `end <= wm` keeps, the emit rule's
    * `end <= wm` fires — probed and spec-pinned). Batch 2's late rows
    * are dropped by the same watermark first, so they can neither
    * reopen an emitted window nor pad a held one.
    * Output: (hour string, event_type, n_events) — finalized windows
    * only. */
  def hourlyCountsAppend(spark: SparkSession, dir: String,
                         stageDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    stageBatches(stageDir,
      raw.filter(col("event_id") % 10 >= 2),
      raw.filter(col("event_id") % 10 === 1),
      raw.filter(col("event_id") % 10 === 0))
    runToMemory(spark, hourlyStagedWatermarked(_, stageDir),
      "appendfin", "append")
  }

  /** Open-session state for [[sessionsWithTimeout]] — seconds-floored
    * times so the gap rule is the batch twin's whole-second diff. */
  case class OpenSess(startSec: Long, lastSec: Long, n: Long)

  /** Custom stateful sessionization with EVENT-TIME TIMEOUT — the
    * GroupStateTimeout.EventTimeTimeout pattern [[sessionWindows]]'
    * built-in session_window hides: state is the user's one open
    * session; a session closes (and emits) either when a LATER event
    * of the same user breaks the 30-min gap in-batch, or when the
    * WATERMARK passes its timeout instant (last event + gap) and Spark
    * invokes the group with hasTimedOut — the state-eviction callback
    * users of the raw API must get right.
    *
    * Replay: the events are staged as three TIME-SLICED micro-batches
    * (calendar cuts Jan 11 / Jan 21 — the generator's span is fixed,
    * so the cuts hold at every SF). Time-ordering makes the semantics
    * equal the batch [[graft.operators.Relational.sessionize]] rule:
    * a session that might continue across a batch cut cannot have
    * timed out first, because its timeout (last + 30 min) necessarily
    * exceeds the watermark (max prior ts - 1 min < cut ≤ next event ≤
    * last + 30 min). AvailableNow runs a final no-data batch that
    * brings the terminal watermark into effect, so timeouts fire for
    * every session except those within (gap + delay) of the stream's
    * end — which stay OPEN in state, never emitted (the deterministic
    * production behavior).
    *
    * Emitted set (oracle-replayable): every session with a same-user
    * successor event, plus each user's LAST session iff
    * (lastSec + 1800) * 1000 ms is STRICTLY below the terminal
    * watermark (max event ms - 60000) — boundary probed and pinned by
    * Round14Spec (a timeout exactly AT the watermark does not fire).
    * Output: (user_id, session_start string, n_events, duration_sec).
    */
  def sessionsWithTimeout(spark: SparkSession, dir: String,
                          stageDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val c1 = lit("2024-01-11").cast("timestamp")
    val c2 = lit("2024-01-21").cast("timestamp")
    stageBatches(stageDir,
      raw.filter(col("ts") < c1),
      raw.filter(col("ts") >= c1 && col("ts") < c2),
      raw.filter(col("ts") >= c2))
    val GapSec = 1800L
    runToMemory(spark, s => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      graft.Tables.normalizeTs(stagedSource(s, stageDir))
        .withWatermark("ts", "1 minute")
        .select($"user_id".as[Long], $"ts".as[java.sql.Timestamp])
        .groupByKey(_._1)
        .flatMapGroupsWithState[OpenSess, (Long, String, Long, Long)](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
          case (uid, rows, state) =>
            // formatter built in-function: DateTimeFormatter is not
            // Serializable, so it must not be captured by this closure
            def out(o: OpenSess) = (uid,
              java.time.format.DateTimeFormatter
                .ofPattern("yyyy-MM-dd HH:mm:ss")
                .withZone(java.time.ZoneOffset.UTC)
                .format(java.time.Instant.ofEpochSecond(o.startSec)),
              o.n, o.lastSec - o.startSec)
            if (state.hasTimedOut) {
              val o = state.get
              state.remove()
              Iterator.single(out(o))
            } else {
              // floorDiv(ms) == the µs second floor (floors compose),
              // so the gap rule is the twin's unix_timestamp diff
              val secs = rows
                .map(r => Math.floorDiv(r._2.getTime, 1000L))
                .toArray.sorted
              var open = state.getOption
              val closed =
                scala.collection.mutable.ArrayBuffer[OpenSess]()
              secs.foreach { t =>
                open match {
                  case Some(o) if t - o.lastSec <= GapSec =>
                    open = Some(OpenSess(o.startSec, t, o.n + 1))
                  case Some(o) =>
                    closed += o
                    open = Some(OpenSess(t, t, 1))
                  case None =>
                    open = Some(OpenSess(t, t, 1))
                }
              }
              val o = open.get
              state.update(o)
              // setTimeoutTimestamp rejects values at or below the
              // current watermark; the clamp cannot fire on the
              // time-sliced staging (see scaladoc) but keeps the
              // operator total
              state.setTimeoutTimestamp(math.max(
                (o.lastSec + GapSec) * 1000L,
                state.getCurrentWatermarkMs + 1))
              closed.iterator.map(out)
            }
        }
        .toDF("user_id", "session_start", "n_events", "duration_sec")
    }, "sessto", "append")
  }

  /** Per-user event totals via stateful streaming
    * (mapGroupsWithState, update mode): each micro-batch folds its rows
    * into a per-user running count held in GroupState. The memory sink
    * accumulates one updated row per (batch, user); the final
    * `max(n_events)` per user collapses them to the totals (counts are
    * monotone), so the result is batch-equivalent regardless of how the
    * input was split into micro-batches.
    * Output: (user_id, n_events).
    */
  def userCountsStateful(spark: SparkSession, dir: String): DataFrame = {
    val updates = runToMemory(spark, s => {
      import s.implicits._
      import org.apache.spark.sql.streaming.GroupStateTimeout
      eventsStream(s, dir).select($"user_id".as[Long])
        .groupByKey(identity)
        .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
          case (uid, rows, state) =>
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            (uid, n)
        }
        .toDF("user_id", "n_events")
    }, "counts", "update")
    updates.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"))
  }

  /** Per-(user, event_type) running counts via flatMapGroupsWithState —
    * the multi-row-emission stateful API ([[userCountsStateful]]'s
    * mapGroupsWithState can return exactly ONE row per group per batch;
    * here a group emits 0..n rows: one per event_type its micro-batch
    * actually touched, from a Map state). The memory sink accumulates
    * one row per (batch, user, touched type); counts are monotone, so
    * `max` per (user, type) collapses them to the totals and the result
    * is batch-split-independent. Output: (user_id, event_type, n_events).
    */
  def typeCountsStateful(spark: SparkSession, dir: String): DataFrame = {
    val updates = runToMemory(spark, s => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      eventsStream(s, dir)
        .select($"user_id".as[Long], $"event_type".as[String])
        .groupByKey(_._1)
        .flatMapGroupsWithState[Map[String, Long], (Long, String, Long)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout) {
          case (uid, rows, state) =>
            val counts = state.getOption.getOrElse(Map.empty[String, Long])
            // fold this batch's rows; track which types it touched
            val touched = scala.collection.mutable.LinkedHashMap[String, Long]()
            var next = counts
            rows.foreach { case (_, t) =>
              val n = next.getOrElse(t, 0L) + 1L
              next = next.updated(t, n)
              touched(t) = n
            }
            state.update(next)
            touched.iterator.map { case (t, n) => (uid, t, n) }
        }
        .toDF("user_id", "event_type", "n_events")
    }, "typecounts", "update")
    updates.groupBy("user_id", "event_type")
      .agg(max(col("n_events")).as("n_events"))
  }

  /** Streaming-maintained count-min sketch — [[rollupMaintain]]'s
    * versioned artifact cycle ([[versionStep]]) applied to the CMS
    * ([[graft.operators.Relational.cmsBuild]]): each micro-batch
    * builds its own sparse sketch and full-outer SUMS it into the
    * previous version (counters are linear, so the maintained sketch
    * is bit-identical to a from-scratch build over everything seen —
    * the same mergeability [[rollupMaintain]] exploits for DECIMAL
    * partials, here for approximate state). The final artifact serves
    * the same top-20 heavy-hitter estimate audit as the batch gate —
    * ONE oracle, batch and streaming maintenance as two physical
    * plans.
    * Output: (user_id, n_exact, est, overcount). */
  def cmsMaintain(spark: SparkSession, dir: String, stageDir: String,
                  artDir: String): DataFrame = {
    import graft.operators.Relational
    val raw = spark.read.parquet(s"$dir/events.parquet")
    stageThirds(stageDir, raw, "event_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        // single-file micro-batch → one partition; re-spread so the
        // per-row md5 sketch hashing parallelizes (r13)
        val delta = Relational.cmsBuild(graft.Tables.spread(batch),
            "user_id")
          .withColumnsRenamed(Map("cnt" -> "bcnt"))
        val merged = prev match {
          case None => delta.select(col("d"), col("b"), col("bcnt").as("cnt"))
          case Some(p) => batch.sparkSession.read.parquet(p)
            .join(delta, Seq("d", "b"), "full_outer")
            .select(col("d"), col("b"),
              (coalesce(col("cnt"), lit(0L))
                + coalesce(col("bcnt"), lit(0L))).as("cnt"))
        }
        merged.write.mode("overwrite").parquet(out)
      }
    }
    val sketch = spark.read.parquet(latestVersion(artDir))
    val probes = raw
      .groupBy(col("user_id").cast("string").as("k"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("k"))
      .limit(20)
    Relational.cmsEstimate(sketch, probes)
      .select(col("k").as("user_id"), col("n_exact"), col("est"),
        (col("est") - col("n_exact")).as("overcount"))
  }

  /** Streaming-maintained equi-width HISTOGRAM — the last member of
    * the mergeable-sketch maintainer matrix (bloom = membership, CMS =
    * point frequency, HLL = distinct, histogram = DISTRIBUTION):
    * [[cmsMaintain]]'s [[versionStep]] cycle applied to
    * [[graft.operators.Relational.histBuild]]. Each micro-batch
    * builds its own sparse (event_type, bucket) counter frame and
    * full-outer SUMS it into the previous version — counters are
    * linear, so the maintained histogram is bit-identical to a
    * from-scratch build over everything seen, and the final artifact
    * serves the SAME quantile-estimate audit as `rel_hist_artifact`
    * (one oracle, batch and streaming maintenance as two physical
    * plans). State is ≤ types×128 rows whatever the stream volume —
    * the per-batch merge cost is bounded by the GEOMETRY, so this is
    * the shape that lets a continuous ingest keep p50/p90/p99 value
    * monitors current without ever rescanning history.
    * Output: (event_type, p, bucket, est_upper) — histQuantiles off
    * the final version. */
  def histMaintain(spark: SparkSession, dir: String, stageDir: String,
                   artDir: String): DataFrame = {
    import graft.operators.Relational
    stageThirds(stageDir, spark.read.parquet(s"$dir/events.parquet"),
      "event_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        val delta = Relational
          .histBuild(graft.Tables.spread(batch)) // see cmsMaintain (r13)
          .withColumnsRenamed(Map("cnt" -> "bcnt"))
        val merged = prev match {
          case None => delta.select(col("event_type"), col("bucket"),
            col("bcnt").as("cnt"))
          case Some(p) => batch.sparkSession.read.parquet(p)
            .join(delta, Seq("event_type", "bucket"), "full_outer")
            .select(col("event_type"), col("bucket"),
              (coalesce(col("cnt"), lit(0L))
                + coalesce(col("bcnt"), lit(0L))).as("cnt"))
        }
        merged.write.mode("overwrite").parquet(out)
      }
    }
    Relational.histQuantiles(spark.read.parquet(latestVersion(artDir)))
  }

  /** Streaming NEAR-DUP dedup against the persisted band index — the
    * crawl-ingest reality (round-9 verdict #4): the corpus's MinHash
    * band index is built ONCE in batch
    * ([[graft.operators.Dedup.dedupIndexWrite]]), documents then
    * arrive as micro-batches, and each batch (a) probes the STORED
    * index via the identical candidate-then-verify tail
    * ([[graft.operators.Dedup.incrementalMinHashFromIndex]] UNCHANGED
    * inside foreachBatch), (b) records every doc's verdict, and (c)
    * APPENDS the surviving docs' signatures+shingles back to the index
    * ([[graft.operators.Dedup.dedupIndexAppend]]) — so batch N+1's
    * arrivals dedup against corpus AND every earlier survivor, exactly
    * the sequential semantics of a continuous crawl. Batch order is
    * pinned by the staged replay (maxFilesPerTrigger=1 over
    * mtime-ordered files), making the whole sequence deterministic;
    * the oracle replays the three batches as unrolled relational
    * stages over the SAME exact-Jaccard pair set (the
    * dedup_incremental twin device — band parameters make a true-pair
    * miss a ~1e-13 event, and the exact verify kills every false
    * positive).
    *
    * Idempotence note: per-batch verdicts land as overwrite-mode
    * per-batch dirs (retry-safe); the index APPEND is the same
    * at-least-once caveat every append-mode sink carries — production
    * versions the index per batch (a [[versionStep]] per micro-batch)
    * where replay is possible. Scale shape: everything is the
    * delta-sized probe join + bounded verify of the batch gates;
    * per-batch state lives in the lake, not the stream.
    * Output: (doc_id, n_corpus_dups, n_delta_dups, keep) — one row
    * per streamed doc, across all batches. */
  def neardupIngest(spark: SparkSession, dir: String, stageDir: String,
                    idxDir: String, resDir: String): DataFrame = {
    import graft.operators.Dedup
    val d = graft.Tables.load(spark, dir, "documents")
    Dedup.dedupIndexWrite(d.filter(col("doc_id") % 5 =!= 0), idxDir)
    val delta = d.filter(col("doc_id") % 5 === 0)
    stageBatches(stageDir,
      delta.filter(expr("(doc_id div 5) % 3 = 0")),
      delta.filter(expr("(doc_id div 5) % 3 = 1")),
      delta.filter(expr("(doc_id div 5) % 3 = 2")))
    replayStaged(spark, stageDir) { (batch, batchId) =>
      // NOT re-spread (unlike dsirScoreIngest, r13): a neardup
      // micro-batch is ~1/15 of the corpus and its cost is job
      // count, not per-row CPU — the extra repartition measured net
      // negative here
      val (res0, shDelta, deltaB) =
        Dedup.incrementalMinHashFromIndexOpen(batch, idxDir)
      // force the two persisted probe frames NOW (the Scope.warm
      // device, r13): the verdict action's many broadcast-exchange
      // subtrees (the candidate joins, the jaccard verify, the
      // verdict left-join) otherwise race to evaluate them cold,
      // each re-scanning + re-MinHashing the batch on its own thread
      // (profiled r14: 8 duplicate 33-task jobs per micro-batch).
      // One count materializes BOTH caches — deltaB consumes every
      // shDelta row on the way (the prSetup warm-deg device)
      deltaB.count()
      // two consumers: verdict write + survivor filter
      val res = graft.Scope.hold(res0)
      res.write.mode("overwrite").parquet(s"$resDir/b$batchId")
      // the append re-serves the probe's own shingle/band frames
      // filtered to the survivors (bit-identical per-doc functions)
      // instead of re-shingling + re-MinHashing the kept docs from
      // text — round-14, guide §1.2: halves the per-batch agg work
      Dedup.dedupIndexAppendFrom(res.filter(col("keep")), shDelta,
        deltaB, idxDir)
    }
    // the per-batch dirs resDir/b<id> read as one tree: a `b*` glob path
    // sends the file source probing for a sink metadata dir under the
    // literal glob, which logs a FileNotFoundException trace per call
    spark.read.option("recursiveFileLookup", "true").parquet(resDir)
  }

  /** Streaming-maintained BLOOM skipping index — the [[neardupIngest]]
    * ingest-and-index cycle applied to the lakehouse membership index
    * (VERDICT r11 task 5): documents/rows arrive as micro-batches,
    * each foreachBatch (a) LANDS the batch's rows in the lake
    * (append-mode parquet — new files only) and (b) calls
    * [[graft.io.CompatIo.bloomIndexAppend]], which scans ONLY the
    * files not yet indexed (the first batch finds no index and
    * full-builds — same thing over one batch's files). Because a
    * file's bit set is a pure function of its own rows and the index
    * is a union of per-file sets, the maintained index after the last
    * batch is BIT-IDENTICAL to a cold [[graft.io.CompatIo
    * .bloomIndexWrite]] rebuild over the whole lake (spec-pinned), and
    * a point lookup served through it equals the full-scan filter (the
    * gate). This closes the streaming half of the Bloom story: a
    * continuous crawl keeps point-lookup pruning current at
    * delta-sized indexing cost, never rescanning the lake.
    *
    * Idempotence: the lake append and the index append carry the same
    * at-least-once caveat as every append-mode sink (production
    * versions the index per batch — a [[versionStep]] per
    * micro-batch); the INDEX side is naturally idempotent on retry
    * because already-indexed files are skipped by the anti-join on
    * file keys.
    * Scale shape: per batch, one delta-sized scan + one ≤BloomBits-
    * per-file distinct; driver work is file lists only.
    * Output: the three probed point lookups through the maintained
    * index (l_orderkey ∈ {577, 578, 579} — one key per landed batch,
    * so every generation of the lake is probed). */
  def bloomMaintain(spark: SparkSession, dir: String, stageDir: String,
                    lakeDir: String, idxDir: String): DataFrame = {
    import graft.io.CompatIo
    stageThirds(stageDir, graft.Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice"), "l_orderkey")
    replayStaged(spark, stageDir) { (batch, _) =>
      batch.repartition(4).write.mode("append").parquet(lakeDir)
      CompatIo.bloomIndexAppend(batch.sparkSession, lakeDir, idxDir,
        "l_orderkey")
    }
    // 579 % 3 == 0 / 577 % 3 == 1 / 578 % 3 == 2: one probe per batch
    Seq(577L, 578L, 579L)
      .map(k => CompatIo.readWithBloomSkipping(spark, lakeDir, idxDir,
        "l_orderkey", k))
      .reduce(_ unionByName _)
  }

  /** Streaming DSIR scoring against the persisted bucket-LM table —
    * the [[lrScoreIngest]] shape applied to importance weighting: the
    * target-vs-raw log-ratio table is derived ONCE in batch
    * ([[graft.operators.Sampling.dsirIndexWrite]] on the reference
    * corpus), documents then arrive as micro-batches and each batch
    * runs [[graft.operators.Sampling.dsirScoreFromIndex]] UNCHANGED
    * inside foreachBatch (stateless tokenize + broadcast join + keyed
    * sum — per-row purity under the frozen table makes the per-batch
    * union ≡ one-shot batch scoring, which is exactly what the oracle
    * replays). This is how a continuous-crawl pipeline target-scores
    * pages as they land instead of re-deriving corpus LMs nightly.
    * Output: (doc_id, n_feats, logw_q) for every streamed doc with
    * features. */
  def dsirScoreIngest(spark: SparkSession, dir: String, stageDir: String,
                      artDir: String, resDir: String): DataFrame = {
    import graft.operators.Sampling
    val d = graft.Tables.load(spark, dir, "documents")
    Sampling.dsirIndexWrite(d, artDir)
    stageThirds(stageDir, d, "doc_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      // single-file micro-batch → one partition; re-spread so the
      // tokenize+bigram+hash chain parallelizes (measured r13: one
      // 3.3 s single-task job per batch before)
      Sampling.dsirScoreFromIndex(graft.Tables.spread(batch), artDir)
        .write.mode("overwrite").parquet(s"$resDir/b$batchId")
    }
    spark.read.option("recursiveFileLookup", "true").parquet(resDir)
  }

  /** Streaming CLASSIFIER-SCORED ingest — the quality-filter shape of
    * a continuous crawl: the linear classifier trains ONCE in batch
    * and persists its weight vector
    * ([[graft.operators.Classify.lrArtifactWrite]]); documents then
    * arrive as micro-batches and each foreachBatch scores the delta
    * from the STORED artifact
    * ([[graft.operators.Classify.lrScoreFromArtifact]] UNCHANGED
    * inside the batch closure — the neardupIngest discipline) and
    * lands per-batch verdicts. Because scoring is per-row pure given
    * frozen weights, the union of per-batch outputs is BIT-IDENTICAL
    * to one-shot batch scoring of the whole corpus — which is exactly
    * [[graft.operators.Classify.lrScore]]'s output, so the gate shares
    * text_lr_score's twin (the strongest identity available). Scale
    * shape: per batch one delta-sized feature build + a dims+1
    * broadcast join; the training corpus is never re-touched.
    * Output: (doc_id, y, p, pred) across all batches. */
  def lrScoreIngest(spark: SparkSession, dir: String, stageDir: String,
                    artDir: String, resDir: String, steps: Int,
                    lr: Double): DataFrame = {
    import graft.operators.Classify
    val d = graft.Tables.load(spark, dir, "documents")
    Classify.lrArtifactWrite(d, artDir, steps = steps, lr = lr)
    stageThirds(stageDir, d, "doc_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      // single-file micro-batch → one partition; re-spread so the
      // per-doc feature build parallelizes (the dsirScoreIngest r13
      // finding)
      Classify.lrScoreFromArtifact(graft.Tables.spread(batch), artDir)
        .write.mode("overwrite").parquet(s"$resDir/b$batchId")
    }
    spark.read.option("recursiveFileLookup", "true").parquet(resDir)
  }

  /** Streaming-maintained uniform fixed-size sample — a
    * [[versionStep]] artifact carrying
    * [[graft.operators.Sampling.bottomK]]'s mergeable sketch: each
    * micro-batch takes ITS OWN bottom-k by the salted md5 hash, unions
    * it with the stored sketch, re-takes bottom-k, and writes the next
    * artifact version. Because the bottom-k sketch is mergeable over
    * disjoint key sets, the final artifact is BIT-IDENTICAL to
    * [[graft.operators.Sampling.fixedSizeSample]] over the whole
    * corpus in one batch — the gate proves the merge identity, not
    * just "a sample came out". This is how a continuous-crawl corpus
    * keeps a standing holdout/eval sample without ever rescanning:
    * k rows of state, k·batches rows ever shuffled.
    * Output: (doc_id, h) — the final sketch, min(k, N) rows. */
  def sampleMaintain(spark: SparkSession, dir: String, stageDir: String,
                     artDir: String, k: Int = 137): DataFrame = {
    import graft.operators.Sampling
    stageThirds(stageDir, graft.Tables.load(spark, dir, "documents"),
      "doc_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        val part = Sampling.bottomK(batch, k)
        val merged = prev match {
          case None => part
          case Some(p) => Sampling.bottomK(
            batch.sparkSession.read.parquet(p).unionByName(part)
              // the union'd frame already carries h; re-hashing only
              // doc_id keeps the sketch a pure function of the key
              .select("doc_id"), k)
        }
        merged.write.mode("overwrite").parquet(out)
      }
    }
    spark.read.parquet(latestVersion(artDir))
  }

  /** Streaming-maintained dataset card — a [[versionStep]] artifact
    * carrying [[graft.operators.TextStats.cardState]]'s mergeable
    * (source, lang) counters: each micro-batch computes ITS OWN state
    * (one keyed agg over the delta), sums it into the stored state,
    * and writes the next artifact version. Because doc/token counts
    * are exact integer sums over disjoint batches, the final card is
    * BIT-IDENTICAL to the one-shot batch
    * [[graft.operators.TextStats.corpusCard]] minus its documented
    * non-mergeable dup_rate column (fingerprint multiplicity needs
    * fp-sized state; the counters need sources × 4 rows). This is how
    * a continuous-crawl corpus keeps its dataset card current without
    * ever rescanning: enum-sized state, delta-sized work per batch.
    * Output: [[graft.operators.TextStats.cardFromState]]'s columns. */
  def cardMaintain(spark: SparkSession, dir: String, stageDir: String,
                   artDir: String): DataFrame = {
    import graft.operators.TextStats
    stageThirds(stageDir, graft.Tables.load(spark, dir, "documents"),
      "doc_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        // re-spread: the per-doc tokenize in cardState otherwise runs
        // on the staged file's single partition (r13)
        val part = TextStats.cardState(graft.Tables.spread(batch))
        val merged = prev match {
          case None => part
          case Some(p) => batch.sparkSession.read.parquet(p)
            .unionByName(part)
            .groupBy("source", "lang")
            .agg(sum(col("n_docs")).as("n_docs"),
              sum(col("n_tokens")).as("n_tokens"))
        }
        merged.write.mode("overwrite").parquet(out)
      }
    }
    TextStats.cardFromState(spark.read.parquet(latestVersion(artDir)))
  }

  /** Streaming budgeted-mixture RE-FIT — the sampling CONTROLLER run
    * as a maintained artifact: per micro-batch, (1) sum the delta's
    * per-source token availability into the stored counters (exact
    * integer sums over disjoint batches — the [[cardMaintain]]
    * mergeability), then (2) re-run the water-filling solve
    * ([[graft.operators.Sampling.mixtureFit]]) on the MERGED counters
    * and version the fitted allocation next to them. This is how a
    * continuous-ingest corpus keeps its training-mix rates current —
    * every arriving delta shifts per-source availability, the solve
    * re-balances budget across sources — without ever rescanning the
    * corpus: counters are enum-sized, the solve runs over |sources|
    * rows, per-batch work is delta-sized. Because the counters are
    * exact and the solve is a pure function of them, the final
    * version's fit is BIT-IDENTICAL to the one-shot batch fit over
    * the whole corpus (the `samp_mix_fit` twin gates it). State
    * layout: `v<N>/stats` (source, avail) and `v<N>/fit`
    * ([[graft.operators.Sampling.mixtureFit]]'s columns); v(N−2)
    * reaped, retries re-read only v(N−1).
    * Output: the final version's fit. */
  def mixRefit(spark: SparkSession, dir: String, stageDir: String,
               artDir: String): DataFrame = {
    import graft.operators.Sampling
    stageThirds(stageDir, graft.Tables.load(spark, dir, "documents"),
      "doc_id")
    // the samp_mix_fit gate's md5-derived target weights — w is a pure
    // function of the source name, so the refit needs no weight state
    def weighted(stats: DataFrame): DataFrame =
      stats.withColumn("w",
        conv(substring(md5(col("source")), 1, 4), 16, 10)
          .cast("long") % 5 + 1)
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        val s2 = batch.sparkSession
        val part = batch.groupBy("source")
          .agg(sum(col("n_chars")).as("avail"))
        val merged = prev match {
          case None => part
          case Some(p) => s2.read.parquet(s"$p/stats").unionByName(part)
            .groupBy("source").agg(sum(col("avail")).as("avail"))
        }
        merged.write.mode("overwrite").parquet(s"$out/stats")
        // re-solve from the STORED counters (what a retry would see),
        // not the in-flight frame — the artifact is the controller's
        // only input
        Sampling.mixtureFit(weighted(s2.read.parquet(s"$out/stats")))
          .write.mode("overwrite").parquet(s"$out/fit")
      }
    }
    spark.read.parquet(s"${latestVersion(artDir)}/fit")
  }

  /** Streaming CUSUM monitor — the [[mixRefit]] controller pattern on
    * the change-point detector: per micro-batch, sum the delta's
    * (event_type, day) counts into the stored counters (exact integer
    * merge over disjoint batches) and re-run
    * [[graft.operators.Relational.cusumFromDaily]] on the merged
    * table, versioning the detected change-points next to the
    * counters (v<N>/counts + v<N>/cp, v<N−2> reaped). This is how a
    * monitoring pipeline keeps "where did the volume regime shift"
    * current as data lands — counters are day-spine-sized, per-batch
    * work is delta-sized, and because the counters are exact and the
    * solve pure, the final version's verdict is BIT-IDENTICAL to the
    * one-shot batch detector (rel_cusum's twin gates it).
    * Output: the final version's change-point table. */
  def cusumMaintain(spark: SparkSession, dir: String, stageDir: String,
                    artDir: String): DataFrame = {
    stageThirds(stageDir, graft.Tables.load(spark, dir, "events"),
      "event_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        val s2 = batch.sparkSession
        val part = batch
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
        val merged = prev match {
          case None => part
          case Some(p) => s2.read.parquet(s"$p/counts").unionByName(part)
            .groupBy("event_type", "day")
            .agg(sum(col("cnt")).as("cnt"))
        }
        merged.write.mode("overwrite").parquet(s"$out/counts")
        graft.operators.Relational.cusumFromDaily(
            s2.read.parquet(s"$out/counts"))
          .write.mode("overwrite").parquet(s"$out/cp")
      }
    }
    spark.read.parquet(s"${latestVersion(artDir)}/cp")
  }

  /** Streaming-maintained seasonal-naive FORECAST — the
    * [[cusumMaintain]] controller pattern on the forecasting state:
    * per micro-batch, merge the delta's (event_type, epoch-day) counts
    * into the stored daily table (exact integer sums — the mergeable
    * state) and re-derive the forecast
    * ([[graft.operators.Relational.seasonalForecastFromDaily]]) into
    * the next artifact version. Count mergeability + a pure derivation
    * make the final maintained forecast BIT-IDENTICAL to the one-shot
    * batch [[graft.operators.Relational.seasonalForecast]] — the gate
    * shares rel_forecast's twin. This is the production shape of a
    * live ops dashboard: per batch one delta-sized agg + a
    * days×types-bounded refresh, the raw event history never rescanned.
    * Output: (event_type, day, yhat) from the final version. */
  def forecastMaintain(spark: SparkSession, dir: String,
                       stageDir: String, artDir: String): DataFrame =
    dailyDeriveMaintain(spark, dir, stageDir, artDir,
      graft.operators.Relational.seasonalForecastFromDaily(_))

  /** Streaming-maintained WEEKLY-SEASONAL-MEAN forecast — the
    * [[forecastMaintain]] controller verbatim with the
    * [[graft.operators.Relational.seasonalMeanFromDaily]] derivation:
    * the maintained state is the SAME (event_type, epoch-day) integer
    * counter table, so the final maintained forecast is bit-identical
    * to the one-shot batch seasonalMeanForecast (shared twin).
    * Output: (event_type, day, n_hist, yhat) from the final version. */
  def seasonalMeanMaintain(spark: SparkSession, dir: String,
                           stageDir: String, artDir: String): DataFrame =
    dailyDeriveMaintain(spark, dir, stageDir, artDir,
      graft.operators.Relational.seasonalMeanFromDaily(_))

  /** Streaming-maintained CONFORMAL interval — the same controller
    * with the [[graft.operators.Relational.conformalFromDaily]]
    * derivation: the maintained state is the SAME (event_type,
    * epoch-day) integer counter table, so the final maintained
    * interval + coverage audit are bit-identical to the one-shot
    * batch conformalForecast (shared twin). A live dashboard keeps
    * its forecast UNCERTAINTY current the same way it keeps the
    * point forecast current — one delta-sized agg per batch, the
    * event history never rescanned.
    * Output: (event_type, n_cal, q, n_test, n_covered, coverage). */
  def conformalMaintain(spark: SparkSession, dir: String,
                        stageDir: String, artDir: String): DataFrame =
    dailyDeriveMaintain(spark, dir, stageDir, artDir,
      graft.operators.Relational.conformalFromDaily(_))

  /** The shared daily-counter controller: per micro-batch, merge the
    * delta's (event_type, epoch-day) counts into the stored daily
    * table (exact integer sums — the mergeable state) and re-run the
    * pure `derive` into the next artifact version. Any derivation
    * that is a pure function of the daily table rides this maintainer
    * with a batch-≡ guarantee for free. */
  private def dailyDeriveMaintain(spark: SparkSession, dir: String,
                                  stageDir: String, artDir: String,
                                  derive: DataFrame => DataFrame)
      : DataFrame = {
    stageThirds(stageDir, graft.Tables.load(spark, dir, "events"),
      "event_id")
    replayStaged(spark, stageDir) { (batch, batchId) =>
      versionStep(artDir, batchId) { (prev, out) =>
        val s2 = batch.sparkSession
        val part = graft.operators.Relational.dailyCounts(
          graft.Tables.normalizeTs(batch))
        val merged = prev match {
          case None => part
          case Some(p) => s2.read.parquet(s"$p/daily").unionByName(part)
            .groupBy("event_type", "day")
            .agg(sum(col("n")).as("n"))
        }
        merged.write.mode("overwrite").parquet(s"$out/daily")
        derive(s2.read.parquet(s"$out/daily"))
          .write.mode("overwrite").parquet(s"$out/fc")
      }
    }
    spark.read.parquet(s"${latestVersion(artDir)}/fc")
  }

  /** Streaming decontamination against the persisted benchmark index —
    * the index-once/filter-forever ingestion shape: the frozen
    * benchmark's decontamination artifact
    * ([[graft.operators.Dedup.decontamIndexWrite]]: shingles + Bloom
    * words) is built ONCE in batch, and the corpus stream then runs
    * [[graft.operators.Dedup.decontaminateFromIndex]] UNCHANGED — the
    * Bloom prefilter is a stateless codegen'd expression, the exact
    * verify is a stream-static join against the stored shingle set,
    * and the per-doc count aggregates in complete mode. Proves the
    * whole decontamination tail is streaming-composable, so a
    * continuous-crawl pipeline can leak-check pages as they land
    * instead of re-scanning the corpus nightly.
    * Output: (doc_id, n_shared) — flagged stream docs only. */
  def decontamIngest(spark: SparkSession, dir: String,
                     idxDir: String): DataFrame = {
    val d = graft.Tables.load(spark, dir, "documents")
    graft.operators.Dedup.decontamIndexWrite(
      d.filter(col("doc_id") % 20 === 0), idxDir, n = 4)
    runToMemory(spark, s => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      graft.operators.Dedup.decontaminateFromIndex(
        stream.filter(col("doc_id") % 20 =!= 0), idxDir, n = 4)
    }, "decontam", "complete")
  }
}
