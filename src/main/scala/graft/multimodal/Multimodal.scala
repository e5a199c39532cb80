package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus batched decode / feature-extract
  * operators.
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * environment) with a deterministic fake decoder — but the Spark-side
  * plumbing is real: schema (binary payload + metadata struct), typed
  * Dataset boundary, partition-level batched processing (the same shape
  * a Pandas-UDF/Arrow batch pipeline has), and feature output as
  * Array[Float] ready for the Similarity operators.
  *
  * The stub decoder is deliberately SQL-expressible (bounded modular
  * integer arithmetic over the payload bytes), so the production-shaped
  * mapPartitions path has BOTH an in-plan Catalyst twin
  * ([[featuresInPlan]]) and an external-engine oracle — the whole
  * surface is hash-checkable, not rows-only.
  */
object Multimodal {

  /** Width of the stub decoder's feature vector — the single source of
    * truth for every surface that projects the features to scalar
    * columns (e.g. the mm_features gate query). */
  val FeatureDims: Int = 8

  /** Modulus of the per-stripe rolling hash. Taken at EVERY step (not
    * just at the end) so the accumulator stays < 31·M + 255 « 2^63 —
    * Long-exact in the JVM, BIGINT-exact in any SQL engine, and safe
    * under Spark's ANSI overflow checks. */
  val HashMod: Long = 1000003L

  case class MediaRow(doc_id: Long, data: Array[Byte], format: String,
                      width: Int, height: Int)
  case class FeatureRow(doc_id: Long, width: Int, height: Int,
                        n_bytes: Long, features: Array[Float])

  /** Attach a synthetic media payload to each document: the text bytes
    * as the opaque binary column plus deterministic metadata (stands in
    * for real image bytes; the pipeline treats it as opaque either way).
    * Metadata dims come from md5 hex slices (NOT crc32: md5 is the one
    * hash every engine computes identically, so the metadata is
    * oracle-reproducible). Output: (doc_id, data, format, width, height).
    */
  def withPayload(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    def md5Dim(start: Int): Column =
      (conv(substring(md5(col(textCol)), start, 4), 16, 10)
        .cast("long") % 512 + 64).cast("int")
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      encode(col(textCol), "UTF-8").as("data"),
      when(col(idCol) % 3 === 0, "png").when(col(idCol) % 3 === 1, "jpeg")
        .otherwise("webp").as("format"),
      md5Dim(1).as("width"),
      md5Dim(5).as("height"))
  }

  /** STUB decoder: deterministic 8-dim "feature vector" from the payload
    * bytes via a rolling polynomial hash per stripe (byte i feeds stripe
    * i mod dims; acc ← (acc·31 + byte) mod [[HashMod]]), scaled to
    * [0, 1) in double and stored as float. A real implementation would
    * decode pixels and run a visual encoder here; everything around it
    * (typed boundary, per-partition batching, output schema) is the real
    * production shape.
    */
  private[graft] def fakeDecodeFeatures(
      data: Array[Byte], dims: Int = FeatureDims): Array[Float] = {
    val acc = new Array[Long](dims)
    var i = 0
    while (i < data.length) {
      val d = i % dims
      acc(d) = (acc(d) * 31 + (data(i) & 0xff)) % HashMod
      i += 1
    }
    acc.map(v => (v.toDouble / HashMod.toDouble).toFloat)
  }

  /** Batched feature extraction over the media payloads. Processes each
    * partition in fixed-size batches (the Arrow/Pandas-UDF batch shape) —
    * with a real codec the batch is where you'd amortize model setup.
    * Output: Dataset[FeatureRow].
    */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): Dataset[FeatureRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "data", "format", "width", "height")
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // per-batch "model" setup would go here
          batch.iterator.map { m =>
            FeatureRow(m.doc_id, m.width, m.height, m.data.length.toLong,
              fakeDecodeFeatures(m.data))
          }
        }
      }
  }

  /** In-plan Catalyst twin of [[extractFeatures]] flattened to scalar
    * columns — the same per-stripe rolling hash as pure expressions
    * (hex + substring + aggregate fold, all codegen'd, no UDFs). This is
    * the surface an external SQL oracle replays; a spec pins it equal to
    * the mapPartitions production path, so a green oracle covers both.
    * Output: (doc_id, width, height, n_bytes, f0..f{dims-1} double).
    */
  def featuresInPlan(media: DataFrame,
                     dims: Int = FeatureDims): DataFrame = {
    val n = length(col("data")).cast("long")
    val hx = hex(col("data")) // 2 hex chars per byte, computed once
    // byte i (1-based) as unsigned long, from its hex pair
    def byteAt(i: Column): Column =
      conv(substring(hx, (i * 2 - 1).cast("int"), lit(2)), 16, 10)
        .cast("long")
    // stripe d = bytes at positions i with (i-1) mod dims = d, in order;
    // greatest(n,1) keeps `sequence` ascending on empty payloads (the
    // i <= n filter then empties the list)
    def stripe(d: Int): Column =
      filter(sequence(lit(1L), greatest(n, lit(1L))),
        i => i <= n && (i - 1) % dims === d)
    def hash(d: Int): Column =
      aggregate(stripe(d), lit(0L),
        (acc, i) => (acc * 31 + byteAt(i)) % HashMod)
    media.select(
      (Seq(col("doc_id"), col("width"), col("height"), n.as("n_bytes")) ++
        (0 until dims).map(d =>
          (hash(d).cast("double") / lit(HashMod.toDouble)).cast("float")
            .cast("double").as(s"f$d"))): _*)
  }

  /** STUB resize: scales the metadata dimensions and subsamples the
    * payload bytes by the same factor (a real implementation decodes,
    * rescales pixels, re-encodes). Keeps the (doc_id, data, format,
    * width, height) schema so resized media flows through the same
    * pipeline. */
  def resize(media: DataFrame, maxDim: Int = 128): DataFrame = {
    // one scale definition feeds both the metadata and the payload
    // subsample; greatest(...,1) guards degenerate zero-dim metadata
    val scale = least(lit(1.0),
      lit(maxDim) / greatest(col("width"), col("height"), lit(1)))
    media.select(
      col("doc_id"),
      col("data").substr(lit(1),
        greatest((length(col("data")) * scale).cast("int"), lit(1)))
        .as("data"),
      col("format"),
      ceil(col("width") * scale).cast("int").as("width"),
      ceil(col("height") * scale).cast("int").as("height"))
  }

  /** Pixel-budget batch packing — the multimodal twin of sequence
    * packing: group images into training batches whose total pixel
    * count (width × height from the typed metadata) stays within
    * `pixelBudget`, so every batch costs the visual encoder roughly
    * the same compute regardless of image-size mix.
    *
    * Shape: docs shard by an md5 bucket of doc_id (md5 because the
    * oracle must replay the bucketing — invariant 8), then quota-bin
    * within each shard exactly like the compaction planner: pinned
    * doc_id order, exclusive running pixel total, batch = prefix div
    * budget. Batch ids are (shard, batch) pairs, so the assignment is
    * a pure function of the shard's member set — deterministic,
    * replayable, and each non-final batch's total is pinned inside
    * (budget − maxpx, budget + maxpx).
    *
    * Scale posture: the ordering window is PARTITIONED BY SHARD — no
    * global sort, no single-partition window over N; nShards scales
    * with the cluster, and per-worker batch formation is exactly what
    * a training-data loader does. Output: (doc_id, shard, batch, px).
    */
  def packBatches(media: DataFrame, pixelBudget: Long = 1L << 20,
                  nShards: Int = 16): DataFrame = {
    require(pixelBudget >= 1, s"pixelBudget must be >= 1: $pixelBudget")
    val w = org.apache.spark.sql.expressions.Window
    val ordered = w.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      .rowsBetween(w.unboundedPreceding, -1)
    media.select(col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % nShards).as("shard"),
        (col("width").cast("long") * col("height")).as("px"))
      .withColumn("excl",
        coalesce(sum(col("px")).over(ordered), lit(0L)))
      .withColumn("batch", expr(s"excl div ${pixelBudget}L"))
      .drop("excl")
  }

  /** Perceptual-hash-style media dedup — the image twin of MinHash/LSH
    * dedup, shaped exactly like a production pHash pipeline: compact
    * per-item code → bucket join on the code → full-feature verify
    * inside the bucket. The code is 8 bits, one per feature dimension
    * (f_d ≥ 1/2), so candidate generation is a keyed equi-join on a
    * BIGINT — never an all-pairs compare — and each true pair lives in
    * exactly ONE bucket (its own code), so no distinct is needed
    * after the verify (invariant 10's ideal case).
    *
    * With the stub decoder the features are modular byte hashes, not
    * locality-sensitive pixel signatures, so what the verify finds is
    * payload-identical media (a real decoder would swap in DCT
    * low-bands and a Hamming-ball verify — the plumbing around it is
    * unchanged). Verification is equality of ALL feature dims plus
    * n_bytes — replayed exactly by the oracle, so even a hash
    * collision would affect both engines identically.
    * Output: (id_a, id_b, code), id_a < id_b.
    */
  def phashDedup(media: DataFrame): DataFrame = {
    val f = featuresInPlan(media)
    val code = (0 until FeatureDims)
      .map(d => when(col(s"f$d") >= 0.5, lit(1L << d)).otherwise(lit(0L)))
      .reduce(_ + _)
    val coded = graft.Scope.hold(f.withColumn("code", code))
    def side(tag: String) = coded.select(
      (Seq(col("code"), col("doc_id").as(s"id_$tag"),
        col("n_bytes").as(s"nb_$tag")) ++
        (0 until FeatureDims).map(d => col(s"f$d").as(s"${tag}_f$d"))): _*)
    val eq = (0 until FeatureDims)
      .map(d => col(s"a_f$d") === col(s"b_f$d"))
      .reduce(_ && _) && col("nb_a") === col("nb_b")
    side("a").join(side("b"), Seq("code"))
      .filter(col("id_a") < col("id_b") && eq)
      .select(col("id_a"), col("id_b"), col("code"))
  }

  /** Deterministic frame sampling for a (fake) video payload: emits every
    * `stride`-th 16-byte "frame" with its index — the explode/posexplode
    * shape of a real frame sampler. Output: (doc_id, frame_idx, frame).
    */
  def sampleFrames(media: DataFrame, stride: Int = 4): DataFrame = {
    val frames = sequence(lit(0),
      greatest((length(col("data")) / 16 - 1).cast("int"), lit(0)),
      lit(stride))
    media.select(col("doc_id"),
        explode(frames).as("frame_idx"),
        col("data"))
      .select(col("doc_id"), col("frame_idx"),
        expr("substring(data, frame_idx * 16 + 1, 16)").as("frame"))
  }
}
