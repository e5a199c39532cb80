package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.cli.Main
import graft.io.CompatIo
import graft.operators.{TfIdfOps, WikiText}
import graft.streaming.EventsStream

/** A workload makes its inputs and reference answers once per run, then
  * runs whole rounds of the same operations. */
trait Workload {
  def name: String

  /** Input documents one round processes. */
  def docs: Int

  /** Operations in one round. */
  def opsPerRound: Int

  /** Set-ups per run (each a fresh session and one warm-up round), the
    * untimed rounds after them, and the fewest timed rounds a run makes.
    * A wiki round still speeds up for ~10 rounds after a cold start (JIT),
    * so it warms on; a near-dup round costs ~12 s warm and ~30 s cold, so
    * that workload sets up once and times two rounds. */
  def setupRounds: Int = 3
  def warmRounds: Int = 4
  def minRounds: Int = 3

  /** One round through the program's public entry point, writing under
    * `out`. Spans go to `tracer` when the run is traced. */
  def run(spark: SparkSession, out: File, tracer: Option[Tracer]): Unit

  /** The round's operations, each true when its output matched the
    * reference. */
  def ops(spark: SparkSession, out: File): Vector[Boolean]

  /** Traced run only: one round through the layer functions the entry
    * point calls, each inside its own span. */
  def layered(spark: SparkSession, out: File, tracer: Tracer): Vector[Boolean]

  /** Layer metrics gathered while tracing, beyond the span counters. */
  def layerMetrics: Map[String, Double]
}

object Workloads {
  val Names: Seq[String] = Seq("wiki_tfidf_files", "neardup_stream")

  def apply(name: String, seed: Long, work: File): Workload = name match {
    case "wiki_tfidf_files" => new WikiTfidfFiles(seed, work, n = 150, perFile = 38)
    case "neardup_stream" => new NeardupStream(seed, work, n = 250)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def spanned[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** Stderr note for a failed check; stdout carries only the result. */
  def mismatch(what: String): Boolean = {
    System.err.println(s"perfbench: check failed: $what")
    false
  }
}

/** The paper's job over a generated wikiextractor dump: Task 1 into the
  * reference's `task1.csv` layout, then Task 3 into one `doc_id=<id>/`
  * ref-CSV file per document, both through the CLI. */
final class WikiTfidfFiles(seed: Long, work: File, n: Int, perFile: Int) extends Workload {
  import Workloads._
  val name = "wiki_tfidf_files"

  private val gen = Gen.wikiDocs(seed, n)
  private val input = new File(work, "wiki")
  Gen.writeWikiDump(input, gen, perFile)
  private val ref = Reference.tfIdf(gen)
  private val refTask1 = Reference.task1(gen)

  def docs: Int = n

  /** Column order of the Task-3 ref-CSV rows (FIXTURES.md §A4). */
  private val RefCols = Seq("doc_id", "word", "cnt", "tf", "tf_idf")

  private def opts(out: File) = Map("input" -> input.getPath,
    "output" -> out.getPath, "format" -> "ref-csv")

  def opsPerRound: Int = 1

  def run(spark: SparkSession, out: File, tracer: Option[Tracer]): Unit =
    spanned(tracer, "pass") {
      Main.run(spark, "task1", opts(new File(out, "task1")))
      Main.run(spark, "tfidf", opts(new File(out, "tfidf")) + ("per-doc" -> "true"))
    }

  def ops(spark: SparkSession, out: File): Vector[Boolean] =
    Vector(checkTask1(lines(new File(out, "task1"))) &&
      checkFiles(new File(out, "tfidf")))

  private var written = Map.empty[String, Double]
  def layerMetrics: Map[String, Double] = written

  def layered(spark: SparkSession, out: File, tracer: Tracer): Vector[Boolean] = {
    def kept(df: DataFrame): DataFrame = { df.persist().count(); df }
    val docsT = tracer.span("cli.read")(kept(Main.readDocs(spark, input.getPath)))
    tracer.span("wikitext.tokens") {
      WikiText.tokensWithRawLen(docsT).write.format("noop")
        .mode(SaveMode.Overwrite).save()
    }
    val t1 = tracer.span("tfidfops.task1")(TfIdfOps.task1(docsT).collect())
    val tfT = tracer.span("tfidfops.tf")(kept(TfIdfOps.tf(docsT)))
    val idfT = tracer.span("tfidfops.idf")(
      kept(TfIdfOps.idf(tfT, TfIdfOps.corpusSize(docsT))))
    val res = tracer.span("tfidfops.join")(kept(TfIdfOps.tfIdf(tfT, idfT)))
    tracer.span("compatio.write")(
      CompatIo.writeRefCsv(res, RefCols, out.getPath, perDoc = true))
    val files = docDirs(out).flatMap(partFiles)
    written = Map("compatio.files" -> files.size.toDouble,
      "compatio.bytes" -> files.map(_.length).sum.toDouble)
    Seq(docsT, tfT, idfT, res).foreach(_.unpersist())
    Vector(checkTask1(t1.toSeq.map(r => s"${r.getString(0)}, ${r.getLong(1)}, ${r.getLong(2)}")) &&
      checkFiles(out))
  }

  private def docDirs(out: File): Seq[File] = Option(out.listFiles()).toSeq.flatten
    .filter(f => f.isDirectory && f.getName.startsWith("doc_id="))

  private def partFiles(dir: File): Seq[File] =
    dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq

  /** The lines of a text output, part files in name order. */
  private def lines(dir: File): Seq[String] =
    partFiles(dir).flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8)
      .toArray.toSeq.map(_.toString))

  /** `WORD, rank, count` rows of the probe words, count-descending. */
  private def checkTask1(got: Seq[String]): Boolean = {
    val want = refTask1.map { case (w, rank, cnt) => s"$w, $rank, $cnt" }
    got == want || mismatch(s"$name: task1 $got != reference $want")
  }

  /** One `doc_id=<id>/` directory per document with surviving rows; its
    * part file holds exactly the reference rows, in order. */
  private def checkFiles(out: File): Boolean = {
    val dirs = docDirs(out)
    val ids = dirs.map(_.getName.stripPrefix("doc_id=")).toSet
    if (ids != ref.keySet)
      return mismatch(s"$name: ${ids.size} doc dirs, reference has ${ref.size}; " +
        s"e.g. ${(ids diff ref.keySet).take(3)} / ${(ref.keySet diff ids).take(3)}")
    dirs.forall { d =>
      val id = d.getName.stripPrefix("doc_id=")
      val got = lines(d)
      val want = ref(id).map(_.refCsv)
      got == want || mismatch(s"$name: doc $id rows ${got.take(3)} " +
        s"!= reference ${want.take(3)}")
    }
  }
}

/** The streaming near-dup ingest over a generated documents table with
  * planted near-duplicate clusters. One round is one ingest: the index
  * build, then three micro-batches; each micro-batch is one operation. */
final class NeardupStream(seed: Long, work: File, n: Int) extends Workload {
  import Workloads._
  val name = "neardup_stream"

  private val table = Gen.neardupDocs(seed, n)
  private val input = new File(work, "docs")
  Gen.writeDocuments(input, table)
  private val replay = Reference.neardupReplay(table.texts)
  Reference.requireSeparated(table)

  def docs: Int = n

  def opsPerRound: Int = 3
  override def setupRounds: Int = 1
  override def warmRounds: Int = 0
  override def minRounds: Int = 2

  private val traced = scala.collection.mutable.ArrayBuffer.empty[Vector[Map[String, Long]]]

  def run(spark: SparkSession, out: File, tracer: Option[Tracer]): Unit = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    spanned(tracer, "pass") {
      EventsStream.neardupIngest(spark, input.getPath, new File(out, "stage").getPath,
        new File(out, "idx").getPath, new File(out, "res").getPath)
      // the streaming query's start, heard by its listener, splits the
      // ingest into the batch index build and the micro-batches
      tracer.foreach { tr =>
        org.apache.spark.ListenerDrain.drain(spark.sparkContext)
        BatchLog.peek._1.headOption.foreach { case (ns, ms) =>
          tr.add("dedup.index_build", tr.currentId, t0, ms, (ns - n0) / 1e9)
          tr.add("streaming.query", tr.currentId, ms, System.currentTimeMillis(),
            (System.nanoTime() - ns) / 1e9)
        }
        traced += BatchLog.peek._2
      }
    }
  }

  def ops(spark: SparkSession, out: File): Vector[Boolean] = {
    val (_, batches) = BatchLog.take()
    val got = Vector.tabulate(3)(k => verdicts(spark, new File(out, s"res/b$k")))
    val caught = clustersCaught(got.flatten.flatMap(_.collect {
      case (id, v) if v.keep => id }).toSet)
    Vector.tabulate(3) { k =>
      batches.size == 3 && (k < 2 || caught) &&
        (got(k).contains(replay(k)) ||
          mismatch(s"$name: batch $k verdicts ${got(k)} != replay ${replay(k)}"))
    }
  }

  def layered(spark: SparkSession, out: File, tracer: Tracer): Vector[Boolean] = {
    run(spark, out, Some(tracer))
    ops(spark, out)
  }

  /** Per ingest, summed over its micro-batches; the median ingest. */
  def layerMetrics: Map[String, Double] = {
    def med(f: Vector[Map[String, Long]] => Double) = Stats.median(traced.map(f).toSeq)
    def sum(key: String)(b: Vector[Map[String, Long]]) = b.map(_.getOrElse(key, 0L)).sum.toDouble
    if (traced.isEmpty) Map.empty
    else Map(
      "streaming.batches" -> med(_.size.toDouble),
      "streaming.trigger_ms" -> med(sum("triggerExecution")),
      "streaming.add_batch_ms" -> med(sum("addBatch")),
      "streaming.planning_ms" -> med(sum("queryPlanning")),
      "streaming.wal_commit_ms" -> med(sum("walCommit")))
  }

  /** One micro-batch's `(n_corpus_dups, n_delta_dups, keep)` per document. */
  private def verdicts(spark: SparkSession, dir: File): Option[Map[Long, Reference.Verdict]] =
    if (!dir.isDirectory) None
    else Some(spark.read.parquet(dir.getPath)
      .select("doc_id", "n_corpus_dups", "n_delta_dups", "keep").collect()
      .map(r => r.getLong(0) -> Reference.Verdict(r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap)

  /** Every planted cluster is caught: with a member in the stored index,
    * no streamed member is kept; otherwise at most the first one is. */
  private def clustersCaught(kept: Set[Long]): Boolean =
    table.clusters.forall { c =>
      val streamed = c.filter(_ % 5 == 0)
      val allowed = if (streamed.size < c.size) 0 else 1
      streamed.count(kept) <= allowed ||
        mismatch(s"$name: planted cluster $c kept ${streamed.filter(kept)}")
    }
}
