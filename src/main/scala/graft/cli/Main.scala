package graft.cli

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.{GraftSession, Scope, Tables}
import graft.io.CompatIo
import graft.operators._

/** Job-dispatch CLI — the reference's `Main <s3key>` surface
  * (reference Code/Main.java:41-74), generalized: every pipeline the
  * reference runs (task1, task3/tfidf and their intermediate tables)
  * plus the extension jobs, over either wikiextractor text dumps or
  * parquet documents tables, with parameterized input/output paths and
  * no embedded credentials.
  *
  * Usage:
  *   graft.cli.Main <job> --input <path> --output <dir>
  *                  [--format parquet|ref-csv] [--per-doc] [--tables <dir>]
  *
  * Jobs: tokens | dictionary | task1 | tf | idf | tfidf |
  *       dedup-exact | dedup-jaccard | dedup-minhash | dedup-simhash |
  *       dedup-assign | decontam (--benchmark <path>) |
  *       text-stats | lang-id | fingerprint | repetition | redact |
  *       sample (--fraction) | split (--weights train:0.8,val:0.1,...) |
  *       stratified-sample (--fractions en:0.5,de:1.0 [--stratum lang]) |
  *       cap (--max-per-stratum [--stratum source]) |
  *       mix (--targets en:0.4,de:0.3 [--stratum lang]) |
  *       curate (--lang --min-quality --sample-p) |
  *       sim-topk | dedup-embedding | quantize | label-eval
  *         (input: embeddings parquet)
  *
  * `--input` accepts a `.parquet` documents table (doc_id, text) or a
  * text file of `<doc id=..>body</doc>` lines (wikiextractor format).
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val job = args(0)
    val opts = parseOpts(args.drop(1))
    val spark = GraftSession.local(s"graft-$job",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, job, opts)
    finally spark.stop()
  }

  def run(spark: SparkSession, job: String,
          opts: Map[String, String]): Unit = {
    val input = opts.getOrElse("input",
      sys.error("--input required: " + usage))
    val output = opts.getOrElse("output",
      sys.error("--output required: " + usage))
    lazy val docs = readDocs(spark, input)
    lazy val emb = spark.read.parquet(input) // embeddings jobs
    def write(result: DataFrame): Unit =
      opts.getOrElse("format", "parquet") match {
        case "ref-csv" =>
          CompatIo.writeRefCsv(result, refCols(job, result), output,
            perDoc = opts.contains("per-doc"))
        case _ =>
          result.write.mode(SaveMode.Overwrite).parquet(output)
      }
    // operators hold intermediates they read more than once (the TF
    // table, shingle sets); a cached plan over the input path keeps
    // serving the old rows after the files change, so the job's scope
    // releases them once the result is written, and only them
    Scope.run(write(job match {
      case "sim-topk" =>
        Similarity.bruteTopK(
          emb.filter(org.apache.spark.sql.functions.col("vec_id") %
            opts.getOrElse("query-every", "50").toInt === 0), emb,
          k = opts.getOrElse("k", "10").toInt)
      case "dedup-embedding" =>
        Dedup.embeddingNearDup(emb,
          threshold = opts.getOrElse("threshold", "0.5").toDouble)
      case "tokens" => WikiText.tokens(docs)
      case "dictionary" => TfIdfOps.dictionary(docs)
      case "task1" => TfIdfOps.task1(docs)
      case "tf" => TfIdfOps.tf(docs)
      case "idf" =>
        TfIdfOps.idf(TfIdfOps.tf(docs), TfIdfOps.corpusSize(docs))
      case "tfidf" => TfIdfOps.tfIdfPipeline(docs)
      case "dedup-exact" => Dedup.exact(docs)
      case "dedup-jaccard" => Dedup.ngramJaccardPairs(docs)
      case "dedup-minhash" => Dedup.minHashLsh(docs)
      case "dedup-simhash" => Dedup.simHashPairs(docs)
      case "dedup-assign" => Dedup.assignCanonical(docs,
        threshold = opts.getOrElse("threshold", "0.8").toDouble)
      case "decontam" => Dedup.decontaminate(docs,
        readDocs(spark, opts.getOrElse("benchmark",
          sys.error("--benchmark required for decontam"))),
        n = opts.getOrElse("n", "5").toInt)
      case "text-stats" => TextStats.stats(docs)
      case "lang-id" => TextStats.langId(docs)
      case "fingerprint" => TextStats.fingerprint(docs)
      case "repetition" => TextStats.repetition(docs)
      case "redact" => TextStats.redactPii(docs)
      case "sample" => Sampling.hashSample(docs,
        opts.getOrElse("fraction", "0.25").toDouble,
        salt = opts.getOrElse("salt", "graft"))
      case "split" => Sampling.splitByHash(docs,
        parseWeights(opts.getOrElse("weights",
          "train:0.8,val:0.1,test:0.1")),
        salt = opts.getOrElse("salt", "graft"))
      case "stratified-sample" => Sampling.stratifiedSample(docs,
        parseWeights(opts.getOrElse("fractions",
          sys.error("--fractions required, e.g. en:0.5,de:1.0"))).toMap,
        stratumCol = opts.getOrElse("stratum", "lang"),
        salt = opts.getOrElse("salt", "graft"))
      case "cap" => Sampling.capPerStratum(docs,
        opts.getOrElse("max-per-stratum", "1000").toInt,
        stratumCol = opts.getOrElse("stratum", "source"),
        salt = opts.getOrElse("salt", "graft"))
      case "mix" => Sampling.mixtureSample(docs,
        parseWeights(opts.getOrElse("targets",
          sys.error("--targets required, e.g. en:0.4,de:0.3"))).toMap,
        stratumCol = opts.getOrElse("stratum", "lang"),
        salt = opts.getOrElse("salt", "graft"))
      case "curate" => Curate.curate(docs,
        lang = opts.getOrElse("lang", "en"),
        minQuality = opts.getOrElse("min-quality", "0.5").toDouble,
        sampleP = opts.getOrElse("sample-p", "0.5").toDouble)
      case "quantize" => Similarity.quantizeInt8(emb)
      case "label-eval" =>
        Similarity.labelEval(
          emb.filter(org.apache.spark.sql.functions.col("vec_id") %
            opts.getOrElse("query-every", "50").toInt === 0), emb,
          k = opts.getOrElse("k", "10").toInt)
      case other => sys.error(s"unknown job '$other'. " + usage)
    }))
  }

  /** Reference column orders for the ref-csv format (FIXTURES.md §A).
    * Per-doc queries carry doc_id: as the partition directory under
    * --per-doc (CompatIo drops it from the row body), as a leading row
    * column otherwise — single-table rows must stay attributable. */
  private def refCols(job: String, df: DataFrame): Seq[String] = job match {
    case "task1" => Seq("word", "rank", "cnt") // task1.csv: WORD, rank, count
    case "dictionary" => Seq("word", "rank", "cnt")
    case "tf" => Seq("doc_id", "word", "cnt", "tf") // docs/<id>.csv rows
    case "idf" => Seq("word", "idf") // idf.csv
    case "tfidf" => Seq("doc_id", "word", "cnt", "tf", "tf_idf")
    case _ => df.columns.toSeq
  }

  /** Parquet documents table or wikiextractor text lines, by extension.
    * Text input may be one file or a whole wikiextractor output tree
    * (`text/AA/wiki_00`, `text/AB/wiki_00`, ...): the lookup descends
    * into subdirectories, where a plain directory read finds nothing. */
  def readDocs(spark: SparkSession, input: String): DataFrame =
    if (input.endsWith(".parquet"))
      spark.read.parquet(input)
    else {
      val parsed = WikiText.parse(
        spark.read.option("recursiveFileLookup", "true").text(input))
      parsed.select(parsed("doc_id"), parsed("body").as("text"))
    }

  /** "train:0.8,val:0.1" → Seq(("train", 0.8), ("val", 0.1)); order
    * preserved (split bucket bounds are cumulative). */
  private def parseWeights(s: String): Seq[(String, Double)] =
    s.split(",").toSeq.map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim -> v.trim.toDouble
    }

  private def parseOpts(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case flag :: v :: tail if flag.startsWith("--") && !v.startsWith("--") =>
          loop(tail, acc + (flag.drop(2) -> v))
        case flag :: tail if flag.startsWith("--") =>
          loop(tail, acc + (flag.drop(2) -> "true"))
        case other :: _ => sys.error(s"unexpected argument '$other'. " + usage)
      }
    loop(args.toList, Map.empty)
  }

  private val usage =
    "usage: graft.cli.Main <job> --input <path> --output <dir> " +
      "[--format parquet|ref-csv] [--per-doc]"
}
