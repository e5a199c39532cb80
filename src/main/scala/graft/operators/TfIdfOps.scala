package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._

/** The reference engine's two dataflow DAGs (SURVEY.md §2.6 Q2–Q6),
  * re-expressed as declarative Spark plans so Catalyst fuses the narrow
  * chains, pushes filters, and picks broadcast joins.
  *
  * Semantics pinned to the reference:
  *  - TF = round2(count / raw_token_count), drop tf==0, per-doc top-20000
  *    by count (reference Code/DocInfo.java:31-51)
  *  - IDF = round2(log10(N / df)) over the TF-surviving (doc, word) pairs,
  *    drop idf<=0 (reference Code/DocInfo.java:93-117)
  *  - TF-IDF = round2(tf * idf) — TWO-STAGE rounding: tf and idf are each
  *    already rounded before the multiply (reference Code/TF_IDFWorker.java:41)
  *  - ties pinned with a secondary `word asc` sort — the reference's tie
  *    order is HashMap-iteration luck (SURVEY.md §4); we declare a
  *    deterministic order so results are oracle-comparable.
  *
  * Scale posture: every aggregation is keyed by (doc_id, word) or word —
  * no driver-side collects; the dictionary top-K compiles to
  * TakeOrderedAndProject (per-partition heaps + merge, never a full sort);
  * the TF⋈IDF join broadcasts the small idf side (vocabulary-sized).
  */
object TfIdfOps {

  val ProbeWords: Seq[String] =
    Seq("during", "and", "time", "protein", "car") // reference Code/Main.java:99

  /** Q2: corpus dictionary — top-5000 words by count, zero-based rank.
    * (reference Code/Main.java:76-116, Task 1.)
    * Output: (word, rank, cnt).
    *
    * Plan shape: hash agg (partial+final) → TakeOrderedAndProject(5000) →
    * row_number over the surviving 5000 rows only (a single small
    * partition — deliberately after the limit, not a global sort).
    */
  def dictionary(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", k: Int = 5000): DataFrame = {
    val counts = WikiText.tokens(docs, idCol, textCol)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(col("cnt").desc, col("word").asc).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("word").asc)
    top.withColumn("rank", (row_number().over(w) - 1).cast("long"))
      .select("word", "rank", "cnt")
  }

  /** Q3: Task-1 probe — dictionary filtered to the 5 probe words,
    * uppercased (reference Code/Main.java:97-110).
    * Output: (word UPPER, rank, cnt). */
  def task1(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text",
            probes: Seq[String] = ProbeWords): DataFrame =
    dictionary(docs, idCol, textCol)
      .filter(col("word").isin(probes: _*))
      .select(upper(col("word")).as("word"), col("rank"), col("cnt"))

  /** Q4: per-document TF table (reference Code/DocInfo.java:31-51).
    * Output: (doc_id, word, cnt, tf).
    */
  def tf(docs: DataFrame, idCol: String = "doc_id",
         textCol: String = "text", perDocK: Int = 20000): DataFrame = {
    val counts = WikiText.tokensWithRawLen(docs, idCol, textCol)
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"), max("raw_len").as("raw_len"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("cnt").desc, col("word").asc)
    counts
      .withColumn("tf", round2(col("cnt") / col("raw_len")))
      .filter(col("tf") > 0) // P8: rounded-to-zero terms drop out
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perDocK) // T3: per-doc top-K cap
      .select("doc_id", "word", "cnt", "tf")
  }

  /** Q5: corpus IDF from a Q4 result (reference Code/DocInfo.java:93-117).
    * df(word) counts the TF-SURVIVING (doc, word) pairs — the reference's
    * words.txt is written only for words that survive the TF stage, so
    * document frequency is defined over Q4's output, not raw tokens.
    * `nDocs` is the full corpus size (count of input docs, including docs
    * that contributed no surviving words).
    * Output: (word, idf).
    */
  def idf(tfTable: DataFrame, nDocs: DataFrame): DataFrame = {
    val df = tfTable.groupBy("word").agg(count(lit(1)).as("dfreq"))
    df.crossJoin(nDocs) // single-row (n) frame — broadcast for free
      .withColumn("idf", round2(log10(col("n") / col("dfreq"))))
      .filter(col("idf") > 0) // P10: words in (rounded-)all docs drop out
      .select("word", "idf")
  }

  /** Corpus cardinality as a single-row frame (n) — kept in the plan
    * (no driver-side .count()) so Q5/Q6 stay one lazy DAG. */
  def corpusSize(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n"))

  /** Q6: TF-IDF vectors (reference Code/TF_IDFWorker.java:22-47).
    * Inner join TF ⋈ IDF on word; idf is vocabulary-sized → broadcast
    * (the reference rescans idf.csv once per probe row — O(rows·|idf|);
    * the broadcast hash join is the Spark-native fix).
    * Output: (doc_id, word, cnt, tf, tf_idf).
    */
  def tfIdf(tfTable: DataFrame, idfTable: DataFrame): DataFrame =
    tfTable.join(broadcast(idfTable), Seq("word"))
      .withColumn("tf_idf", round2(col("tf") * col("idf")))
      .select("doc_id", "word", "cnt", "tf", "tf_idf")

  /** Full Task-3 pipeline over a (doc_id, text) corpus.
    * The TF table feeds both the join probe side and the IDF branch;
    * column pruning makes the two subtrees non-identical so Spark's
    * ReuseExchange can NOT dedupe them (verified: 5 exchanges, 0 reused)
    * — persist it once instead of scanning+tokenizing+aggregating twice.
    */
  def tfIdfPipeline(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val tfT = graft.Scope.hold(tf(docs, idCol, textCol))
    tfIdf(tfT, idf(tfT, corpusSize(docs.select(col(idCol)))))
  }
}
