package perfbench

/** The answers the program must produce, computed in plain Scala over
  * the generator's own token lists. Nothing here calls the program.
  *
  * Semantics (SURVEY §1.3 and the TfIdfOps scaladoc):
  *  - a token is the raw single-space split of the body, normalized by
  *    stripping non-letters and lowercasing, empties dropped; the line's
  *    closing `</doc` fuses into the last raw token;
  *  - tf = round2(cnt / raw_len), where raw_len counts the raw tokens
  *    before normalization; tf = 0 drops; at most 20000 words per
  *    document by (cnt desc, word asc);
  *  - idf = round2(log10(N / df)) with df over the surviving (doc, word)
  *    pairs and N all documents; idf <= 0 drops;
  *  - tf_idf = round2(tf * idf), both factors already rounded;
  *  - Task 1: top 5000 words by (cnt desc, word asc), 0-based rank, the
  *    probe words only, uppercased;
  *  - near-dup ingest: word 3-shingle sets, exact Jaccard >= 0.8,
  *    replayed batch by batch.
  */
object Reference {

  def round2(x: Double): Double = math.floor(x * 100 + 0.5) / 100

  def normalize(tok: String): String = tok.replaceAll("[^a-zA-Z]", "").toLowerCase

  /** Raw tokens as the parser sees them: the closing `</doc` fused on. */
  def rawTokens(d: Gen.WikiDoc): Vector[String] =
    d.rawTokens.updated(d.rawTokens.length - 1, d.rawTokens.last + "</doc")

  def words(d: Gen.WikiDoc): Vector[String] =
    rawTokens(d).map(normalize).filter(_.nonEmpty)

  final case class Row(docId: String, word: String, cnt: Long, tf: Double,
                       tfIdf: Double) {
    /** The per-doc file line: `word, count, tf, tf_idf`. */
    def refCsv: String = s"$word, $cnt, $tf, $tfIdf"
  }

  /** Task-3 rows per document, in (cnt desc, word asc) order; documents
    * without surviving rows are absent. */
  def tfIdf(docs: Seq[Gen.WikiDoc], perDocK: Int = 20000): Map[String, Vector[Row]] = {
    val order = Ordering.by[(String, Long), (Long, String)] { case (w, c) => (-c, w) }
    val tf: Seq[(String, Vector[(String, Long, Double)])] = docs.map { d =>
      val rawLen = rawTokens(d).length
      val counts = words(d).groupBy(identity).view.mapValues(_.size.toLong).toVector
      d.id -> counts.sorted(order)
        .map { case (w, c) => (w, c, round2(c.toDouble / rawLen)) }
        .filter(_._3 > 0)
        .take(perDocK)
    }
    val n = docs.size.toDouble
    val df = tf.flatMap(_._2.map(_._1)).groupBy(identity).view.mapValues(_.size).toMap
    val idf = df.map { case (w, k) => w -> round2(math.log10(n / k)) }.filter(_._2 > 0)
    tf.map { case (id, rows) =>
      id -> rows.collect { case (w, c, t) if idf.contains(w) =>
        Row(id, w, c, t, round2(t * idf(w)))
      }
    }.filter(_._2.nonEmpty).toMap
  }

  /** Task 1: (WORD, rank, cnt) of the probe words inside the top-k, in
    * rank order. */
  def task1(docs: Seq[Gen.WikiDoc], probes: Seq[String] = Gen.ProbeWords,
            k: Int = 5000): Seq[(String, Long, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    docs.foreach(d => words(d).foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1))
    counts.toVector.sortBy { case (w, c) => (-c, w) }.take(k).zipWithIndex
      .collect { case ((w, c), rank) if probes.contains(w) =>
        (w.toUpperCase, rank.toLong, c)
      }
  }

  /** Distinct word 3-shingles of a text split on single spaces; a text
    * shorter than three words is one shingle. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val t = text.split(" ", -1)
    (0 until math.max(t.length - (n - 1), 1))
      .map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    common.toDouble / (a.size + b.size - common)
  }

  /** The generator's promise for the near-dup table: every pair inside a
    * planted cluster at Jaccard >= 0.85, every other pair <= 0.5, so no
    * verdict sits near the 0.8 threshold. Throws otherwise. */
  def requireSeparated(t: Gen.DocTable): Unit = {
    val sh = t.texts.map(x => shingles(x))
    val cluster = t.clusters.zipWithIndex
      .flatMap { case (c, i) => c.map(_.toInt -> i) }.toMap
    val postings = scala.collection.mutable.HashMap.empty[String, List[Int]]
    sh.zipWithIndex.foreach { case (s, i) =>
      s.foreach(x => postings(x) = i :: postings.getOrElse(x, Nil))
    }
    sh.indices.foreach { a =>
      sh(a).flatMap(postings).filter(_ > a).foreach { b =>
        val j = jaccard(sh(a), sh(b))
        val same = cluster.get(a).exists(cluster.get(b).contains)
        require(if (same) j >= 0.85 else j <= 0.5,
          s"generated docs $a and $b at Jaccard $j (same cluster: $same)")
      }
    }
  }

  final case class Verdict(nCorpus: Long, nDelta: Long, keep: Boolean)

  /** Exact-Jaccard replay of the streaming near-dup ingest. Documents
    * with doc_id % 5 != 0 form the stored index; the rest arrive in
    * three batches by (doc_id div 5) % 3. Within a batch a document
    * counts every index member at Jaccard >= threshold (n_corpus_dups)
    * and every smaller-id batch member at Jaccard >= threshold
    * (n_delta_dups); it is kept when both are 0, and kept documents join
    * the index before the next batch.
    * Returns one map of verdicts per batch. */
  def neardupReplay(texts: IndexedSeq[String],
                    threshold: Double = 0.8): Vector[Map[Long, Verdict]] = {
    val sh = texts.map(t => shingles(t))
    // inverted shingle index over the stored documents; a document that
    // shares no shingle has Jaccard 0 and needs no comparison
    val postings = scala.collection.mutable.HashMap.empty[String, List[Int]]
    def index(id: Int): Unit = sh(id).foreach { s =>
      postings(s) = id :: postings.getOrElse(s, Nil)
    }
    def sharing(id: Int): Set[Int] = sh(id).flatMap(s => postings.getOrElse(s, Nil))
    texts.indices.filter(_ % 5 != 0).foreach(index)
    Vector.tabulate(3) { b =>
      val batch = texts.indices.filter(i => i % 5 == 0 && (i / 5) % 3 == b)
      val verdicts = batch.map { id =>
        val nc = sharing(id).count(c => jaccard(sh(id), sh(c)) >= threshold)
        val nd = batch.count(o => o < id && jaccard(sh(id), sh(o)) >= threshold)
        id.toLong -> Verdict(nc, nd, nc == 0 && nd == 0)
      }.toMap
      verdicts.collect { case (id, v) if v.keep => id.toInt }.foreach(index)
      verdicts
    }
  }
}
