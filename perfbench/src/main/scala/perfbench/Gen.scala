package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generator. The program only ever sees the files written
  * here; the reference computation reads the generator's own token lists.
  *
  * Same seed, same inputs: every draw comes from one SplittableRandom
  * per input, seeded from `--seed`.
  */
object Gen {

  /** Task-1 probe words (reference Code/Main.java:99). Kept here, apart
    * from the program's own list, so the reference never reads program
    * code. */
  val ProbeWords: Seq[String] = Seq("during", "and", "time", "protein", "car")

  /** Zipf ranks of the probe words in the generated vocabulary: one very
    * common word, then progressively rarer ones, so Task 1 reports ranks
    * from the head to the tail of the top-5000 dictionary. */
  private val ProbeRanks = Seq("and" -> 1, "time" -> 30, "during" -> 120,
    "car" -> 700, "protein" -> 2500)

  /** A letter-only vocabulary with Zipf(s) draw probabilities by rank. */
  final class Vocab(val words: Array[String], cdf: Array[Double]) {
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
    }
  }

  def vocab(r: SplittableRandom, size: Int, s: Double = 1.05): Vocab = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    seen ++= ProbeWords
    val extra = scala.collection.mutable.ArrayBuffer.empty[String]
    while (extra.size < size - ProbeWords.size) {
      val len = 2 + r.nextInt(8)
      val w = Array.fill(len)(('a' + r.nextInt(26)).toChar).mkString
      if (seen.add(w)) extra += w
    }
    val words = extra.toArray
    val ranked = ProbeRanks.sortBy(_._2).foldLeft(words.toVector) {
      case (v, (w, rank)) => v.patch(rank, Seq(w), 0)
    }.toArray
    val weights = Array.tabulate(ranked.length)(i => 1.0 / math.pow(i + 1, s))
    val total = weights.sum
    var acc = 0.0
    val cdf = weights.map { w => acc += w / total; acc }
    new Vocab(ranked, cdf)
  }

  /** One wikiextractor document: `rawTokens` is the body's single-space
    * split, before normalization, exactly as it is written to the line. */
  final case class WikiDoc(id: String, rawTokens: Vector[String])

  /** Share of raw tokens that carry a normalizer quirk. */
  val QuirkShare = 0.10

  /** Quirk kinds, drawn uniformly when a token is a quirk:
    *  - mixed case (`Word`, `WORD`);
    *  - attached punctuation (`word,`, `(word`, `word.)`);
    *  - a digit-only token, which normalizes to empty but counts in the
    *    raw-token denominator;
    *  - letters fused with digits (`word1984`), which normalize to the word;
    *  - an empty raw token (a double space), denominator only.
    * The line's closing `</doc` fuses into the last token (SURVEY §1.3). */
  private def quirk(r: SplittableRandom, w: String): String = r.nextInt(5) match {
    case 0 => if (r.nextBoolean()) w.capitalize else w.toUpperCase
    case 1 => r.nextInt(4) match {
      case 0 => w + ","
      case 1 => "(" + w
      case 2 => w + ".)"
      case _ => w + ";"
    }
    case 2 => (1 + r.nextInt(9999)).toString
    case 3 => w + (1 + r.nextInt(999)).toString
    case _ => ""
  }

  def wikiDocs(seed: Long, n: Int, vocabSize: Int = 30000,
               minLen: Int = 60, maxLen: Int = 240): Vector[WikiDoc] = {
    val r = new SplittableRandom(seed * 1000003L + 17)
    val v = vocab(r.split(), vocabSize)
    Vector.tabulate(n) { i =>
      val len = minLen + r.nextInt(maxLen - minLen + 1)
      val toks = Vector.tabulate(len) { j =>
        val w = v.draw(r)
        // first and last tokens stay non-empty: the parser trims the body
        if (j > 0 && j < len - 1 && r.nextDouble() < QuirkShare) quirk(r, w)
        else w
      }
      WikiDoc((100000 + 7 * i + r.nextInt(7)).toString, toks)
    }
  }

  def wikiLine(d: WikiDoc): String =
    s"""<doc id="${d.id}" url="https://en.wikipedia.org/wiki?curid=${d.id}" """ +
      s"""title="Article ${d.id}">${d.rawTokens.mkString(" ")}</doc>"""

  /** Writes the dump as wikiextractor names its files: a directory of
    * `wiki_NN` files, `perFile` documents each. */
  def writeWikiDump(dir: File, docs: Vector[WikiDoc], perFile: Int): Unit =
    docs.grouped(perFile).zipWithIndex.foreach { case (chunk, i) =>
      val f = new File(dir, f"wiki_$i%02d")
      f.getParentFile.mkdirs()
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(f), StandardCharsets.UTF_8))
      try chunk.foreach { d => w.write(wikiLine(d)); w.write('\n') }
      finally w.close()
    }

  /** Documents table with planted near-duplicate clusters.
    * `clusters` lists each cluster's member ids; member 0 is the base
    * text, the others copy it with one word substituted (or none), so
    * members sit far above Jaccard 0.8 on word 3-shingles, while
    * unrelated documents, drawn independently from the Zipf vocabulary,
    * share almost no 3-shingles. */
  final case class DocTable(texts: Vector[String], clusters: Vector[Vector[Long]])

  def neardupDocs(seed: Long, n: Int, minLen: Int = 100,
                  maxLen: Int = 140): DocTable = {
    val r = new SplittableRandom(seed * 1000003L + 29)
    val v = vocab(r.split(), 30000)
    val texts = Array.fill(n) {
      Vector.fill(minLen + r.nextInt(maxLen - minLen + 1))(v.draw(r))
    }
    // clusters of 2-4 members over a random permutation of ids: members
    // land in the corpus, in one batch and across batches alike
    val perm = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val clustered = n / 4
    val clusters = scala.collection.mutable.ArrayBuffer.empty[Vector[Long]]
    var at = 0
    while (at + 1 < clustered) {
      val size = math.min(2 + r.nextInt(3), clustered - at)
      val members = perm.slice(at, at + size).toVector
      val base = texts(members.head)
      members.tail.foreach { m =>
        texts(m) =
          if (r.nextInt(4) == 0) base
          else base.updated(3 + r.nextInt(base.length - 6), v.draw(r))
      }
      clusters += members.map(_.toLong)
      at += size
    }
    DocTable(texts.toVector.map(_.mkString(" ")), clusters.toVector)
  }

  /** `<dir>/documents.parquet` with (doc_id long, text string), written
    * with parquet-mr directly so no Spark session is needed to make the
    * inputs. */
  def writeDocuments(dir: File, t: DocTable): Unit = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message documents { required int64 doc_id; required binary text (STRING); }")
    val out = new File(dir, "documents.parquet/part-00000.parquet")
    out.getParentFile.mkdirs()
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(new Path(out.getAbsolutePath))
      .withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try t.texts.zipWithIndex.foreach { case (text, id) =>
      w.write(f.newGroup().append("doc_id", id.toLong).append("text", text))
    }
    finally w.close()
  }
}
