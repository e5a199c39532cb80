package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

object SimHashAgg {
  // MessageDigest is stateful and not thread-safe; one per executor
  // thread. (An object member is never serialized into the task binary —
  // each JVM materializes its own pool.)
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit hash basis of a token: the first 8 bytes of md5(utf8(word)),
    * big-endian — i.e. the first 16 hex chars of the standard md5 string
    * parsed as an unsigned 64-bit integer. md5 (unlike xxhash64) exists
    * in every engine, so the SimHash signature family is reproducible in
    * a DuckDB/Trino/Postgres twin: bit j of the basis is
    * `(('0x' || substr(md5(word),1,16))::UBIGINT >> j) & 1`.
    */
  def wordBasis(word: String): Long = {
    val md = Md5.get()
    md.reset()
    val digest = md.digest(word.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(digest, 0, 8).getLong
  }
}

/** One-pass 64-bit SimHash aggregator over (word, count) pairs: bit j of
  * the signature is the sign of Σ(±count), + when bit j of the md5-based
  * [[SimHashAgg.wordBasis]] is set. The md5 basis makes signatures
  * portable across engines (the DuckDB oracle recomputes them exactly);
  * a single ObjectHashAggregate pass replaces a 64× explode + two extra
  * shuffles.
  */
class SimHashAgg extends Aggregator[(String, Long), Array[Long], Long] {

  override def zero: Array[Long] = new Array[Long](64)

  override def reduce(buf: Array[Long],
                      in: (String, Long)): Array[Long] = {
    val h = SimHashAgg.wordBasis(in._1)
    val cnt = in._2
    var j = 0
    while (j < 64) {
      if (((h >>> j) & 1L) == 1L) buf(j) += cnt else buf(j) -= cnt
      j += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 64) { a(j) += b(j); j += 1 }
    a
  }

  override def finish(buf: Array[Long]): Long = {
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (buf(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Long] =
    ExpressionEncoder[Long]()
}
