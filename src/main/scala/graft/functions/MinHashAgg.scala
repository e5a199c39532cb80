package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Aggregator

/** One-pass MinHash signature aggregator: for each document, the
  * per-permutation minimum over its shingles of the hash family
  * h_p(s) = xxh64(h0(s), seed=p), where h0 is Spark's codegen'd
  * `xxhash64(s)` computed in the DataFrame BEFORE the shuffle — the
  * aggregator's input is the 8-byte shingle hash, not the string, so
  * the exchange ships (long, long) rows only.
  *
  * Replaces the explode(numPerm)×shuffle formulation — the shingle rows
  * never fan out; each input row does numPerm cheap long hashes into a
  * fixed Array[Long] buffer (ObjectHashAggregate), cutting the shuffle
  * volume by numPerm×. The LSH candidates it feeds are
  * exact-Jaccard-verified downstream, so any well-mixed hash family
  * yields the identical final pair set.
  */
class MinHashAgg(numPerm: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.fill(numPerm)(Long.MaxValue)

  override def reduce(buf: Array[Long], h0: Long): Array[Long] = {
    var p = 0
    while (p < numPerm) {
      val h = XXH64.hashLong(h0, p.toLong)
      if (h < buf(p)) buf(p) = h
      p += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var p = 0
    while (p < numPerm) {
      if (b(p) < a(p)) a(p) = b(p)
      p += 1
    }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}
