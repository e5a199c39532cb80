package graft

import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Similarity

/** Edge cases for the custom expressions/aggregators. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("VecDotF: empty, mismatched-length, and null vectors") {
    VecExpressions.register(spark)
    val df = Seq(
      (1L, Array.empty[Float], Array.empty[Float]),
      (2L, Array(1.0f, 2.0f, 3.0f), Array(1.0f, 1.0f)), // min-length zip
      (3L, Array(2.0f), Array(4.0f)),
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), VecExpressions.vecDot(col("a"), col("b")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 3.0) // 1*1 + 2*1, third element ignored
    assert(got(3L) == 8.0)
    // null input → null out (BinaryExpression null-intolerant default)
    val n = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .select(VecExpressions.vecDot(col("a"), col("b"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("VecDotF: interpreted eval equals codegen result") {
    VecExpressions.register(spark)
    val vals = Array.tabulate(64)(i => (math.sin(i) * 10).toFloat)
    val expr = VecDotF(
      org.apache.spark.sql.catalyst.expressions.Literal.create(vals,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(vals,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)))
    val interpreted = expr.eval(null).asInstanceOf[Double]
    val viaPlan = Seq((vals, vals)).toDF("a", "b")
      .select(VecExpressions.vecDot(col("a"), col("b"))).collect()(0)
      .getDouble(0)
    assert(interpreted == viaPlan)
    val manual = vals.map(v => v.toDouble * v.toDouble).sum
    assert(math.abs(interpreted - manual) < 1e-9)
  }

  test("round2 matches Math.round(x*100)/100 reference semantics") {
    val xs = Seq(0.005, 0.0049999, 0.015, 0.125, 0.335, 1.0 / 3.0,
      0.994999, 0.995)
    val got = xs.toDF("x").select(Fns.round2(col("x"))).collect()
      .map(_.getDouble(0))
    val want = xs.map(x => Math.round(x * 100).toDouble / 100)
    assert(got.toSeq == want)
  }

  test("TopKAgg: fewer rows than k, exact ties broken by id asc") {
    val scored = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.5), (1L, 12L, 0.9), // tie at 0.5
      (2L, 20L, 0.1), // single row, k=3
    ).toDF("query_id", "vec_id", "cos")
    val r = scored.as[(Long, Long, Double)]
      .groupByKey(_._1).mapValues(t => (t._2, t._3))
      .agg(new TopKAgg(3).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2"), col("pos"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    val byQuery = r.groupBy(_._1)
    assert(byQuery(1L).sortBy(_._3).map(_._2).toSeq == Seq(12L, 10L, 11L))
    assert(byQuery(2L).map(_._2).toSeq == Seq(20L))
  }

  test("TopKAgg: NaN scores rank first (engine ORDER BY semantics), never stick") {
    val agg = new TopKAgg(2)
    // NaN enters a non-full buffer, then two real scores arrive: one
    // must evict the other real score, not be blocked by the NaN slot
    val buf = Seq((1L, Double.NaN), (2L, 0.5), (3L, 0.9))
      .foldLeft(agg.zero)((b, x) => agg.reduce(b, x))
    val top = agg.finish(buf)
    // total order: NaN > 0.9 > 0.5 — NaN first, then the best real score
    assert(top.map(_._2).toSeq == Seq(1L, 3L))
  }

  test("MinHashAgg: identical shingle sets → identical signatures") {
    def h0(s: String): Long = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    val agg = new MinHashAgg(16)
    val s1 = Seq("a b c", "b c d", "c d e").map(h0)
    val b1 = s1.foldLeft(agg.zero)((b, s) => agg.reduce(b.clone(), s))
    val b2 = s1.reverse.foldLeft(agg.zero)((b, s) =>
      agg.reduce(b.clone(), s))
    assert(b1.toSeq == b2.toSeq) // order-independent
    val b3 = agg.merge(agg.reduce(agg.zero, h0("a b c")),
      agg.reduce(agg.zero, h0("x y z")))
    assert(b3.toSeq == Seq(h0("a b c"), h0("x y z"))
      .foldLeft(agg.zero)((b, s) => agg.reduce(b, s)).toSeq)
  }
}
