package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** The nearest codewords of one vector: the `p` best `(code, sim)`
  * pairs of `v` against `codewords`, best first — the one argmax behind
  * every IVF cell assignment, PQ encode and Lloyd step
  * (graft.operators.Similarity).
  *
  *  - `v` is an `array<double>`, `vnrm` its norm (`sqrt(dot_product(v, v))`);
  *  - `codewords` is an `array<struct<code: long, cv: array<double>,
  *    cnrm: double>>`, `cnrm` the codeword's stored norm. It comes from a
  *    broadcast relation row, never a literal, so the plan has the same
  *    size at any index geometry;
  *  - sim is [[DotProduct]]'s left-to-right sum over the shorter prefix,
  *    divided by `vnrm · cnrm`. A zero-norm codeword, or a vector whose
  *    norm is not `> 0`, scores 0.0 (NaN sort order is engine-dependent);
  *  - order is sim descending, then code ascending, with sims compared
  *    by Spark's own `SQLOrderingUtil.compareDoubles` (0.0 ties -0.0, NaN
  *    is largest) — the order every DuckDB oracle mirror encodes as
  *    `ORDER BY sim DESC, code`.
  *
  * Fewer than `p` codewords return them all; an empty array returns an
  * empty array; a null input returns null. A compiled loop for the same
  * reason as [[WinnowKeys]]: as nested higher-order functions this
  * argmax evaluates its lambdas interpreted, per codeword, and as a join
  * and aggregate it moves every vector through an aggregation buffer.
  */
case class NearestCodes(v: Expression, vnrm: Expression, codewords: Expression,
    p: Int) extends TernaryExpression with ExpectsInputTypes with CodegenFallback {
  require(p >= 1, s"nearest_codes: p must be >= 1, got $p")

  override def first: Expression = v
  override def second: Expression = vnrm
  override def third: Expression = codewords

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType, NearestCodes.codewordsType)

  override def dataType: DataType = NearestCodes.resultType

  override def prettyName: String = "nearest_codes"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val xn = b.asInstanceOf[Double]
    val cws = c.asInstanceOf[ArrayData]
    val n = cws.numElements()
    val m = math.min(p, n)
    // the best `filled` so far, best first
    val codes = new Array[Long](m)
    val sims = new Array[Double](m)
    var filled = 0
    val scored = SQLOrderingUtil.compareDoubles(xn, 0.0) > 0
    var i = 0
    while (i < n) {
      val cw = cws.getStruct(i, 3)
      val code = cw.getLong(0)
      val cn = cw.getDouble(2)
      val s = if (cn == 0.0 || !scored) 0.0 else dot(x, cw.getArray(1)) / (xn * cn)
      if (filled < m || NearestCodes.before(s, code, sims(m - 1), codes(m - 1))) {
        var j = if (filled < m) { filled += 1; filled - 1 } else m - 1
        while (j > 0 && NearestCodes.before(s, code, sims(j - 1), codes(j - 1))) {
          sims(j) = sims(j - 1)
          codes(j) = codes(j - 1)
          j -= 1
        }
        sims(j) = s
        codes(j) = code
      }
      i += 1
    }
    new GenericArrayData(Array.tabulate[Any](m)(j => InternalRow(codes(j), sims(j))))
  }

  // DotProduct's loop, so a sim here is bit-identical to
  // dot_product(v, cv) / (vnrm * cnrm)
  private def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearestCodes =
    copy(v = newFirst, vnrm = newSecond, codewords = newThird)
}

object NearestCodes {
  /** The `codewords` input's type (nullability aside). */
  val codewordsType: DataType = ArrayType(StructType(Seq(
    StructField("code", LongType, nullable = false),
    StructField("cv", ArrayType(DoubleType, containsNull = false),
      nullable = false),
    StructField("cnrm", DoubleType, nullable = false))), containsNull = false)

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("code", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  /** Does (s, code) rank before (s2, code2): sim descending, code ascending. */
  private def before(s: Double, code: Long, s2: Double, code2: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(s, s2)
    c > 0 || (c == 0 && code < code2)
  }

  /** Column-API entry point. */
  def nearest_codes(v: Column, vnrm: Column, codewords: Column, p: Int): Column =
    ExpressionUtils.column(NearestCodes(ExpressionUtils.expression(v),
      ExpressionUtils.expression(vnrm), ExpressionUtils.expression(codewords), p))
}
