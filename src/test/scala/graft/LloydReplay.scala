package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** An independent driver-side replay of the Lloyd recurrence that
  * `Similarity.lloydBooks` runs: plain arrays, the DotProduct kernel's
  * left-to-right fold, the (sim desc, cid asc) argmax with its
  * zero-norm pins, and Spark's `round(avg, 6)` (HALF_UP on the
  * double's decimal form). Seeds are the full corpus' ids below k; the
  * training rows are the `vec_id % mod = 0` sample.
  */
object LloydReplay {
  type Cent = Seq[(Long, Seq[Double])]

  /** (vec_id, embedding as doubles) rows, sorted by id. */
  def corpus(vectors: DataFrame): Seq[(Long, Array[Double])] =
    vectors.select(col("vec_id"), col("embedding")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `k` centroids over the `width`-wide slice at 0-based `start`. */
  def train(data: Seq[(Long, Array[Double])], start: Int, width: Int,
      k: Int, iters: Int, mod: Int = 1): Cent = {
    def cut(x: Array[Double]) = x.slice(start, start + width)
    var cent = data.filter(_._1 < k).map { case (id, x) => (id, cut(x)) }
    val rows = data.filter(_._1 % mod == 0).map { case (_, x) => cut(x) }
    for (_ <- 1 to iters if cent.nonEmpty) {
      val norms = cent.map { case (_, cv) =>
        math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x)) }
      val won = rows.map { sv =>
        val n = math.sqrt(dot(sv, sv))
        var best = Double.NegativeInfinity
        var bestId = Long.MaxValue
        for (((cid, cv), cn) <- cent.zip(norms)) {
          val sim =
            if (cn == 0.0) 0.0 else if (n > 0) dot(sv, cv) / (n * cn) else 0.0
          if (sim > best || (sim == best && cid < bestId)) {
            best = sim; bestId = cid
          }
        }
        (bestId, sv)
      }
      cent = won.groupBy(_._1).toSeq.map { case (cid, ms) =>
        (cid, Array.tabulate(width)(d =>
          round6(ms.map(_._2(d)).sum / ms.size)))
      }.sortBy(_._1)
    }
    cent.map { case (id, cv) => (id, cv.toSeq) }
  }
}
