package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** An independent driver-side replay of the Lloyd recurrence that
  * `Similarity.lloydBooks` runs, and of the cell assignment and PQ
  * encode every IVF search runs against a trained index: plain arrays,
  * the DotProduct kernel's left-to-right fold, the (sim desc, cid asc)
  * argmax with its zero-norm pins, and Spark's `round(avg, 6)`
  * (HALF_UP on the double's decimal form). Seeds are the full corpus'
  * ids below k; the training rows are the `vec_id % mod = 0` sample.
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

  private def norm(x: Array[Double]): Double = math.sqrt(dot(x, x))

  /** A centroid's norm: the left fold `centroidRelation` and
    * `codebookRelation` store. */
  private def centNorm(cv: Seq[Double]): Double =
    math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))

  /** Cosine with the zero-norm pins: a zero-norm centroid or vector
    * scores 0.0. */
  private def sim(x: Array[Double], xn: Double, cv: Array[Double],
      cn: Double): Double =
    if (cn == 0.0) 0.0 else if (xn > 0) dot(x, cv) / (xn * cn) else 0.0

  /** The `probes` best centroids of `x`, best first, as (cid, sim):
    * sim descending, ties to the lower cid. */
  private def ranked(x: Array[Double], cent: Cent,
      probes: Int): Seq[(Long, Double)] = {
    val xn = norm(x)
    cent.map { case (cid, cv) =>
      (cid, sim(x, xn, cv.toArray, centNorm(cv)))
    }.sortWith { case ((c1, s1), (c2, s2)) =>
      // IEEE comparisons, so 0.0 and -0.0 tie (Spark's double order)
      if (s1 != s2) s1 > s2 else c1 < c2
    }.take(probes)
  }

  /** `assignCellsRelation`'s rows, sorted by (vec_id, probe):
    * (vec_id, v, cell, sim, probe). */
  def assign(data: Seq[(Long, Array[Double])], cent: Cent,
      probes: Int): Seq[(Long, Seq[Double], Long, Double, Int)] =
    for {
      (id, x) <- data.sortBy(_._1)
      ((cell, s), p) <- ranked(x, cent, probes).zipWithIndex
    } yield (id, x.toSeq, cell, s, p + 1)

  /** The PQ encode's rows, sorted by (vec_id, sub): (vec_id, sub,
    * code), each subspace slice of width `w` to its nearest codeword. */
  def encode(data: Seq[(Long, Array[Double])], w: Int,
      books: Seq[(Int, Cent)]): Seq[(Long, Int, Long)] =
    for {
      (id, x) <- data.sortBy(_._1)
      (sub, cent) <- books.sortBy(_._1)
    } yield (id, sub, ranked(x.slice(sub * w, sub * w + w), cent, 1).head._1)

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
