package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.graft.Signatures
import org.apache.spark.sql.graft.DotProduct.dot_product

/** Algebraic laws of the native Catalyst kernels, checked against
  * plain-Scala references on seeded random inputs (the repo's
  * reference-fold style). These are the properties the dedup /
  * similarity operators silently rely on; a kernel regression that
  * preserves the golden cases but breaks the algebra fails here.
  */
class KernelLawsSpec extends AnyFunSuite with SharedSpark {

  test("jaccard_longs equals set-math Jaccard on random pairs (incl. empty)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20260812L)
    val cases = (0 until 200).map { i =>
      val universe = (0 until 30).map(_ => rnd.nextLong() % 50).distinct
      val a = universe.filter(_ => rnd.nextBoolean())
      val b = universe.filter(_ => rnd.nextBoolean())
      (i.toLong, a, b)
    } :+ (200L, Seq.empty[Long], Seq.empty[Long]) :+
      (201L, Seq(1L, 2L), Seq.empty[Long])
    val got = cases.toDF("id", "a", "b")
      .select(col("id"), Signatures.jaccard_longs(col("a"), col("b")).as("j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, a, b) <- cases) {
      val (sa, sb) = (a.toSet, b.toSet)
      val union = (sa ++ sb).size
      val want = if (union == 0) 0.0 else (sa & sb).size.toDouble / union
      assert(got(id) == want, s"case $id: ${got(id)} != $want")
    }
  }

  test("minhash union law: sig(a ∪ b) = elementwise min(sig(a), sig(b))") {
    // the property LSH banding rests on: each signature slot is the
    // min of independent per-element rehashes, so the min over a union
    // is the min of the mins — any implementation that hashes
    // per-(slot, element) independently must satisfy this exactly
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42L)
    val cases = (0 until 50).map { i =>
      val a = Seq.fill(rnd.nextInt(20) + 1)(rnd.nextLong())
      val b = Seq.fill(rnd.nextInt(20) + 1)(rnd.nextLong())
      (i.toLong, a, b, (a ++ b).distinct)
    }
    val rows = cases.toDF("id", "a", "b", "u")
      .select(col("id"),
        Signatures.minhash_signature(col("a"), 64).as("sa"),
        Signatures.minhash_signature(col("b"), 64).as("sb"),
        Signatures.minhash_signature(col("u"), 64).as("su"))
      .collect()
    for (r <- rows) {
      val sa = r.getSeq[Long](1); val sb = r.getSeq[Long](2)
      val su = r.getSeq[Long](3)
      val want = sa.zip(sb).map { case (x, y) => math.min(x, y) }
      assert(su == want, s"case ${r.getLong(0)}")
    }
  }

  test("simhash is a vote sum: permutation- and duplicate-pair-invariant") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7L)
    val cases = (0 until 50).map { i =>
      val toks = Seq.fill(rnd.nextInt(30) + 3)(s"w${rnd.nextInt(40)}")
      (i.toLong, toks, rnd.shuffle(toks))
    }
    val rows = cases.toDF("id", "a", "b")
      .select(col("id"),
        Signatures.simhash_chunks(Signatures.token_hashes(col("a")), 4).as("sa"),
        Signatures.simhash_chunks(Signatures.token_hashes(col("b")), 4).as("sb"))
      .collect()
    for (r <- rows)
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"case ${r.getLong(0)}: permuting tokens changed the signature")
  }

  test("dot_product equals the sequential fold on random double arrays") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(99L)
    val cases = (0 until 100).map { i =>
      val n = rnd.nextInt(65) + 1
      (i.toLong, Seq.fill(n)(rnd.nextDouble() * 2 - 1),
        Seq.fill(n)(rnd.nextDouble() * 2 - 1))
    }
    val got = cases.toDF("id", "a", "b")
      .select(col("id"), dot_product(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((id, a, b) <- cases) {
      // bit-exact: the kernel must accumulate left-to-right like the
      // oracle's list_reduce, not reassociate
      var acc = 0.0
      var k = 0
      while (k < a.length) { acc += a(k) * b(k); k += 1 }
      assert(got(id) == acc, s"case $id")
    }
  }
}
