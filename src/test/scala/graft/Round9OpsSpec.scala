package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextOps}

/** Round-9 operators: exact SimHash hamming pairs (pigeonhole-complete
  * buckets), CMS heavy hitters (exact output from probabilistic work),
  * n-gram novelty, and asymmetric containment pairs (exact hash-order
  * prefix filter). Each test pins the operator to a brute-force
  * reference computed with plain Spark ops on the same tiny corpus.
  */
class Round9OpsSpec extends AnyFunSuite with SharedSpark {

  private def corpus() = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near dup of 1
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "one two three four five six seven eight nine ten eleven twelve"), // contains 4
      (6L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
  }

  test("simhashHammingPairs equals brute-force hamming over full signatures") {
    val docs = corpus()
    val got = Dedup.simhashHammingPairs(docs, "doc_id", "text")
      .orderBy("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // brute force: same signature construction, all pairs, no buckets
    val sigs = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.Signatures.simhash_chunks(
        transform(split(col("text"), " "), Dedup.md5TokenHash _), 4).as("sig"))
    val want = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.hammingChunks(col("a.sig"), col("b.sig")).cast("long").as("h"))
      .filter(col("h") <= 3)
      .orderBy("a.doc_id", "b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(want.nonEmpty, "fixture must exercise at least one qualifying pair")
    assert(got == want)
    // the exact-dup pair must be hamming 0
    assert(got.contains((1L, 2L, 0L)))
  }

  test("cmsHeavyHitters equals plain exact groupBy-HAVING on the same threshold") {
    val s = spark; import s.implicits._
    // skewed corpus: one hot bigram, a long uniform tail
    val hot = Seq.fill(30)("foo bar").mkString(" ")
    val docs = (Seq((1L, hot)) ++ (2L to 40L).map(i =>
      (i, s"tail$i word$i next$i"))).toDF("doc_id", "text")
    val got = TextOps.cmsHeavyHitters(docs, "text", minAbs = 5L, minDen = 2000L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val grams = docs.select(
      explode(TextOps.tokenNgramsOfTokens(TextOps.tokens(col("text")), 2)).as("gram"))
    val total = grams.count()
    val t = math.max(5L, (total + 1999) / 2000)
    val want = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= t)
      .orderBy(col("cnt").desc, col("gram"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(want.nonEmpty)
    assert(got == want)
    // the uniform tail must NOT appear (CMS's job is pruning it)
    assert(got.forall(_._2 >= t))
  }

  test("ngramNovelty: a verbatim repeat of an earlier doc scores 0, first doc scores 1") {
    val s = spark; import s.implicits._
    val text = "a b c d e f g h i j k l" // 12 tokens → 5 8-grams
    val docs = Seq(
      (1L, text),
      (2L, text), // every 8-gram first appeared in doc 1
      (3L, "z y x w v u t s r q p o") // all novel
    ).toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 5L, 1.0), (2L, 5L, 0.0), (3L, 5L, 1.0)))
  }

  test("ngramNovelty: short documents emit 0 grams and null fraction") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "only three tokens"), (2L, "a b c d e f g h")).toDF("doc_id", "text")
    val rows = TextOps.ngramNovelty(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(rows == Seq((1L, 0L, None), (2L, 1L, Some(1.0))))
  }

  test("dupRateBySource charges later copies to their own source") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "original text here", "srcA"),
      (2L, "original text here", "srcB"), // copy of 1, charged to srcB
      (3L, "another doc body", "srcA"),
      (4L, "original text here", "srcB"), // second copy, also srcB
      (5L, "unique srcB doc", "srcB")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.dupRateBySource(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(("srcA", 2L, 0L, 0.0), ("srcB", 3L, 2L, 0.666667)))
  }

  test("pmiCollocations matches a hand-computed PMI and tie-breaks on gram") {
    val s = spark; import s.implicits._
    // "a b" always together (high PMI); "x y"/"x z" split (lower PMI)
    val docs = Seq(
      (1L, "a b a b a b a b a b"),
      (2L, "x y x z x y x z x y")
    ).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs, "text", minCount = 4L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // corpus: 20 unigrams, 18 bigrams. counts: a=5,b=5,x=5,y=3,z=2
    // c("a b")=5, c("b a")=4, c("x y")=3(<4), ...
    def pmi(cab: Long, ca: Long, cb: Long): Double =
      math.rint(math.log(cab.toDouble / 18.0 * (20.0 / ca) * (20.0 / cb)) * 1e6) / 1e6
    assert(got == Seq(
      ("a b", 5L, pmi(5, 5, 5)),
      ("b a", 4L, pmi(4, 5, 5))))
  }

  test("minhashCalibration: identical docs estimate 1.0 with zero error; est is k-quantized") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical → jac 1
      (3L, "alpha beta gamma delta epsilon zeta eta iota")   // near dup of 1
    ).toDF("doc_id", "text")
    val rows = Dedup.minhashCalibration(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val exact = rows.find(r => r._1 == 1L && r._2 == 2L).get
    assert(exact._3 == 1.0 && exact._4 == 1.0 && exact._5 == 0.0)
    // every estimate is a multiple of 1/16 and err = |est - jac| (6 dp)
    rows.foreach { case (_, _, jac, est, err) =>
      assert((est * 16).isWhole, s"est $est not k-quantized")
      // jac is reported rounded while err subtracts the unrounded value,
      // so allow the 6-dp rounding slack
      assert(math.abs(err - math.abs(est - jac)) < 2e-6,
        s"err $err inconsistent with |est-jac| = ${math.abs(est - jac)}")
    }
  }

  test("jaccardThresholdSweep: monotone counts, zero rows kept, matches per-τ filters") {
    val docs = corpus()
    val got = Dedup.jaccardThresholdSweep(docs, "doc_id", "text")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    // counts must be monotone non-increasing in τ
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
    // each row equals an independent single-τ run of the exact pair join
    got.foreach { case (t, np, nd) =>
      val p = Dedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = t)
      assert(p.count() == np, s"τ=$t n_pairs")
      val docsTouched = p.select(explode(array(col("i"), col("j"))))
        .distinct().count()
      assert(docsTouched == nd, s"τ=$t n_docs")
    }
    // the exact-dup pair (docs 1,2) survives every τ
    assert(got.last._2 >= 1L)
  }

  test("normOutliers flags the spiked vector; zero-std corpus short-circuits z") {
    val s = spark; import s.implicits._
    import graft.operators.Similarity
    // 9 flat-ish unit vectors + 1 spike-corrupted one
    val flat = (1L to 9L).map(i => (i, Array.fill(4)(0.5f), 0))
    val spiked = Seq((10L, Array(0.99f, 0.01f, 0.01f, 0.01f), 0))
    val df = (flat ++ spiked).toDF("vec_id", "embedding", "label")
    val rows = Similarity.normOutliers(df)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(rows(10L), "spiked vector must be flagged")
    assert((1L to 9L).forall(!rows(_)), "flat vectors must not be flagged")
    // identical vectors → std 0 → z must be 0 everywhere, no flags
    val same = (1L to 5L).map(i => (i, Array.fill(4)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val z0 = Similarity.normOutliers(same)
      .collect().map(r => (r.getDouble(3), r.getBoolean(4)))
    assert(z0.forall { case (z, o) => z == 0.0 && !o })
  }

  test("matryoshkaEnergy: energy monotone in prefix, exact on a hand case") {
    val s = spark; import s.implicits._
    import graft.operators.Similarity
    // 64-dim: first 16 dims carry 1.0 each, rest 0 → energy_16 = 1.0
    val front = (Array.fill(16)(1.0f) ++ Array.fill(48)(0.0f), 1)
    // uniform: energy_16 = 16/64, energy_32 = 32/64
    val unif = (Array.fill(64)(1.0f), 2)
    val df = Seq((1L, front._1, front._2), (2L, unif._1, unif._2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.matryoshkaEnergy(df)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == Seq((1L, 1.0, 1.0), (2L, 0.25, 0.5)))
  }

  test("shardAssignment: deterministic, seed-sensitive, contiguous within-shard positions") {
    val s = spark; import s.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = TextOps.shardAssignment(docs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val b = TextOps.shardAssignment(docs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(a == b, "must be deterministic across runs")
    val c = TextOps.shardAssignment(docs, "doc_id", seed = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(a != c, "a different seed must produce a different shuffle")
    // shards in range; positions within each shard are 1..n contiguous
    assert(a.forall { case (_, sh, _) => sh >= 0 && sh < 16 })
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size).toSeq)
    }
  }

  test("containmentPairs equals brute-force intersect/|A| over distinct shingles") {
    val docs = corpus()
    val got = Dedup.containmentPairs(docs, "doc_id", "text")
      .orderBy("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val base = docs.select(col("doc_id"),
      array_distinct(org.apache.spark.sql.graft.Signatures
        .shingle_hashes(split(col("text"), " "), 3)).as("sh"))
    val want = base.as("a").join(base.as("b"), col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        size(array_intersect(col("a.sh"), col("b.sh"))).as("inter"),
        size(col("a.sh")).as("na"))
      .filter(col("inter") * 5 >= col("na") * 3)
      .select(col("i"), col("j"),
        round(col("inter").cast("double") / col("na"), 6).as("c"))
      .orderBy("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(want.nonEmpty, "fixture must exercise qualifying pairs")
    assert(got == want)
    // doc 4 ⊂ doc 5: containment(4→5) = 1.0 but NOT necessarily (5→4):
    // asymmetry is the operator's point
    assert(got.contains((4L, 5L, 1.0)))
    assert(!got.contains((5L, 4L, 1.0)))
  }
}
