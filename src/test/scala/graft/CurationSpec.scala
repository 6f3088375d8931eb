package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation

/** Corpus-curation operators (q67–q69): mixture accounting, the
  * skew-safe per-source cap, and the end-to-end pipeline verdict. The
  * oracles prove corpus-level parity; these specs pin the hand-
  * computable math, the two-phase-rank exactness claim, and the flag
  * composition on a corpus engineered to light every flag.
  */
class CurationSpec extends AnyFunSuite with SharedSpark {

  test("sourceMixture: shares and uniform weights match hand math") {
    val s = spark; import s.implicits._
    // src A: 3 + 1 = 4 tokens over 2 docs; src B: 12 tokens over 1 doc
    val docs = Seq(
      (1L, "a b c", "A"), (2L, "d", "A"),
      (3L, "t t t t t t t t t t t t", "B")).toDF("doc_id", "text", "source")
    val got = Curation.sourceMixture(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // total 16 tokens, 2 sources → uniform target 8 tokens each
    assert(got.toSeq == Seq(
      ("A", 2L, 4L, 0.25, 2.0),   // 4/16 share; 8/4 = upsample 2×
      ("B", 1L, 12L, 0.75, 0.666667))) // 12/16; 8/12 rounded to 6 dp
  }

  test("dsirSelect: log-likelihood-ratio hand math, target-like doc ranks first") {
    val s = spark; import s.implicits._
    // Target slice = en. Shared vocab {a,b,c}, V=3; target tokens
    // Nt=3 (a:2 b:1 c:0), raw Nr=8 (a:3 b:3 c:2), add-one smoothing.
    val docs = Seq(
      (1L, "a a b", "en"),
      (2L, "a c", "fr"),
      (3L, "b b c", "fr")).toDF("doc_id", "text", "lang")
    val da = math.log(3.0 / 6.0) - math.log(4.0 / 11.0)
    val db = math.log(2.0 / 6.0) - math.log(4.0 / 11.0)
    val dc = math.log(1.0 / 6.0) - math.log(3.0 / 11.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Curation.dsirSelect(docs, "doc_id", "text",
        isTarget = col("lang") === "en", topK = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // d1 = 2Δa+Δb (target-like, positive) > d2 = Δa+Δc > d3 (cut by k)
    assert(got.toSeq == Seq(
      (1L, r6(2 * da + db)), (2L, r6(da + dc))))
  }

  test("temperatureMixture: α=0.5 flattens toward the tail, weights sum to 1") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c", "A"), (2L, "d", "A"),
      (3L, "t t t t t t t t t t t t", "B")).toDF("doc_id", "text", "source")
    val got = Curation.temperatureMixture(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    // shares 0.25/0.75 → √: 0.5, 0.8660254…; Z = 1.3660254…
    assert(got.toSeq == Seq(
      ("A", 4L, 0.25, 0.366025),   // raw 0.25 upsampled toward uniform
      ("B", 12L, 0.75, 0.633975))) // raw 0.75 downsampled, not flattened to 0.5
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-5)
  }

  test("perSourceCap: two-phase salted rank ≡ single global window (exactness)") {
    val s = spark; import s.implicits._
    // 60 docs over 3 sources with duplicate texts across sources so md5
    // keys collide across (but not within) windows; every salt count in
    // {1, 2, 5} exercises partial salt groups
    val docs = (0L until 60L)
      .map(i => (i, s"doc ${i % 17} body ${i % 7}", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val single = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("k"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("k"), col("doc_id"))))
      .filter(col("rk") <= 4)
      .select(col("doc_id"), col("source"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    for (salts <- Seq(1, 2, 5)) {
      val got = Curation.perSourceCap(docs, "doc_id", "text", "source",
        cap = 4, salts = salts)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
      assert(got == single, s"salts=$salts diverged from the global window")
    }
  }

  test("perSourceCap: cap larger than the source passes everything through") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "x", "A"), (2L, "y", "A")).toDF("doc_id", "text", "source")
    assert(Curation.perSourceCap(docs, "doc_id", "text", "source", cap = 10)
      .count() == 2)
  }

  test("round-6 operators tolerate an empty corpus (no throw, empty output)") {
    val s = spark; import s.implicits._
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val vecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Curation.sourceMixture(docs, "doc_id", "text", "source").count() == 0)
    assert(Curation.temperatureMixture(docs, "doc_id", "text", "source").count() == 0)
    assert(Curation.perSourceCap(docs, "doc_id", "text", "source", cap = 3).count() == 0)
    assert(Curation.curationPipeline(docs, benchPredicate = col("doc_id") < 5)
      .count() == 0)
    assert(operators.Dedup.repeatedNgrams(docs, "doc_id", "text").count() == 0)
    assert(operators.Dedup.repeatedSpanFrac(docs, "doc_id", "text").count() == 0)
    assert(operators.Packing.chunk(docs, "doc_id", "text", 32, 24).count() == 0)
    assert(operators.Similarity.centeringReadout(vecs).count() == 0)
    assert(Curation.tokenBudgetSelect(docs, "doc_id", "text").count() == 0)
  }

  test("tokenBudgetSelect: distributed prefix sum ≡ naive global window (q77)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Curation.tokenBudgetSelect(docs, "doc_id", "text",
        budgetNum = 1L, budgetDen = 2L)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    // the semantics the oracle states: ONE global running sum (the
    // single-partition plan the operator exists to avoid)
    import graft.operators.TextOps
    val naiveW = Window.orderBy(col("q_score").desc, col("doc_id").asc)
    val slim = docs.select(col("doc_id"),
      round(TextOps.stopwordRatio(col("text")), 6).as("q_score"),
      TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    val total = slim.agg(sum("n_tokens")).collect()(0).getLong(0)
    val want = slim.withColumn("cum_tokens", sum(col("n_tokens")).over(naiveW))
      .select(col("doc_id"), col("q_score"), col("n_tokens"),
        col("cum_tokens"), (col("cum_tokens") * 2 <= total).as("selected"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // nontrivial split: some kept, some dropped, and the kept set is a
    // PREFIX of the quality ranking
    val kept = got.filter(_._5); val dropped = got.filterNot(_._5)
    assert(kept.nonEmpty && dropped.nonEmpty)
    assert(kept.map(_._4).max < dropped.map(_._4).min,
      "selected prefix must end before the first dropped cum")
    // small-bucket path exercises multi-row buckets + nonzero offsets
    val coarse = Curation.tokenBudgetSelect(docs, "doc_id", "text",
        budgetNum = 1L, budgetDen = 2L, buckets = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    assert(coarse.toSeq == want.toSeq,
      "bucket count must not change the prefix-sum semantics")
  }

  test("tokenBudgetSelect: hand math, budget edge inclusive on exact fill") {
    val s = spark; import s.implicits._
    // scores: d1 2/4=0.5, d2 1/4=0.25, d3 0/4=0. ranking d1,d2,d3 with
    // 4 tokens each, total 12; budget 2/3 → 8 tokens: d1 (cum 4) and
    // d2 (cum 8, exactly the budget → kept) in, d3 (cum 12) out
    val docs = Seq(
      (1L, "the cat is here"), (2L, "the cat sat down"),
      (3L, "cat sat down here")).toDF("doc_id", "text")
    val got = Curation.tokenBudgetSelect(docs, "doc_id", "text",
        budgetNum = 2L, budgetDen = 3L)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 0.5, 4L, 4L, true),
      (2L, 0.25, 4L, 8L, true),
      (3L, 0.0, 4L, 12L, false)))
  }

  test("curationPipeline: each flag trips independently and composes") {
    val s = spark; import s.implicits._
    // doc 0: bench. doc 5: clean survivor. doc 6: duplicate of 5 (higher
    // id → not canonical). doc 7: shares a 3-gram with bench →
    // contaminated. doc 8: too short (2 < 5 tokens). doc 9: repetitive
    // (10 of 11 token occurrences are repeats → dwf ≈ 0.909 > 0.9).
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (5L, "one two three four five six"),
      (6L, "one two three four five six"),
      (7L, "x y alpha beta gamma q r"),
      (8L, "too short"),
      (9L, "w w w w w w w w w w w")).toDF("doc_id", "text")
    val got = Curation.curationPipeline(docs, benchPredicate = col("doc_id") < 5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5)))
    // (id, keep_quality, is_canonical, is_contaminated, keep_final)
    assert(got.toSeq == Seq(
      (0L, true, true, false, false),  // quality-fine canonical, but bench
      (5L, true, true, false, true),   // the only survivor
      (6L, true, false, false, false), // exact duplicate, not canonical
      (7L, true, true, true, false),   // contaminated ("alpha beta gamma")
      (8L, false, true, false, false), // 2 tokens < minTokens
      (9L, false, true, false, false))) // dwf 10/11 > 0.9
  }

  test("qualityBins: interpolated quartile cuts, boundary doc to the lower bin") {
    val s = spark; import s.implicits._
    // stopword ratios: "the the"=1.0, "the xyz"=0.5, "xyz xyz"=0.0;
    // quartile cuts over [0, 0.5, 1] interpolate to 0.25/0.5/0.75
    val docs = Seq((1L, "xyz xyz"), (2L, "the xyz"), (3L, "the the"))
      .toDF("doc_id", "text")
    val got = Curation.qualityBins(docs, "doc_id", "text", nBins = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // 0.0: no cut strictly below → bin 0; 0.5 sits ON the median cut →
    // LOWER bin (only 0.25 strictly below → 1); 1.0 clears all three
    assert(got.toSeq == Seq((1L, 0.0, 0), (2L, 0.5, 1), (3L, 1.0, 3)))
    val bad = intercept[IllegalArgumentException] {
      Curation.qualityBins(docs, "doc_id", "text", nBins = 1)
    }
    assert(bad.getMessage.contains("nBins"))
  }
}
