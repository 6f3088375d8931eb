package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps

/** New-in-round-5 text-analysis operators: repetition signals (Gopher
  * filters), TF-IDF top-k, and vocabulary top-k. The oracle queries
  * (q50–q52) prove corpus-level parity; these specs pin the hand-
  * computable math and the short-document edge cases the corpus never
  * exercises.
  */
class TextOpsSpec extends AnyFunSuite with SharedSpark {

  test("repetition signals match hand math; short docs never throw") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b a b a"),       // 5 tokens, 2 distinct; 3-grams: aba,bab,aba
      (2L, "x y z"),           // all unique, exactly one 3-gram
      (3L, "w w"),             // shorter than the n-gram window (ANSI guard)
      (4L, "solo")             // single token
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
      TextOps.dupWordFrac(col("text")).as("dw"),
      TextOps.topTokenFrac(col("text")).as("tt"),
      TextOps.dupNgramFrac(col("text"), 3).as("dg"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3.0 / 5, 3.0 / 5, 1.0 / 3)))
    assert(got(2L) == ((0.0, 1.0 / 3, 0.0)))
    assert(got(3L) == ((0.5, 1.0, 0.0))) // ngram array empty, frac 0
    assert(got(4L) == ((0.0, 1.0, 0.0)))
  }

  test("unigramNll: per-doc mean -ln p(term) matches hand math") {
    val s = spark; import s.implicits._
    // corpus counts: a=2, b=1, c=1, total 4
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextOps.unigramNll(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nll1 = math.rint(-(2 * math.log(0.5) + math.log(0.25)) / 3 * 1e6) / 1e6
    val nll2 = math.rint(-math.log(0.25) * 1e6) / 1e6
    assert(got.toSeq == Seq((1L, 3L, nll1), (2L, 1L, nll2)))
  }

  test("tfIdfTopK: scores match ln(N/df) hand math, ties break by term") {
    val s = spark; import s.implicits._
    // N=4; "common" in all docs (idf 0), "rare" only in doc 1,
    // "pair" in docs 1-2; doc 1 repeats "rare" twice
    val docs = Seq(
      (1L, "common rare rare pair"),
      (2L, "common pair"),
      (3L, "common"),
      (4L, "common")).toDF("doc_id", "text")
    val got = TextOps.tfIdfTopK(docs, "doc_id", "text", 2)
      .orderBy("doc_id", "rnk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val ln2 = math.log(2.0)
    // doc 1: rare tf=2 idf=ln(4/1) beats pair tf=1 idf=ln(4/2)
    assert(got.take(2).toSeq == Seq(
      (1L, "rare", 2 * math.log(4.0), 1), (1L, "pair", ln2, 2)))
    // doc 2: pair wins; common has tfidf exactly 0
    assert(got(2) == ((2L, "pair", ln2, 1)))
    assert(got(3) == ((2L, "common", 0.0, 2)))
    // docs 3/4: single term, rank 1, score 0 — and the tie between
    // equal-score terms elsewhere is broken by term name (asc), which
    // is what makes the oracle comparison deterministic
    assert(got.count(_._1 == 3L) == 1 && got.count(_._1 == 4L) == 1)
  }

  test("tfIdfCosineJoin: hand-math cosine, maxDf drops hot terms before pairing") {
    val s = spark; import s.implicits._
    // N=4. Docs 1/2 share the rare profile {x, y}; "common" is in all
    // four docs (idf 0 — contributes nothing even when kept); doc 3
    // overlaps only on "common"; doc 4 is disjoint vocabulary.
    val docs = Seq(
      (1L, "common x y"),
      (2L, "common x y y"),
      (3L, "common zzz"),
      (4L, "common qqq rrr")).toDF("doc_id", "text")
    val got = TextOps.tfIdfCosineJoin(docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // hand math: w(x)=ln(2) both docs; w(y)=ln2 in d1, 2·ln2 in d2;
    // common's weight is ln(4/4)=0 so it can't create pairs
    val ln2 = math.log(2.0)
    val dot = ln2 * ln2 + ln2 * (2 * ln2)
    val n1 = math.sqrt(2 * ln2 * ln2)
    val n2 = math.sqrt(ln2 * ln2 + 4 * ln2 * ln2)
    val expect = BigDecimal(dot / (n1 * n2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set((1L, 2L))) // 1~3/2~3 cos 0 via idf-0 common
    assert(math.abs(got((1L, 2L)) - expect) < 1e-9)
    // maxDf=3 drops "common" (df 4) BEFORE pairing: same result here,
    // and a corpus-wide boilerplate term can never go quadratic
    val capped = TextOps.tfIdfCosineJoin(docs, "doc_id", "text",
      threshold = 0.5, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("vocabTopK counts occurrences and document frequency, k-bounded") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "b c c")).toDF("doc_id", "text")
    val got = TextOps.vocabTopK(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // a: 3 occurrences in 2 docs; c: 3 occurrences in 2 docs — tie on
    // count broken by term asc; b (2 occurrences) is cut by k=2
    assert(got.toSeq == Seq(("a", 3L, 2L), ("c", 3L, 2L)))
  }

  test("oovRate measures coverage against the corpus's own top-K vocab") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "b c c"), (4L, "q r a")
    ).toDF("doc_id", "text")
    // top-2 vocab = {a, c} (ties broken by term); doc 1: b OOV (1/3),
    // doc 2: full coverage, doc 3: b OOV (1/3), doc 4: q r OOV (2/3)
    val got = TextOps.oovRate(docs, "doc_id", "text", vocabK = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1.0 / 3), (2L, 2L, 0.0), (3L, 3L, 1.0 / 3), (4L, 3L, 2.0 / 3)))
  }

  test("curationVerdict: inclusive thresholds, hand-math signals") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on mat"),            // 5 tokens (= min), dwf 0
      (2L, "just four tokens here"),         // 4 tokens -> drop
      (3L, "a a a a a a a a a a"),           // dwf (10-1)/10 = 0.9 (= max)
      (4L, ("a " * 19) + "a")                // 20 tokens, dwf 0.95 -> drop
    ).toDF("doc_id", "text")
    val got = TextOps.curationVerdict(docs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_tokens"),
        r.getAs[Double]("dup_word_frac"), r.getAs[Boolean]("keep")))
    assert(got.toSeq == Seq(
      (1L, 5, 0.0, true),    // boundary: n_tokens == minTokens kept
      (2L, 4, 0.0, false),
      (3L, 10, 0.9, true),   // boundary: dwf == maxDupWordFrac kept
      (4L, 20, 0.95, false)))
  }

  test("piiScrub: typed redaction, counts, email runs before phone") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "reach me at jo.doe+x@mail.example.org or 555-123-4567 ok"),
      (2L, "digits 5551234567 and dotted 555.123.4567 here"),
      (3L, "nothing sensitive at all"),
      (4L, "mail 555-123-4567@relay.example.com now") // phone-shaped local part
    ).toDF("doc_id", "text")
    val got = TextOps.piiScrub(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 1, 1, "reach me at <EMAIL> or <PHONE> ok"),
      (2L, 0, 1, "digits 5551234567 and dotted <PHONE> here"), // bare run unmatched
      (3L, 0, 0, "nothing sensitive at all"),
      // the email pass consumed the digits: n_phones must NOT claim a
      // phone redaction that never happened in the output
      (4L, 1, 0, "mail <EMAIL> now")))
  }

  test("bigramNll: interpolated p matches hand math; 1-token docs drop") {
    val s = spark; import s.implicits._
    // tokens: a=3, b=2, c=1, z=1 (total 7 — the 1-token doc still
    // feeds the unigram model); bigrams: (a,b)=2 (a,a)=1 (b,c)=1;
    // prev-marginals: a·=3, b·=1
    val docs = Seq((1L, "a b c"), (2L, "a a b"), (3L, "z")).toDF("doc_id", "text")
    val got = TextOps.bigramNll(docs, "doc_id", "text", lambda = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def p(cb: Double, cc: Double, cu: Double): Double =
      math.log(0.7 * (cb / cc) + (1.0 - 0.7) * (cu / 7.0))
    val nll1 = math.rint(-(p(2, 3, 2) + p(1, 1, 1)) / 2 * 1e6) / 1e6
    val nll2 = math.rint(-(p(1, 3, 3) + p(2, 3, 2)) / 2 * 1e6) / 1e6
    // doc 3 has no transitions: excluded, never a 0/0
    assert(got.toSeq == Seq((1L, 2L, nll1), (2L, 2L, nll2)))
  }

  test("bpePairStats: counts weight by word frequency, ties break by pair") {
    val s = spark; import s.implicits._
    // "ab" ×3 and "abc" ×1 → pair ab: 3+1=4, bc: 1; 1-char words drop
    val docs = Seq((1L, "ab ab abc x"), (2L, "ab")).toDF("doc_id", "text")
    val got = TextOps.bpePairStats(docs, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("ab", 4L), ("bc", 1L)))
    // topK truncates after the (n desc, pair asc) order
    val top1 = TextOps.bpePairStats(docs, "text", topK = 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top1.toSeq == Seq(("ab", 4L)))
  }

  test("hashedFeatures: md5 buckets/signs replayed, integer weights, unit norm") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "aa bb aa cc"), (2L, "dd")).toDF("doc_id", "text")
    val got = TextOps.hashedFeatures(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    def hx(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def dim(t: String) = Integer.parseInt(hx(t).substring(0, 1), 16)
    def sg(t: String) = if (hx(t)(1) <= '7') 1L else -1L
    // replay doc 1: aa×2, bb, cc
    val w1 = Seq("aa", "aa", "bb", "cc").groupBy(dim)
      .map { case (d, ts) => d -> ts.map(sg).sum }.filter(_._2 != 0L)
    val ss1 = math.sqrt(w1.values.map(w => (w * w).toDouble).sum)
    val expect1 = w1.toSeq.sortBy(_._1).map { case (d, w) =>
      (1L, d, w, math.rint(w / ss1 * 1e6) / 1e6) }
    assert(got.filter(_._1 == 1L).toSeq == expect1)
    // single-token doc: one dim, |weight| exactly 1
    val d2 = got.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._2 == dim("dd") &&
      d2.head._3 == sg("dd") && math.abs(d2.head._4) == 1.0)
  }
}
