package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Scale-path dedup hygiene: the two-phase hash-grouped exact dedup
  * (full text never rides the main shuffle) and the LSH hot-bucket cap
  * (one degenerate (band, bandsig) bucket can't go quadratic).
  */
class DedupSpec extends AnyFunSuite with SharedSpark {

  test("two-phase exactDedup equals direct groupBy(text)") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (10L, "the quick brown fox"),
      (3L, "the quick brown fox"),
      (7L, "lorem ipsum dolor sit"),
      (1L, "entirely unique document"),
      (9L, "lorem ipsum dolor sit"),
      (4L, "lorem ipsum dolor sit")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(docs, "doc_id", "text")
      .orderBy("keeper")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = docs.groupBy("text")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(got == Seq((1L, 1L), (3L, 2L), (4L, 3L)))
  }

  test("phase-1 hash aggregate prunes the text column from its shuffle") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val plan = Dedup.exactDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // phase 1 must show a map-side partial aggregate keyed on the
    // 8-byte hash ALONE whose node (incl. its output= list, i.e. what
    // the exchange carries) never mentions the text column — the
    // verify branch's regroup keys on (__h, __text) and would not
    // match this predicate
    val phase1 = plan.linesIterator.find(l =>
      l.contains("partial_min") && l.contains("keys=[__h#") &&
        !l.contains("__text"))
    assert(phase1.nonEmpty, plan.take(3000))
  }

  test("similarity/dedup queries leave no cached RDDs in a shared session") {
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq("q19_minhash_lsh", "q20_simhash_neardup",
        "q22_embedding_neardup", "q23_ivf_topk", "q47_embedding_clusters",
        "q49_dedup_clusters", "q53_ngram_jaccard",
        "q54_embedding_dedup_clusters", "q77_token_budget",
        "q81_tfidf_cosine", "q82_kcenter_coreset", "q104_shard_assignment",
        "q125_power_iteration_pc1", "q128_all_but_top", "q146_kmv_overlap",
        "q162_mmr_select", "q183_knn_pagerank")) {
      SparkEntry.queries(q)(spark, sf).count()
    }
    // a long-running session serving many queries must not accumulate
    // cache: the LSH plans are stateless, the iterative operators
    // release their Exec.scoped frames before returning, and a frame an
    // operator returns reads a temp parquet, not cached blocks
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.map(_.name).toSeq.toString)
  }

  test("connectedComponents labels chains, stars, and multi-component graphs") {
    val s = spark; import s.implicits._
    // worst case for naive propagation: a long chain (9-8-7-...-1),
    // plus a separate triangle with a redundant edge, plus a 2-cycleish
    // duplicate edge; node 100 appears only via one edge
    val edges = ((1L to 8L).map(i => (i + 1, i)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (22L, 20L), (100L, 50L))).toDF("i", "j")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (n <- 1L to 9L) assert(got(n) == 1L, s"chain node $n")
    for (n <- Seq(20L, 21L, 22L)) assert(got(n) == 20L, s"triangle node $n")
    assert(got(50L) == 50L && got(100L) == 50L)
    assert(got.size == 14) // every edge endpoint labeled, nothing else
  }

  test("maxRounds cap aborts a graph that cannot converge in the budget") {
    val s = spark; import s.implicits._
    // a 12-node path needs several alternating-star rounds; with a
    // 1-round budget CC must REFUSE (fail fast) instead of silently
    // returning a half-contracted labeling — the dense-graph runaway
    // guard: rounds are sequential full-pair-set shuffles, so an
    // unconverged loop is the scale-killer the cap exists to stop
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("i", "j")
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(path, maxRounds = 1)
    }
    assert(ex.getMessage.contains("converge"))
    // the cap leaks no cache on the error path
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // an adequate budget labels the same path completely
    val got = Dedup.connectedComponents(path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (n <- 1L to 12L) assert(got(n) == 1L, s"path node $n")
  }

  test("crossSourceLeakage surfaces only pairs spanning two sources") {
    val s = spark; import s.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, shared, "web"),                  // near-dup trio: 1 (web),
      (2L, shared + " iota", "web"),        // 2 (web), 3 (books)
      (3L, shared + " kappa", "books"),
      (4L, "one two three four five six seven eight", "web"),
      (5L, "totally different words entirely unrelated content here now", "books"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceLeakage(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3))).toSet
    // 1~2 is same-source (web/web) → suppressed; 1~3 and 2~3 cross
    assert(got == Set((1L, 3L, "web", "books"), (2L, 3L, "web", "books")))
    // and the pair set is exactly the LSH pairs minus same-source rows
    val lshCross = Dedup.minhashLsh(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => (p._1 == 3L) != (p._2 == 3L)) // 3 is the books doc
    assert(got.map(p => (p._1, p._2)) == lshCross)
  }

  test("incrementalDedup pairs only across frames, never within one") {
    val s = spark; import s.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val incoming = Seq(
      (100L, shared),                      // dups index docs 1 and 2
      (101L, shared + " iota"),
      (102L, "fresh unseen material nothing like the index corpus at all"))
      .toDF("doc_id", "text")
    val index = Seq(
      (1L, shared),
      (2L, shared + " kappa"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(incoming, index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 100 and 101 are near-dups of each other WITHIN the batch — that
    // pair must not appear; nor may index-internal 1~2
    assert(got == Set((100L, 1L), (100L, 2L), (101L, 1L), (101L, 2L)))
    // jac values are the true cross-frame Jaccards (exact verify)
    val jacs = Dedup.incrementalDedup(incoming, index, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jacs((100L, 1L)) == 1.0)      // identical text
    assert(jacs((100L, 2L)) < 1.0 && jacs((100L, 2L)) >= 0.7)
  }

  test("nearDupClusters equals union-find closure of the LSH pairs") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text")
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "corpus has no near-dup pairs; test is vacuous")
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((i, j) <- pairs) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val want = docs.select("doc_id").collect().map(_.getLong(0)).map { id =>
      id -> (if (parent.contains(id)) find(id) else id)
    }.toMap
    val got = Dedup.nearDupClusters(docs, "doc_id", "text")
      .select("doc_id", "cluster", "n_members")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    assert(got.map(_._1).toSet == want.keySet)
    for ((id, (cluster, n)) <- got) {
      assert(cluster == want(id), s"doc $id: cluster $cluster != ${want(id)}")
      assert(n == want.values.count(_ == want(id)).toLong, s"doc $id size")
    }
  }

  test("LSH hot-bucket cap drops degenerate buckets, keeps distinct near-dups") {
    val s = spark; import s.implicits._
    // 40 byte-identical boilerplate docs: every band is a hot bucket of
    // size 40 (780 candidate pairs); plus one genuinely near-dup pair
    // with its own vocabulary.
    val boiler = (1L to 40L).map(i =>
      (i, "terms of service apply to all content provided herein by the operator"))
    val pairA = (101L, "solar inverter logged fourteen kilowatt hours before the evening peak window")
    val pairB = (102L, "solar inverter logged fourteen kilowatt hours before the evening peak interval")
    val docs = (boiler :+ pairA :+ pairB).toDF("doc_id", "text")

    val capped = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((101L, 102L)), s"distinct near-dup pair lost: $capped")
    assert(!capped.exists { case (i, j) => i <= 40L && j <= 40L },
      s"hot bucket leaked pairs through the cap: $capped")

    // with the default cap the same degenerate corpus yields all
    // 40*39/2 boilerplate pairs plus the near-dup pair
    val uncapped = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count { case (i, j) => i <= 40L && j <= 40L } == 40 * 39 / 2)
    assert(uncapped.contains((101L, 102L)))
  }

  test("ngramJaccardJoin equals brute-force Jaccard on the sf0.001 corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Dedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // driver-side brute force over distinct 3-shingle STRING sets —
    // independent of the hashed-shingle kernel the operator uses
    val sets = docs.select("doc_id", "text").collect().map { r =>
      val w = r.getString(1).split(" ")
      r.getLong(0) -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val want = (for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter) if jac >= 0.5
    } yield (i, j, jac)).toSet
    assert(got.nonEmpty, "no pairs at τ=0.5; test is vacuous")
    assert(got == want)
  }

  test("bloomContamination equals the exact broadcast scan; empty bench is empty") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // same predicate/shingle width through both paths: the Bloom gate
    // is execution strategy only — any false positive surviving to the
    // output (instead of dying in the verify join) breaks this
    val exact = Dedup.contamination(docs, "doc_id", "text",
        benchPredicate = col("doc_id") < 10, shingleN = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = Dedup.bloomContamination(docs, "doc_id", "text",
        benchPredicate = col("doc_id") < 10, shingleN = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "no contaminated docs; test is vacuous")
    assert(bloom == exact)
    // no bench docs → no blob to probe → empty result, not a crash
    assert(Dedup.bloomContamination(docs, "doc_id", "text",
      benchPredicate = lit(false), shingleN = 4).count() == 0L)
  }

  test("prefix filtering makes the posting cap a no-op on the sf0.001 corpus") {
    // the PPJoin prefix keys candidates on each document's RAREST
    // shingles, so even a tiny cap on the prefix posting lists changes
    // nothing on real-shaped data — the cap is a straggler backstop,
    // no longer the recall defense
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def run(cap: Int) = Dedup.ngramJaccardJoin(docs, "doc_id", "text",
        threshold = 0.5, maxPosting = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tiny = run(8)
    val default = run(100000)
    assert(tiny.nonEmpty, "no pairs at τ=0.5; test is vacuous")
    assert(tiny == default)
  }

  test("hot-posting cap drops only pairs whose every shared shingle is hot") {
    val s = spark; import s.implicits._
    // 30 identical boilerplate docs: every shingle's posting list has
    // 30 members; one distinct pair shares only rare shingles
    val boiler = (1L to 30L).map(i => (i, "all rights reserved by the site operator"))
    val pairA = (101L, "battery charged eleven kilowatt hours overnight at low tariff rates")
    val pairB = (102L, "battery charged eleven kilowatt hours overnight at low tariff costs")
    val docs = (boiler :+ pairA :+ pairB).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardJoin(docs, "doc_id", "text",
        threshold = 0.3, maxPosting = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((101L, 102L)), s"got $capped")
    val uncapped = Dedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count { case (i, j) => i <= 30L && j <= 30L } == 30 * 29 / 2)
    assert(uncapped.contains((101L, 102L)))
  }

  test("removeRepeatedSpans strips hot windows everywhere, keeps the rest intact") {
    val s = spark; import s.implicits._
    val boiler = "subscribe to our newsletter for more"   // 6 tokens
    val docs = Seq(
      (1L, s"unique alpha content here $boiler"),          // tail = boiler
      (2L, s"$boiler and then original beta text"),        // head = boiler
      (3L, "totally original gamma content nothing shared here at all"),
      (4L, "tiny doc"))                                    // < n tokens
      .toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(docs, "doc_id", "text", n = 5, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSeq
    // the 6-token boilerplate contributes two 5-gram windows in each of
    // docs 1-2; both windows are hot (df=2), covering exactly the 6
    // boilerplate tokens — nothing else
    assert(got == Seq(
      (1L, 10, 6, "unique alpha content here"),
      (2L, 11, 6, "and then original beta text"),
      (3L, 9, 0, "totally original gamma content nothing shared here at all"),
      (4L, 2, 0, "tiny doc")))
  }

  test("connectedComponents survives many-edge graphs (ANSI sum-overflow regression)") {
    val s = spark; import s.implicits._
    // the round-4 signature summed xxhash64 values: ~25 random 64-bit
    // hashes overflow Long and ANSI mode aborts the job. 300 edges over
    // interleaved chains makes the old formulation fail deterministically
    // while exercising multi-round convergence.
    val edges = (0L until 300L).map(k => (k * 7919 % 1000 + 1000, (k + 1) * 7919 % 1000 + 1000))
      .filter { case (a, b) => a != b }.toDF("i", "j")
    val pairs = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((i, j) <- pairs) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(got.keySet == nodes)
    for (n <- nodes) assert(got(n) == find(n), s"node $n")
  }

  test("substring-dedup readouts match hand math (repeated 5-gram windows)") {
    val s = spark; import s.implicits._
    // doc 2 repeats doc 1's first window; doc 3 is unrelated; doc 4 is
    // shorter than the window and must drop out of both readouts
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d e"),
      (3L, "p q r s t"),
      (4L, "u v w")).toDF("doc_id", "text")
    val top = Dedup.repeatedNgrams(docs, "doc_id", "text", n = 5, minDf = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(top.toSeq == Seq(("a b c d e", 2L, 2L)))
    val frac = Dedup.repeatedSpanFrac(docs, "doc_id", "text", n = 5, minDf = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 1: windows {abcdef×2 → "a b c d e","b c d e f"} → 1 of 2 repeated;
    // doc 2: {"x a b c d","a b c d e"} → 1 of 2; doc 3: 1 window, unique
    assert(frac.toSeq == Seq((1L, 2L, 0.5), (2L, 2L, 0.5), (3L, 1L, 0.0)))
  }
}
