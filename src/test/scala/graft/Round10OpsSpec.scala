package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, Dedup, Packing, Similarity, TextOps}

/** Round-10 hardening: shard-count-parametrized resharding (membership
  * and determinism invariant under numShards; the two-phase prefix-sum
  * rank equals the single-window definition), the containment-join
  * posting cap (straggler backstop, no-op on honest data), and the
  * calibration pair source's exact recall.
  */
class Round10OpsSpec extends AnyFunSuite with SharedSpark {

  test("shardAssignment: numShards permutes only (shard, pos), never membership or determinism") {
    val s = spark; import s.implicits._
    val docs = (1L to 3000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // 4096 shards × 3000 docs → ~2900 non-empty (shard, sub) groups,
    // above the 2048 literal-map ceiling: exercises the broadcast
    // offsets-frame path alongside the literal-map path
    val byCount = Seq(4, 16, 64, 4096).map { n =>
      n -> TextOps.shardAssignment(docs, "doc_id", numShards = n)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    }.toMap
    // membership: every shard count covers exactly the same corpus
    byCount.values.foreach { rows =>
      assert(rows.map(_._1).sorted == (1L to 3000L).toSeq)
    }
    // shards in range, positions dense 1..n within each shard
    byCount.foreach { case (n, rows) =>
      assert(rows.forall { case (_, sh, _) => sh >= 0 && sh < n })
      rows.groupBy(_._2).foreach { case (_, g) =>
        assert(g.map(_._3).sorted == (1 to g.size).toSeq)
      }
    }
    // determinism: a repeated run with the same count is identical
    val again = TextOps.shardAssignment(docs, "doc_id", numShards = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(again == byCount(64))
    // the global hash order is the SAME order under every shard count:
    // sorting any count's rows by hash rank must list doc_ids in one
    // canonical sequence (shard/pos relabel, the shuffle itself is
    // invariant). Reconstruct the per-count order via (hash, doc_id).
    val hashes = docs.select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":42"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val canonical = hashes.toSeq.sortBy { case (id, h) => (h, id) }.map(_._1)
    byCount.values.foreach { rows =>
      val perShard = rows.groupBy(_._2).map { case (sh, g) =>
        sh -> g.sortBy(_._3).map(_._1)
      }
      // within every shard, pos order == canonical hash order restricted
      // to that shard's members
      perShard.foreach { case (_, ids) =>
        val want = canonical.filter(ids.toSet)
        assert(ids == want)
      }
    }
  }

  test("shardAssignment two-phase rank equals the single-window definition") {
    val s = spark; import s.implicits._
    val docs = (1L to 250L).map(i => (i, s"payload $i")).toDF("doc_id", "text")
    val got = TextOps.shardAssignment(docs, "doc_id", numShards = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // reference: plain partitionBy(shard) row_number — the definition
    // the two-phase (sub-bucket + offset literal) plan must reproduce
    val h = md5(concat(col("doc_id").cast("string"), lit(":42")))
    val want = docs.select(col("doc_id"), h.as("hh"))
      .withColumn("shard",
        pmod(conv(substring(col("hh"), 1, 4), 16, 10).cast("int"), lit(5)))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("hh"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == want)
  }

  test("containment posting cap is a no-op on the sf0.001 corpus") {
    // the probe side is prefix-pruned, so a qualifying pair reaches the
    // verify step through ANY of its probe-prefix shingles; capping the
    // index postings changes nothing on real-shaped data — the cap is a
    // straggler backstop, not a recall knob
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def run(cap: Int) = Dedup.containmentPairs(docs, "doc_id", "text",
        maxPosting = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tiny = run(16)
    val default = run(100000)
    assert(default.nonEmpty, "no containment pairs at sf0.001; test is vacuous")
    assert(tiny == default)
  }

  test("containment cap drops only pairs whose every shared shingle is hot") {
    val s = spark; import s.implicits._
    // 30 identical boilerplate docs: every shingle's posting list has 30
    // members; one contained pair shares only rare shingles
    val boiler = (1L to 30L).map(i => (i, "all rights reserved by the site operator"))
    val pairA = (101L, "battery charged eleven kilowatt hours overnight")
    val pairB = (102L, "battery charged eleven kilowatt hours overnight at low tariff")
    val docs = (boiler :+ pairA :+ pairB).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs, "doc_id", "text", maxPosting = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // A's shingles are all inside B: containment(A→B) = 1.0 survives the
    // cap; the 30·29 ordered boilerplate pairs are exactly what it drops
    assert(capped == Set((101L, 102L)), s"got $capped")
    val uncapped = Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count { case (i, j) => i <= 30L && j <= 30L } == 30 * 29)
    assert(uncapped.contains((101L, 102L)))
  }

  test("combinatorial simhash swap equals simhashHammingPairs on the sf0.001 corpus") {
    // the signature bit vector and the chunk-concatenated hamming are
    // chunking-invariant, and both bucket schemes are pigeonhole-
    // complete at hamming <= 3 — so the scale swap must be drop-in
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val four = rows(Dedup.simhashHammingPairs(docs, "doc_id", "text"))
    val combi = rows(Dedup.simhashHammingPairsCombinatorial(docs, "doc_id", "text"))
    assert(four.nonEmpty, "no hamming<=3 pairs at sf0.001; test is vacuous")
    assert(combi == four)
  }

  test("gopherRules: each rule fails independently on a crafted doc") {
    val s = spark; import s.implicits._
    val docs = Seq(
      // 30 words, mean (7+27·5)/30 = 4.7333, 3 stopwords, top 1/30 → keep
      (1L, "the of is " + (1 to 27).map(i => f"wrd$i%02d").mkString(" ")),
      // 10 words < 30 → r_wordcount fails (mean 2.0 < 4 also fails)
      (2L, "the of " + (1 to 8).map(i => s"x$i").mkString(" ")),
      // 30 words but mean (5+28·3)/30 = 2.97 < 4 → only r_meanlen fails
      (3L, "the of " + (1 to 28).map(i => f"w$i%02d").mkString(" ")),
      // 30 distinct 5-char words, mean exactly 5.0, no stopwords → only r_stopwords fails
      (4L, (1 to 30).map(i => f"wrd$i%02d").mkString(" ")),
      // mean (5+40+90)/30 = 4.5, but 'spam' is 10/30 > 0.1 → only r_repetition fails
      (5L, "the of " + Seq.fill(10)("spam").mkString(" ") + " " +
        (1 to 18).map(i => f"wrd$i%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextOps.gopherRules(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getBoolean(5), r.getBoolean(6),
        r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))).toSeq
    assert(got == Seq(
      (1L, true, true, true, true, true),
      (2L, false, false, true, true, false),
      (3L, true, false, true, true, false),
      (4L, true, true, false, true, false),
      (5L, true, true, true, false, false)))
  }

  test("distinctNgramDiversity: hand-counted per-source gram ratios") {
    val s = spark; import s.implicits._
    val docs = Seq(
      ("a", "x y x y"),     // uni: 4 occ / 2 distinct; bi: 3 occ ("x y","y x","x y") / 2; tri: 2 occ / 2
      ("a", "x y z"),       // uni +3/+1(z); bi: +2 ("x y" dup, "y z" new); tri: +1 new
      ("b", "p q"))         // uni 2/2; bi 1/1; tri 0
      .toDF("source", "text")
    val got = TextOps.distinctNgramDiversity(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == Seq(
      ("a", 1, 7L, 3L, 0.428571),
      ("a", 2, 5L, 3L, 0.6),
      ("a", 3, 3L, 3L, 1.0),
      ("b", 1, 2L, 2L, 1.0),
      ("b", 2, 1L, 1L, 1.0)))
    // n=3 for source b: zero grams → no row (count of nothing), matching
    // the oracle's GROUP BY over an empty gram set
  }

  test("sharedPrefixBoilerplate: corpus-wide prefix df, per-source aggregation") {
    val s = spark; import s.implicits._
    val head = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val docs = Seq(
      (1L, "a", s"$head tail one"),
      (2L, "a", "totally different document body here entirely unique words"),
      (3L, "b", s"$head tail two"),          // shares its 8-prefix with doc 1 (cross-source)
      (4L, "b", "another body of unshared text with its own head entirely"))
      .toDF("doc_id", "source", "text")
    val got = TextOps.sharedPrefixBoilerplate(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(("a", 2L, 1L, 0.5), ("b", 2L, 1L, 0.5)))
  }

  test("ivfRecallReadout: exhaustive probing recovers recall 1.0 exactly") {
    // with probes = numCells every query scans every cell, so the IVF
    // candidate set IS the corpus and recall must be exactly 1 — the
    // structural identity that pins the readout's join/count logic
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val full = Similarity.ivfRecallReadout(e, e.filter(col("vec_id") < 4),
        k = 5, numCells = 8, iters = 2, probes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(full.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(full.forall { case (_, n, rec) => n == 5L && rec == 1.0 },
      s"exhaustive probing must be exact: $full")
    // and the default 2-probe recall is a valid fraction of k
    val part = Similarity.ivfRecallReadout(e, e.filter(col("vec_id") < 4), k = 5)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(part.forall { case (n, rec) =>
      n >= 0L && n <= 5L && rec >= 0.0 && rec <= 1.0 })
  }

  test("clusterCanonicalSelect keeps the highest-quality member, not the first") {
    val s = spark; import s.implicits._
    // docs 1-3 are one near-dup cluster; doc 3 has the highest stopword
    // ratio (the quality proxy) and must be the keeper despite the
    // min-id representative being 1. Doc 9 is a singleton.
    val docs = Seq(
      (1L, "grid power peaked at nine kilowatt hours during the evening window x1 y1"),
      (2L, "grid power peaked at nine kilowatt hours during the evening window x2 y2"),
      (3L, "grid power peaked at nine kilowatt hours during the evening window of it"),
      (9L, "completely unrelated standalone document about nothing in particular"))
      .toDF("doc_id", "text")
    val got = Dedup.clusterCanonicalSelect(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, 3L, 3L), (9L, 9L, 1L)), s"got $got")
  }

  test("zipfSlope recovers an exact power law's exponent") {
    val s = spark; import s.implicits._
    // a corpus whose rank-r token appears round(1000/r) times is an
    // exact Zipf(1) law on the raw counts; the ln-ln least squares must
    // recover slope ~= -1 (rounding of counts to integers perturbs the
    // fit only in the far tail)
    val docs = (1 to 20).flatMap { r =>
      Seq.fill(math.round(1000.0 / r).toInt)(f"tok$r%02d")
    }.grouped(50).map(_.mkString(" ")).toSeq.toDF("text")
    val got = TextOps.zipfSlope(docs, "text", topK = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).head
    assert(got._1 == 20L)
    assert(math.abs(got._2 - (-1.0)) < 0.01, s"slope ${got._2} not ~ -1")
  }

  test("lengthDriftKS: identical distributions score 0, disjoint ones near 1") {
    val s = spark; import s.implicits._
    // src_a and src_b have identical length profiles -> their CDFs
    // EQUAL the corpus CDF of their union... only if the corpus is just
    // them in equal measure; add src_c with disjoint lengths to pull
    // the corpus CDF and give a/b equal nonzero drift and c the largest
    val mk = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    val docs = (
      (1 to 10).map(_ => ("src_a", mk(5))) ++
      (1 to 10).map(_ => ("src_b", mk(5))) ++
      (1 to 10).map(_ => ("src_c", mk(50)))).toDF("source", "text")
    val ks = graft.operators.Curation.lengthDriftKS(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    // corpus CDF at len 5 = 20/30; src_a CDF at 5 = 1 -> KS = 1/3
    // src_c CDF at 5 = 0 -> KS = 2/3
    assert(ks("src_a") == 0.333333 && ks("src_b") == 0.333333)
    assert(ks("src_c") == 0.666667)
    // one source alone == the corpus -> KS exactly 0
    val solo = graft.operators.Curation.lengthDriftKS(
        (1 to 5).map(i => ("only", mk(i))).toDF("source", "text"),
        "text", "source")
      .collect().map(r => r.getDouble(2)).head
    assert(solo == 0.0)
  }

  test("labelCentroidSimilarity: identical labels cos 1, orthogonal labels cos 0") {
    val s = spark; import s.implicits._
    val ex = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val ey = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val df = Seq(
      (1L, ex, 0), (2L, ex, 0),          // label 0 centroid = e_x
      (3L, ey, 1), (4L, ey, 1),          // label 1 centroid = e_y
      (5L, ex, 2), (6L, ex, 2))          // label 2 centroid = e_x too
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidSimilarity(df)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(got == Map((0, 1) -> 0.0, (0, 2) -> 1.0, (1, 2) -> 0.0))
  }

  test("contaminationBySource attributes leaks to the right crawl") {
    val s = spark; import s.implicits._
    val benchText = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, "bench", benchText),                                   // bench slice
      (10L, "src_clean", "entirely original content with no benchmark overlap at all"),
      (11L, "src_dirty", benchText + " plus some extra tail words"),  // shares bench 3-grams
      (12L, "src_dirty", "another fully original document nothing shared here"),
      (13L, "src_clean", "more original material without any leak whatsoever"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.contaminationBySource(docs, "doc_id", "text", "source",
        benchPredicate = col("source") === "bench")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(
      ("src_clean", 2L, 0L, 0.0),
      ("src_dirty", 2L, 1L, 0.5)), s"got $got")
  }

  test("seededSourceSample: rate-proportional, reproducible, per-doc independent") {
    val s = spark; import s.implicits._
    val docs = (1L to 2000L).map(i => (i, if (i <= 1000) "a" else "b"))
      .toDF("doc_id", "source")
    val run = (rates: Map[String, (Int, Int)]) =>
      graft.operators.Curation.seededSourceSample(docs, "doc_id", "source", rates)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    val got = run(Map("a" -> (1, 4)))
    // reproducible
    assert(got == run(Map("a" -> (1, 4))))
    // rate-proportional within binomial slack
    val keptA = got.count { case (_, src, k) => src == "a" && k }
    val keptB = got.count { case (_, src, k) => src == "b" && k }
    assert(math.abs(keptA - 250) < 60, s"a kept $keptA, want ~250")
    assert(math.abs(keptB - 500) < 60, s"b kept $keptB, want ~500")
    // per-doc independence: changing a's rate never flips a b decision
    val other = run(Map("a" -> (3, 4)))
    assert(got.filter(_._2 == "b") == other.filter(_._2 == "b"))
    // monotone: raising a's rate only ADDS a-keeps, never drops one
    val keptSetLow = got.collect { case (id, "a", true) => id }.toSet
    val keptSetHigh = other.collect { case (id, "a", true) => id }.toSet
    assert(keptSetLow.subsetOf(keptSetHigh))
  }

  test("dedupSavings equals n_docs minus distinct clusters of the q49 labels") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val row = Dedup.dedupSavings(docs, "doc_id", "text").head()
    val labels = Dedup.nearDupClusters(docs, "doc_id", "text")
    val nDocs = labels.count()
    val nClusters = labels.select("cluster").distinct().count()
    assert(row.getLong(0) == nDocs)
    assert(row.getLong(1) == nClusters)
    assert(row.getLong(2) == nDocs - nClusters)
    assert(row.getLong(2) > 0, "fixture has no near-dups; test is vacuous")
  }

  test("minhashCalibration covers every exact pair at its threshold (recall 1)") {
    val s = spark; import s.implicits._
    // boundary-heavy fixture: pairs hovering right at jac = 0.7, where
    // banded LSH's miss probability is highest — the exact PPJoin pair
    // source must still cover all of them
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine eleven"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta"),
      (5L, "alpha beta gamma delta epsilon zeta eta iota")).toDF("doc_id", "text")
    val got = Dedup.minhashCalibration(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over distinct 3-shingle sets
    val base = docs.select(col("doc_id"),
      array_distinct(org.apache.spark.sql.graft.Signatures
        .shingle_hashes(split(col("text"), " "), 3)).as("sh"))
    val want = base.as("a").join(base.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh")))).as("jac"))
      .filter(col("jac") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must produce boundary pairs")
    assert(got == want)
  }

  test("bm25TopK: hand-computed Lucene-BM25 scores, scan-speed plan (no shuffle)") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "cat dog cat"),          // tf(cat)=2, dl=3
      (2L, "cat bird"),             // tf(cat)=1, dl=2
      (3L, "bird fish fish bird")). // no cat
      toDF("doc_id", "text")
    val got = TextOps.bm25TopK(docs, "doc_id", "text",
      queryTerms = Seq("cat"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // N=3, avgdl=3, df(cat)=2, idf=ln((3-2+0.5)/(2+0.5)+1)
    val idf = math.log((3.0 - 2 + 0.5) / (2.0 + 0.5) + 1.0)
    def score(tf: Double, dl: Double) =
      BigDecimal(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((1L, score(2, 3)), (2L, score(1, 2))))
    // docs with tf=0 never surface
    assert(!got.map(_._1).contains(3L))
    // plan: one broadcast of the 1-row stats frame, global top-k via
    // TakeOrdered (partial per-partition top-k, never a range-partition
    // global sort); the only legal shuffle is the SinglePartition
    // collapse of the partial stats aggregates (rows = partition count)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // plan fixture must exceed k: a limit >= the relation's maxRows is
    // optimized away entirely (EliminateLimits), leaving a global sort
    // no real corpus would plan
    val big = (1L to 50L).map(i => (i, if (i % 2 == 0) "cat dog" else "dog"))
      .toDF("doc_id", "text")
    val p = withConf("spark.sql.adaptive.enabled" -> "false") {
      TextOps.bm25TopK(big, "doc_id", "text", Seq("cat"), 10)
        .queryExecution.executedPlan
    }
    val shuffles = p.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.forall(_.outputPartitioning.numPartitions == 1),
      s"bm25 scoring shuffles corpus rows:\n${p.toString.take(1500)}")
    assert(p.toString.contains("TakeOrderedAndProject"),
      s"global top-k is not TakeOrdered:\n${p.toString.take(1500)}")
  }

  test("blocklistFilter: hit counts, tolerance verdict, zero-shuffle plan") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "good clean text"),
      (2L, "bad text bad again"),
      (3L, "bad worse text")).toDF("doc_id", "text")
    val got = TextOps.blocklistFilter(docs, "doc_id", "text",
      blocklist = Seq("bad", "worse"), maxHits = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, true),   // no hits
      (2L, 2L, 1L, false),  // "bad" twice = 2 hits, 1 distinct, over
      (3L, 2L, 2L, false))) // two distinct terms
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = withConf("spark.sql.adaptive.enabled" -> "false") {
      TextOps.blocklistFilter(docs, "doc_id", "text", Seq("bad"), 0)
        .queryExecution.executedPlan
    }
    assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "blocklist gate must run at scan speed")
  }

  test("categoricalChiSquareDrift: zero under no drift, positive under drift, dof = L-1") {
    val s = spark; import s.implicits._
    // srcA and srcB share the corpus lang mix exactly -> chi2 = 0 for
    // both; srcC is all-'de' -> positive drift for every source
    val uniform = Seq(
      ("srcA", "en"), ("srcA", "fr"), ("srcB", "en"), ("srcB", "fr"))
      .toDF("source", "lang")
    val g0 = Curation.categoricalChiSquareDrift(uniform, "lang", "source")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    assert(g0.toSeq == Seq(("srcA", 1L, 0.0), ("srcB", 1L, 0.0)))
    val skew = uniform.union(
      Seq(("srcC", "de"), ("srcC", "de")).toDF("source", "lang"))
    val rows = Curation.categoricalChiSquareDrift(skew, "lang", "source")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    // 3 langs in the corpus now -> dof 2 everywhere; every source's mix
    // differs from the corpus mix, so every chi2 > 0
    assert(rows.forall(_._2 == 2L))
    assert(rows.forall(_._3 > 0.0))
    // absent cells contribute their expected mass: srcC never saw
    // en/fr yet its chi2 includes those cells -> chi2(srcC) is the
    // n_src-weighted extreme (all mass on one lang)
    val bySrc = rows.map(r => r._1 -> r._3).toMap
    assert(bySrc("srcC") > bySrc("srcA"))
  }

  test("ivfPqTopK: exhaustive probing equals pqAdcTopK; pruned probing stays in probed cells") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    // probes = numCells makes the coarse filter a no-op: the fusion
    // must reproduce the corpus-wide ADC search exactly (it only
    // PRUNES — it never rescores)
    val fused = rows(Similarity.ivfPqTopK(e, q, k = 5,
      numCells = 8, cellIters = 2, probes = 8,
      numSub = 4, codebookK = 8, pqIters = 2))
    val adc = rows(Similarity.pqAdcTopK(e, q, k = 5,
      numSub = 4, codebookK = 8, iters = 2))
    assert(fused == adc)
    // with real pruning, every returned neighbor's coarse cell must be
    // among its query's probed cells
    val pruned = Similarity.ivfPqTopK(e, q, k = 5,
      numCells = 8, cellIters = 2, probes = 2,
      numSub = 4, codebookK = 8, pqIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.nonEmpty)
    // cells from the independent driver replay of the assignment
    val coarse = Similarity.kmeansCentroidSeq(e, 8, 2)
    val data = LloydReplay.corpus(e)
    val memberCell = LloydReplay.assign(data, coarse, probes = 1)
      .map(a => a._1 -> a._3).toMap
    val probedCells = LloydReplay.assign(data.filter(_._1 < 3), coarse,
        probes = 2)
      .groupBy(_._1).map { case (qid, as) => qid -> as.map(_._3).toSet }
    pruned.foreach { case (qid, nid) =>
      assert(probedCells(qid).contains(memberCell(nid)),
        s"neighbor $nid of query $qid lies outside the probed cells")
    }
  }

  test("curationFunnel: cumulative survival is monotone and matches gopherRules") {
    val s = spark; import s.implicits._
    // reuse the sf0.001 corpus for realistic rule attrition
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val f = Curation.curationFunnel(docs, "doc_id", "text", "source")
      .collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      val (n, p1, p2, p3, keep) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      assert(n >= p1 && p1 >= p2 && p2 >= p3 && p3 >= keep,
        s"funnel not monotone for ${r.getString(0)}")
    }
    // totals agree with the per-doc gate
    val g = TextOps.gopherRules(docs, "doc_id", "text")
      .agg(sum(when(col("keep"), 1L).otherwise(0L))).collect()(0).getLong(0)
    assert(f.map(_.getLong(5)).sum == g)
  }

  /** Reference winnowing (Schleimer et al. 2003, Fig. 5 semantics):
    * per window of w gram hashes select the minimum, rightmost on
    * ties — implemented directly on the same md5-prefix hashes.
    */
  private def referenceWinnow(
      toks: Seq[String], k: Int, w: Int): Set[(String, Int)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(g: String): String =
      md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val grams = toks.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
    val hs = grams.map(h)
    (0 to hs.size - w).flatMap { j =>
      val win = hs.slice(j, j + w)
      val m = win.min
      val pos = j + win.lastIndexOf(m)
      Some((hs(pos), pos))
    }.toSet
  }

  test("winnowedFingerprints matches the paper's rightmost-min selection rule") {
    val s = spark; import s.implicits._
    val texts = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x a b c d e f y z a b c d e f"),
      (3L, "r r r r r r r r"), // degenerate: all grams identical
      (4L, "one two three four five six seven eight nine ten eleven"))
    val docs = texts.toDF("doc_id", "text")
    val got = Dedup.winnowedFingerprints(docs, "doc_id", "text")
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getString(1), r.getInt(2))).toSet
      }
    texts.foreach { case (id, t) =>
      val want = referenceWinnow(t.split(" ").toSeq, 3, 4)
      assert(got.getOrElse(id, Set.empty) == want,
        s"selection mismatch for doc $id")
    }
  }

  test("winnowing guarantee: a shared run of w+k-1 tokens yields a shared fingerprint") {
    val s = spark; import s.implicits._
    // docs 1 and 2 share the 6-token run "p q r s t u" (w+k-1 = 6);
    // doc 3 shares nothing
    val docs = Seq(
      (1L, "aa bb p q r s t u cc dd ee ff"),
      (2L, "zz yy xx p q r s t u ww vv"),
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10")).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
      minShared = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "guaranteed shared fingerprint not detected")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowFingerprintStats: short docs report zero; counts are consistent") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e"), // 3 grams, 0 full windows (needs 6 tokens)
      (2L, "a b c d e f g h")).toDF("doc_id", "text")
    val st = Dedup.winnowFingerprintStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(st(0).getLong(1) == 3 && st(0).getLong(2) == 0 &&
      st(0).getLong(3) == 0 && st(0).getDouble(4) == 0.0)
    assert(st(1).getLong(1) == 6 && st(1).getLong(2) == 3)
    assert(st(1).getLong(3) >= 1 && st(1).getLong(3) <= 3)
  }

  test("hllBucketed register derivation matches a reference MD5 implementation") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta alpha", "s0"),
      (2L, "epsilon zeta beta", "s1")).toDF("doc_id", "text", "source")
    val got = TextOps.hllRegisters(TextOps.hllBucketed(docs, "text", "source"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    // reference: same md5-hex register derivation in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def reg(tok: String): (Int, Int) = {
      val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val bucket = Integer.parseInt(hex.substring(0, 2), 16)
      val t = hex.substring(2, 15).dropWhile(_ == '0')
      val rho = if (t.isEmpty) 53 else {
        val clz4 = "89abcdef".indexOf(t.head) match {
          case -1 => if (t.head == '1') 3 else if ("23".contains(t.head)) 2 else 1
          case _ => 0
        }
        (13 - t.length) * 4 + clz4 + 1
      }
      (bucket, rho)
    }
    val want = Seq(("s0", "alpha beta gamma delta alpha"),
      ("s1", "epsilon zeta beta"))
      .flatMap { case (src, txt) =>
        txt.split(" ").map(tok => (src, reg(tok))) }
      .groupBy { case (src, (b, _)) => (src, b) }
      .map { case (k, vs) => k -> vs.map(_._2._2).max }
    assert(got == want)
  }

  test("hllVocabulary: estimate within HLL error bounds, registers merge by max") {
    val s = spark; import s.implicits._
    // 2000 distinct tokens across two sources — large-range regime
    val docs = (1L to 200L).map { i =>
      (i, (0 until 10).map(j => s"tok_${i}_$j").mkString(" "),
        if (i % 2 == 0) "a" else "b")
    }.toDF("doc_id", "text", "source")
    val est = TextOps.hllVocabulary(docs, "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    est.foreach { case (src, (exact, hll, rel)) =>
      assert(exact == 1000L, s"$src exact")
      // m=256 → typical error 1.04/sqrt(256) ≈ 6.5%; allow 4 sigma
      assert(rel < 0.26, s"$src rel_err $rel out of bounds (est $hll)")
    }
    // mergeability: max-union of per-half registers == whole registers
    val half1 = docs.filter(col("doc_id") <= 100)
    val half2 = docs.filter(col("doc_id") > 100)
    val merged = TextOps.hllRegisters(
        TextOps.hllBucketed(half1, "text", "source")
          .unionAll(TextOps.hllBucketed(half2, "text", "source")))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val whole = TextOps.hllRegisters(TextOps.hllBucketed(docs, "text", "source"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(merged == whole)
  }

  test("normalizedDedup merges case/punct/whitespace variants byte-dedup misses") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (5L, "The quick, brown FOX!"),
      (2L, "the  quick brown fox"),
      (9L, "the quick brown fox."),
      (7L, "a different document"),
      (8L, "A DIFFERENT document")).toDF("doc_id", "text")
    val got = Dedup.normalizedDedup(docs, "doc_id", "text")
      .orderBy("keeper").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // fox group: ids {2,5,9}, 3 raw variants; different-doc group:
    // ids {7,8}, 2 variants. Byte-exact dedup finds NOTHING here.
    assert(got == Seq((2L, 3L, 3L), (7L, 2L, 2L)))
    val byteDups = Dedup.exactDedup(docs, "doc_id", "text")
      .filter(col("n_copies") > 1).count()
    assert(byteDups == 0)
  }

  test("mixtureEpochs: integer-exact targets, epoch flags") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j", "big"),   // 10 tokens
      (2L, "a b c d e f g h i j", "big"),
      (3L, "a b", "small"), (4L, "a b", "small")) // 4 tokens
      .toDF("doc_id", "text", "source")
    val out = Curation.mixtureEpochs(docs, "text", "source",
      weights = Map("big" -> (1, 2), "small" -> (1, 2)),
      budgetTokens = 40L, maxEpochs = 4.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(4), r.getDouble(5), r.getBoolean(6)))).toMap
    // big: 20 tokens have, target 20 → 1 epoch; small: 4 have,
    // target 20 → 5 epochs → over capacity
    assert(out("big") == ((20L, 20L, 1.0, false)))
    assert(out("small") == ((4L, 20L, 5.0, true)))
  }

  test("powerIterationPC1 recovers a planted dominant direction") {
    val s = spark; import s.implicits._
    // x_n = s_n * u + tiny index-keyed off-axis noise, u = (3,4)/5;
    // deterministic, no RNG. PC1 must align with u and dominate.
    val u = Seq(0.6, 0.8)
    val vecs = (0 until 40).map { n =>
      val sn = (n % 7) - 3.0 // symmetric spread along u
      val noise = 0.01 * ((n % 3) - 1.0)
      (n.toLong, Array(
        (sn * u(0) + noise).toFloat,
        (sn * u(1) - noise).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.powerIterationPC1(vecs, iters = 5)
      .orderBy("dim").collect()
    val pc = out.map(_.getDouble(1))
    val cosU = math.abs(pc(0) * u(0) + pc(1) * u(1))
    assert(cosU > 0.999, s"pc1 $cosU misaligned: ${pc.toSeq}")
    val share = out(0).getDouble(4)
    assert(share > 0.99, s"pc1_share $share should dominate")
    // loadings are unit up to the 6-dp rounding
    val nrm = math.sqrt(pc.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-4)
  }

  test("allButTopTransform zeroes the mean and the dominant direction") {
    val s = spark; import s.implicits._
    val u = Seq(0.6, 0.8)
    val vecs = (0 until 40).map { n =>
      val sn = (n % 7) - 3.0
      val noise = 0.01 * ((n % 3) - 1.0)
      (n.toLong, Array(
        (sn * u(0) + noise).toFloat,
        (sn * u(1) - noise).toFloat))
    }.toDF("vec_id", "embedding")
    val t = Similarity.allButTopTransform(vecs, iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val byVec = t.groupBy(_._1._1).map { case (id, m) =>
      id -> m.toSeq.sortBy(_._1._2).map(_._2)
    }
    // every transformed vector is (near-)orthogonal to u
    byVec.values.foreach { x =>
      val proj = math.abs(x(0) * u(0) + x(1) * u(1))
      assert(proj < 0.02, s"residual projection $proj on the top direction")
    }
    // and the residual mean is (near-)zero per dimension
    val n = byVec.size.toDouble
    (0 until 2).foreach { d =>
      val m = byVec.values.map(_(d)).sum / n
      assert(math.abs(m) < 1e-3, s"dim $d residual mean $m")
    }
  }

  test("splitAssignment: disjoint total partition, stable under corpus growth, near-target rates") {
    val s = spark; import s.implicits._
    val docs = (1L to 10000L).map(i => (i, "src")).toDF("doc_id", "source")
    val a = Curation.splitAssignment(docs, "doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.size == 10000) // exactly one split per doc
    val frac = a.values.groupBy(identity).view.mapValues(_.size / 10000.0)
    assert(math.abs(frac("train") - 0.8) < 0.02, frac.toMap.toString)
    assert(math.abs(frac("valid") - 0.1) < 0.01)
    assert(math.abs(frac("test") - 0.1) < 0.01)
    // growing the corpus never moves an existing document
    val bigger = (1L to 20000L).map(i => (i, "src")).toDF("doc_id", "source")
    val b = Curation.splitAssignment(bigger, "doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(a.forall { case (id, sp) => b(id) == sp })
  }

  test("lengthHistogram: integer-exact log2 buckets, shares sum to 1") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"),
      (4L, "a b c d"), (5L, "a b c d e f g"),
      (6L, "a b c d e f g h")).toDF("doc_id", "text")
    val h = TextOps.lengthHistogram(docs, "text").orderBy("bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // lengths 1|2,3|4,7|8 → buckets 0,1,2,3
    assert(h.map(_._1) == Seq(0, 1, 2, 3))
    assert(h.map(x => (x._2, x._3)) ==
      Seq((1L, 1L), (2L, 3L), (4L, 7L), (8L, 15L)))
    assert(h.map(_._4) == Seq(1L, 2L, 2L, 1L)) // doc counts
    val shares = TextOps.lengthHistogram(docs, "text")
      .agg(sum(col("doc_share")), sum(col("token_share"))).collect()(0)
    assert(math.abs(shares.getDouble(0) - 1.0) < 1e-5)
    assert(math.abs(shares.getDouble(1) - 1.0) < 1e-5)
  }

  test("dupFlowMatrix: within-source dups on the diagonal, cross-source flow off it") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "A"),
      (2L, "the quick brown fox jumps over the lazy dog", "B"), // A<->B copy
      (3L, "completely different text about spark engines here", "C"),
      (4L, "completely different text about spark engines here", "C"), // C dup
      (5L, "unrelated content with no duplicate partner at all", "A"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.dupFlowMatrix(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(m.keySet == Set(("A", "B"), ("C", "C")))
    assert(m(("A", "B")) == ((1L, 1.0)))
    assert(m(("C", "C")) == ((1L, 1.0)))
  }

  test("split-leakage matrix partitions the exact pair set across split cells") {
    val s = spark; import s.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val assigned = Curation.splitAssignment(docs, "doc_id", "source")
      .select(col("doc_id"), col("split"))
    val withSplit = docs.select(col("doc_id"), col("text"))
      .join(assigned, "doc_id")
    val m = Dedup.dupFlowMatrix(withSplit, "doc_id", "text", "split")
      .collect()
    val totalInCells = m.map(_.getLong(2)).sum
    val allPairs = Dedup.ngramJaccardJoin(docs, "doc_id", "text").count()
    assert(totalInCells == allPairs,
      s"matrix cells $totalInCells != pair set $allPairs")
    assert(m.forall(r => Set("train", "valid", "test")(r.getString(0))))
  }

  test("heapsLaw recovers an exact power law's exponent and intercept") {
    val s = spark; import s.implicits._
    // V = N^0.5 exactly at N in {16, 64, 256}: collinear in ln space,
    // so the fit must return beta 0.5, ln_k 0 to 6 dp
    def mk(src: String, n: Int, v: Int): (Long, String, String) = {
      val toks = (0 until n).map(i => s"${src}_t${i % v}")
      (src.hashCode.toLong, toks.mkString(" "), src)
    }
    val docs = Seq(mk("a", 16, 4), mk("b", 64, 8), mk("c", 256, 16))
      .toDF("doc_id", "text", "source")
    val r = TextOps.heapsLaw(docs, "text", "source").collect()(0)
    assert(r.getLong(0) == 3)
    assert(math.abs(r.getDouble(1) - 0.5) < 1e-6, s"beta ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2)) < 1e-6, s"ln_k ${r.getDouble(2)}")
  }

  test("rrfFuse: hand-computed fusion, both-lists beats single-list") {
    val s = spark; import s.implicits._
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("nid", "rank")
    val f = TextOps.rrfFuse(a, b, "doc_id", "rank", "nid", "rank",
      kRrf = 60, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def rr(r: Int) = 1.0 / (60 + r)
    assert(math.abs(f(20L) - (rr(2) + rr(1))) < 1e-6)
    assert(math.abs(f(10L) - rr(1)) < 1e-6)
    assert(math.abs(f(40L) - rr(2)) < 1e-6)
    // 20 is in both lists → highest fused score
    assert(f(20L) > f.values.filter(_ != f(20L)).max)
  }

  test("corpusDiff: all four statuses classified exactly") {
    val s = spark; import s.implicits._
    val oldSnap = Seq((1L, "same text here"), (2L, "old version"),
      (3L, "will be removed")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "same text here"), (2L, "new version"),
      (4L, "brand new doc")).toDF("doc_id", "text")
    val d = Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(d == Map(
      "unchanged" -> ((1L, 3L)), "changed" -> ((1L, 2L)),
      "removed" -> ((1L, 3L)), "added" -> ((1L, 3L))))
  }

  test("bpe_apply kernel equals the left-fold reference on overlap/chained cases") {
    val s = spark; import s.implicits._
    def foldApply(toks: Seq[String], merges: Seq[(String, String)]): Seq[String] =
      merges.foldLeft(toks) { case (cur, (a, b)) =>
        cur.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b)
            acc.init :+ (a + " " + b)
          else acc :+ x
        }
      }
    val cases = Seq(
      (Seq("a", "a", "a"), Seq(("a", "a"))), // overlap: (aa), a
      (Seq("b", "b", "b", "b"), Seq(("b", "b"))), // (bb)(bb)
      (Seq("a", "b", "c"), Seq(("a", "b"), ("a b", "c"))), // chained merge
      (Seq("x"), Seq(("a", "b"))), // single symbol
      (Seq("a", "b", "a", "b", "a"), Seq(("a", "b"), ("a b", "a b"))))
    cases.zipWithIndex.foreach { case ((toks, merges), idx) =>
      val got = Seq((idx.toLong, toks.mkString(" ")))
        .toDF("doc_id", "text")
        .select(org.apache.spark.sql.graft.Signatures
          .bpe_apply(split(col("text"), " "), merges).as("w"))
        .collect()(0).getSeq[String](0)
      assert(got == foldApply(toks, merges),
        s"case $idx: $got != ${foldApply(toks, merges)}")
    }
  }

  test("bpeCompressionCurve: monotone non-increasing, drops equal collapsed occurrences") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "new york city has new york style pizza in new york"),
      (2L, "los angeles and new york differ")).toDF("doc_id", "text")
    val curve = TextOps.bpeCompressionCurve(docs, "text", 2)
      .orderBy("n_merges").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(curve.head == ((0, 17L, 1.0)))
    // symbols never increase; first merge ("new york", 4 occurrences)
    // drops exactly 4 symbols
    assert(curve.sliding(2).forall(p => p(1)._2 <= p(0)._2))
    assert(curve(1)._2 == 13L)
  }

  test("bpeTrain learns the planted pair first; bpeEncode compresses it") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "new york city has new york style pizza in new york"),
      (2L, "los angeles and new york differ"),
      (3L, "totally unrelated words here")).toDF("doc_id", "text")
    val m = TextOps.bpeTrainMerges(docs, "text", 2)
    assert(m.head._2 == "new" && m.head._3 == "york" && m.head._4 == 4L)
    val enc = TextOps.bpeEncode(docs, "doc_id", "text",
        m.map(t => (t._2, t._3)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 3 "new york" merges shrink 11 words; exact count depends
    // on the second learned merge, but symbols must strictly shrink
    assert(enc(1L)._2 <= enc(1L)._1 - 3)
    assert(enc(3L)._1 == 4L) // untouched doc keeps its word count
  }

  test("bpeFertilityByLang: served language compresses, under-served stays at 1.0") {
    val s = spark; import s.implicits._
    // lang "aa" is wall-to-wall "new york" bigrams (the vocab serves
    // it); lang "bb" shares no adjacent pair with the merge table
    val docs = Seq(
      (1L, "new york new york new york new york", "aa"),
      (2L, "new york new york", "aa"),
      (3L, "q w e r t y u i", "bb"),
      (4L, "a b c d", "bb")).toDF("doc_id", "text", "lang")
    val m = TextOps.bpeTrainMerges(docs, "text", 1).map(t => (t._2, t._3))
    assert(m == Seq(("new", "york")))
    val got = TextOps.bpeFertilityByLang(docs, "text", "lang", m)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // aa: 12 words -> 6 merged symbols = 0.5; bb untouched = 1.0
    assert(got("aa") == ((2L, 12L, 6L, 0.5)), got("aa").toString)
    assert(got("bb") == ((2L, 12L, 12L, 1.0)), got("bb").toString)
  }

  test("neymanSample: quotas sum to budget; varied strata out-draw homogeneous ones") {
    val s = spark; import s.implicits._
    // stratum "flat": identical docs (sigma 0); stratum "varied":
    // alternating stopword-free / stopword-heavy (sigma > 0); both 40
    val docs = ((1L to 40L).map(i => (i, "alpha beta gamma delta", "flat")) ++
      (41L to 80L).map(i =>
        if (i % 2 == 0) (i, "the a and of to in is it", "varied")
        else (i, "xq wz vv uu tt ss rr qq", "varied")))
      .toDF("doc_id", "text", "source")
    val out = Curation.neymanSample(docs, "doc_id", "text", "source",
      budget = 20).collect()
    assert(out.length == 20, s"budget not met: ${out.length}")
    val bySrc = out.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    // sigma(flat) = 0 -> weight 0 -> everything goes to "varied"
    assert(bySrc.getOrElse("varied", 0) == 20 &&
      bySrc.getOrElse("flat", 0) == 0, bySrc.toString)
    // deterministic
    val again = Curation.neymanSample(docs, "doc_id", "text", "source",
      budget = 20).collect().map(_.getLong(1)).toSet
    assert(again == out.map(_.getLong(1)).toSet)
  }

  test("labelOutliers flags the planted mislabel, keeps true members") {
    val s = spark; import s.implicits._
    // label 0 lives on +e1, label 1 on +e2; vec 99 is a label-1 vector
    // sitting on +e1 (mislabeled)
    val vecs = ((0 until 10).map(i => (i.toLong, Array(1.0f, 0.01f * i), 0)) ++
      (10 until 20).map(i => (i.toLong, Array(0.01f * i, 1.0f), 1)) :+
      ((99L, Array(1.0f, 0.0f), 1)))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(vecs, "label", minCos = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out(99L), "planted mislabel not flagged")
    assert((0L to 19L).forall(!out(_)), "true members wrongly flagged")
  }

  test("robustLengthOutliers: MAD ignores the heavy tail mean/std would absorb") {
    val s = spark; import s.implicits._
    // 30 docs of 8-12 tokens (MAD > 0), one 500-token monster
    val docs = ((1L to 30L).map(i =>
      (i, (0 until (8 + (i % 5)).toInt).map(j => s"w$j").mkString(" "))) :+
      ((31L, (0 until 500).map(j => s"w$j").mkString(" "))))
      .toDF("doc_id", "text")
    val out = Curation.robustLengthOutliers(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(out(31L)._2, "monster doc not flagged")
    assert((1L to 30L).forall(!out(_)._2), "normal docs wrongly flagged")
  }

  test("CurationPipeline: survivors honor every gate, census partitions the survivors") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val gOk = TextOps.gopherRules(docs, "doc_id", "text")
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    val bOk = TextOps.blocklistFilter(docs, "doc_id", "text",
        Seq("slow", "leak", "crash"), 2)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    for (gateFirst <- Seq(true, false)) {
      val (curated, census, savings) =
        CurationPipeline.run(spark, "/root/testdata/sf0.001",
          gateFirst = gateFirst)
      val kept = curated.collect().map(_.getLong(0)).toSet
      assert(kept.nonEmpty)
      // every survivor passes the gopher and blocklist gates
      assert(kept.subsetOf(gOk) && kept.subsetOf(bOk))
      // every survivor is a near-dup-cluster keeper of the dedup corpus
      // that mode actually deduped (gate survivors vs full corpus)
      val dedupDocs =
        if (gateFirst) docs.filter(col("doc_id")
          .isin((gOk intersect bOk).toSeq: _*))
        else docs
      val keepers = Dedup.clusterCanonicalSelect(dedupDocs, "doc_id", "text")
        .collect().map(_.getLong(1)).toSet
      assert(kept.subsetOf(keepers))
      // census cells partition the curated set exactly
      val censusDocs = census.collect().map(_.getLong(2)).sum
      assert(censusDocs == kept.size)
      val s0 = savings.collect()(0)
      assert(s0.getLong(0) == 500L && s0.getLong(1) == kept.size)
    }
  }

  test("CurationPipeline gateFirst preserves content a full-corpus keeper would drop") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val gOk = TextOps.gopherRules(docs, "doc_id", "text")
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    val bOk = TextOps.blocklistFilter(docs, "doc_id", "text",
        Seq("slow", "leak", "crash"), 2)
      .filter(col("keep")).collect().map(_.getLong(0)).toSet
    val survivorsOk = gOk intersect bOk
    val (gfCurated, _, _) =
      CurationPipeline.run(spark, "/root/testdata/sf0.001", gateFirst = true)
    val gfKept = gfCurated.collect().map(_.getLong(0)).toSet
    // content preservation: every normalized-hash group that has at
    // least one gate-passing member keeps exactly one representative
    val gateDocs = docs.filter(col("doc_id").isin(survivorsOk.toSeq: _*))
    val groups = Dedup.normalizedDedup(gateDocs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    // the gate-first survivors are exactly the intersection of the two
    // keeper sets over the gate-passing corpus
    val nearKeepers = Dedup.clusterCanonicalSelect(gateDocs, "doc_id", "text")
      .collect().map(_.getLong(1)).toSet
    assert(gfKept == (groups intersect nearKeepers))
    // and the AND-composition mode can only keep a subset of groups:
    // any group it keeps, gate-first keeps too (no content regression)
    val (andCurated, _, _) =
      CurationPipeline.run(spark, "/root/testdata/sf0.001", gateFirst = false)
    val andKept = andCurated.collect().map(_.getLong(0)).toSet
    assert(andKept.size <= gfKept.size)
  }

  test("splitQualityKS: hash splits are representative; a biased split is not") {
    val s = spark; import s.implicits._
    // corpus with two quality modes, split by hash — KS must be small
    val docs = (1L to 2000L).map { i =>
      val text = if (i % 2 == 0) "the a and of to in is it for on"
      else "zz yy xx ww vv uu tt ss rr qq"
      (i, text, "src")
    }.toDF("doc_id", "text", "source")
    val ks = Curation.splitQualityKS(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(ks.keySet == Set("train", "valid", "test"))
    // hash assignment is independent of quality: KS stays far below
    // the 0.5 a quality-correlated split would show on this bimodal
    // corpus (valid/test have ~200 docs → sampling noise ~0.1)
    assert(ks.values.forall(_ < 0.2), ks.toString)
  }

  test("winnowContainmentPairs: a quoted short doc shows high one-sided containment") {
    val s = spark; import s.implicits._
    // doc 1 is fully quoted inside doc 2 (plus unrelated padding)
    val quote = "p q r s t u v w x y"
    val docs = Seq(
      (1L, quote),
      (2L, s"m1 m2 m3 m4 m5 m6 $quote n1 n2 n3 n4 n5 n6 n7 n8")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowContainmentPairs(docs, "doc_id", "text",
      minShared = 1).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // the short side's containment must dominate the long side's
    assert(r.getDouble(3) > r.getDouble(4),
      s"cont_i ${r.getDouble(3)} !> cont_j ${r.getDouble(4)}")
    assert(r.getDouble(3) >= 0.5, s"quoted doc containment ${r.getDouble(3)}")
  }

  test("CurationPipeline gates are idempotent on their own output") {
    val (curated, _, _) = CurationPipeline.run(spark, "/root/testdata/sf0.001")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val survivors = docs.join(
      curated.select(col("doc_id")), "doc_id")
    // re-running the per-doc gates on the curated corpus drops nothing:
    // gopher/blocklist verdicts are per-doc (trivially stable) and every
    // survivor is still its normalized-dedup group's keeper
    val g2 = TextOps.gopherRules(survivors, "doc_id", "text")
      .filter(!col("keep")).count()
    val b2 = TextOps.blocklistFilter(survivors, "doc_id", "text",
      Seq("slow", "leak", "crash"), 2).filter(!col("keep")).count()
    assert(g2 == 0 && b2 == 0)
    val keepers2 = Dedup.normalizedDedup(survivors, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val kept = curated.collect().map(_.getLong(0)).toSet
    assert(kept == keepers2, "normalized dedup not stable on its own output")
  }

  test("kmvSourceOverlap: exact endpoints, estimate inside the KMV error bound") {
    val s = spark; import s.implicits._
    def doc(id: Long, words: Seq[String], src: String) =
      (id, words.mkString(" "), src)
    val wA = (0 until 300).map(i => s"a$i")
    val wC = (0 until 300).map(i => s"c$i")
    val docs = Seq(
      doc(1, wA, "same1"), doc(2, wA, "same2"), // identical shingle sets
      doc(3, wC, "disj")) // disjoint from both
      .toDF("doc_id", "text", "source")
    val out = Dedup.kmvSourceOverlap(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(("same1", "same2")) == ((1.0, 1.0)))
    assert(out(("disj", "same1")) == ((0.0, 0.0)))
    // half-overlapping sets: estimate within 4 sigma of exact
    val wH1 = (0 until 400).map(i => s"h$i")
    val wH2 = (200 until 600).map(i => s"h$i")
    val docs2 = Seq(doc(1, wH1, "p"), doc(2, wH2, "q"))
      .toDF("doc_id", "text", "source")
    val o2 = Dedup.kmvSourceOverlap(docs2, "doc_id", "text", "source")
      .collect()(0)
    val (est, exact) = (o2.getDouble(2), o2.getDouble(3))
    assert(math.abs(est - exact) < 4.0 / math.sqrt(128.0),
      s"est $est vs exact $exact")
  }

  test("chunkDupRate: cross-source window repeats counted, unique windows not") {
    val s = spark; import s.implicits._
    // maxLen 4 / stride 4: docs 1 and 2 (different sources) share their
    // single window verbatim; doc 3 is unique
    val docs = Seq(
      (1L, "w1 w2 w3 w4", "A"),
      (2L, "w1 w2 w3 w4", "B"),
      (3L, "u1 u2 u3 u4", "B")).toDF("doc_id", "text", "source")
    val out = Packing.chunkDupRate(docs, "doc_id", "text", "source",
      maxLen = 4, stride = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("A") == ((1L, 1L, 1.0))) // its only window repeats in B
    assert(out("B") == ((2L, 1L, 0.5))) // one dup window, one unique
  }

  test("winnow posting cap is a no-op on honest data, binds only on hot keys") {
    val s = spark; import s.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = Dedup.winnowOverlapPairs(docs, "doc_id", "text", minShared = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
      minShared = 8, maxPosting = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(base == capped, "cap altered results on honest data")
    val strangled = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
      minShared = 8, maxPosting = 1)
      .collect()
    assert(strangled.length < base.size,
      "a binding cap must drop hot-key pairs")
  }
}
