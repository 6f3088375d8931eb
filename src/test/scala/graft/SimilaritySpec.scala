package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.{Dedup, Similarity}

/** Scale-path similarity operators: the blocked exact all-pairs
  * equi-join, hyperplane-LSH candidates, the native hamming kernel,
  * and the q20 ⊆ q19 containment check on the driver testdata.
  */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  test("blocked all-pairs equals brute force and plans an equi-join (q22 shape)") {
    val e = Tables.embeddings(spark, sf)
    val brute = Similarity.nearDupPairs(e, 0.4)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
      .orderBy(col("i"), col("j")).collect().toSeq
    val blocked = Similarity.nearDupPairsBlocked(e, 0.4, numBlocks = 8)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
      .orderBy(col("i"), col("j")).collect().toSeq
    assert(blocked == brute)
    assert(brute.nonEmpty)
    // the scale property: candidates come from a shuffled EQUI-join on
    // the block-cell key, never a broadcast nested loop over all pairs
    val plan = Similarity.nearDupPairsBlocked(e, 0.4, numBlocks = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("hyperplane LSH: verified subset with deterministic recall") {
    val e = Tables.embeddings(spark, sf)
    val brute = Similarity.nearDupPairs(e, 0.4)
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(e, 0.4)
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction (exact verify) -> subset of brute force
    assert(lsh.subsetOf(brute))
    // recall on margin-free data is inherently partial; the hyperplanes
    // are deterministic, so the measured recall is stable — assert a
    // floor well above the no-signal regime
    assert(brute.nonEmpty)
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall (found ${lsh.size} of ${brute.size})")
  }

  test("hyperplane LSH: full recall on margin-bearing data (the scale-path contract)") {
    val s = spark; import s.implicits._
    // planted near-dup pairs (cos ≳ 0.99) over a background whose
    // pairwise cosines concentrate near 0 — the data shape LSH is the
    // designated scale path FOR. At (32 bands × 8 rows) the Charikar
    // miss probability at cos 0.99 is ~1e-16, so recall must be total.
    val rnd = new scala.util.Random(7)
    val d = 32
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 20).flatMap { i =>
      val base = unit()
      val dup = base.map(x => (x + rnd.nextGaussian() * 0.02).toFloat)
      Seq((i.toLong * 2, base.map(_.toFloat).toSeq), (i.toLong * 2 + 1, dup.toSeq))
    } ++ (40 until 140).map(i => (i.toLong, unit().map(_.toFloat).toSeq))
    val e = rows.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(e, 0.9).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(e, 0.9).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    assert(planted.subsetOf(exact), "margin construction broke")
    assert(lsh.subsetOf(exact)) // precision 1 by construction
    assert(planted.subsetOf(lsh), s"missed planted pairs: ${planted.diff(lsh)}")
  }

  test("deterministic hyperplane LSH (q150): verified subset, stable recall, margin completeness") {
    val e = Tables.embeddings(spark, sf)
    val brute = Similarity.nearDupPairs(e, 0.4)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val det = Similarity.hyperplaneLshDeterministic(e, 0.4)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact verify -> q150 ⊆ q22, same containment contract as q66
    assert(det.subsetOf(brute))
    assert(brute.nonEmpty && det.nonEmpty)
    // determinism: a second run is identical (md5 hyperplanes, no RNG)
    val again = Similarity.hyperplaneLshDeterministic(e, 0.4)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == det)
    // margin-bearing data: planted ~0.99-cos dups must all surface —
    // at 8 bands × 4 rows the Charikar miss bound at cos 0.99 is
    // (1 − (1 − 0.99_angle/π)⁴)⁸ ≈ 1e-9
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val d = 64
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 15).flatMap { i =>
      val base = unit()
      val dup = base.map(x => (x + rnd.nextGaussian() * 0.02).toFloat)
      Seq((i.toLong * 2, base.map(_.toFloat).toSeq),
        (i.toLong * 2 + 1, dup.toSeq))
    } ++ (30 until 120).map(i => (i.toLong, unit().map(_.toFloat).toSeq))
    val m = rows.toDF("vec_id", "embedding")
    val planted = (0 until 15).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet
    val found = Similarity.hyperplaneLshDeterministic(m, 0.9)
      .select(col("i"), col("j")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.subsetOf(found), s"missed planted: ${planted.diff(found)}")
  }

  test("k-means IVF multiprobe: deterministic index, measured recall vs brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopKMultiprobe(e, q, k = 5, numCells = 8, iters = 2, probes = 2)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.size == 25 && brute.size == 25) // 5 queries x top-5
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // single-probe degenerates on random data; 2-probe over 8 cells must
    // beat the expected-scan fraction by a wide margin
    assert(recall >= 0.4, s"recall $recall")
    // determinism: a second run builds the identical index
    val again = Similarity.ivfTopKMultiprobe(e, q, k = 5, numCells = 8, iters = 2, probes = 2)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivf)
    // multiprobe dominates single-probe recall
    val single = Similarity.ivfTopKMultiprobe(e, q, k = 5, numCells = 8, iters = 2, probes = 1)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.intersect(brute).size <= ivf.intersect(brute).size)
  }

  test("native hamming_distance equals the interpreted popcount-of-xor") {
    import spark.implicits._
    val df = Seq(
      (Seq(0L, 0L), Seq(0L, 0L)),
      (Seq(255L, 1L), Seq(0L, 0L)),
      (Seq(-1L, 0L), Seq(0L, -1L)),
      (Seq(0x0f0fL, 7L), Seq(0xf0f0L, 8L)))
      .toDF("a", "b")
    val out = df.select(
      Dedup.hammingChunks(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => bit_count(x.bitwiseXOR(y))),
        lit(0), (acc, x) => acc + x).as("interp")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    assert(out(0).getInt(0) == 0)
    assert(out(1).getInt(0) == 9)
    assert(out(2).getInt(0) == 128)
  }

  test("simhash banding: q20 output is contained in q19's verified pairs") {
    val docs = Tables.documents(spark, sf)
    val q19 = Dedup.minhashLsh(docs, "doc_id", "text")
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q20 = Dedup.simhashNearDup(docs, "doc_id", "text")
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both verify exact Jaccard >= 0.7; MinHash banding at (64,16,4) has
    // ~zero miss probability at the planted similarity >= 0.9, so every
    // simhash-surfaced pair (hamming <= 3 candidates, Jaccard-verified)
    // must already be in the MinHash output
    assert(q20.subsetOf(q19), s"q20 extras: ${q20.diff(q19)}")
    assert(q20.nonEmpty)
  }

  test("simhash chunk counts partition the same 64 bits (4 vs 8 chunks)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
      (3L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val sig4 = docs.select(col("doc_id"), Dedup.simhashChunks(col("text"), 4).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sig8 = docs.select(col("doc_id"), Dedup.simhashChunks(col("text"), 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // identical docs collide under both chunkings
    assert(sig4(1L) == sig4(2L) && sig8(1L) == sig8(2L))
    // rebuild the packed 64-bit signature from each chunking: equal
    def pack(chunks: Seq[Long], bits: Int): BigInt =
      chunks.zipWithIndex.map { case (c, i) => BigInt(c) << (i * bits) }.sum
    assert(pack(sig4(1L), 16) == pack(sig8(1L), 8))
    assert(pack(sig4(3L), 16) == pack(sig8(3L), 8))
  }

  test("embeddingDedupClusters equals union-find closure of the cosine pairs") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pairs = Similarity.nearDupPairsBlocked(emb, 0.4)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no cosine pairs at τ=0.4; test is vacuous")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((i, j) <- pairs) {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val want = emb.select("vec_id").collect().map(_.getLong(0)).map { id =>
      id -> (if (parent.contains(id)) find(id) else id)
    }.toMap
    val got = Similarity.embeddingDedupClusters(emb, 0.4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    assert(got.map(_._1).toSet == want.keySet)
    for ((id, (cluster, n)) <- got) {
      assert(cluster == want(id), s"vec $id: cluster $cluster != ${want(id)}")
      assert(n == want.values.count(_ == want(id)).toLong, s"vec $id size")
    }
  }

  test("maxEdges guard refuses a quadratic pair set before CC shuffles it") {
    val emb = Tables.embeddings(spark, sf)
    // τ=0.4 on this continuum data yields well over 3 pairs: the guard
    // must refuse loudly BEFORE any CC round runs
    val ex = intercept[IllegalArgumentException] {
      Similarity.embeddingDedupClusters(emb, 0.4, maxEdges = 3L)
    }
    assert(ex.getMessage.contains("maxEdges"))
    // the default bound admits the same data unchanged
    assert(Similarity.embeddingDedupClusters(emb, 0.4).count() ==
      emb.count())
  }

  test("LSH-sourced dedup clusters equal the exact variant on margin data") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val d = 32
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // planted triple chains (A≈B≈C) + background: transitivity must
    // collapse each chain to one cluster in BOTH variants
    val rows = (0 until 10).flatMap { i =>
      val base = unit()
      def jitter() = base.map(x => (x + rnd.nextGaussian() * 0.02).toFloat)
      Seq((i.toLong * 3, base.map(_.toFloat).toSeq),
        (i.toLong * 3 + 1, jitter().toSeq), (i.toLong * 3 + 2, jitter().toSeq))
    } ++ (30 until 100).map(i => (i.toLong, unit().map(_.toFloat).toSeq))
    val e = rows.toDF("vec_id", "embedding")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cluster", "n_members").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = canon(Similarity.embeddingDedupClusters(e, 0.9))
    val lsh = canon(Similarity.embeddingDedupClustersLsh(e, 0.9))
    assert(exact == lsh)
    // the planted chains actually clustered (test isn't vacuous)
    assert(exact.count(_._3 >= 3) >= 30)
  }

  test("oneNnLabelAccuracy: hand-math neighbors, ties break to lowest id") {
    val s = spark; import s.implicits._
    // v5 duplicates v1 but carries the other label: q1's neighbor is v5
    // (cos 1, wrong), q5's is v1 (cos 1, wrong); q2 TIES between v1 and
    // v5 (identical vectors) and must pick the lower id v1 (correct).
    // v6 is zero-norm: directionless, excluded from BOTH sides (its NaN
    // cosine would otherwise beat every real neighbor)
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.0f, 1.0f), 1),
      (4L, Seq(0.1f, 0.9f), 1),
      (5L, Seq(1.0f, 0.0f), 1),
      (6L, Seq(0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.oneNnLabelAccuracy(vecs, numBlocks = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((0, 2L, 1L, 0.5), (1, 3L, 2L, 0.666667)))
  }

  test("kCenterCoreset: farthest-first order, tie to lowest id, k>n exhausts") {
    val s = spark; import s.implicits._
    // Line geometry. Seed = min id (1) at origin. Farthest is 4
    // (d²=101). Then 2 and 3 TIE at min-d² 1.0 (2 is 1 from the seed,
    // 3 is 1 from 4) — the lower id 2 must win — and 3 closes at 1.0.
    val vecs = Seq(
      (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(10.0f, 0.0f)),
      (4L, Seq(10.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(vecs, k = 4)
      .orderBy(col("ord"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, 1L, 0.0), (2L, 4L, 101.0), (3L, 2L, 1.0), (4L, 3L, 1.0)))
    // k beyond the corpus: stops after every point is selected
    assert(Similarity.kCenterCoreset(vecs, k = 10).count() == 4L)
  }

  test("quantizeInt8: hand-math codes, checksum, relative error, zero guard") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f)),
      (2L, Seq(0.0f, 0.0f, 0.0f)) // all-zero: scale 0, no NaN
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(vecs)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    // scale = 1/127; codes round(x*127) = (127, -64, 32) — the -63.5
    // midpoint rounds away from zero; checksum 127+64+32
    val scale = 1.0 / 127.0
    val err2 = math.pow(-0.5f.toDouble + 64 * scale, 2) +
      math.pow(0.25f.toDouble - 32 * scale, 2)
    val nrm2 = Seq(1.0f, -0.5f, 0.25f).map(x => x.toDouble * x.toDouble).sum
    val wantErr = math.rint(math.sqrt(err2) / math.sqrt(nrm2) * 1e6) / 1e6
    assert(got(0) == ((1L, math.rint(scale * 1e6) / 1e6, 223L, wantErr)))
    assert(got(1) == ((2L, 0.0, 0L, 0.0)))
  }

  test("centeringReadout: symmetric pair hand math; mean-equal vector guards to 0") {
    import spark.implicits._
    // mean of [2,0] and [0,2] is [1,1]; both center to (±1, ∓1):
    // orig_norm 2, centered_norm √2, cos = 2 / (2·√2) = 0.707107
    val pair = Seq((1L, Seq(2.0f, 0.0f)), (2L, Seq(0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.centeringReadout(pair)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    val root2 = math.rint(math.sqrt(2.0) * 1e6) / 1e6
    assert(got.toSeq == Seq(
      (1L, 2.0, root2, 0.707107), (2L, 2.0, root2, 0.707107)))
    // a single-vector corpus IS its own mean: centered norm 0, and the
    // cos guard must fire instead of dividing by zero
    val solo = Seq((1L, Seq(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val g2 = Similarity.centeringReadout(solo).collect()
    assert(g2.map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSeq
      == Seq((5.0, 0.0, 0.0)))
  }

  test("semanticDedup: keep verdicts match a driver-side within-cell replay (q76)") {
    val emb = Tables.embeddings(spark, sf)
    // independent replay: same centroids, the driver-side replay of
    // the assignment, pairwise cosine recomputed driver-side with the
    // kernel's strict left-to-right fold, greedy earlier-id drop within
    // each cell
    val cent = Similarity.kmeansCentroidSeq(emb, numCells = 8, iters = 2)
    val asn = LloydReplay.assign(LloydReplay.corpus(emb), cent, probes = 1)
      .map(a => (a._1, a._3, a._2.toArray)).toArray
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }; s
    }
    val wantDrop = (for {
      Seq((i, ci, vi), (j, cj, vj)) <- asn.toSeq.sortBy(_._1).combinations(2)
      if ci == cj
      ni = math.sqrt(dot(vi, vi)); nj = math.sqrt(dot(vj, vj))
      if ni > 0 && nj > 0 && dot(vi, vj) / (ni * nj) >= 0.4
    } yield math.max(i, j)).toSet
    val got = Similarity.semanticDedup(emb, 0.4, numCells = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == asn.length)
    val cellOf = asn.map(a => a._1 -> a._2).toMap
    for ((id, cell, keep) <- got) {
      assert(cell == cellOf(id), s"vec $id assigned to $cell != ${cellOf(id)}")
      assert(keep == !wantDrop.contains(id), s"vec $id keep=$keep")
    }
    assert(wantDrop.nonEmpty, "no within-cell dups at τ=0.4; test is vacuous")
    // the scale shape: the pair search is an equi-join keyed by cell,
    // never a broadcast nested loop or cartesian over the corpus. The
    // one nested loop allowed is the cell assignment's, whose broadcast
    // side is the k-row centroid relation, never a corpus scan.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val physical = Similarity.semanticDedup(emb, 0.4)
      .queryExecution.sparkPlan
    val plan = physical.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    for (j <- physical.collect { case j: BroadcastNestedLoopJoinExec => j }) {
      val built = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      assert(built.collect { case s: FileSourceScanExec => s }.isEmpty &&
        built.collect { case s: LocalTableScanExec => s }.nonEmpty,
        s"a nested loop broadcasts more than the centroid relation: ${j.toString.take(2000)}")
    }
  }

  test("ivfKnnGraph: in-probe neighbors are exact-cosine candidates with measured recall") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.ivfKnnGraph(emb, k = 1, numCells = 8, iters = 2, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    // exact 1-NN computed driver-side (the corpus is small at sf0.001)
    val vecs = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < a.length) { s += a(k) * b(k); k += 1 }; s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val exactBest: Map[Long, (Long, Double)] = vecs.map { case (qid, qv) =>
      val best = vecs.iterator.filter(_._1 != qid)
        .map { case (nid, nv) =>
          (math.rint(dot(qv, nv) / (nrm(qid) * nrm(nid)) * 1e6) / 1e6, nid)
        }.maxBy { case (c, nid) => (c, -nid) }
      qid -> (best._2, best._1)
    }.toMap
    // every vector got exactly one neighbor row on this data
    assert(got.length == vecs.length)
    assert(got.forall(_._4 == 1))
    var hits = 0
    for ((qid, nid, cos, _) <- got) {
      // an in-probe candidate can never beat the exact best
      assert(cos <= exactBest(qid)._2 + 1e-9, s"q$qid: $cos beats exact")
      if (nid == exactBest(qid)._1) hits += 1
    }
    // 2-of-8-cell probing on margin-free data: deterministic recall,
    // assert a floor well above the probes/numCells no-signal baseline
    val recall = hits.toDouble / got.length
    assert(recall >= 0.5, s"1-NN recall $recall ($hits of ${got.length})")
  }

  test("ivfKnnGraph: near-total recall on margin-bearing data (the swap contract)") {
    val s = spark; import s.implicits._
    // planted jittered twins (cos ≈ 0.999) over a diffuse background —
    // the data shape the q62→q78 gated swap is FOR: each twin's exact
    // 1-NN is its partner, and a pair that tight lands in the same
    // k-means cell, so 2-of-8-cell probing must find essentially every
    // planted neighbor (contrast the 0.5 floor above on margin-free
    // fixture data, where the true 1-NN is often in an unprobed cell).
    // Seeded → deterministic; sf0.1 probe-sweep numbers (2/4/8 probes
    // vs the all-probes exact scan) are recorded in BASELINE.md.
    val rnd = new scala.util.Random(17)
    val d = 64
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val planted = (0 until 30).flatMap { i =>
      val base = unit()
      val dup = base.map(x => (x + rnd.nextGaussian() * 0.01).toFloat)
      Seq((i.toLong * 2, base.map(_.toFloat).toSeq), (i.toLong * 2 + 1, dup.toSeq))
    }
    val background = (100 until 260).map(i => (i.toLong, unit().map(_.toFloat).toSeq))
    val e = (planted ++ background).toDF("vec_id", "embedding")
    val got = Similarity.ivfKnnGraph(e, k = 1, numCells = 8, iters = 2, probes = 2)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val partner = (0 until 60).map(i =>
      i.toLong + (if (i % 2 == 0) 1L else -1L)).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toMap
    val hits = partner.count { case (q, p) => got.get(q).contains(p) }
    val recall = hits.toDouble / partner.size
    assert(recall >= 0.95, s"planted-pair recall $recall ($hits of ${partner.size})")
  }

  test("clusterBalancedSample caps cells at the quota in driver-replayed md5 order") {
    val emb = Tables.embeddings(spark, sf)
    val cap = 5
    val got = Similarity.clusterBalancedSample(emb, perCellCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.length == emb.count()) // one verdict per vector
    // cells must match the proven Lloyd index assignment
    val cells = got.map(g => g._1 -> g._2).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    for ((cell, members) <- got.groupBy(_._2)) {
      // ranks are a 1..|cell| permutation in (md5(id), id) order
      val byRank = members.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1L to members.length).toSeq, s"cell $cell ranks")
      val expected = members.map(_._1).sortBy(id => (md5hex(id.toString), id)).toSeq
      assert(byRank.map(_._1).toSeq == expected, s"cell $cell md5 order")
      // keep = rank within quota: min(cap, |cell|) kept, rest dropped
      assert(members.count(_._4) == math.min(cap, members.length), s"cell $cell quota")
      assert(members.filter(_._4).map(_._3).forall(_ <= cap))
    }
    // stable under re-evaluation (no RNG state anywhere)
    val again = Similarity.clusterBalancedSample(emb, perCellCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    assert(cells.size == got.length)
  }

  test("semanticDedup keeps exactly one survivor per planted duplicate group") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val d = 32
    def unit(): Array[Double] = {
      val v = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // planted triples of jittered twins (mutual cos ≈ 0.999 ≥ 0.9) on a
    // background where random cos ≥ 0.9 is essentially impossible at
    // d=32: each triple must keep ONLY its lowest id, background keeps
    val rows = (0 until 10).flatMap { g =>
      val base = unit()
      def jitter() = base.map(x => (x + rnd.nextGaussian() * 0.01).toFloat)
      Seq((g.toLong * 3, base.map(_.toFloat).toSeq),
        (g.toLong * 3 + 1, jitter().toSeq), (g.toLong * 3 + 2, jitter().toSeq))
    } ++ (30 until 100).map(i => (i.toLong, unit().map(_.toFloat).toSeq))
    val e = rows.toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(e, 0.9, numCells = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    for (g <- 0 until 10) {
      assert(got(g * 3L), s"group $g: lowest id dropped")
      // jittered twins co-assign with their base (cos ≈ 1 dominates any
      // centroid boundary), so the greedy rule drops both
      assert(!got(g * 3L + 1) && !got(g * 3L + 2), s"group $g: dup kept")
    }
    for (i <- 30 until 100)
      assert(got(i.toLong), s"background vec $i dropped")
  }

  test("randomProjection: md5-derived signs, j-ordered fold, hand math") {
    val s = spark; import s.implicits._
    val e = Seq((0L, Seq(1.0f, 2.0f, 3.0f)), (1L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(e, outDims = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // recompute the sign convention the DuckDB oracle uses: first hex
    // char of md5("i_j") in 0..7 → +1
    def sign(i: Int, j: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${i}_${j}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (hex.head <= '7') 1.0 else -1.0
    }
    def proj(v: Seq[Double], i: Int): Double = {
      val raw = v.indices.foldLeft(0.0)((a, j) => a + v(j) * sign(i, j))
      math.rint(raw / math.sqrt(2.0) * 1e6) / 1e6
    }
    assert(got.toSeq == Seq(
      (0L, 0, proj(Seq(1.0, 2.0, 3.0), 0)),
      (0L, 1, proj(Seq(1.0, 2.0, 3.0), 1)),
      (1L, 0, 0.0), (1L, 1, 0.0)))
    // the matrix is not degenerate on this fixture: the two output
    // dims differ for the non-zero vector
    assert(got(0)._3 != got(1)._3)
  }

  test("pqCodes: per-subspace Lloyd codebooks, hand-traced assignments") {
    val s = spark; import s.implicits._
    // d=4 split 2×2; seeds are vec 0/1's slices. Hand Lloyd (1 iter):
    // sub0 assign0: v0,v2→(1,0); v1,v3→(0,1); means (1.5,0)/(0,3);
    //   final: v0,v2→code 0; v1,v3→code 1
    // sub1 assign0: v0,v3→(0,1); v1,v2→(1,0); means (0,1.5)/(2,0);
    //   final: v0,v3→code 0; v1,v2→code 1
    val e = Seq(
      (0L, Seq(1f, 0f, 0f, 1f)), (1L, Seq(0f, 1f, 1f, 0f)),
      (2L, Seq(2f, 0f, 3f, 0f)), (3L, Seq(0f, 5f, 0f, 2f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqCodes(e, numSub = 2, codebookK = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (0L, 0, 0L), (0L, 1, 0L), (1L, 0, 1L), (1L, 1, 1L),
      (2L, 0, 0L), (2L, 1, 1L), (3L, 0, 1L), (3L, 1, 0L)))
    // indivisible width refuses loudly instead of silently truncating
    val bad = intercept[IllegalArgumentException] {
      Similarity.pqCodes(e, numSub = 3, codebookK = 2, iters = 1)
    }
    assert(bad.getMessage.contains("not divisible"))
  }

  test("pqAdcTopK matches a driver-side table-lookup replay") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    val e = rows.toDF("vec_id", "embedding")
    val (w, books) = Similarity.pqCodebooks(e, numSub = 2, codebookK = 4, iters = 1)
    val bookMap = books.toMap.map { case (sub, cs) => sub -> cs.toMap }
    val codes = Similarity.pqCodes(e, 2, 4, 1).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val got = Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 2), k = 3,
      numSub = 2, codebookK = 4, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val vecs = rows.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    for (qid <- Seq(0L, 1L)) {
      val qv = vecs(qid)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      val expect = vecs.keys.filter(_ != qid).map { nid =>
        var adot = 0.0; var rec2 = 0.0
        for (sub <- 0 until 2) {
          val cv = bookMap(sub)(codes((nid, sub)))
          val qs = qv.slice(sub * w, sub * w + w)
          adot += qs.zip(cv).map { case (a, b) => a * b }.sum
          rec2 += cv.map(x => x * x).sum
        }
        val c = if (qn > 0 && rec2 > 0)
          math.rint(adot / (qn * math.sqrt(rec2)) * 1e6) / 1e6 else 0.0
        (nid, c)
      }.toSeq.sortBy { case (nid, c) => (-c, nid) }.take(3)
      val mine = got.filter(_._1 == qid).sortBy(_._4).map(r => (r._2, r._3))
      assert(mine.toSeq == expect, s"query $qid")
    }
  }

  test("maxSimTopK with parts=1 reduces to single-vector brute-force top-k") {
    // The late-interaction scorer must degrade to plain cosine
    // retrieval when each side has exactly one sub-vector — the
    // reduction law that pins the MaxSim algebra (max over one dpart =
    // the cosine; sum over one qpart = that max).
    val e = Tables.embeddings(spark, sf)
    val ms = Similarity.maxSimTopK(e, nQueries = 3, parts = 1,
        subDim = 64, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val bf = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), k = 5)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("nid"), round(col("cos"), 6).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(ms.keySet == bf.keySet)
    ms.foreach { case (key, (doc, score)) =>
      assert(bf(key)._1 == doc && math.abs(bf(key)._2 - score) < 1e-9,
        s"$key: maxsim ($doc, $score) vs brute ${bf(key)}")
    }
  }

  test("maxSimTopK ranks facet-swapped doc above aggregate-aligned doc (the late-interaction property)") {
    // q = [u; v] (two orthogonal facets). X = [v; u] matches EVERY
    // query facet somewhere (MaxSim score 2) but cancels in aggregate
    // (single-vector cosine 0); Y = [u; u] aligns in aggregate
    // (cosine 0.5) but serves facet 2 not at all (MaxSim score 1).
    // Late interaction must order X > Y; single-vector orders Y > X.
    val s = spark; import s.implicits._
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 1f), 0),  // q = [u; v]
      (1L, Seq(0f, 1f, 1f, 0f), 0),  // X = [v; u]
      (2L, Seq(1f, 0f, 1f, 0f), 0))  // Y = [u; u]
    val e = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.maxSimTopK(e, nQueries = 1, parts = 2,
        subDim = 2, k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 1L, 2.0), (2L, 2L, 1.0)),
      s"maxsim order: ${got.toSeq}")
    val single = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0),
        k = 2)
      .orderBy(col("rank")).select(col("nid")).collect().map(_.getLong(0))
    assert(single.toSeq == Seq(2L, 1L), s"single-vector order: ${single.toSeq}")
  }

  test("maxSimTopK: zero sub-vectors score 0 on that facet, never NaN") {
    val s = spark; import s.implicits._
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 1f), 0),  // q = [u; v]
      (1L, Seq(1f, 0f, 0f, 0f), 0),  // facet 2 is the zero vector
      (2L, Seq(0f, 0f, 0f, 0f), 0))  // entirely zero
    val e = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.maxSimTopK(e, nQueries = 1, parts = 2,
        subDim = 2, k = 2)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
    // doc 1: facet1 max(cos(u,u)=1, cos(u,0)→0)=1; facet2 all guarded 0
    assert(got(1L) == 1.0, got.toString)
    // doc 2: every cosine guarded to 0 — a defined, comparable score
    assert(got(2L) == 0.0, got.toString)
    assert(!got.values.exists(_.isNaN))
  }

  test("ivfReassignDrift conserves membership and is deterministic") {
    val e = Tables.embeddings(spark, sf)
    val d1 = Similarity.ivfReassignDrift(e, numCells = 8, iters = 2,
      deltaMod = 10).collect()
    val total = e.count()
    assert(d1.map(_.getLong(1)).sum == total, "n_before must sum to corpus")
    assert(d1.map(_.getLong(2)).sum == total, "n_after must sum to corpus")
    assert(d1.map(_.getLong(3)).sum == d1.map(_.getLong(4)).sum,
      "every move out lands in some cell")
    assert(d1.map(_.getLong(0)).toSeq == (0L until 8L),
      "one row per original cell, ordered")
    val d2 = Similarity.ivfReassignDrift(e, numCells = 8, iters = 2,
      deltaMod = 10).collect()
    assert(d1.map(_.toSeq).toSeq == d2.map(_.toSeq).toSeq,
      "drift readout must be deterministic")
  }

  test("clusterSizeHistogram: planted 6 singletons + 2 pairs + one 5-cluster, exact buckets") {
    val s = spark; import s.implicits._
    def words(seed: Int) =
      (0 until 12).map(i => s"w${seed}x$i").mkString(" ")
    val docs = (
      (0 until 6).map(i => (i.toLong, words(100 + i))) ++      // singletons
      Seq((10L, words(7)), (11L, words(7)),                    // pair A
          (12L, words(8)), (13L, words(8))) ++                 // pair B
      (20 until 25).map(i => (i.toLong, words(9)))             // 5-cluster
    ).toDF("doc_id", "text")
    val got = Dedup.clusterSizeHistogram(docs, "doc_id", "text")
      .collect().map(r => (r.getString(1),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("1") == ((6L, 6L, 0.4)), got.toString)
    assert(got("2") == ((2L, 4L, 0.266667)), got.toString)
    assert(got("5-8") == ((1L, 5L, 0.333333)), got.toString)
    assert(got.size == 3)
  }

  test("knnPageRank equals a driver-side integer replay of the recurrence") {
    // Independent of the DuckDB oracle: collect the (small, test-scale)
    // kNN edge list and fold the exact micro-integer recurrence on the
    // driver — pr' = 150000 + 17·(Σ ⌊pr/deg⌋ + ⌊dangling/N⌋) / 20,
    // every division a floor over positive longs. The distributed
    // result must match rank-for-rank, micro-for-micro.
    val e = Tables.embeddings(spark, sf)
    val edges = Similarity.ivfKnnGraph(e, 3, 8, 2, 2)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = e.select(col("vec_id")).collect().map(_.getLong(0)).sorted
    val n = ids.length
    val outdeg = edges.groupBy(_._1).map { case (s0, es) => s0 -> es.length }
    var pr = ids.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      edges.foreach { case (s0, d0) => contrib(d0) += pr(s0) / outdeg(s0) }
      val dshare = ids.filterNot(outdeg.contains).map(pr).sum / n
      pr = ids.map(i => i -> (150000L + (17L * (contrib(i) + dshare)) / 20L))
        .toMap
    }
    val expect = ids.map(i => (i, pr(i)))
      .sortBy { case (i, p) => (-p, i) }.take(20).zipWithIndex
      .map { case ((i, p), r) => (r + 1L, i, p) }
    val got = Similarity.knnPageRank(e, k = 3, numCells = 8, iters = 2,
        probes = 2, prIters = 3, top = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == expect.toSeq,
      s"got ${got.take(3).toSeq}… want ${expect.take(3)}…")
    // mass check: total micros never exceed the injected N·10⁶ and the
    // floors shed at most ~1% of it over three iterations
    val total = pr.values.sum
    assert(total <= n * 1000000L && total > (n * 1000000L * 99) / 100,
      s"mass $total vs ${n * 1000000L}")
  }
}
