package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Similarity

/** Round-14 specs: the index-as-relation search path must be
  * output-IDENTICAL to the plan-literal path (the q94↔q105
  * swap-equality discipline) — same cosine arithmetic, same zero-norm
  * pins, same tie orders — at more than one index geometry, so the
  * literal→relation swap is a pure plan-shape decision a deployment
  * makes on index size, never a semantics change.
  */
class Round14OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-round14-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("kmeansCentroidSeq trains the driver-replayed centroids (two geometries)") {
    val e = embeddings
    val data = LloydReplay.corpus(e)
    val d = data.head._2.length
    for ((nc, it) <- Seq((7, 2), (5, 3))) {
      val rel = Similarity.kmeansCentroidSeq(e, nc, it)
      assert(rel == LloydReplay.train(data, 0, d, nc, it),
        s"Lloyd relation≠replay at ($nc, $it)")
    }
  }

  test("assignCellsRelation equals assignCells (probes 1 and 3)") {
    val e = embeddings
    val v = e.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val cent = Similarity.kmeansCentroidSeq(e, numCells = 7, iters = 2)
    val centRel = Similarity.centroidRelation(spark, cent)
    for (probes <- Seq(1, 3)) {
      val lit0 = Similarity.assignCells(v, cent, probes)
        .orderBy(col("vec_id"), col("probe"))
      val rel = Similarity.assignCellsRelation(v, centRel, probes)
        .orderBy(col("vec_id"), col("probe"))
      assert(lit0.columns.toSeq == rel.columns.toSeq,
        s"probes=$probes schema: ${rel.columns.toSeq}")
      assert(rows(lit0) == rows(rel),
        s"probes=$probes: literal and relation assignment diverge")
    }
  }

  test("assignCellsRelation with an empty index yields empty (documented divergence)") {
    val e = embeddings
    val v = e.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val empty = Similarity.centroidRelation(spark, Nil)
    assert(Similarity.assignCellsRelation(v, empty, 1).count() == 0L)
    intercept[IllegalArgumentException] {
      Similarity.assignCells(v, Nil, 1)
    }
  }

  test("ivfPqTopK: indexAsRelation output identical at two configs") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val configs = Seq(
      // the q121 geometry and a deliberately different one (odd cell
      // count, wider PQ, deeper probes) so the equality isn't an
      // artifact of one shape
      (8, 2, 2, 4, 8, 2, 5),
      (5, 1, 3, 8, 4, 1, 4))
    for ((nc, ci, pr, ns, ck, pi, k) <- configs) {
      val lit0 = Similarity.ivfPqTopK(e, q, k, nc, ci, pr, ns, ck, pi)
      val rel = Similarity.ivfPqTopK(e, q, k, nc, ci, pr, ns, ck, pi,
        indexAsRelation = true)
      assert(lit0.columns.toSeq == rel.columns.toSeq)
      assert(rows(lit0) == rows(rel),
        s"ivfPqTopK literal≠relation at ($nc,$ci,$pr,$ns,$ck,$pi,$k)")
    }
  }

  test("ivfPqResidualTopK: indexAsRelation output identical at two configs") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val configs = Seq(
      (8, 2, 2, 4, 8, 2, 5),
      (5, 1, 3, 8, 4, 1, 4))
    for ((nc, ci, pr, ns, ck, pi, k) <- configs) {
      val lit0 = Similarity.ivfPqResidualTopK(e, q, k, nc, ci, pr, ns, ck, pi)
      val rel = Similarity.ivfPqResidualTopK(e, q, k, nc, ci, pr, ns, ck, pi,
        indexAsRelation = true)
      assert(lit0.columns.toSeq == rel.columns.toSeq)
      assert(rows(lit0) == rows(rel),
        s"ivfPqResidualTopK literal≠relation at ($nc,$ci,$pr,$ns,$ck,$pi,$k)")
    }
  }

  test("ivfIndexMaintain: decision thresholds, rebuild = full retrain, persistence round-trip") {
    val e = embeddings
    // τ=1.0 can never trip: the cheap refresh path is taken
    val (ro1, refreshed) = Similarity.ivfIndexMaintain(e, numCells = 8,
      iters = 2, deltaMod = 10, churnThreshold = 1.0)
    val r1 = ro1.collect()(0)
    assert(r1.getAs[String]("decision") == "refresh")
    assert(r1.getAs[Long]("n_batch") > 0 &&
      r1.getAs[Long]("n_batch") < r1.getAs[Long]("n_total"))
    // τ=0.0 trips on any movement: full retrain, and the maintained
    // set must equal the from-scratch Lloyd on the merged corpus
    val (ro0, rebuilt) = Similarity.ivfIndexMaintain(e, numCells = 8,
      iters = 2, deltaMod = 10, churnThreshold = 0.0)
    val r0 = ro0.collect()(0)
    assert(r0.getAs[Long]("n_moved") > 0,
      "fixture must exhibit drift for the rebuild branch to mean anything")
    assert(r0.getAs[String]("decision") == "rebuild")
    assert(rebuilt == Similarity.kmeansCentroidSeq(e, 8, 2))
    // refresh ≠ rebuild on this fixture (the decision matters)
    assert(refreshed != rebuilt)
    // persistence round-trip: the maintained set written as a relation
    // and reloaded serves assignments identical to the in-memory set
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    Similarity.centroidRelation(spark, refreshed)
      .write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val v = e.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val viaDisk = Similarity.assignCellsRelation(v, reloaded, 1)
      .orderBy(col("vec_id")).collect().toSeq.map(_.toSeq)
    val viaMem = Similarity.assignCells(v, refreshed, 1)
      .orderBy(col("vec_id")).collect().toSeq.map(_.toSeq)
    assert(viaDisk == viaMem, "persisted index diverges from trained index")
  }

  test("autoCells: exact integer √N geometry rule") {
    // smallest power of two p ≥ 8 with p·p ≥ n, capped at 65536
    assert(Similarity.autoCells(0) == 8)
    assert(Similarity.autoCells(50) == 8)    // 8² = 64 ≥ 50
    assert(Similarity.autoCells(64) == 8)
    assert(Similarity.autoCells(65) == 16)   // first n needing 16
    assert(Similarity.autoCells(500) == 32)  // the sf0.01 corpus
    assert(Similarity.autoCells(200000) == 512) // the sf10 corpus
    assert(Similarity.autoCells(Long.MaxValue) == 65536) // cap
  }

  test("ivfKnnGraph: salt and viaRelation are output-identical") {
    val e = embeddings
    val base = Similarity.ivfKnnGraph(e, k = 3, numCells = 8,
      iters = 2, probes = 2).orderBy(col("qid"), col("rank"))
    for ((vr, s) <- Seq((false, 4), (true, 1), (true, 3))) {
      val got = Similarity.ivfKnnGraph(e, k = 3, numCells = 8,
        iters = 2, probes = 2, viaRelation = vr, salt = s)
        .orderBy(col("qid"), col("rank"))
      assert(got.columns.toSeq == base.columns.toSeq)
      assert(rows(got) == rows(base),
        s"ivfKnnGraph diverges at viaRelation=$vr salt=$s")
    }
  }

  test("kmeansCentroidSeq trainSampleMod: m=1 is the default recurrence; sampled training is path-stable") {
    val e = embeddings
    val base = Similarity.kmeansCentroidSeq(e, 8, 2)
    assert(Similarity.kmeansCentroidSeq(e, 8, 2,
      trainSampleMod = 1) == base, "m=1 must be the unsampled recurrence")
    val s4 = Similarity.kmeansCentroidSeq(e, 8, 2, trainSampleMod = 4)
    val data = LloydReplay.corpus(e)
    assert(s4 == LloydReplay.train(data, 0, data.head._2.length, 8, 2,
      mod = 4), "sampled Lloyd diverges from the driver replay")
    // the knob must actually change training on this fixture (a sample
    // that reproduced the full-corpus means would pin nothing)
    assert(s4 != base, "fixture sample unexpectedly reproduces full training")
    // seed stability: iters = 0 means centroids ARE the seeds — the
    // full-corpus ids < numCells at any m
    assert(Similarity.kmeansCentroidSeq(e, 8, 0, trainSampleMod = 4) ==
      Similarity.kmeansCentroidSeq(e, 8, 0),
      "seeds must come from the full corpus, not the sample")
  }

  test("knnPageRank: salted relation path matches the literal path") {
    val e = embeddings
    val base = Similarity.knnPageRank(e, k = 3, numCells = 8, iters = 2,
      probes = 2, prIters = 3, top = 20)
    val got = Similarity.knnPageRank(e, k = 3, numCells = 8, iters = 2,
      probes = 2, prIters = 3, top = 20, viaRelation = true, salt = 4)
    assert(got.columns.toSeq == base.columns.toSeq)
    assert(rows(got) == rows(base),
      "knnPageRank diverges under viaRelation + salt")
  }

  test("CurationPipeline stageDir: staged output identical to one-lineage output") {
    // staging bounds live shuffle to the largest stage (the sf10 disk
    // fix) — it must change WHERE intermediate bytes live, never the
    // curated corpus
    val dir = java.nio.file.Files.createTempDirectory("graft_stage").toString
    val (c0, s0, v0) = CurationPipeline.run(spark, sf,
      modelGates = true, repairLeaks = true)
    val (c1, s1, v1) = CurationPipeline.run(spark, sf,
      modelGates = true, repairLeaks = true, stageDir = Some(dir))
    def sorted(df: DataFrame) = df.orderBy(df.columns.map(col): _*)
    for (((a, b), what) <- Seq((c0, c1) -> "curated", (s0, s1) -> "census",
        (v0, v1) -> "savings")) {
      assert(a.columns.toSeq == b.columns.toSeq, s"$what schema")
      assert(rows(sorted(a)) == rows(sorted(b)), s"$what rows diverge")
    }
    // the stage boundary actually materialized: every verdict frame on disk
    val staged = new java.io.File(dir).list().toSet
    for (n <- Seq("gate", "block", "model", "exact_keep", "near_keep",
        "split", "leak_ok"))
      assert(staged.contains(n), s"stage '$n' not materialized in $dir")
    spark.sharedState.cacheManager.clearCache()
  }

  test("relation search plan carries no index-sized literals") {
    // The point of the swap: the literal plan embeds the index as
    // expressions (k·d doubles in typedLit maps/arrays); the relation
    // plan must not. Proxy check: the analyzed plan's string dump of
    // the relation path contains no Lloyd centroid double (6-dp
    // rounded mean) as an expression literal, and is dramatically
    // smaller than the literal plan's.
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val lit0 = Similarity.ivfPqResidualTopK(e, q, 5, 8, 2, 2, 4, 8, 2)
    val rel = Similarity.ivfPqResidualTopK(e, q, 5, 8, 2, 2, 4, 8, 2,
      indexAsRelation = true)
    val litPlan = lit0.queryExecution.analyzed.toString
    val relPlan = rel.queryExecution.analyzed.toString
    // margin 2× (was 5×): the round-18 one-pass encode removed the
    // union-of-numSub branches from the LITERAL plan, shrinking it ~4×
    // — the relation plan must still be materially smaller, but the
    // literal side no longer duplicates the whole index per subspace
    assert(relPlan.length * 2 < litPlan.length,
      s"relation plan (${relPlan.length} chars) is not materially " +
        s"smaller than the literal plan (${litPlan.length} chars)")
    assert(!relPlan.contains("keys:"),
      "relation plan still carries a literal map (typedLit CreateMap)")
  }
}
