package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Similarity

/** Round-14 specs: the index-as-relation search path. Its training
  * and cell assignment must equal an independent driver-side replay
  * ([[LloydReplay]]) — same cosine arithmetic, same zero-norm pins,
  * same tie orders — at more than one index geometry, and no search
  * plan may grow with the index: the index rides broadcast relations,
  * never plan expressions.
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

  test("assignCellsRelation and assignCellsRelationArr equal the driver replay (7 and 40 cells, probes 1 and 3)") {
    val e = embeddings
    // one zero-norm vector and one zero-norm centroid exercise the pins:
    // the vector ties at 0.0 on every cell (lowest cid wins) and the
    // centroid scores 0.0 against every vector
    val d = LloydReplay.corpus(e).head._2.length
    val zero = Seq.fill(d)(0.0)
    val s0 = spark; import s0.implicits._
    val v = e.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .unionByName(Seq((1000000L, zero)).toDF("vec_id", "v"))
    val data = LloydReplay.corpus(e) :+ (1000000L -> zero.toArray)
    def got(df: DataFrame) = df.orderBy(col("vec_id"), col("probe"))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1),
        r.getLong(2), r.getDouble(3), r.getInt(4)))
    for (nc <- Seq(7, 40)) {
      val cent = Similarity.kmeansCentroidSeq(e, numCells = nc, iters = 2) :+
        (1000L -> zero)
      val centRel = Similarity.centroidRelation(spark, cent)
      for (probes <- Seq(1, 3)) {
        val want = LloydReplay.assign(data, cent, probes)
        val join = Similarity.assignCellsRelation(v, centRel, probes)
        assert(join.columns.toSeq == Seq("vec_id", "v", "cell", "sim", "probe"))
        assert(got(join) == want,
          s"assignCellsRelation ≠ replay at $nc cells, probes=$probes")
        assert(got(Similarity.assignCellsRelationArr(v, centRel, probes)) == want,
          s"assignCellsRelationArr ≠ replay at $nc cells, probes=$probes")
      }
    }
  }

  test("assignCellsRelation with an empty index yields empty (documented divergence)") {
    val e = embeddings
    val v = e.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val empty = Similarity.centroidRelation(spark, Nil)
    assert(Similarity.assignCellsRelation(v, empty, 1).count() == 0L)
    assert(Similarity.assignCellsRelationArr(v, empty, 1).count() == 0L)
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
    val viaMem = Similarity.assignCellsRelation(v,
        Similarity.centroidRelation(spark, refreshed), 1)
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

  test("ivfKnnGraph: salt is output-identical") {
    val e = embeddings
    val base = Similarity.ivfKnnGraph(e, k = 3, numCells = 8,
      iters = 2, probes = 2).orderBy(col("qid"), col("rank"))
    for (s <- Seq(4, 3)) {
      val got = Similarity.ivfKnnGraph(e, k = 3, numCells = 8,
        iters = 2, probes = 2, salt = s)
        .orderBy(col("qid"), col("rank"))
      assert(got.columns.toSeq == base.columns.toSeq)
      assert(rows(got) == rows(base), s"ivfKnnGraph diverges at salt=$s")
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

  test("knnPageRank: salt is output-identical") {
    val e = embeddings
    val base = Similarity.knnPageRank(e, k = 3, numCells = 8, iters = 2,
      probes = 2, prIters = 3, top = 20)
    val got = Similarity.knnPageRank(e, k = 3, numCells = 8, iters = 2,
      probes = 2, prIters = 3, top = 20, salt = 4)
    assert(got.columns.toSeq == base.columns.toSeq)
    assert(rows(got) == rows(base), "knnPageRank diverges under salt")
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
    // Every search op's analyzed plan has EXACTLY the same expression
    // count at a small and a large index: the index rides broadcast
    // relations (LocalRelation rows are data, not expressions), so
    // nothing in the plan scales with cells or codewords. The
    // assignment shape switches at DenseCellsThreshold (join + max_by
    // below, codeword array at or above), so each shape is compared at
    // two geometries of its own: 8 cells / 4×8 vs 16 cells / 4×32 and
    // 32 cells / 4×8 vs 64 cells / 4×32. Zero Lloyd iterations: the
    // seeds are the index, and training stays out of the plan either
    // way.
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    def exprCount(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case p =>
        p.expressions.map(_.collect { case x => x }.size).sum
      }.sum
    val ops: Seq[(String, (Int, Int) => DataFrame)] = Seq(
      "ivfPqTopK" -> ((nc, ck) =>
        Similarity.ivfPqTopK(e, q, 5, nc, 0, 2, 4, ck, 0)),
      "ivfPqResidualTopK" -> ((nc, ck) =>
        Similarity.ivfPqResidualTopK(e, q, 5, nc, 0, 2, 4, ck, 0)),
      "pqAdcTopK" -> ((_, ck) => Similarity.pqAdcTopK(e, q, 5, 4, ck, 0)),
      "pqCodes" -> ((_, ck) => Similarity.pqCodes(e, 4, ck, 0)),
      "ivfKnnGraph" -> ((nc, _) =>
        Similarity.ivfKnnGraph(e, k = 3, numCells = nc, iters = 0)),
      "ivfTopKMultiprobe" -> ((nc, _) =>
        Similarity.ivfTopKMultiprobe(e, q, 5, nc, 0, 2)),
      "clusterSummary" -> ((nc, _) => Similarity.clusterSummary(e, nc, 0)),
      "semanticDedup" -> ((nc, _) => Similarity.semanticDedup(e, 0.4, nc, 0)),
      "clusterBalancedSample" -> ((nc, _) =>
        Similarity.clusterBalancedSample(e, 40, nc, 0)))
    assert(16 < Similarity.DenseCellsThreshold &&
      Similarity.DenseCellsThreshold <= 32)
    val grown = for {
      (name, op) <- ops
      ((nc0, ck0), (nc1, ck1)) <- Seq((8, 8) -> (16, 32), (32, 8) -> (64, 32))
      small = exprCount(op(nc0, ck0))
      large = exprCount(op(nc1, ck1))
      if small != large
    } yield s"$name: $small expressions at $nc0 cells / 4×$ck0, " +
      s"$large at $nc1 / 4×$ck1"
    assert(grown.isEmpty, grown.mkString("plans grow with the index:\n", "\n", ""))
  }
}
