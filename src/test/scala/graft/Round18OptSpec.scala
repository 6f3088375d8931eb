package graft

import graft.operators.{Dedup, Exec, IndexStore, Similarity}
import graft.operators.Similarity.LloydBook
import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-18 OPTIMIZATION equivalence specs: every rewrite in this round
  * claims bit-identical output — these tests pin each claim against the
  * shape it replaced.
  *
  *  - Exec.rebind: re-rooting a frame at its RDD changes the logical
  *    plan, never a row or the schema.
  *  - Exec.materializeToTemp: the read-back relation carries the same
  *    rows and leaves no persisted RDDs behind.
  *  - pqCodebooks (batched across subspaces): identical centroids to
  *    the per-subspace kmeansCentroidSeq recurrence it replaced.
  *  - encodeLiteral (one-scan PQ encode): identical (vec_id, sub, code)
  *    rows to the union-of-assignCells-branches shape it replaced.
  *  - lloydBooks (the one Lloyd trainer): joint training of the coarse
  *    cells and the PQ codebooks equals separate one-book and
  *    numSub-book calls, and both equal an independent driver-side
  *    replay ([[LloydReplay]]) — at q193's geometry (join + max_by
  *    argmax) and at a dense one (codeword-array argmax), with unequal
  *    iteration counts too. Its per-iteration plan does not grow with
  *    the index geometry, and an IndexStore build runs a bounded number
  *    of Spark jobs.
  */
class Round18OptSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  test("Exec.rebind preserves rows and schema exactly") {
    val df = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
      .persist()
    try {
      val re = Exec.rebind(df)
      assert(re.schema == df.schema)
      val a = df.collect().map(_.toString).sorted.toSeq
      val b = re.collect().map(_.toString).sorted.toSeq
      assert(a == b, "rebind changed row content")
    } finally { df.unpersist(); () }
  }

  test("Exec.materializeToTemp: same rows, no persisted RDDs left") {
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
    val mat = Exec.materializeToTemp(df, "spec")
    assert(mat.collect().map(_.toString).sorted.toSeq ==
      df.collect().map(_.toString).sorted.toSeq)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("batched pqCodebooks equals the per-subspace Lloyd recurrence it replaced") {
    val e = Tables.embeddings(spark, sf)
    val (w, books) = Similarity.pqCodebooks(e, numSub = 4, codebookK = 8,
      iters = 2)
    // reference: the pre-round-18 shape — one independent
    // kmeansCentroidSeq per subspace over the sliced vectors
    val v = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val ref = (0 until 4).map { sub =>
      sub -> Similarity.kmeansCentroidSeq(v.select(col("vec_id"),
        slice(col("v"), lit(sub * w + 1), lit(w)).as("embedding")),
        8, 2)
    }
    assert(books.map(_._1) == ref.map(_._1))
    for (((s1, got), (_, want)) <- books.zip(ref)) {
      assert(got == want, s"subspace $s1 centroids diverge:\n$got\nvs\n$want")
    }
  }

  private lazy val data = LloydReplay.corpus(embeddings)
  private lazy val d = data.head._2.length

  /** The replayed (coarse, per-sub codebooks) of one IVF-PQ geometry. */
  private def replay(numCells: Int, cellIters: Int, numSub: Int,
      codebookK: Int, pqIters: Int) = {
    val w = d / numSub
    (LloydReplay.train(data, 0, d, numCells, cellIters),
      (0 until numSub).map(sub =>
        sub -> LloydReplay.train(data, sub * w, w, codebookK, pqIters)))
  }

  private def checkGeometry(numCells: Int, cellIters: Int, numSub: Int,
      codebookK: Int, pqIters: Int): Unit = {
    val geom = s"($numCells, $cellIters, $numSub×$codebookK, $pqIters)"
    val (wantCoarse, wantBooks) =
      replay(numCells, cellIters, numSub, codebookK, pqIters)
    val (coarse, w, books) = Similarity.ivfPqBooks(embeddings, numCells,
      cellIters, numSub, codebookK, pqIters)
    val sepCoarse = Similarity.kmeansCentroidSeq(embeddings, numCells,
      cellIters)
    val (sepW, sepBooks) = Similarity.pqCodebooks(embeddings, numSub,
      codebookK, pqIters)
    assert(w == d / numSub && sepW == w, geom)
    assert(coarse == wantCoarse, s"joint coarse cells ≠ replay at $geom")
    assert(sepCoarse == wantCoarse, s"one-book call ≠ replay at $geom")
    assert(books == wantBooks, s"joint codebooks ≠ replay at $geom")
    assert(sepBooks == wantBooks, s"numSub-book call ≠ replay at $geom")
    // the geometry must actually train: a fixture where Lloyd moved no
    // centroid off its seed would pin nothing
    assert(coarse != LloydReplay.train(data, 0, d, numCells, 0), geom)
  }

  test("joint, separate and replayed training agree at q193's geometry (join argmax)") {
    assert(8 < Similarity.DenseCellsThreshold)
    checkGeometry(numCells = 8, cellIters = 2, numSub = 4, codebookK = 8,
      pqIters = 2)
    checkGeometry(numCells = 8, cellIters = 2, numSub = 4, codebookK = 8,
      pqIters = 1)
  }

  test("joint, separate and replayed training agree at a dense geometry (array argmax)") {
    val dense = 40
    assert(dense >= Similarity.DenseCellsThreshold)
    // joint: the 40-cell book makes every book take the array form,
    // while the separate 4×8 call takes the join form
    checkGeometry(numCells = dense, cellIters = 2, numSub = 4,
      codebookK = 8, pqIters = 1)
    // 8×32: the codebook geometry whose literal argmax outgrew codegen
    val (w, books) = Similarity.pqCodebooks(embeddings, 8, 32, 1)
    assert(books == (0 until 8).map(sub =>
      sub -> LloydReplay.train(data, sub * w, w, 32, 1)))
  }

  test("the per-iteration Lloyd plan has the same size at 4×8 and 8×32") {
    val v = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    def exprCount(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    def stepPlan(numSub: Int, codebookK: Int, dense: Boolean): DataFrame = {
      val books = LloydBook(0, 0, 1, 8, 0) +:
        (0 until numSub).map(s => LloydBook(1 + s, s, numSub, codebookK, 0))
      // iters = 0: the seeds are the centroids the first step assigns to
      val (_, seeds) = Similarity.lloydBooks(embeddings, books)
      val span = books.map(b => b.id -> (b.part * (d / b.parts), d / b.parts))
      Similarity.lloydStep(Similarity.lloydSlices(v, span),
        books.map(b => b.id -> seeds(b.id)), dense)
    }
    for (dense <- Seq(false, true)) {
      val small = exprCount(stepPlan(4, 8, dense))
      val large = exprCount(stepPlan(8, 32, dense))
      assert(small == large,
        s"dense=$dense: plan grows with the index ($small → $large)")
    }
  }

  test("IndexStore.buildIvfPq at one Lloyd iteration runs fewer than 20 jobs") {
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-lloyd-jobs")
    try {
      GraftListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      IndexStore.buildIvfPq(embeddings.select("vec_id", "embedding"),
        dir.resolve("store").toString, numCells = 8, cellIters = 1,
        numSub = 4, codebookK = 8, pqIters = 1)
      GraftListenerDrain.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    val n = listener.synchronized(jobs)
    info(s"buildIvfPq ran $n jobs")
    assert(n > 0 && n < 20, s"buildIvfPq ran $n jobs")
  }

  test("encodeLiteral equals the union-of-assignCells encode it replaced") {
    val e = Tables.embeddings(spark, sf)
    val (w, books) = Similarity.pqCodebooks(e, numSub = 4, codebookK = 8,
      iters = 1)
    val v = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val got = Similarity.encodeLiteral(v, w, books)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    val want = books.map { case (sub, cent) =>
      Similarity.assignCells(v.select(col("vec_id"),
        slice(col("v"), lit(sub * w + 1), lit(w)).as("v")), cent, probes = 1)
        .select(col("vec_id"), lit(sub).as("sub"), col("cell").as("code"))
    }.reduce(_ unionAll _)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == want)
  }

  test("assignCellsRelationArr equals assignCellsRelation on both probes branches") {
    val e = Tables.embeddings(spark, sf)
    val v = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val cent = Similarity.kmeansCentroidSeq(e, numCells = 8, iters = 1)
    val rel = Similarity.centroidRelation(spark, cent)
    for (probes <- Seq(1, 3)) {
      val a = Similarity.assignCellsRelation(v, rel, probes)
        .collect().map(_.toString).sorted.toSeq
      val b = Similarity.assignCellsRelationArr(v, rel, probes)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, s"probes=$probes diverges")
    }
    // empty relation: both shapes yield an empty result
    val empty = rel.filter(col("cid") < 0)
    assert(Similarity.assignCellsRelationArr(v, empty, 1).count() == 0L)
    assert(Similarity.assignCellsRelation(v, empty, 1).count() == 0L)
  }

  test("connectedComponents returned frame survives the loop caches being dropped") {
    val s = spark; import s.implicits._
    // the returned plan must be self-contained (temp-parquet-backed):
    // count it twice, clear every cache between, equal both times
    val edges = ((1L to 6L).map(i => (i, i + 1)) ++ Seq((10L, 11L)))
      .toDF("i", "j")
    val cc = Dedup.connectedComponents(edges)
    val first = cc.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.sharedState.cacheManager.clearCache()
    val second = cc.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(first == second && first.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
