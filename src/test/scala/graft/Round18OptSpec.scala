package graft

import graft.operators.{Dedup, Exec, IndexStore, Similarity}
import graft.operators.Similarity.LloydBook
import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 OPTIMIZATION equivalence specs: every rewrite in this round
  * claims bit-identical output — these tests pin each claim against the
  * shape it replaced.
  *
  *  - Exec.scoped's rebind: re-rooting a frame at its materialized
  *    blocks changes the logical plan, never a row, the schema or (AQE
  *    off) the output partitioning, and the scope leaves no persisted
  *    RDD behind, on return or on throw.
  *  - Exec.materializeToTemp: the read-back relation carries the same
  *    rows and leaves no persisted RDDs behind.
  *  - pqCodebooks (batched across subspaces): identical centroids to
  *    the per-subspace kmeansCentroidSeq recurrence it replaced.
  *  - encodeViaRelation (the PQ encode every IVF-PQ path runs): the
  *    (vec_id, sub, code) rows of an independent driver replay.
  *  - ivfPqEncode: the replayed cell and codes of every vector, in one
  *    map-only pass (no exchange, no aggregate in its plan).
  *  - lloydBooks (the one Lloyd trainer): joint training of the coarse
  *    cells and the PQ codebooks equals separate one-book and
  *    numSub-book calls, and both equal an independent driver-side
  *    replay ([[LloydReplay]]) — at q193's 8 cells and at 40, with
  *    unequal iteration counts too. Its per-iteration plan does not grow
  *    with the index geometry and shuffles only the small means, and an
  *    IndexStore build runs an exact number of Spark jobs.
  */
class Round18OptSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  test("Exec.rebind preserves rows and schema exactly") {
    val df = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
    def persisted = spark.sparkContext.getPersistentRDDs
    Exec.scoped { s =>
      val re = s.rebind(df)
      assert(persisted.nonEmpty, "rebind materialized nothing")
      assert(re.schema == df.schema)
      val a = df.collect().map(_.toString).sorted.toSeq
      val b = re.collect().map(_.toString).sorted.toSeq
      assert(a == b, "rebind changed row content")
    }
    assert(persisted.isEmpty, persisted.values.map(_.toString).toSeq)
    // AQE off: an adaptive root reports no partitioning to keep
    withConf("spark.sql.adaptive.enabled" -> "false") {
      Exec.scoped { s =>
        val re = s.rebind(df.repartition(8, col("vec_id")))
        re.queryExecution.executedPlan.outputPartitioning match {
          case h: HashPartitioning =>
            assert(h.numPartitions == 8 &&
              h.expressions.map(_.sql) == Seq("vec_id"), h.toString)
          case p => fail(s"rebind lost the hash partitioning: $p")
        }
      }
    }
    assert(persisted.isEmpty, persisted.values.map(_.toString).toSeq)
    val ex = intercept[IllegalStateException] {
      Exec.scoped { s =>
        s.rebind(df)
        throw new IllegalStateException("body failed")
      }
    }
    assert(ex.getMessage == "body failed")
    assert(persisted.isEmpty, persisted.values.map(_.toString).toSeq)
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

  test("joint, separate and replayed training agree at q193's geometry (8 cells)") {
    checkGeometry(numCells = 8, cellIters = 2, numSub = 4, codebookK = 8,
      pqIters = 2)
    checkGeometry(numCells = 8, cellIters = 2, numSub = 4, codebookK = 8,
      pqIters = 1)
  }

  test("joint, separate and replayed training agree at 40 cells") {
    checkGeometry(numCells = 40, cellIters = 2, numSub = 4,
      codebookK = 8, pqIters = 1)
    // 8×32: the codebook geometry whose literal argmax outgrew codegen
    val (w, books) = Similarity.pqCodebooks(embeddings, 8, 32, 1)
    assert(books == (0 until 8).map(sub =>
      sub -> LloydReplay.train(data, sub * w, w, 32, 1)))
  }

  test("the per-iteration Lloyd plan has the same size at 4×8 and 8×32") {
    def exprCount(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    val small = exprCount(stepPlan(4, 8))
    val large = exprCount(stepPlan(8, 32))
    assert(small == large, s"plan grows with the index ($small → $large)")
  }

  /** One Lloyd iteration over q193's coarse book and `numSub`×`codebookK`
    * codebooks, at their seeds. */
  private def stepPlan(numSub: Int, codebookK: Int): DataFrame = {
    val v = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val books = LloydBook(0, 0, 1, 8, 0) +:
      (0 until numSub).map(s => LloydBook(1 + s, s, numSub, codebookK, 0))
    // iters = 0: the seeds are the centroids the first step assigns to
    val (_, seeds) = Similarity.lloydBooks(embeddings, books)
    val span = books.map(b => b.id -> (b.part * (d / b.parts), d / b.parts))
    Similarity.lloydStep(Similarity.lloydSlices(v, span),
      books.map(b => b.id -> seeds(b.id)))
  }

  /** The physical plan with AQE off, so it is final before execution. */
  private def physical(df: => DataFrame): SparkPlan =
    withConf("spark.sql.adaptive.enabled" -> "false")(df.queryExecution.executedPlan)

  test("a Lloyd iteration shuffles twice, never an array<double>") {
    val plan = physical(stepPlan(4, 8))
    val shuffles = plan.collect { case x: ShuffleExchangeLike => x }
    assert(shuffles.size == 2, s"expected the two means exchanges:\n$plan")
    val arrays = shuffles.flatMap(_.output).filter(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    assert(arrays.isEmpty, s"an exchange carries vectors: $arrays")
    assert(plan.collect { case a: BaseAggregateExec => a }.nonEmpty)
  }

  test("IndexStore.buildIvfPq at one Lloyd iteration runs fewer than 20 jobs") {
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    val dir = tmpDir("graft-lloyd-jobs")
    try {
      GraftListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      IndexStore.buildIvfPq(embeddings.select("vec_id", "embedding"),
        s"$dir/store", numCells = 8, cellIters = 1,
        numSub = 4, codebookK = 8, pqIters = 1)
      GraftListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val n = listener.synchronized(jobs)
    info(s"buildIvfPq ran $n jobs")
    // exact, not a ceiling: any change in the build's job count is a
    // plan change to look at
    assert(n == 14, s"buildIvfPq ran $n jobs")
  }

  test("encodeViaRelation equals the driver-replayed PQ encode (4×8)") {
    val (w, books) = Similarity.pqCodebooks(embeddings, numSub = 4,
      codebookK = 8, iters = 1)
    // a zero-norm codeword in subspace 0 exercises the 0.0 pin
    val pinned = books.map { case (sub, cent) =>
      sub -> (if (sub == 0) cent :+ (100L -> Seq.fill(w)(0.0)) else cent) }
    val v = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val got = Similarity.encodeViaRelation(Similarity.subSliced(v, 4, w),
        Similarity.codebookRelation(spark, w, pinned))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == LloydReplay.encode(data, w, pinned))
  }

  test("ivfPqEncode equals the replayed cells and codes in one map-only pass") {
    val (coarse, w, books) = Similarity.ivfPqBooks(embeddings, numCells = 8,
      cellIters = 1, numSub = 4, codebookK = 8, pqIters = 1)
    val centRel = Similarity.centroidRelation(spark, coarse)
    val bookRel = Similarity.codebookRelation(spark, w, books)
    val cells = LloydReplay.assign(data, coarse, 1).map(a => a._1 -> a._3).toMap
    val cv = coarse.toMap
    for (kind <- Seq(IndexStore.KindPq, IndexStore.KindPqResidual)) {
      val enc = Similarity.ivfPqEncode(embeddings, centRel, bookRel, kind, 4, w)
      assert(enc.columns.toSeq == Seq("vec_id", "sub", "code", "cell"))
      val got = enc.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
      // residual: x − c(x), elementwise, as the encode subtracts
      val encoded =
        if (kind == IndexStore.KindPq) data
        else data.map { case (id, x) =>
          id -> x.zip(cv(cells(id))).map { case (a, b) => a - b } }
      val want = LloydReplay.encode(encoded, w, books)
        .map { case (id, sub, code) => (id, sub, code, cells(id)) }
      assert(got == want, s"$kind encode ≠ replay")
      val plan = physical(
        Similarity.ivfPqEncode(embeddings, centRel, bookRel, kind, 4, w))
      assert(plan.collect { case x: ShuffleExchangeLike => x }.isEmpty,
        s"$kind encode shuffles:\n$plan")
      assert(plan.collect { case a: BaseAggregateExec => a }.isEmpty,
        s"$kind encode aggregates:\n$plan")
    }
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
