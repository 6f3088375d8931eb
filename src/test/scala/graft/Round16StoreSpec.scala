package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexManifest, IndexStore, Similarity}

/** Round-16 index-store lifecycle specs: maintenance AGE cannot erode
  * the serve path (compaction-only publish folds accumulated append
  * batches back to one file per cell, bit-identically), curation
  * drop-lists land on the index without a rebuild (deleteVectors ≡
  * allow-list-complement serving, replay-idempotent), the single-writer
  * publish contract is enforced fail-stop (a racing publish loses
  * loudly, the store stays consistent), and a reader re-open after a
  * publish re-reads ONLY the changed artifacts (the corpus-sized code
  * stream's file index carries over when provably unchanged — and does
  * NOT when an in-place append grew it).
  */
class Round16StoreSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)


  private def build(dir: String, resid: Boolean, e: DataFrame): Unit =
    if (resid) IndexStore.buildIvfPqResidual(e, dir, numCells = 6,
      cellIters = 2, numSub = 4, codebookK = 6, pqIters = 2)
    else IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)

  test("compactCodes folds append batches to batch 0, serves bit-identically, and a second compact is a no-op") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"compact-$resid")
      val base = e.filter(col("vec_id") % 10 < 7)
      build(dir, resid, base)
      // age the store: three append batches (the recall gate rejecting
      // refreshes leaves exactly this accumulation)
      for (b <- 1 to 3)
        IndexStore.appendVectors(
          e.filter(col("vec_id") % 10 === 6 + b), dir, batchId = b.toLong)
      assert(IndexStore.codeBatches(spark, dir) == Seq(0L, 1L, 2L, 3L))
      val aged = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
        probes = 2))
      val agedCodes = rows(spark.read
        .parquet(IndexStore.artifactPaths(spark, dir)("codes"))
        .select(col("vec_id"), col("sub"), col("code"), col("cell"))
        .orderBy(col("vec_id"), col("sub")))
      val vBefore = IndexStore.currentManifest(spark, dir).version
      // a pinned reader opened BEFORE compaction keeps serving its
      // version; appends were invisible to it (no publish had renamed
      // the code stream)
      val pinned = IndexStore.openReader(spark, dir)
      val report = IndexStore.compactCodes(spark, dir).head()
      assert(report.getAs[Boolean]("published")
        && report.getAs[Long]("n_batches_in") == 4L
        && report.getAs[Long]("version_after") == vBefore + 1)
      // the compacted stream: ONE batch partition, the same row set
      assert(IndexStore.codeBatches(spark, dir) == Seq(0L),
        s"compaction left ${IndexStore.codeBatches(spark, dir)}")
      assert(rows(spark.read
        .parquet(IndexStore.artifactPaths(spark, dir)("codes"))
        .select(col("vec_id"), col("sub"), col("code"), col("cell"))
        .orderBy(col("vec_id"), col("sub"))) == agedCodes,
        s"compaction changed the code rows (resid=$resid)")
      // serve bit-identical pre/post compact; reopen picks up the
      // compacted version (codes name changed ⇒ fresh file index) and
      // serves the same rows
      assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2))
        == aged, s"compacted serve diverges (resid=$resid)")
      assert(rows(pinned.reopen().serve(q, k = 5, probes = 2)) == aged,
        s"reopened reader diverges after compaction (resid=$resid)")
      // one file per (probed) cell again: every cell dir under batch=0
      // holds exactly one parquet file
      val codesPath = IndexStore.artifactPaths(spark, dir)("codes")
      val fs = new org.apache.hadoop.fs.Path(codesPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cellDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(codesPath, "batch=0"))
        .filter(_.isDirectory)
      assert(cellDirs.nonEmpty)
      cellDirs.foreach { d =>
        val files = fs.listStatus(d.getPath)
          .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        assert(files.length == 1,
          s"${d.getPath.getName} holds ${files.length} files post-compact")
      }
      // idempotent: a second compact publishes nothing
      val again = IndexStore.compactCodes(spark, dir).head()
      assert(!again.getAs[Boolean]("published")
        && again.getAs[Long]("version_after") == vBefore + 1,
        s"second compact was not a no-op: $again")
      // both decisions are in the ops log
      val ops = IndexStore.opsLog(spark, dir)
        .filter(col("op") === "compact").orderBy(col("version_after"))
      assert(rows(ops.select(col("published"))) == Seq(Seq(false), Seq(true))
        || rows(ops.select(col("published"))) == Seq(Seq(true), Seq(false)))
    }
  }

  test("deleteVectors serves the allow-list complement bit-identically, without rebuild, idempotently") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"del-$resid")
      build(dir, resid, e)
      val m1 = IndexStore.currentManifest(spark, dir)
      // drop ids that actually appear in results (a takedown that
      // bites), plus one id with no code rows (must be ignored)
      val served = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      val victims = served.select(col("nid")).distinct()
        .orderBy(col("nid")).limit(2)
        .collect().map(_.getLong(0)).toSeq
      assert(victims.size == 2)
      import spark.implicits._
      val drop = (victims :+ 999999999L).toDF("vec_id")
      // the oracle: pre-delete serving scoped to everything-but-ids
      val remaining = e.select(col("vec_id"))
        .join(drop, Seq("vec_id"), "left_anti")
      val expect = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
        probes = 2, allowed = Some(remaining)))
      val report = IndexStore.deleteVectors(drop, dir).head()
      assert(report.getAs[Boolean]("published")
        && report.getAs[Long]("n_rows_removed") == 2L * 4L, // numSub rows/vec
        s"unexpected delete report: $report")
      assert(IndexStore.currentManifest(spark, dir).version
        == m1.version + 1)
      // centroids/codebooks/meta reused by name — no rebuild happened
      val m2 = IndexStore.currentManifest(spark, dir)
      assert(m2.centroids == m1.centroids && m2.codebooks == m1.codebooks
        && m2.meta == m1.meta)
      val after = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
        probes = 2))
      assert(after == expect,
        s"delete-serve diverges from allow-list complement (resid=$resid)")
      assert(!after.exists(r => victims.contains(r(1))),
        "a deleted vector survived in serve results")
      // composes with filtered serve + refine on the deleted store
      val lab = e.filter(col("label") === 3).select(col("vec_id"))
      val labIds = lab.collect().map(_.getLong(0)).toSet
      val fr = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
        allowed = Some(lab), refineWith = Some(e))
      val frn = fr.select(col("nid")).collect().map(_.getLong(0))
      assert(frn.forall(n => labIds.contains(n) && !victims.contains(n)),
        "refined filtered serve on deleted store leaked a dropped/"
          + "non-allowed member")
      // replay: the same drop-list again removes nothing and publishes
      // nothing — no version churn
      val replay = IndexStore.deleteVectors(drop, dir).head()
      assert(!replay.getAs[Boolean]("published")
        && replay.getAs[Long]("n_rows_removed") == 0L)
      assert(IndexStore.currentManifest(spark, dir).version
        == m1.version + 1)
      // both decisions logged
      assert(IndexStore.opsLog(spark, dir)
        .filter(col("op") === "delete").count() == 2L)
    }
  }

  test("racing publishes: exactly one wins, the loser fail-stops, the store serves consistently") {
    val e = embeddings
    val dir = tmpDir("race")
    build(dir, resid = false, e)
    val m = IndexStore.currentManifest(spark, dir)
    // two writers that both resolved version 1 race to publish 2 (the
    // exact hazard the single-writer contract names: both compute
    // version+1 and race the manifest rename)
    val a = m.copy(version = m.version + 1)
    val b = IndexManifest(m.version + 1, m.kind, m.centroids, m.codebooks,
      m.codes, m.meta)
    val ready = new CountDownLatch(2)
    val go = new CountDownLatch(1)
    val outcomes =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    def racer(mm: IndexManifest) = new Thread(() => {
      ready.countDown(); go.await()
      try {
        IndexStore.publishManifest(spark, dir, mm)
        outcomes.add(Right(()))
      } catch { case t: Throwable => outcomes.add(Left(t)) }
    })
    val t1 = racer(a); val t2 = racer(b)
    t1.start(); t2.start()
    ready.await(); go.countDown()
    t1.join(60000); t2.join(60000)
    val (losses, wins) = {
      val all = { val bld = Seq.newBuilder[Either[Throwable, Unit]]
        outcomes.forEach(o => bld += o); bld.result() }
      (all.collect { case Left(t) => t }, all.count(_.isRight))
    }
    assert(wins == 1 && losses.size == 1,
      s"expected exactly one winner, got $wins wins / ${losses.size} losses")
    assert(losses.head.isInstanceOf[IllegalStateException]
      && losses.head.getMessage.contains("single-writer"),
      s"loser threw ${losses.head}")
    // the store is consistent: current version is 2, its manifest
    // parses, and it serves
    val m2 = IndexStore.currentManifest(spark, dir)
    assert(m2.version == m.version + 1)
    val q = e.filter(col("vec_id") < 3)
    assert(IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2)
      .count() > 0)
  }

  test("incremental reopen: unchanged artifacts carry their file index over; changed ones are re-read") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val dir = tmpDir("reopen")
    build(dir, resid = false, e)
    val r1 = IndexStore.openReader(spark, dir)
    // same version ⇒ the poll returns the same handle
    assert(r1.reopen() eq r1)
    // centroid-only publish: the tiny centroid relation changes, the
    // corpus-sized code stream + codebooks + meta carry over
    val (_, maintained) = Similarity.ivfIndexMaintain(e, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.writeCentroids(spark, dir, maintained)
    val r2 = r1.reopen()
    assert(r2.version == r1.version + 1)
    assert(r2.rawCodes eq r1.rawCodes,
      "code-stream file index was re-resolved on a centroid-only publish")
    assert(r2.bookRel eq r1.bookRel)
    assert(!(r2.centRel eq r1.centRel),
      "changed centroid artifact was NOT re-read")
    // serving from the incrementally reopened handle ≡ a cold open
    assert(rows(r2.serve(q, k = 4, probes = 2))
      == rows(IndexStore.openReader(spark, dir).serve(q, k = 4, probes = 2)),
      "incremental reopen diverges from cold open")
  }

  test("compactIfAged: no-op under threshold (no publish, no log row), compacts past it") {
    val e = embeddings
    val dir = tmpDir("aged")
    val base = e.filter(col("vec_id") % 10 < 7)
    build(dir, resid = false, base)
    for (b <- 1 to 2)
      IndexStore.appendVectors(
        e.filter(col("vec_id") % 10 === 6 + b), dir, batchId = b.toLong)
    val v = IndexStore.currentManifest(spark, dir).version
    // 3 batch partitions (build + 2 appends) ≤ maxBatches ⇒ nothing
    assert(IndexStore.compactIfAged(spark, dir, maxBatches = 3).isEmpty)
    assert(IndexStore.currentManifest(spark, dir).version == v)
    assert(IndexStore.opsLog(spark, dir).count() == 0L,
      "under-threshold poll wrote an ops_log row")
    // one more append crosses the threshold ⇒ compaction publish
    IndexStore.appendVectors(
      e.filter(col("vec_id") % 10 === 9), dir, batchId = 3L)
    val report = IndexStore.compactIfAged(spark, dir, maxBatches = 3)
    assert(report.isDefined
      && report.get.head().getAs[Boolean]("published"))
    assert(IndexStore.codeBatches(spark, dir) == Seq(0L))
    assert(IndexStore.currentManifest(spark, dir).version == v + 1)
    // healed ⇒ the next poll is a no-op again
    assert(IndexStore.compactIfAged(spark, dir, maxBatches = 3).isEmpty)
  }

  test("streaming delete sink: micro-batched drop-lists equal sequential deleteVectors; replay publishes nothing") {
    val s = spark
    implicit val sq = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    // store A: two drop batches through the stream sink
    val dirA = tmpDir("delsink-a")
    build(dirA, resid = false, e)
    val victims = IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(4)
      .collect().map(_.getLong(0)).toSeq
    assert(victims.size == 4)
    val (d1, d2) = (victims.take(2), victims.drop(2))
    val mem = MemoryStream[Long]
    val sink = graft.streaming.Ingest.indexDeleteSink(
      mem.toDS().toDF("vec_id"), dirA, tmpDir("delsink-ckpt")).start()
    try {
      mem.addData(d1: _*)
      sink.processAllAvailable()
      mem.addData(d2: _*)
      sink.processAllAvailable()
      // the replay shape: the same drop-list arrives again — nothing
      // left to remove, nothing published
      val vAfter = IndexStore.currentManifest(spark, dirA).version
      mem.addData(d1: _*)
      sink.processAllAvailable()
      assert(IndexStore.currentManifest(spark, dirA).version == vAfter,
        "replayed drop-list churned a version")
    } finally sink.stop()
    // store B: the same two drop-lists through the batch API
    val dirB = tmpDir("delsink-b")
    build(dirB, resid = false, e)
    IndexStore.deleteVectors(d1.toDF("vec_id"), dirB)
    IndexStore.deleteVectors(d2.toDF("vec_id"), dirB)
    assert(rows(IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2))
      == rows(IndexStore.serveIvfPq(spark, dirB, q, k = 5, probes = 2)),
      "stream-deleted store diverges from the batch replay")
    assert(!IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2)
      .select(col("nid")).collect().map(_.getLong(0))
      .exists(victims.contains), "a streamed-deleted vector survived")
    // two real deletes + one no-op replay logged on the stream store
    val ops = IndexStore.opsLog(spark, dirA).filter(col("op") === "delete")
    assert(ops.count() == 3L
      && ops.filter(col("published")).count() == 2L)
  }

  test("reopen re-reads the code stream when an in-place append grew it under an unchanged name") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val dir = tmpDir("reopen-append")
    val base = e.filter(col("vec_id") % 10 < 8)
    build(dir, resid = false, base)
    val r1 = IndexStore.openReader(spark, dir)
    // an append lands batch=1 in the CURRENT codes artifact (no
    // publish) — r1's resolved file index is now incomplete for the
    // artifact NAME it holds
    IndexStore.appendVectors(e.filter(col("vec_id") % 10 >= 8), dir,
      batchId = 1L)
    // a centroid-only publish bumps the version WITHOUT renaming the
    // code stream — the case where name-equality alone would wrongly
    // freeze the appended batch out of the reopened reader
    val (_, maintained) = Similarity.ivfIndexMaintain(
      base.unionAll(e.filter(col("vec_id") % 10 >= 8)), numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.writeCentroids(spark, dir, maintained)
    val r2 = r1.reopen()
    assert(!(r2.rawCodes eq r1.rawCodes),
      "reopen reused a code-stream file index that an append had outgrown")
    assert(rows(r2.serve(q, k = 4, probes = 2))
      == rows(IndexStore.openReader(spark, dir).serve(q, k = 4, probes = 2)),
      "reopened reader diverges from cold open after append + publish")
  }
}
