package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{IndexStore, Similarity}

/** Round-15 index-store lifecycle specs: the RESIDUAL index persists
  * and serves bit-identically to the in-memory relation path (the
  * store can now hold the measured-better production index), publish
  * is an atomic versioned manifest swap (reader isolation: a serve
  * planned against version v returns v's exact rows even when v+1
  * publishes mid-flight), refine composes on the serve path, appends
  * are idempotent under at-least-once replay, the maintenance loop
  * survives (and is exact over) MULTIPLE micro-batches, and adoption
  * is recall-gated — a refresh that hurts is rejected, one that helps
  * is adopted.
  */
class Round15StoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-round15-store-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-store15-$tag").toString

  test("residual store round-trip serves the in-memory residual relation path bit-for-bit") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    for ((nc, ck) <- Seq((8, 8), (4, 6))) {
      val dir = tmpDir(s"resid-$nc-$ck")
      IndexStore.buildIvfPqResidual(e, dir, numCells = nc, cellIters = 2,
        numSub = 4, codebookK = ck, pqIters = 2)
      val served = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      val mem = Similarity.ivfPqResidualTopK(e, q, k = 5, numCells = nc,
        cellIters = 2, probes = 2, numSub = 4, codebookK = ck,
        pqIters = 2)
      assert(served.columns.toSeq == mem.columns.toSeq)
      assert(rows(served) == rows(mem),
        s"residual store round-trip diverges from in-memory at ($nc, $ck)")
    }
  }

  test("residual filtered serve restricts to the allow-list before scoring") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val dir = tmpDir("resid-filt")
    IndexStore.buildIvfPqResidual(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val plain = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2)
    val all = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
      allowed = Some(e.select(col("vec_id"))))
    assert(rows(all) == rows(plain), "allow-everything must be a no-op")
    val lab = e.filter(col("label") === 3).select(col("vec_id"))
    val labIds = lab.collect().map(_.getLong(0)).toSet
    val filt = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
      allowed = Some(lab))
    val nids = filt.select(col("nid")).collect().map(_.getLong(0))
    assert(nids.nonEmpty && nids.forall(labIds.contains),
      "residual filtered serve leaked a non-allowed member")
  }

  test("serve with refineWith equals hand-composed refineTopK over the stored shortlist") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    for (build <- Seq(true, false)) {
      val dir = tmpDir(s"refine-$build")
      if (build) IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
        numSub = 4, codebookK = 6, pqIters = 2)
      else IndexStore.buildIvfPqResidual(e, dir, numCells = 6,
        cellIters = 2, numSub = 4, codebookK = 6, pqIters = 2)
      val refined = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
        refineWith = Some(e))
      val hand = Similarity.refineTopK(
        IndexStore.serveIvfPq(spark, dir, q, k = 20, probes = 2), e, q,
        k = 4)
      assert(rows(refined) == rows(hand),
        s"refineWith diverges from hand composition (plain=$build)")
      // refined scores are EXACT cosines — the column says so
      assert(refined.columns.contains("cos_exact"))
      // and composes with the allow-list (results stay inside it)
      val lab = e.filter(col("label") === 3).select(col("vec_id"))
      val labIds = lab.collect().map(_.getLong(0)).toSet
      val fr = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
        allowed = Some(lab), refineWith = Some(e))
      val frn = fr.select(col("nid")).collect().map(_.getLong(0))
      assert(frn.forall(labIds.contains),
        "refined filtered serve leaked a non-allowed member")
    }
  }

  test("versioned publish: reader isolation, atomic pointer swap, GC keeps the previous version") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val dir = tmpDir("iso")
    IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val m1 = IndexStore.currentManifest(spark, dir)
    assert(m1.version == 1L)
    // a reader PLANS against v1 (resolves the manifest + lists files)
    val plannedOnV1 = IndexStore.serveIvfPq(spark, dir, q, k = 4,
      probes = 2)
    val v1Rows = rows(plannedOnV1)
    // writer publishes v2 (maintenance refresh) while the reader holds
    // its plan
    val (_, maintained) = Similarity.ivfIndexMaintain(e, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.publishRefresh(e, dir, maintained)
    val m2 = IndexStore.currentManifest(spark, dir)
    assert(m2.version == 2L && m2.codebooks == m1.codebooks,
      "refresh must reuse the codebooks artifact")
    // the v1 reader still returns v1's EXACT rows — never a mix
    assert(rows(plannedOnV1) == v1Rows,
      "in-flight reader saw the new version's artifacts")
    // a re-resolved reader serves exactly the refreshed index
    val art = IndexStore.artifactPaths(spark, dir)
    val mem = Similarity.ivfPqServe(
      spark.read.parquet(art("codes"))
        .select(col("vec_id"), col("sub"), col("code"), col("cell")),
      spark.read.parquet(art("centroids")),
      spark.read.parquet(art("codebooks")), q, k = 4, probes = 2,
      numSub = 4, w = 16)
    assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2))
      == rows(mem))
    // a second publish GCs v1: manifest-1 gone, manifest-2/3 kept
    IndexStore.publishRefresh(e, dir, maintained)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSet
    assert(!names.contains("manifest-1") && names.contains("manifest-2")
      && names.contains("manifest-3"), names.toSeq.sorted.mkString(", "))
    // v1's unshared artifacts are GONE; everything v2/v3 reference
    // (including the codebooks/meta both reuse from v1) survives
    val artifactLike = names.filter(n =>
      n.matches("(centroids|codebooks|codes|meta)-\\d+"))
    val expected = Set("centroids-2", "codes-2", "centroids-3", "codes-3",
      "codebooks-1", "meta-1")
    assert(artifactLike == expected,
      s"artifacts on disk $artifactLike != referenced set $expected")
  }

  test("writeCentroids refuses a residual store (codes encode x − c)") {
    val e = embeddings
    val dir = tmpDir("resid-wc")
    IndexStore.buildIvfPqResidual(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val (_, maintained) = Similarity.ivfIndexMaintain(e, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    intercept[IllegalArgumentException] {
      IndexStore.writeCentroids(spark, dir, maintained)
    }
    // publishRefresh is the residual-correct path: it re-encodes, and
    // the refreshed store round-trips against the in-memory serve over
    // its own artifacts
    IndexStore.publishRefresh(e, dir, maintained)
    val q = e.filter(col("vec_id") < 3)
    val art = IndexStore.artifactPaths(spark, dir)
    val mem = Similarity.ivfPqResidualServe(
      spark.read.parquet(art("codes"))
        .select(col("vec_id"), col("sub"), col("code"), col("cell")),
      spark.read.parquet(art("centroids")),
      spark.read.parquet(art("codebooks")), q, k = 4, probes = 2,
      numSub = 4, w = 16)
    assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2))
      == rows(mem))
  }

  test("appendVectors is idempotent under at-least-once replay") {
    val e = embeddings
    val base = e.filter(col("vec_id") % 10 =!= 9)
    val arrived = e.filter(col("vec_id") % 10 === 9)
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"replay-$resid")
      if (resid) IndexStore.buildIvfPqResidual(base, dir, numCells = 6,
        cellIters = 2, numSub = 4, codebookK = 6, pqIters = 2)
      else IndexStore.buildIvfPq(base, dir, numCells = 6, cellIters = 2,
        numSub = 4, codebookK = 6, pqIters = 2)
      IndexStore.appendVectors(arrived, dir, batchId = 1)
      val art = IndexStore.artifactPaths(spark, dir)
      val once = rows(spark.read.parquet(art("codes"))
        .orderBy(col("vec_id"), col("sub")))
      // the replay: foreachBatch re-delivers the same batch
      IndexStore.appendVectors(arrived, dir, batchId = 1)
      val twice = rows(spark.read.parquet(art("codes"))
        .orderBy(col("vec_id"), col("sub")))
      assert(once == twice,
        s"replayed append changed the code stream (resid=$resid)")
      // batch 0 is reserved for the build
      intercept[IllegalArgumentException] {
        IndexStore.appendVectors(arrived, dir, batchId = 0)
      }
    }
  }

  test("recall gate: a refresh that hurts is rejected, one that helps is adopted") {
    import spark.implicits._
    // controlled geometry (dims = 8): ids 0-8 form one cluster along
    // dim 0 with a small id-increasing dim-7 component (distinct,
    // deterministic exact top-k), the query (id 9) leans on dim 7 but
    // shares the cluster's dim-0 base — the trained 2-cell index puts
    // it WITH (part of) its neighbors. A centroid pair that ISOLATES
    // the query's direction from the cluster's zeroes recall at
    // probes = 1; a collapse-to-one-cell pair is the ADC ceiling.
    val dims = 8
    val corpus = ((0L to 8L).map { i =>
      (i, (1.0f +: Seq.fill(dims - 2)(0.0f)) :+ (0.1f + 0.01f * i))
    } :+ ((9L, (0.5f +: Seq.fill(dims - 2)(0.0f)) :+ 1.0f)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") === 9)
    val dir = tmpDir("gate")
    IndexStore.buildIvfPq(corpus, dir, numCells = 2, cellIters = 2,
      numSub = 4, codebookK = 4, pqIters = 2)
    // pin a known-GOOD baseline (ungated refresh to the collapse
    // geometry: one probe scans the whole corpus → recall > 0), so the
    // gate comparisons below run against a measurable floor
    IndexStore.publishRefresh(corpus, dir, Seq(
      (0L, (1.0 +: Seq.fill(dims - 2)(0.0)) :+ 0.5),
      (1L, Seq.fill(dims)(0.0))))
    val vBefore = IndexStore.currentManifest(spark, dir).version
    val servedBefore = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
      probes = 1))
    // HURTS: cell 0 = the query's own direction (it sits there alone),
    // cell 1 = the neighbors' direction — one probe never reaches a
    // single true neighbor, recall 0
    val isolate: Seq[(Long, Seq[Double])] = Seq(
      (0L, (0.5 +: Seq.fill(dims - 2)(0.0)) :+ 1.0),
      (1L, 1.0 +: Seq.fill(dims - 1)(0.0)))
    val hurt = IndexStore.publishRefreshGated(corpus, dir, isolate, q,
      k = 5, probes = 1).head()
    assert(hurt.getAs[Double]("recall_after") == 0.0
      && hurt.getAs[Double]("recall_after")
        < hurt.getAs[Double]("recall_before"),
      s"fixture did not hurt recall: $hurt")
    assert(!hurt.getAs[Boolean]("adopted"),
      s"recall-hurting refresh was adopted: $hurt")
    // rejected ⇒ store untouched: same version, same serving
    assert(IndexStore.currentManifest(spark, dir).version == vBefore)
    assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 1))
      == servedBefore)
    // HELPS: another collapse geometry (same one-cell membership, a
    // slightly different centroid) — recall stays at the ADC ceiling,
    // non-regression adopts
    val collapse: Seq[(Long, Seq[Double])] = Seq(
      (0L, (1.0 +: Seq.fill(dims - 2)(0.0)) :+ 0.4),
      (1L, Seq.fill(dims)(0.0)))
    val help = IndexStore.publishRefreshGated(corpus, dir, collapse, q,
      k = 5, probes = 1).head()
    assert(help.getAs[Double]("recall_after")
      >= help.getAs[Double]("recall_before"), s"$help")
    assert(help.getAs[Boolean]("adopted"),
      s"non-regressing refresh was rejected: $help")
    // adopted ⇒ new version serving the refreshed index
    assert(IndexStore.currentManifest(spark, dir).version == vBefore + 1)
  }

  test("streaming maintenance loop over TWO micro-batches equals the batch API replayed twice") {
    val s = spark
    implicit val sq = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val e = embeddings
    val base = e.filter(col("vec_id") % 10 < 8)
    val b1 = e.filter(col("vec_id") % 10 === 8)
      .select(col("vec_id"), col("embedding"))
    val b2 = e.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), col("embedding"))
    def collected(df: DataFrame): Seq[(Long, Seq[Float])] =
      df.as[(Long, Seq[Float])].collect().toSeq
    assert(b1.count() > 0 && b2.count() > 0)
    // store A: TWO micro-batches through the stream sink — the
    // round-14 advisory crash case (batch 2 must see batch 1's
    // arrivals in the maintenance corpus)
    val dirA = tmpDir("two-a")
    IndexStore.buildIvfPq(base, dirA, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val qs = Ingest.ivfMaintainSink(
      mem.toDS().toDF("vec_id", "embedding"), base, dirA,
      tmpDir("two-ckpt"), numCells = 6, iters = 2, deltaMod = 10,
      churnThreshold = 0.1).start()
    try {
      mem.addData(collected(b1): _*)
      qs.processAllAvailable()
      mem.addData(collected(b2): _*)
      qs.processAllAvailable()
    } finally qs.stop()
    // store B: the same two rounds through the batch API
    val dirB = tmpDir("two-b")
    IndexStore.buildIvfPq(base, dirB, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val merged1 = base.select(col("vec_id"), col("embedding")).unionAll(b1)
    IndexStore.appendVectors(b1, dirB, batchId = 1)
    val (_, m1) = Similarity.ivfIndexMaintain(merged1, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.publishRefreshGated(merged1, dirB, m1,
      merged1.filter(col("vec_id") < 3), k = 5, probes = 2)
    val merged2 = merged1.unionAll(b2)
    IndexStore.appendVectors(b2, dirB, batchId = 2)
    val (_, m2) = Similarity.ivfIndexMaintain(merged2, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.publishRefreshGated(merged2, dirB, m2,
      merged2.filter(col("vec_id") < 3), k = 5, probes = 2)
    def artifact(dir: String, name: String): String =
      IndexStore.artifactPaths(spark, dir)(name)
    def sortedRows(path: String, keys: String*): Seq[Seq[Any]] =
      rows(spark.read.parquet(path).drop("batch")
        .orderBy(keys.map(col): _*))
    assert(sortedRows(artifact(dirA, "centroids"), "cid")
      == sortedRows(artifact(dirB, "centroids"), "cid"),
      "two-batch stream centroids diverge from the batch replay")
    assert(sortedRows(artifact(dirA, "codes"), "vec_id", "sub")
      == sortedRows(artifact(dirB, "codes"), "vec_id", "sub"),
      "two-batch stream codes diverge from the batch replay")
    // the decision log carries one row per micro-batch
    val logged = spark.read.parquet(s"$dirA/maintenance_log")
    assert(logged.count() == 2L, s"expected 2 log rows, got ${rows(logged)}")
    assert(logged.columns.toSet.contains("recall_before")
      && logged.columns.toSet.contains("adopted"))
    // serving from either store is identical
    val qv = e.filter(col("vec_id") < 3)
    assert(rows(IndexStore.serveIvfPq(spark, dirA, qv, k = 4, probes = 2))
      == rows(IndexStore.serveIvfPq(spark, dirB, qv, k = 4, probes = 2)))
  }

  test("pinned reader: warm serve ≡ cold serve bit-for-bit; the handle pins its version across a publish") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"reader-$resid")
      if (resid) IndexStore.buildIvfPqResidual(e, dir, numCells = 6,
        cellIters = 2, numSub = 4, codebookK = 6, pqIters = 2)
      else IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
        numSub = 4, codebookK = 6, pqIters = 2)
      val reader = IndexStore.openReader(spark, dir)
      val cold = rows(IndexStore.serveIvfPq(spark, dir, q, k = 4,
        probes = 2))
      assert(rows(reader.serve(q, k = 4, probes = 2)) == cold,
        s"warm serve diverges from cold (resid=$resid)")
      // maintenance publishes v2; the open handle stays on v1 — the
      // reader-isolation guarantee as an API — and a re-open serves v2
      val (_, maintained) = Similarity.ivfIndexMaintain(e, numCells = 6,
        iters = 2, deltaMod = 10, churnThreshold = 0.1)
      IndexStore.publishRefresh(e, dir, maintained)
      assert(reader.version == 1L)
      assert(rows(reader.serve(q, k = 4, probes = 2)) == cold,
        s"pinned reader saw the new version (resid=$resid)")
      val reopened = IndexStore.openReader(spark, dir)
      assert(reopened.version == 2L)
      assert(rows(reopened.serve(q, k = 4, probes = 2))
        == rows(IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2)),
        s"re-opened reader diverges from cold serve on v2 (resid=$resid)")
    }
  }

  test("pruned serve scans ONLY the probed cells' partitions, bit-identically to the full scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"prune-$resid")
      if (resid) IndexStore.buildIvfPqResidual(e, dir, numCells = 8,
        cellIters = 2, numSub = 4, codebookK = 6, pqIters = 2)
      else IndexStore.buildIvfPq(e, dir, numCells = 8, cellIters = 2,
        numSub = 4, codebookK = 6, pqIters = 2)
      // semantics first: the scan restriction must be invisible in the
      // results — the in-memory search scores the FULL code stream
      val full =
        if (resid) Similarity.ivfPqResidualTopK(e, q, k = 4, numCells = 8,
          cellIters = 2, probes = 2, numSub = 4, codebookK = 6, pqIters = 2)
        else Similarity.ivfPqTopK(e, q, k = 4, numCells = 8, cellIters = 2,
          probes = 2, numSub = 4, codebookK = 6, pqIters = 2)
      assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2))
        == rows(full),
        s"pruned serve diverges from the full-scan search (resid=$resid)")
      // plan shape: the broadcast ADC join keys on the partition column,
      // so Catalyst inserts a DYNAMIC partition-pruning filter on the
      // code-stream scan — the probed cells' files only, one execution,
      // zero extra jobs (AQE off so the executed plan is final at
      // inspection time — the repo's PlanSpec discipline)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val codesPath = IndexStore.artifactPaths(spark, dir)("codes")
        val totalFiles = spark.read.parquet(codesPath).inputFiles.length.toLong
        val dflt = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2)
        dflt.collect()
        val scans = dflt.queryExecution.executedPlan.collect {
          case f: FileSourceScanExec if f.relation.location.rootPaths
            .exists(_.toString.contains("codes-")) => f
        }
        assert(scans.nonEmpty, "no code-stream scan in the served plan")
        val dscan = scans.head
        assert(dscan.partitionFilters
          .exists(_.toString.contains("dynamicpruning")),
          s"no dynamic partition filter on the default serve: " +
            s"${dscan.partitionFilters.mkString(", ")} (resid=$resid)")
        // the restriction is exactly the probed width: ≤ probes×|q|
        // distinct cells, one file per (batch, cell) by layout
        val dScanned = dscan.metrics("numFiles").value
        assert(dScanned > 0 && dScanned <= 2L * 3L,
          s"DPP read $dScanned of $totalFiles code files (resid=$resid)")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }
}
