package graft

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexStore, Similarity}

/** Round-18 index-store specs: the PUBLISH SERIALIZER lets a
  * continuous maintenance stream and a continuous takedown stream
  * coexist on one store (interleaved and genuinely concurrent — zero
  * publish-guard trips, final serve ≡ a sequential application of the
  * same batches), TOMBSTONES make a delete store truth that survives
  * every corpus-consuming publish (refresh / rebuild / replayed
  * append), and the publish lifecycle is crash-injected at three
  * windows (artifacts-without-manifest, GC-skipped leftovers,
  * tombstone-without-publish) — the store must serve its old version
  * throughout, never lose a referenced artifact, and eventually
  * collect every orphan. The store queries (q193/q194/q197) build in a
  * per-call temp directory: each call starts from an empty store and
  * nothing is left behind.
  */
class Round18StoreSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)


  private def build(dir: String, e: DataFrame): Unit =
    IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Byte-copy a freshly built store so twin runs share ONE build
    * (two Lloyd runs can differ in the last ulp — see Round17's twin).
    */
  private def cloneStore(src: String, dst: String): Unit = {
    val fs = fsOf(src)
    fs.delete(new Path(dst), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(src), fs,
      new Path(dst), false, true, spark.sparkContext.hadoopConfiguration)
  }

  test("coexistence: interleaved maintain+delete sinks ≡ the same batches applied sequentially; all publishes logged") {
    val s = spark
    implicit val sq = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val base = e.filter(col("vec_id") % 10 < 8)
    val b1 = e.filter(col("vec_id") % 10 === 8)
      .select(col("vec_id"), col("embedding"))
    val b2 = e.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), col("embedding"))
    def collected(df: DataFrame): Seq[(Long, Seq[Float])] =
      df.as[(Long, Seq[Float])].collect().toSeq
    val dirA = tmpDir("coexist-a")
    val dirB = tmpDir("coexist-b")
    build(dirA, base)
    cloneStore(dirA, dirB)
    val victims = IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(4)
      .collect().map(_.getLong(0)).toSeq
    assert(victims.size == 4)
    val (d1, d2) = (victims.take(2), victims.drop(2))
    // store A: BOTH sinks live on one store, micro-batches interleaved
    // M1, D1, M2, D2 — the deployment shape the r17 single-writer
    // contract could not run (one stream would crash on the guard)
    val memM = MemoryStream[(Long, Seq[Float])]
    val memD = MemoryStream[Long]
    val qM = Ingest.ivfMaintainSink(
      memM.toDS().toDF("vec_id", "embedding"), base, dirA,
      tmpDir("coexist-ckm"), numCells = 6, iters = 2, deltaMod = 10,
      churnThreshold = 0.1).start()
    val qD = Ingest.indexDeleteSink(
      memD.toDS().toDF("vec_id"), dirA, tmpDir("coexist-ckd")).start()
    try {
      memM.addData(collected(b1): _*); qM.processAllAvailable()
      memD.addData(d1: _*); qD.processAllAvailable()
      memM.addData(collected(b2): _*); qM.processAllAvailable()
      memD.addData(d2: _*); qD.processAllAvailable()
      assert(qM.exception.isEmpty, s"maintain sink died: ${qM.exception}")
      assert(qD.exception.isEmpty, s"delete sink died: ${qD.exception}")
    } finally { qM.stop(); qD.stop() }
    // store B: the SAME batches through the batch API in the same
    // serial order (exactly what each sink's foreachBatch calls)
    IndexStore.appendVectors(b1, dirB, batchId = 1)
    val merged1 = base.select(col("vec_id"), col("embedding")).unionAll(b1)
    val (_, m1) = Similarity.ivfIndexMaintain(merged1, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.publishRefreshGated(merged1, dirB, m1,
      merged1.filter(col("vec_id") < 3), k = 5, probes = 2)
    IndexStore.deleteVectors(d1.toDF("vec_id"), dirB)
    IndexStore.appendVectors(b2, dirB, batchId = 2)
    val merged2 = merged1.unionAll(b2)
    val (_, m2) = Similarity.ivfIndexMaintain(merged2, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.publishRefreshGated(merged2, dirB, m2,
      merged2.filter(col("vec_id") < 3), k = 5, probes = 2)
    IndexStore.deleteVectors(d2.toDF("vec_id"), dirB)
    assert(rows(IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2))
      == rows(IndexStore.serveIvfPq(spark, dirB, q, k = 5, probes = 2)),
      "coexisting sinks diverge from the sequential batch application")
    // the takedowns bit and the arrivals serve
    val servedA = IndexStore.serveIvfPq(spark, dirA,
      e.filter(col("vec_id") % 10 >= 8).orderBy(col("vec_id")).limit(3),
      k = 1, probes = 2).select(col("nid"))
      .collect().map(_.getLong(0)).toSet
    assert(servedA.nonEmpty, "arrivals never serve on the shared store")
    assert(!rows(IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2))
      .exists(r => victims.contains(r(1))), "a victim survived")
    // every publish is on a log: 2 delete rows in ops_log (both
    // published), 2 maintenance decisions in the maintenance log
    val dels = IndexStore.opsLog(spark, dirA)
      .filter(col("op") === "delete").collect()
    assert(dels.length == 2 && dels.forall(_.getAs[Boolean]("published")),
      s"ops_log delete rows: ${dels.toSeq}")
    assert(graft.streaming.Ingest.maintenanceLog(spark, dirA)
      .select(col("batch_id")).distinct().count() == 2)
  }

  test("concurrent maintain + delete streams on one store: zero publish-guard trips, every batch lands") {
    val s = spark
    implicit val sq = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val base = e.filter(col("vec_id") % 10 < 8)
    val dir = tmpDir("conc")
    build(dir, base)
    val victims = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(4)
      .collect().map(_.getLong(0)).toSeq
    val arrivals = e.filter(col("vec_id") % 10 >= 8)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val memM = MemoryStream[(Long, Seq[Float])]
    val memD = MemoryStream[Long]
    val qM = Ingest.ivfMaintainSink(
      memM.toDS().toDF("vec_id", "embedding"), base, dir,
      tmpDir("conc-ckm"), numCells = 6, iters = 2, deltaMod = 10,
      churnThreshold = 0.1).start()
    val qD = Ingest.indexDeleteSink(
      memD.toDS().toDF("vec_id"), dir, tmpDir("conc-ckd")).start()
    try {
      // feed BOTH streams before draining either: the two queries'
      // micro-batch threads run their foreachBatch bodies genuinely
      // concurrently against one store — the serializer must queue
      // them (pre-r18 the loser crashed on the single-writer guard)
      memM.addData(arrivals.take(arrivals.size / 2): _*)
      memD.addData(victims.take(2): _*)
      memM.addData(arrivals.drop(arrivals.size / 2): _*)
      memD.addData(victims.drop(2): _*)
      qM.processAllAvailable()
      qD.processAllAvailable()
      assert(qM.exception.isEmpty,
        s"maintain sink tripped under concurrency: ${qM.exception}")
      assert(qD.exception.isEmpty,
        s"delete sink tripped under concurrency: ${qD.exception}")
    } finally { qM.stop(); qD.stop() }
    // invariants, independent of which serial order the lock chose:
    // every victim gone, arrivals serving, manifest consistent, the
    // ops_log's version intervals consistent with a serial history
    val served = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      .select(col("nid")).collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !served.contains(v)),
      s"victims served after concurrent delete: $served")
    val servedNew = IndexStore.serveIvfPq(spark, dir,
      e.filter(col("vec_id") % 10 >= 8).orderBy(col("vec_id")).limit(3),
      k = 1, probes = 2).count()
    assert(servedNew > 0, "arrivals never served after concurrent run")
    val ops = IndexStore.opsLog(spark, dir)
      .orderBy(col("version_after")).collect()
    assert(ops.filter(r => r.getAs[String]("op") == "delete"
      && r.getAs[Boolean]("published")).length >= 1,
      "no delete publish reached the ops_log")
    // a published op never reuses or skips backwards past a version
    val published = ops.filter(_.getAs[Boolean]("published"))
      .map(r => (r.getAs[Long]("version_before"),
        r.getAs[Long]("version_after")))
    assert(published.forall { case (b, a) => a == b + 1 },
      s"non-serial version interval in ops_log: ${published.toSeq}")
    assert(published.map(_._2).distinct.length == published.length,
      s"two publishes claimed one version: ${published.toSeq}")
  }

  test("tombstones: a takedown survives refresh, rebuild, and a replayed pre-takedown append (both kinds)") {
    val e = embeddings
    import spark.implicits._
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"tomb-$resid")
      if (resid) IndexStore.buildIvfPqResidual(e, dir, numCells = 6,
        cellIters = 2, numSub = 4, codebookK = 6, pqIters = 2)
      else build(dir, e)
      val q = e.filter(col("vec_id") < 3)
      val victims = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
        .select(col("nid")).distinct().orderBy(col("nid")).limit(2)
        .collect().map(_.getLong(0)).toSeq
      assert(IndexStore.deleteVectors(victims.toDF("vec_id"), dir).head()
        .getAs[String]("mode") == "patch")
      assert(IndexStore.tombstones(spark, dir)
        .collect().map(_.getLong(0)).toSet == victims.toSet)
      def codeIds(): Set[Long] = {
        val m = IndexStore.artifactPaths(spark, dir)
        spark.read.parquet(m("codes")).select(col("vec_id")).distinct()
          .collect().map(_.getLong(0)).toSet
      }
      def assertGone(stage: String): Unit = {
        val served = IndexStore.serveIvfPq(spark, dir, q, k = 5,
          probes = 2).select(col("nid")).collect().map(_.getLong(0))
        assert(victims.forall(v => !served.contains(v)),
          s"$stage resurrected a takedown (resid=$resid)")
      }
      // 1. an UNGATED refresh whose input is the full corpus —
      // INCLUDING the taken-down rows (the corpus table knows nothing
      // of the index's deletes). Pre-r18 the residual re-encode
      // resurrected them here.
      val (_, maintained) = Similarity.ivfIndexMaintain(e, numCells = 6,
        iters = 2, deltaMod = 10, churnThreshold = 0.1)
      IndexStore.publishRefresh(e, dir, maintained)
      assertGone("publishRefresh")
      assert(!codeIds().exists(victims.contains),
        s"refresh re-encoded tombstoned rows into the stream")
      // 2. a replayed pre-takedown feed appends the victims again
      IndexStore.appendVectors(
        e.filter(col("vec_id").isin(victims: _*)
          || col("vec_id") === 1L), dir, batchId = 7)
      assertGone("replayed append")
      // 3. a full REBUILD into the same store dir from the full corpus
      build(dir, e)
      assertGone("rebuild")
      assert(!codeIds().exists(victims.contains),
        s"rebuild re-indexed tombstoned rows")
    }
  }

  test("crash injection: artifacts-without-manifest, GC-skipped leftovers, tombstone-without-publish") {
    val e = embeddings
    import spark.implicits._
    val dir = tmpDir("crash")
    build(dir, e)
    val q = e.filter(col("vec_id") < 3)
    val fs = fsOf(dir)
    val m1 = IndexStore.currentManifest(spark, dir)
    val before = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
      probes = 2))

    // INJECTION 1 — crash BETWEEN artifact writes and manifest publish:
    // version v+1's artifact dirs exist, manifest-v+1 does not
    val orphanCodes = new Path(dir, s"codes-${m1.version + 1}")
    val orphanMeta = new Path(dir, s"meta-${m1.version + 1}")
    fs.mkdirs(orphanCodes); fs.mkdirs(orphanMeta)
    fs.create(new Path(orphanCodes, "part-junk.parquet"), true).close()
    // the store keeps serving the OLD version, bit-identically
    assert(IndexStore.currentManifest(spark, dir).version == m1.version)
    assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2))
      == before, "orphaned artifacts changed the served version")
    // the next real publish lands at v+1 and its GC collects every
    // unreferenced orphan
    val (_, maintained) = Similarity.ivfIndexMaintain(e, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.writeCentroids(spark, dir, maintained)
    val m2 = IndexStore.currentManifest(spark, dir)
    assert(m2.version == m1.version + 1)
    assert(!fs.exists(orphanCodes),
      "crash-orphaned codes dir survived the next publish's GC")
    assert(!fs.exists(orphanMeta),
      "crash-orphaned meta dir survived the next publish's GC")
    // ...and nothing the new manifest references was touched
    assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2))
      .nonEmpty)

    // INJECTION 2 — crash BETWEEN publish and GC (simulated leftovers
    // from an ancient version the crashed GC never collected)
    val staleManifest = new Path(dir, "manifest-0")
    val staleArtifact = new Path(dir, "centroids-0")
    fs.create(staleManifest, true).close()
    fs.mkdirs(staleArtifact)
    IndexStore.writeCentroids(spark, dir, maintained)
    assert(!fs.exists(staleManifest),
      "a pre-keep-window manifest survived the next publish's GC")
    assert(!fs.exists(staleArtifact),
      "an unreferenced ancient artifact survived the next publish's GC")

    // INJECTION 3 — crash AFTER the tombstone append, BEFORE the
    // delete publish: the takedown intent is durable, so the next
    // corpus-consuming publish must already honor it, and the replayed
    // delete completes without version churn
    val victims = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    victims.toDF("vec_id").coalesce(1).write.mode("append")
      .parquet(s"$dir/tombstones") // the crash state deleteVectors left
    IndexStore.publishRefresh(e, dir, maintained)
    val served = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      .select(col("nid")).collect().map(_.getLong(0))
    assert(victims.forall(v => !served.contains(v)),
      "a tombstoned-but-unpublished takedown leaked through the refresh")
    val vNow = IndexStore.currentManifest(spark, dir).version
    val replay = IndexStore.deleteVectors(victims.toDF("vec_id"), dir)
      .head()
    assert(replay.getAs[String]("mode") == "none"
      && !replay.getAs[Boolean]("published"),
      s"replayed takedown after refresh should be a no-op: $replay")
    assert(IndexStore.currentManifest(spark, dir).version == vNow)
  }

  private def tmpEntries: Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("graft-index-store-")).toSet

  /** Every file under the old shared store root, with its mtime. */
  private def sharedRoot: Map[String, Long] = {
    def walk(f: File): Seq[File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    val root = new File("/tmp/graft_index_store")
    if (!root.exists()) Map.empty
    else walk(root).map(f => f.getPath -> f.lastModified()).toMap
  }

  test("store queries build in a per-call temp store and leave nothing behind") {
    val before = (tmpEntries, sharedRoot)
    val stores = (1 to 2).map { _ =>
      var seen = ""
      val got = SparkEntry.withTempStore(spark) { store =>
        seen = store
        assert(!new File(store).exists(), "a call must start from an empty store")
        IndexStore.buildIvfPq(embeddings, store, numCells = 8,
          cellIters = 1, numSub = 4, codebookK = 8, pqIters = 1)
        assert(IndexStore.currentManifest(spark, store).version == 1L)
        IndexStore.serveIvfPq(spark, store,
          embeddings.filter(col("vec_id") < 3), k = 5, probes = 2)
      }
      // the served rows outlive the store they were served from
      assert(got.count() == 15L)
      assert(!new File(seen).getParentFile.exists(), s"$seen left behind")
      seen
    }
    assert(stores.distinct.size == 2)
    for (q <- Seq("q193_store_serve", "q194_filtered_ann",
        "q197_store_serve_residual")) {
      val run = SparkEntry.queries(q)
      val first = run(spark, sf).collect().toSeq
      assert(first.nonEmpty && run(spark, sf).collect().toSeq == first,
        s"$q: a repeated call must serve the same rows")
    }
    assert((tmpEntries, sharedRoot) == before,
      "a store query left files behind or wrote to the shared store root")
  }
}
