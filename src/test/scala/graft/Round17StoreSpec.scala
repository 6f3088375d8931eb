package graft

import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IndexManifest, IndexStore, Similarity}

/** Round-17 index-store specs: deletion is PARTITION-SCOPED (a
  * drop-list rewrites only its touched cells into an immutable patch
  * segment — bytes written ∝ touched fraction, never the corpus — and
  * the overlay algebra is bit-identical to the full rewrite under
  * every composition: chains, later appends, replayed appends,
  * compaction), GC retention is configurable (keep-N so a long-pinned
  * reader survives rapid publishes), the reopen carry-over check
  * catches a same-name in-place REWRITE via mtime (not just a grown
  * batch set), and the publish guard fail-stops cross-process via the
  * create-exclusive tmp.
  */
class Round17StoreSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)


  private def build(dir: String, resid: Boolean, e: DataFrame): Unit =
    if (resid) IndexStore.buildIvfPqResidual(e, dir, numCells = 6,
      cellIters = 2, numSub = 4, codebookK = 6, pqIters = 2)
    else IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive file bytes under a store-relative artifact dir. */
  private def bytesUnder(dir: String, name: String): Long = {
    val fs = fsOf(dir)
    val it = fs.listFiles(new Path(dir, name), true)
    var total = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.startsWith("part-")) total += st.getLen
    }
    total
  }

  /** Every data file of the code segment `seg` under `dir` is zstd, its
    * `vec_id` chunk has no dictionary page, and its rows are in
    * (vec_id, sub) order.
    */
  private def assertCompactSegment(dir: String, seg: String): Unit = {
    val footers = PlanSpec.footers(spark, s"$dir/$seg")
    assert(footers.nonEmpty, s"$seg holds no files")
    val chunks = for {
      (f, footer) <- footers
      block <- footer.getBlocks.asScala
      chunk <- block.getColumns.asScala
    } yield (f, chunk)
    val notZstd = chunks.filter(_._2.getCodec != CompressionCodecName.ZSTD)
    assert(notZstd.isEmpty,
      notZstd.map { case (f, c) => s"$f ${c.getPath}: ${c.getCodec}" })
    val dictIds = chunks.filter { case (_, c) =>
      c.getPath.toDotString == "vec_id" && c.hasDictionaryPage }
    assert(dictIds.isEmpty, s"vec_id chunks with a dictionary page: ${dictIds.map(_._1)}")
    val byFile = spark.read.parquet(s"$dir/$seg")
      .select(input_file_name(), monotonically_increasing_id(), col("vec_id"),
        col("sub").cast("long"))
      .collect().toSeq.groupBy(_.getString(0))
    assert(byFile.size == footers.size)
    val unordered = byFile.collect { case (f, rs)
      if rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3)))
        .sliding(2).exists { case Seq(a, b) => Ordering[(Long, Long)].gt(a, b)
          case _ => false } => f }
    assert(unordered.isEmpty, s"files out of (vec_id, sub) order: $unordered")
  }

  test("partition-scoped delete: patch holds only touched cells, bytes ∝ touched fraction, serve ≡ allow-list complement (both kinds)") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    import spark.implicits._
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"patch-$resid")
      build(dir, resid, e)
      val m1 = IndexStore.currentManifest(spark, dir)
      val served = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      val victims = served.select(col("nid")).distinct()
        .orderBy(col("nid")).limit(2)
        .collect().map(_.getLong(0)).toSeq
      val drop = (victims :+ 999999999L).toDF("vec_id")
      val remaining = e.select(col("vec_id"))
        .join(drop, Seq("vec_id"), "left_anti")
      val expect = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
        probes = 2, allowed = Some(remaining)))
      val report = IndexStore.deleteVectors(drop, dir).head()
      assert(report.getAs[String]("mode") == "patch"
        && report.getAs[Boolean]("published")
        && report.getAs[Long]("n_rows_removed") == 2L * 4L,
        s"unexpected delete report: $report")
      val m2 = IndexStore.currentManifest(spark, dir)
      // primary + trained artifacts reused BY NAME — nothing corpus-
      // sized was rewritten; the patch is a new overlay segment
      assert(m2.codes == m1.codes && m2.centroids == m1.centroids
        && m2.codebooks == m1.codebooks && m2.meta == m1.meta)
      assert(m2.patches.size == 1)
      val p = m2.patches.head
      val nTouched = report.getAs[Long]("n_cells_touched")
      assert(p.cells.size == nTouched && nTouched <= 2,
        s"2 victims touch at most 2 cells, got ${p.cells}")
      // the patch dir physically holds ONLY the touched cells
      val fs = fsOf(dir)
      val patchCells = fs.listStatus(new Path(s"$dir/${p.dir}", "batch=0"))
        .map(_.getPath.getName.stripPrefix("cell=").toLong).toSet
      assert(patchCells == p.cells.toSet,
        s"patch dirs $patchCells != manifest cells ${p.cells}")
      // bytes written ∝ touched fraction: the patch is strictly smaller
      // than the touched share of the primary would bound, and far
      // below the full stream (6 cells, ≤2 touched)
      val patchBytes = bytesUnder(dir, p.dir)
      val primaryBytes = bytesUnder(dir, m2.codes)
      assert(patchBytes > 0 && patchBytes < primaryBytes / 2,
        s"patch $patchBytes bytes vs primary $primaryBytes — not scoped")
      // serving equivalence + the takedown really bites
      val after = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
        probes = 2))
      assert(after == expect,
        s"patched serve diverges from allow-list complement (resid=$resid)")
      assert(!after.exists(r => victims.contains(r(1))))
      // replay: publishes nothing, no version churn, no second patch
      val replay = IndexStore.deleteVectors(drop, dir).head()
      assert(!replay.getAs[Boolean]("published")
        && replay.getAs[String]("mode") == "none")
      assert(IndexStore.currentManifest(spark, dir).version == m2.version
        && IndexStore.currentManifest(spark, dir).patches.size == 1)
    }
  }

  test("patch chain ≡ full rewrite for every composition: chained deletes, later append, compaction fold") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    import spark.implicits._
    // twin stores: A deletes via patches, B forces the full rewrite —
    // every serve along the way must be row-identical
    val dirA = tmpDir("twin-a")
    val dirB = tmpDir("twin-b")
    val base = e.filter(col("vec_id") % 10 < 8)
    // ONE build, byte-copied: shuffle-order summation drift could make
    // two Lloyd runs differ in the last ulp, which would be a false
    // twin divergence — the twins must differ ONLY in delete mode
    build(dirA, resid = false, base)
    val fs = fsOf(dirA)
    // dst must not pre-exist or FileUtil.copy nests src UNDER it
    fs.delete(new Path(dirB), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dirA), fs,
      new Path(dirB), false, true, spark.sparkContext.hadoopConfiguration)
    def serveBoth(): Unit = {
      val a = rows(IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2))
      val b = rows(IndexStore.serveIvfPq(spark, dirB, q, k = 5, probes = 2))
      assert(a == b, "patch-path store diverges from full-rewrite twin")
    }
    val victims = IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(4)
      .collect().map(_.getLong(0)).toSeq
    val (d1, d2) = (victims.take(2), victims.drop(2))
    // chained deletes
    assert(IndexStore.deleteVectors(d1.toDF("vec_id"), dirA).head()
      .getAs[String]("mode") == "patch")
    assert(IndexStore.deleteVectors(d1.toDF("vec_id"), dirB,
      maxPatches = 0).head().getAs[String]("mode") == "full")
    serveBoth()
    assert(IndexStore.deleteVectors(d2.toDF("vec_id"), dirA).head()
      .getAs[String]("mode") == "patch")
    assert(IndexStore.deleteVectors(d2.toDF("vec_id"), dirB,
      maxPatches = 0).head().getAs[String]("mode") == "full")
    assert(IndexStore.currentManifest(spark, dirA).patches.size == 2)
    serveBoth()
    // a LATER append lands new vectors — including into touched cells —
    // and they must serve on both twins (the patch's batch qualifier
    // keeps post-delete batches visible)
    val arrivals = e.filter(col("vec_id") % 10 >= 8)
    IndexStore.appendVectors(arrivals, dirA, batchId = 1L)
    IndexStore.appendVectors(arrivals, dirB, batchId = 1L)
    serveBoth()
    val servedIds = IndexStore.serveIvfPq(spark, dirA,
      arrivals.orderBy(col("vec_id")).limit(3), k = 1, probes = 2)
      .select(col("nid")).collect().map(_.getLong(0)).toSet
    assert(servedIds.nonEmpty, "appended vectors never serve")
    // compaction folds the patch chain back to one segment
    val rep = IndexStore.compactCodes(spark, dirA).head()
    assert(rep.getAs[Boolean]("published")
      && rep.getAs[Long]("n_batches_in") == 2L + 2L, // 2 batches + 2 patches
      s"unexpected compact report: $rep")
    val mA = IndexStore.currentManifest(spark, dirA)
    assert(mA.patches.isEmpty
      && IndexStore.codeBatches(spark, dirA) == Seq(0L))
    serveBoth()
    // dropped ids stay gone through every composition
    val finalIds = IndexStore.serveIvfPq(spark, dirA, q, k = 5, probes = 2)
      .select(col("nid")).collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !finalIds.contains(v)))
  }

  test("a replayed append cannot resurrect deleted rows, and reopen re-reads on the in-place rewrite (mtime catch)") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    import spark.implicits._
    val dir = tmpDir("resurrect")
    val base = e.filter(col("vec_id") % 10 < 8)
    build(dir, resid = false, base)
    val arrivals = e.filter(col("vec_id") % 10 >= 8)
    IndexStore.appendVectors(arrivals, dir, batchId = 1L)
    // drop two of the APPENDED vectors (their code rows live in batch=1)
    val victims = arrivals.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(2).collect().map(_.getLong(0)).toSeq
    val del = IndexStore.deleteVectors(victims.toDF("vec_id"), dir).head()
    assert(del.getAs[String]("mode") == "patch"
      && del.getAs[Long]("n_rows_removed") == 2L * 4L)
    val afterDelete = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
      probes = 2))
    val reader = IndexStore.openReader(spark, dir)
    assert(rows(reader.serve(q, k = 5, probes = 2)) == afterDelete)
    // the at-least-once replay: batch 1 re-delivered AFTER the delete —
    // its dynamic overwrite rewrites batch=1 in place, re-adding the
    // dropped rows to the PRIMARY segment...
    IndexStore.appendVectors(arrivals, dir, batchId = 1L)
    // ...but the patch's (cells × batches-at-delete) slice supersedes
    // them: serve is unchanged, nothing resurrects
    assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2))
      == afterDelete, "replayed append resurrected deleted rows")
    // a centroid-only publish now bumps the version WITHOUT renaming
    // the code stream; the batch NAME set is unchanged too — only the
    // rewritten batch=1 mtime betrays that the held file index points
    // at deleted part- files. The mtime comparison must force a
    // re-read, not a stale carry-over (which would FileNotFound).
    val (_, maintained) = Similarity.ivfIndexMaintain(
      base.unionAll(arrivals), numCells = 6, iters = 2, deltaMod = 10,
      churnThreshold = 0.1)
    IndexStore.writeCentroids(spark, dir, maintained)
    val r2 = reader.reopen()
    assert(!(r2.rawCodes eq reader.rawCodes),
      "reopen reused a file index across an in-place batch rewrite")
    assert(rows(r2.serve(q, k = 5, probes = 2))
      == rows(IndexStore.openReader(spark, dir).serve(q, k = 5,
        probes = 2)),
      "reopened reader diverges from cold open after replay + publish")
  }

  test("gc keep-N: a pinned reader survives N-1 publishes with keep-N, and fails loudly past the default retention") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    // each publish rewrites the code stream, the artifact a pinned
    // reader reads from disk on every serve (it holds its centroid and
    // codebook rows in memory)
    def codesPublish(dir: String): Unit = IndexStore.reassignCells(e, dir)
    // keep-N = 3: a reader pinned at v1 survives TWO publishes
    val dirK = tmpDir("keep3")
    build(dirK, resid = false, e)
    IndexStore.setKeepVersions(spark, dirK, 3)
    val pinned = IndexStore.openReader(spark, dirK)
    val before = rows(pinned.serve(q, k = 4, probes = 2))
    codesPublish(dirK); codesPublish(dirK)
    assert(IndexStore.currentManifest(spark, dirK).version
      == pinned.version + 2)
    assert(rows(pinned.serve(q, k = 4, probes = 2)) == before,
      "pinned reader lost its artifacts under keep-3")
    // default keep 2: the same sequence collects v1's code stream
    // and the pinned serve fails LOUDLY (missing-file read error), not
    // silently with partial rows
    val dirD = tmpDir("keep2")
    build(dirD, resid = false, e)
    val pinned2 = IndexStore.openReader(spark, dirD)
    assert(rows(pinned2.serve(q, k = 4, probes = 2)).nonEmpty)
    codesPublish(dirD); codesPublish(dirD)
    val thrown = intercept[Exception] {
      pinned2.serve(q, k = 4, probes = 2).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(thrown).exists(t =>
      t.isInstanceOf[java.io.FileNotFoundException]
        || String.valueOf(t.getMessage).contains("FileNotFound")
        || String.valueOf(t.getMessage).contains("does not exist")
        || String.valueOf(t.getMessage).contains("PATH_NOT_FOUND")),
      s"expected a missing-file error, got $thrown")
  }

  test("publish guard fail-stops cross-process: an orphaned tmp (a concurrent or crashed publisher) blocks the version loudly") {
    val e = embeddings
    val dir = tmpDir("xproc")
    build(dir, resid = false, e)
    val m = IndexStore.currentManifest(spark, dir)
    val fs = fsOf(dir)
    // simulate the OTHER process mid-publish: its create-exclusive tmp
    // exists; our rename-based publish must fail-stop, not overwrite
    val tmp = new Path(dir, s".manifest-${m.version + 1}.tmp")
    fs.create(tmp, false).close()
    val ex = intercept[IllegalStateException] {
      IndexStore.publishManifest(spark, dir,
        m.copy(version = m.version + 1))
    }
    assert(ex.getMessage.contains("single-writer"), s"got $ex")
    // the store still serves its consistent version
    assert(IndexStore.currentManifest(spark, dir).version == m.version)
    // operator recovery: delete the orphan, the version is re-admitted
    fs.delete(tmp, false)
    IndexStore.publishManifest(spark, dir, m.copy(version = m.version + 1))
    assert(IndexStore.currentManifest(spark, dir).version == m.version + 1)
  }

  test("ops-log self-compaction: after N decisions the directory holds O(1) files and round-trips identically") {
    import spark.implicits._
    val logDir = tmpDir("opslog") + "/ops_log"
    // the logOp write shape: one coalesced tiny file per decision
    for (i <- 1 to (IndexStore.LogCompactFiles + 8))
      Seq(("op", i.toLong, i.toLong + 1, true, i.toLong))
        .toDF("op", "version_before", "version_after", "published",
          "detail")
        .coalesce(1).write.mode("append").parquet(logDir)
    val before = spark.read.parquet(logDir)
      .orderBy(col("version_before")).collect().toSeq
    val fs = fsOf(logDir)
    def nFiles = fs.listStatus(new Path(logDir)).count(st =>
      st.isFile && st.getPath.getName.startsWith("part-"))
    assert(nFiles == IndexStore.LogCompactFiles + 8)
    IndexStore.compactLogIfGrown(spark, logDir)
    assert(nFiles <= 2, s"compaction left $nFiles files")
    assert(spark.read.parquet(logDir)
      .orderBy(col("version_before")).collect().toSeq == before,
      "log rows did not round-trip through compaction")
    // idempotent + under-threshold no-op: a second pass changes nothing
    val stamp = fs.listStatus(new Path(logDir))
      .filter(_.getPath.getName.startsWith("part-"))
      .map(st => st.getPath.getName -> st.getModificationTime).toSeq
    IndexStore.compactLogIfGrown(spark, logDir)
    assert(fs.listStatus(new Path(logDir))
      .filter(_.getPath.getName.startsWith("part-"))
      .map(st => st.getPath.getName -> st.getModificationTime).toSeq
      == stamp, "second compaction pass touched the compacted log")
  }

  test("maintenance-log fold: old batch partitions archive flat, the accessor round-trips, archive-wins heals the crash window") {
    import spark.implicits._
    val storeDir = tmpDir("maintlog")
    val live = s"$storeDir/maintenance_log"
    // the sink's write shape: one batch-keyed partition per decision
    def writeBatch(b: Long, tag: String): Unit =
      Seq((tag, 0.5, b)).toDF("action", "recall", "batch_id")
        .coalesce(1).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(live)
    for (b <- 0L to 5L) writeBatch(b, s"decision-$b")
    val before = graft.streaming.Ingest.maintenanceLog(spark, storeDir)
      .orderBy(col("batch_id")).collect().toSeq.map(_.toSeq)
    assert(before.size == 6)
    graft.streaming.Ingest.foldMaintenanceLog(spark, storeDir,
      keepBatches = 2)
    val fs = fsOf(storeDir)
    // batches ≤ max−keep = 3 folded; live keeps the replay window
    val liveParts = fs.listStatus(new Path(live))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).sorted
    assert(liveParts.toSeq == Seq("batch_id=4", "batch_id=5"),
      s"live kept $liveParts")
    assert(fs.exists(new Path(s"$storeDir/maintenance_log_arch")))
    assert(graft.streaming.Ingest.maintenanceLog(spark, storeDir)
      .orderBy(col("batch_id")).collect().toSeq.map(_.toSeq) == before,
      "fold changed the visible log")
    // re-fold: no-op (idempotent)
    graft.streaming.Ingest.foldMaintenanceLog(spark, storeDir,
      keepBatches = 2)
    assert(graft.streaming.Ingest.maintenanceLog(spark, storeDir)
      .count() == 6)
    // crash window: a folded batch's live partition reappears (a fold
    // that crashed between append and delete, or an ancient replay) —
    // the accessor must NOT double-count it (archive wins), and the
    // next fold deletes it WITHOUT re-appending
    writeBatch(2L, "decision-2")
    assert(graft.streaming.Ingest.maintenanceLog(spark, storeDir)
      .orderBy(col("batch_id")).collect().toSeq.map(_.toSeq) == before,
      "accessor double-counted a batch present in live AND archive")
    graft.streaming.Ingest.foldMaintenanceLog(spark, storeDir,
      keepBatches = 2)
    assert(!fs.exists(new Path(live, "batch_id=2")),
      "re-fold left the duplicate live partition")
    assert(graft.streaming.Ingest.maintenanceLog(spark, storeDir)
      .orderBy(col("batch_id")).collect().toSeq.map(_.toSeq) == before)
  }

  test("serve on a PATCHED store still restricts every code-stream scan to the probed cells") {
    import spark.implicits._
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val dir = tmpDir("patchscan")
    build(dir, resid = false, e)
    val victims = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    assert(IndexStore.deleteVectors(victims.toDF("vec_id"), dir).head()
      .getAs[String]("mode") == "patch")
    // the logical stream is now a UNION (primary + patch); the serve
    // contract — scan I/O ∝ probed cells, not the corpus — must hold
    // for EVERY branch, or a deleted store silently reads the corpus
    // until compaction folds the patch
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      df.collect()
      import org.apache.spark.sql.execution.FileSourceScanExec
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("codes-")) => f
      }
      assert(scans.size == 2, s"expected primary+patch scans, got ${scans.size}")
      scans.foreach { s =>
        // every branch must carry the dynamic partition-pruning filter;
        // a strict files-read reduction is asserted on the CORPUS-sized
        // primary segment only (the patch holds just the touched cells,
        // which the probes may legitimately cover in full)
        val total = s.relation.location.inputFiles.length
        val read = s.metrics("numFiles").value
        val isPrimary = total > 2
        val pruned = s.partitionFilters.exists(
          _.toString.contains("dynamicpruning"))
        assert(pruned && (!isPrimary || read < total),
          s"codes scan over ${s.relation.location.rootPaths.head} read " +
            s"$read of $total files without dynamic pruning " +
            s"(partitionFilters=${s.partitionFilters})")
      }
    }
  }

  test("compactIfAged counts deletion patches as layers") {
    val e = embeddings
    import spark.implicits._
    val dir = tmpDir("agedpatch")
    build(dir, resid = false, e)
    val q = e.filter(col("vec_id") < 3)
    val victims = IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    IndexStore.deleteVectors(Seq(victims.head).toDF("vec_id"), dir)
    IndexStore.deleteVectors(Seq(victims(1)).toDF("vec_id"), dir)
    // 1 batch + 2 patches = 3 layers: under 3 ⇒ no-op, at 2 ⇒ compact
    assert(IndexStore.compactIfAged(spark, dir, maxBatches = 3).isEmpty)
    val rep = IndexStore.compactIfAged(spark, dir, maxBatches = 2)
    assert(rep.isDefined && rep.get.head().getAs[Boolean]("published"))
    assert(IndexStore.currentManifest(spark, dir).patches.isEmpty)
  }

  test("a delete that touches every cell publishes the full fold, not a patch (both kinds)") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    import spark.implicits._
    for (resid <- Seq(false, true)) {
      val dir = tmpDir(s"allcells-$resid")
      build(dir, resid, e)
      val m1 = IndexStore.currentManifest(spark, dir)
      // one victim in each of the 6 cells
      val victims = spark.read.parquet(s"$dir/${m1.codes}")
        .groupBy(col("cell")).agg(min(col("vec_id")))
        .collect().map(_.getLong(1)).toSeq
      assert(victims.size == 6, s"not every cell holds a vector: $victims")
      val drop = victims.toDF("vec_id")
      val remaining = e.select(col("vec_id"))
        .join(drop, Seq("vec_id"), "left_anti")
      val expect = rows(IndexStore.serveIvfPq(spark, dir, q, k = 5,
        probes = 2, allowed = Some(remaining)))
      val report = IndexStore.deleteVectors(drop, dir).head()
      assert(report.getAs[String]("mode") == "full"
        && report.getAs[Boolean]("published")
        && report.getAs[Long]("n_cells_touched") == 6L
        && report.getAs[Long]("n_rows_removed") == 6L * 4L,
        s"unexpected delete report: $report")
      val m2 = IndexStore.currentManifest(spark, dir)
      assert(m2.patches.isEmpty && m2.codes != m1.codes
        && IndexStore.codeBatches(spark, dir) == Seq(0L))
      assert(rows(IndexStore.serveIvfPq(spark, dir, q, k = 5, probes = 2))
        == expect, s"folded serve diverges from allow-list complement (resid=$resid)")
    }
  }

  test("every code-segment path writes zstd files with a plain vec_id chunk in (vec_id, sub) order; index relations are one file each") {
    val e = embeddings
    import spark.implicits._
    val dir = tmpDir("codec")
    build(dir, resid = false, e.filter(col("vec_id") % 10 < 8))
    def current: IndexManifest = IndexStore.currentManifest(spark, dir)
    def relationsOneFile(): Unit = {
      val m = current
      for (a <- Seq(m.centroids, m.codebooks, m.meta))
        assert(PlanSpec.footers(spark, s"$dir/$a").size == 1, s"$a holds more than one file")
    }
    relationsOneFile()
    val built = current.codes
    assertCompactSegment(dir, built)
    IndexStore.appendVectors(e.filter(col("vec_id") % 10 === 8), dir, batchId = 1L)
    assert(IndexStore.codeBatches(spark, dir) == Seq(0L, 1L))
    assertCompactSegment(dir, built)
    val victims = IndexStore.serveIvfPq(spark, dir, e.filter(col("vec_id") < 3),
        k = 5, probes = 2)
      .select(col("nid")).distinct().orderBy(col("nid")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    assert(IndexStore.deleteVectors(Seq(victims.head).toDF("vec_id"), dir).head()
      .getAs[String]("mode") == "patch")
    assertCompactSegment(dir, current.patches.head.dir)
    assert(IndexStore.deleteVectors(Seq(victims(1)).toDF("vec_id"), dir,
      maxPatches = 0).head().getAs[String]("mode") == "full")
    assertCompactSegment(dir, current.codes)
    IndexStore.appendVectors(e.filter(col("vec_id") % 10 === 9), dir, batchId = 2L)
    assert(IndexStore.compactCodes(spark, dir).head().getAs[Boolean]("published"))
    assertCompactSegment(dir, current.codes)
    // a refresh republishes the stored centroids through the relation
    // writer and the code stream through the code writer
    val reader = IndexStore.openReader(spark, dir)
    val cent = spark.read.parquet(s"$dir/${current.centroids}").collect().toSeq
      .map(r => r.getAs[Long]("cid") -> r.getAs[scala.collection.Seq[Double]]("cv").toSeq)
    IndexStore.publishRefresh(e, dir, cent)
    assertCompactSegment(dir, current.codes)
    relationsOneFile()
    // the pinned reader holds the centroid and codebook rows as local
    // relations, also after a reopen re-reads the new centroids
    val reopened = reader.reopen()
    assert(!(reopened.centRel eq reader.centRel))
    for (r <- Seq(reader, reopened); rel <- Seq(r.centRel, r.bookRel))
      assert(rel.queryExecution.analyzed.isInstanceOf[LocalRelation])
  }
}
