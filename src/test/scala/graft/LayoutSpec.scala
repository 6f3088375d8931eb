package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Layout, Similarity}

/** Round-13 layout planners (Z-order, compaction) + two-stage
  * retrieval (refine re-rank, hard-negative mining).
  */
class LayoutSpec extends AnyFunSuite with SharedSpark {

  /** Reference Morton interleave on the driver (bit-by-bit). */
  private def mortonRef(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, b) =>
      acc | (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))
    }

  test("mortonValue matches the driver-side bit interleave") {
    val s = spark; import s.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (5L, 3L),
      (65535L, 0L), (0L, 65535L), (65535L, 65535L), (1999L, 99L),
      (1234L, 4321L))
    val got = rows.toDF("x", "y")
      .withColumn("z", Layout.mortonValue(col("x"), col("y"), 16))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    rows.foreach { case (x, y) =>
      assert(got((x, y)) == mortonRef(x, y, 16),
        s"morton($x,$y) = ${got((x, y))}, want ${mortonRef(x, y, 16)}")
    }
    // the interleave is a bijection on the test grid (no collisions)
    assert(got.values.toSet.size == rows.toSet.size)
  }

  test("mortonValueN interleaves three dimensions (bit b of dim d at b*3+d)") {
    val s = spark; import s.implicits._
    def ref3(x: Long, y: Long, z: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, b) =>
        acc | (((x >> b) & 1L) << (3 * b)) |
          (((y >> b) & 1L) << (3 * b + 1)) |
          (((z >> b) & 1L) << (3 * b + 2))
      }
    val rows = Seq((0L, 0L, 0L), (1L, 2L, 4L), (7L, 7L, 7L),
      (5L, 3L, 6L), (1023L, 512L, 255L))
    val got = rows.toDF("x", "y", "z")
      .withColumn("m", Layout.mortonValueN(
        Seq(col("x"), col("y"), col("z")), 10))
      .collect().map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        r.getLong(3))).toMap
    rows.foreach { case t @ (x, y, z) =>
      assert(got(t) == ref3(x, y, z, 10),
        s"morton3$t = ${got(t)}, want ${ref3(x, y, z, 10)}")
    }
  }

  test("HilbertIndex: bijection onto 0..4^bits-1 and every step edge-adjacent (Morton is not)") {
    val s = spark; import s.implicits._
    val grid = (for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val h = grid.withColumn("d", Layout.hilbertValue(col("x"), col("y"), 4))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    // bijection: the 256 cells map exactly onto 0..255
    assert(h.map(_._1).toSeq == (0L until 256L).toSeq)
    // adjacency: consecutive indices are 4-neighbors — the Hilbert
    // property that makes contiguous ranges edge-connected regions
    h.sliding(2).foreach { w =>
      val (_, (x1, y1)) = w(0); val (_, (x2, y2)) = w(1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent Hilbert step ($x1,$y1)->($x2,$y2)")
    }
    // contrast: Morton takes long jumps (any step with |Δ| > 1)
    val m = grid.withColumn("d", Layout.mortonValue(col("x"), col("y"), 4))
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    val jumps = m.sliding(2).count { w =>
      val (_, (x1, y1)) = w(0); val (_, (x2, y2)) = w(1)
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(jumps > 0, "Morton should jump somewhere on a 16x16 grid")
  }

  test("curvePruning: hilbert skips at least as much as zorder, both beat linear") {
    val s = spark; import s.implicits._
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val got = Layout.curvePruning(grid, "x", "y", files = 16, bits = 6,
      grid = 4).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got.keySet == Set("hilbert", "linear", "zorder"))
    assert(got("hilbert") >= got("zorder"),
      s"hilbert ${got("hilbert")} < zorder ${got("zorder")}")
    assert(got("zorder") > got("linear"),
      s"zorder ${got("zorder")} <= linear ${got("linear")}")
  }

  test("eqDepthPruning: quantile normalization survives clustered keys, equi-width collapses") {
    val s = spark; import s.implicits._
    // narrow key islands across a huge range IN BOTH DIMS — the
    // scaled-corpus shape (sf1 lineitem) that collapses equi-width
    // bucketing; a dim has to be clustered for its lattice bits to
    // degenerate, and the collapse needs both
    val rows = for {
      (xi, yi) <- Seq((0L, 90000000L), (40000000L, 0L),
        (90000000L, 40000000L))
      i <- 0 until 800
    } yield (xi + i % 200, yi + i % 40)
    val df = rows.toDF("x", "y")
    val got = Layout.eqDepthPruning(df, "x", "y", files = 16, bits = 16,
      depthBits = 8, grid = 4).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    val (wFiles, _) = got("zorder")
    val (dFiles, dSkip) = got("zorder_eqdepth")
    // equi-width: almost all z-range buckets are empty (islands)
    assert(wFiles <= 6, s"equi-width should collapse on islands: $wFiles files")
    // equi-depth: quantile cuts spread the SAME rows over (nearly) all
    // 16 files — the joint z distribution can leave an odd bucket empty
    assert(dFiles >= 14L, s"equi-depth should fill (nearly) all files: $dFiles")
    // ... and those populated files are still tight enough to skip most
    // (file, box) pairs — the balance does not cost the pruning
    assert(dSkip >= 0.85, s"eqdepth skip ratio degraded: $dSkip")
  }

  test("zOrderLayout: z-order files are tight in BOTH dims, linear files span all of y") {
    val s = spark; import s.implicits._
    // a dense 64x64 grid: every (x, y) combination once
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val stats = Layout.zOrderLayout(grid, "x", "y", files = 16, bits = 6)
      .collect()
    val (zo, li) = stats.partition(_.getString(0) == "zorder")
    // linear layout: every file covers the FULL y range — y-predicates
    // prune nothing
    li.foreach { r =>
      assert(r.getLong(5) == 0L && r.getLong(6) == 63L,
        s"linear file ${r.getLong(1)} should span y fully: $r")
    }
    // z-order layout: every file covers at most a quarter of each dim
    // (on a dense grid, a 16-file z-split is 16 aligned quadrants)
    zo.foreach { r =>
      assert(r.getLong(4) - r.getLong(3) <= 15L,
        s"zorder file ${r.getLong(1)} x-span too wide: $r")
      assert(r.getLong(6) - r.getLong(5) <= 15L,
        s"zorder file ${r.getLong(1)} y-span too wide: $r")
    }
    // both layouts partition the rows exactly
    assert(zo.map(_.getLong(2)).sum == 64L * 64L)
    assert(li.map(_.getLong(2)).sum == 64L * 64L)
  }

  test("zOrderLayout plan: no window, no global sort — scan + hash aggregate only") {
    val s = spark; import s.implicits._
    val grid = (for (x <- 0 until 8; y <- 0 until 8)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val plan = Layout.zOrderLayout(grid, "x", "y", files = 4, bits = 3)
      .queryExecution.executedPlan.toString
    // the ONLY sort allowed is the final files-sized presentation sort;
    // file assignment must be a map-side expression (no Window, no
    // Exchange rangepartitioning over the data before aggregation)
    assert(!plan.contains("Window"), s"unexpected Window in plan:\n$plan")
  }

  test("compactionPlan: contiguous greedy bins, every group but the last crosses target") {
    val s = spark; import s.implicits._
    val files = Seq(
      ("a", 0L, 700L), ("a", 1L, 600L), ("a", 2L, 100L), ("a", 3L, 900L),
      ("a", 4L, 100L),
      ("b", 0L, 2500L), ("b", 1L, 100L),
      ("c", 0L, 50L)
    ).toDF("part", "seq", "bytes")
    val plan = Layout.compactionPlan(files, "part", "seq", "bytes", 1000L)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    val m = plan.toMap
    // a: 700+600 crosses 1000 -> grp0 {0,1}; 100+900 crosses -> grp1 {2,3};
    //    100 left -> grp2 {4}
    assert(m(("a", 0L)) == ((2L, 1300L, 0L, 1L)))
    assert(m(("a", 1L)) == ((2L, 1000L, 2L, 3L)))
    assert(m(("a", 2L)) == ((1L, 100L, 4L, 4L)))
    // b: 2500 alone overshoots two bins -> grp0 {0}; grp2 {1} (running-sum
    // bin index floor((cum-bytes)/target) = floor(2500/1000) = 2)
    assert(m(("b", 0L)) == ((1L, 2500L, 0L, 0L)))
    assert(m(("b", 2L)) == ((1L, 100L, 1L, 1L)))
    // c: single undersized file -> one group
    assert(m(("c", 0L)) == ((1L, 50L, 0L, 0L)))
    // groups are seq-contiguous and partition the file list
    assert(plan.map(_._2._1).sum == 8L)
  }

  test("zOrderPruning: z-order skips files on the dense grid, linear layout skips none in y-bands") {
    val s = spark; import s.implicits._
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val got = Layout.zOrderPruning(grid, "x", "y", files = 16, bits = 6,
      grid = 4).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))).toMap
    // dense 64x64 grid, 16 z-order files = 16x16 quadrants, 4x4 boxes =
    // 16x16 bands: each box intersects exactly ONE quadrant -> 16
    // touched of 256 pairs = skip ratio 0.9375
    assert(got("zorder") == ((16L, 16, 16L, 0.9375)))
    // linear files span all of y, so each box touches every file whose
    // x-range intersects: 4 x-bands x 16 boxes... each box's x-band
    // covers exactly 4 of the 16 x-striped files -> 64 touched, 0.75
    assert(got("linear") == ((16L, 16, 64L, 0.75)))
  }

  test("layoutHealth: small-file triage verdict") {
    val s = spark; import s.implicits._
    val files = Seq(
      // "fragmented": 4 files all under half target (500 < 1000)
      ("frag", 0L, 400L), ("frag", 1L, 500L), ("frag", 2L, 300L),
      ("frag", 3L, 450L),
      // "healthy": 2 big files
      ("ok", 0L, 5000L), ("ok", 1L, 4000L),
      // "single": one small file — nothing to merge
      ("single", 0L, 100L)
    ).toDF("part", "seq", "bytes")
    val got = Layout.layoutHealth(files, "part", "bytes", 2000L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got("frag") == ((4L, 1650L, 412.5, 1.0, true)))
    assert(got("ok") == ((2L, 9000L, 4500.0, 0.0, false)))
    assert(got("single") == ((1L, 100L, 100.0, 1.0, false)))
  }

  test("zOrderWrite: written files' footer stats are tight in both dims vs a linear write") {
    val s = spark; import s.implicits._
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y")
    def fileSpans(dir: String): Array[(Long, Long)] = {
      val by = spark.read.parquet(dir)
        .withColumn("f", input_file_name())
        .groupBy(col("f"))
        .agg((max(col("x")) - min(col("x"))).as("xs"),
          (max(col("y")) - min(col("y"))).as("ys"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      by
    }
    val zDir = tmpDir("graft_zw")
    Layout.zOrderWrite(grid, "x", "y", files = 16, bits = 6)
      .write.mode("overwrite").parquet(zDir)
    val lDir = tmpDir("graft_lw")
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(lDir)
    val zs = fileSpans(zDir)
    val ls = fileSpans(lDir)
    // all rows land somewhere, roughly balanced across 16 range buckets
    assert(zs.length >= 12 && zs.length <= 16, s"z files: ${zs.length}")
    // a z-range file covers at most ~2-3 Morton quadrants even when a
    // sampled boundary straddles blocks — far below the full 0..63
    zs.foreach { case (xsp, ysp) =>
      assert(xsp <= 47 && ysp <= 47, s"z-file span too wide: ($xsp, $ysp)")
    }
    assert(zs.map(_._2).sum.toDouble / zs.length <= 24.0,
      "z files' mean y-span should be quadrant-sized")
    // the linear layout never narrows y
    ls.foreach { case (_, ysp) => assert(ysp == 63L, s"linear y-span $ysp") }
  }

  test("fileManifest lists written part files with real sizes; layoutHealth consumes it") {
    val s = spark; import s.implicits._
    val dir = tmpDir("graft_manifest")
    (0 until 1000).map(i => (i.toLong, s"row $i payload"))
      .toDF("id", "t").repartition(4).write.mode("overwrite").parquet(dir)
    val m = Layout.fileManifest(spark, dir)
    val rows = m.collect()
    assert(rows.length == 4, s"expected 4 part files, got ${rows.length}")
    // seq is 0..3 in name order, bytes are the true on-disk sizes
    assert(rows.map(_.getLong(1)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    val sizes = rows.map(_.getLong(3))
    assert(sizes.forall(_ > 0))
    val disk = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length).sorted.toSeq
    assert(sizes.sorted.toSeq == disk)
    // the real manifest flows straight into the triage op: 4 tiny
    // files under a 1 MB target -> one partition needing compaction
    val health = Layout.layoutHealth(m, "part", "bytes", 1L << 20).collect()
    assert(health.length == 1 && health(0).getBoolean(5),
      s"expected needs_compaction=true: ${health.toSeq}")
  }

  test("compactionRewrite executes the plan: row set preserved, fewer files, healthy, idempotent") {
    val s = spark; import s.implicits._
    val dir = tmpDir("graft_compact")
    // 12 small files of INCOMPRESSIBLE rows (md5 hex — dictionary and
    // snappy can't shrink a merged group much below its input bytes),
    // target at ~3.5 file-sizes so each packed group's INPUT is ~1.14×
    // target and its rewritten output stays ABOVE target — otherwise a
    // recompressed output could dip under target and re-merge on the
    // second run, breaking the idempotence half of the spec
    def hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (0 until 6000).map(i =>
        (i.toLong, (0 until 4).map(j => hex(s"$i:$j")).mkString))
      .toDF("id", "t").repartition(12).write.mode("overwrite").parquet(dir)
    val before = Layout.fileManifest(spark, dir).collect()
    assert(before.length == 12)
    val target = before.map(_.getLong(3)).sum * 7 / 24 // ≈ 3.5 file-sizes
    val unhealthy = Layout.layoutHealth(
      Layout.fileManifest(spark, dir), "part", "bytes", target).collect()
    assert(unhealthy(0).getBoolean(5), "precondition: needs compaction")
    val rowsBefore = spark.read.parquet(dir)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)

    val report = Layout.compactionRewrite(spark, dir, target).collect()
    // every multi-file group rewritten, counts carried
    assert(report.exists(_.getBoolean(4)), "no group was rewritten")
    report.filter(_.getBoolean(4)).foreach { r =>
      assert(r.getLong(3) > 0, s"rewritten group carried 0 rows: $r")
    }
    // byte-identical row SET
    val rowsAfter = spark.read.parquet(dir)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(rowsAfter.length == rowsBefore.length &&
      rowsAfter.toSeq == rowsBefore.toSeq, "row set changed under compaction")
    // fewer files, and triage flips to healthy
    val after = Layout.fileManifest(spark, dir).collect()
    assert(after.length < before.length,
      s"no file-count reduction: ${before.length} -> ${after.length}")
    val healthy = Layout.layoutHealth(
      Layout.fileManifest(spark, dir), "part", "bytes", target).collect()
    assert(!healthy(0).getBoolean(5),
      s"still needs compaction after rewrite: ${healthy.toSeq}")
    // no staging residue
    assert(!new java.io.File(dir, ".compact_tmp").exists())

    // idempotence: a second run performs zero rewrites and leaves the
    // file list untouched (the Round13OpsSpec re-run pattern)
    val report2 = Layout.compactionRewrite(spark, dir, target).collect()
    assert(report2.forall(!_.getBoolean(4)),
      s"second run rewrote groups: ${report2.toSeq}")
    val after2 = Layout.fileManifest(spark, dir).collect()
    assert(after2.map(_.getString(2)).sorted.toSeq ==
      after.map(_.getString(2)).sorted.toSeq, "idempotent run moved files")
  }

  test("compactionPlanStream matches the batch planner across micro-batches") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val files = Seq(
      Ingest.FileMeta("a", 0L, 700L), Ingest.FileMeta("a", 1L, 600L),
      Ingest.FileMeta("a", 2L, 100L), Ingest.FileMeta("a", 3L, 900L),
      Ingest.FileMeta("a", 4L, 100L),
      Ingest.FileMeta("b", 0L, 2500L), Ingest.FileMeta("b", 1L, 100L))
    val mem = MemoryStream[Ingest.FileMeta]
    val q = Ingest.compactionPlanStream(mem.toDS(), 1000L)
      .writeStream.format("memory").queryName("compact_stream")
      .outputMode("append").start()
    try {
      // split MID-partition: state must carry a's running total across
      mem.addData(files.take(3): _*)
      q.processAllAvailable()
      mem.addData(files.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("compact_stream")
        .groupBy(col("part"), col("grp"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("grp_bytes"),
          min(col("seq")).as("first_seq"), max(col("seq")).as("last_seq"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val batch = Layout.compactionPlan(
        files.toDF(), "part", "seq", "bytes", 1000L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("compactionPlanStream flags out-of-seq-order arrivals with grp = -1") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val mem = MemoryStream[Ingest.FileMeta]
    val q = Ingest.compactionPlanStream(mem.toDS(), 1000L)
      .writeStream.format("memory").queryName("compact_ooo")
      .outputMode("append").start()
    try {
      // batch 1 bins seq 0 and 2; seq 1 then arrives LATE in batch 2 —
      // its batch-planner bin is unrecoverable, so it must be flagged,
      // and the in-order successor (seq 3) must bin as if the late
      // file never existed (running sum excludes flagged bytes)
      mem.addData(Ingest.FileMeta("a", 0L, 700L), Ingest.FileMeta("a", 2L, 600L))
      q.processAllAvailable()
      mem.addData(Ingest.FileMeta("a", 1L, 100L), Ingest.FileMeta("a", 3L, 900L))
      q.processAllAvailable()
      val got = spark.table("compact_ooo")
        .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
      assert(got(0L) == 0L && got(2L) == 0L, s"in-order bins changed: $got")
      assert(got(1L) == -1L, s"late seq 1 not flagged: $got")
      // cum after seq 0,2 = 1300 -> seq 3 bins at grp 1, late bytes excluded
      assert(got(3L) == 1L, s"successor bin shifted by late bytes: $got")
    } finally q.stop()
  }

  test("zoneStatsStream: incremental per-file stats equal the batch aggregate") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val rows = (0L until 60L).map(i =>
      Ingest.ZoneRow(i % 3, (i * 37) % 101, (i * 53) % 89))
    val mem = MemoryStream[Ingest.ZoneRow]
    val q = Ingest.zoneStatsStream(mem.toDS())
      .writeStream.format("memory").queryName("zone_stream")
      .outputMode("update").start()
    try {
      // three appends — min/max/count must fold ACROSS batches
      mem.addData(rows.take(20): _*); q.processAllAvailable()
      mem.addData(rows.slice(20, 40): _*); q.processAllAvailable()
      mem.addData(rows.drop(40): _*); q.processAllAvailable()
      // update mode re-emits per batch; the manifest entry is the LAST
      // row per file
      val streamed = spark.table("zone_stream")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("file"))
            .orderBy(col("n").desc)))
        .filter(col("rn") === 1).drop("rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val batch = rows.toDF()
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n"), min(col("x")).as("x_min"),
          max(col("x")).as("x_max"), min(col("y")).as("y_min"),
          max(col("y")).as("y_max"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("refineTopK over a full shortlist equals brute-force cosine top-k") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 3)
    // shortlist = every (query, candidate) pair -> refine IS brute force
    val all = e.select(col("vec_id").as("nid"))
      .crossJoin(q.select(col("vec_id").as("qid")))
      .filter(col("nid") =!= col("qid"))
    val refined = Similarity.refineTopK(all, e, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
        r.getDouble(2)))
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .collect()
    assert(refined.length == brute.length)
    val bruteSet = brute.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    refined.foreach { case (qid, rank, nid, _) =>
      assert(bruteSet.contains((qid, nid, rank)),
        s"refine/brute mismatch at ($qid, $nid, rank=$rank)")
    }
  }

  test("refineTopK on a lossy shortlist: exact scores, candidates only") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 3)
    val short = Similarity.ivfPqTopK(e, q, k = 10, numCells = 4,
      cellIters = 2, probes = 2, numSub = 4, codebookK = 8, pqIters = 2)
    val shortSet = short.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.refineTopK(short, e, q, k = 5).collect()
    // every refined hit came from the shortlist
    refined.foreach { r =>
      assert(shortSet.contains((r.getLong(0), r.getLong(1))))
    }
    // scores are the TRUE cosines (cross-checked against cosineTopK's
    // scoring of the same pair where present)
    val exact = Similarity.bruteForceTopK(e, q, 200).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    refined.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exact.get(key).foreach { c =>
        assert(math.abs(c - r.getDouble(2)) < 5e-7,
          s"refined score for $key is not the exact cosine")
      }
    }
  }

  test("hardNegatives: different-label only, pos_cos is the true positive max, semi-hard flag") {
    val s = spark; import s.implicits._
    def v(xs: Double*) = xs.map(_.toFloat)
    // two labels; query 0 has a near-duplicate positive (cos ~1) and
    // nearer/farther negatives
    val rows = Seq(
      (0L, v(1, 0, 0), 0),
      (1L, v(0.99, 0.14, 0), 0),  // hard positive, cos ~0.99
      (2L, v(0.9, 0.43, 0), 1),   // hard negative, cos 0.9 < pos
      (3L, v(0, 1, 0), 1),        // easy negative, cos 0
      (4L, v(1, 0.01, 0), 1)      // negative HARDER than the positive
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(rows, rows.filter(col("vec_id") === 0L),
      k = 3).collect()
    assert(got.length == 3)
    // ranked by cosine desc: 4 (~1.0), 2 (0.9), 3 (0.0)
    assert(got.map(_.getLong(1)).toSeq == Seq(4L, 2L, 3L))
    // pos_cos = cos(0, 1), the hardest same-label neighbor
    val posCos = got.head.getDouble(4)
    assert(math.abs(posCos - 0.990148) < 1e-6, s"pos_cos $posCos")
    // semi-hard: negative 4 beats the positive -> NOT semi-hard;
    // negatives 2 and 3 are below it -> semi-hard
    val flags = got.map(r => (r.getLong(1), r.getBoolean(5))).toMap
    assert(!flags(4L) && flags(2L) && flags(3L))
  }

  test("bloomSkipping: no false negatives, zone maps blind to scattered keys, absent keys zone-pruned") {
    val s = spark; import s.implicits._
    // 4 files bucketed by fk; the probe key i is UNcorrelated with fk
    // (i % 7 scatters keys across fk buckets), so every file's key
    // [min,max] spans most of the range — the zone map's blind spot.
    val rows = (0L until 400L).map(i => (i % 7, i))
    val df = rows.toDF("fk", "key")
    val got = Layout.bloomSkipping(df, "fk", "key", files = 4,
        hexDigits = 3, kHash = 2, nProbes = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    assert(got.keySet == Set(("bloom", "present"), ("bloom", "absent"),
      ("zonemap", "present"), ("zonemap", "absent")))
    // Bloom property: never a false negative — every truly-containing
    // file is touched, for BOTH methods
    Seq("bloom", "zonemap").foreach { m =>
      val (_, touched, trueF, _, _) = got((m, "present"))
      assert(touched >= trueF, s"$m misses containing files")
    }
    // zone maps on a scattered key: replicate the zone decision on the
    // driver (md5-ranked probes, per-file min/max) — exact expectation
    def md5hex(v: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(v.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val fileOf = (fk: Long) => math.min(3L, fk * 4 / 7)
    val zones = rows.groupBy(r => fileOf(r._1))
      .map { case (f, rs) => f -> (rs.map(_._2).min, rs.map(_._2).max) }
    val probes = rows.map(_._2).distinct
      .sortBy(k => (md5hex(k), k)).take(8)
    val expZt = (for { p <- probes; (_, (lo, hi)) <- zones
      if p >= lo && p <= hi } yield 1).size.toLong
    val (np, zt, ztrue, _, _) = got(("zonemap", "present"))
    assert(np == 8L && zt == expZt,
      s"zone touches: got $zt want $expZt")
    assert(zt > np * 3, "scattered keys must leave zone maps nearly blind")
    // absent keys beyond the global max: zone maps prune everything
    val (_, za, _, _, zskip) = got(("zonemap", "absent"))
    assert(za == 0L && zskip == 1.0)
    // the bloom prunes present-key lookups the zone map cannot
    val (_, bt, btrue, _, _) = got(("bloom", "present"))
    assert(bt < zt, "bloom must touch fewer files than the blind zone map")
    assert(btrue == ztrue, "both methods see the same containment truth")
  }

  test("bloomSkipping at saturation (tiny m): degrades to touch-everything, never false-negative") {
    val s = spark; import s.implicits._
    // m = 16 bits, 100 distinct keys per file: every bit set — the
    // filter degrades to the zone map's touch-everything behavior but
    // must NEVER miss a containing file (the property that makes a
    // Bloom safe to deploy at any sizing)
    val df = (0L until 400L).map(i => (i % 7, i)).toDF("fk", "key")
    val got = Layout.bloomSkipping(df, "fk", "key", files = 4,
        hexDigits = 1, kHash = 2, nProbes = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val (bt, btrue, _) = got(("bloom", "present"))
    assert(bt >= btrue, "saturated bloom must still touch every true file")
    // saturated: absent probes are (nearly) all false positives
    val (bat, _, bfp) = got(("bloom", "absent"))
    assert(bat > 0 && bfp > 0.9,
      s"16-bit bloom over 100 keys/file must saturate (touched=$bat fp=$bfp)")
  }

  test("bloomSkipping plan: no cartesian product, bit joins broadcast the probe side") {
    val s = spark; import s.implicits._
    val df = (0L until 100L).map(i => (i % 5, i)).toDF("fk", "key")
    val plan = Layout.bloomSkipping(df, "fk", "key", files = 4,
        hexDigits = 3, kHash = 2, nProbes = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastQueryStage"), "probe side must broadcast")
  }
}
