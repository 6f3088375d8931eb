package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{IndexStore, Similarity}

/** Serve-under-maintenance soak (BASELINE.md round-15): perfbench's
  * `serve` workload measures serving ALONE (with appends and deletes
  * between serves) and Round15StoreSpec pins the maintenance
  * loop's SEMANTICS alone — this main runs them together the way a
  * production deployment does: build the store once, stream arrival
  * batches through [[graft.streaming.Ingest.ivfMaintainSink]] (encode →
  * decide → recall-gated refresh publish), and serve CONTINUOUSLY from
  * a second thread throughout, recording per-serve latency plus the
  * index version each serve resolved.
  *
  * The readout is the three-phase latency record the versioned-publish
  * design promises: `before` (quiet store), `during` (maintenance
  * batches running — serves contend for cores with encode/refresh jobs
  * but never block on them, and each one reads exactly one manifest's
  * artifacts), `after` (quiet again, possibly on a refreshed version).
  * A lock-based design would show `during` serves stalling behind the
  * publish; the manifest swap design should show only core contention.
  * Phase attribution keys on each serve's START wall-clock, so a serve
  * straddling a boundary lands in the phase it began under, and
  * `maintStart` is stamped before the sink starts so sink startup cost
  * counts as maintenance, not quiet time.
  *
  * SCHEDULER-POOL ISOLATION (round-16): the round-15 sf10 soak showed
  * during-maintenance p95 at ~7× quiet p95 — pure core contention
  * (FIFO scheduling queues the serve job's tasks behind whole
  * encode/refresh stages). Production fix, measured here: FAIR
  * scheduling with a `serve` pool (minShare = a few cores, weight > 1)
  * so serve tasks are offered cores ahead of the maintenance backlog —
  * latency isolation without reserving a separate cluster. The serve
  * thread sets `spark.scheduler.pool=serve` as a thread-local property;
  * maintenance jobs stay in the default pool.
  * `SPARK_GRAFT_POOL=fifo` reproduces the round-15 shared-FIFO
  * behavior for the A/B.
  *
  *   SPARK_GRAFT_SF_DIR   data dir with embeddings.parquet
  *                        (default testdata_sf1)
  *   SPARK_GRAFT_CPUS     local[N] = shuffle partitions (default 16)
  *   SPARK_GRAFT_BATCHES  arrival micro-batches (default 3)
  *   SPARK_GRAFT_POOL     fair (default) | fifo
  *   SPARK_GRAFT_DELETES  takedown micro-batches interleaved with the
  *                        arrivals through a SECOND live sink (default
  *                        0 = maintenance-only, the r15–r17 shape)
  *
  * DUAL-STREAM MODE (round-18): `SPARK_GRAFT_DELETES > 0` runs the
  * NORMAL PRODUCTION PAIR — [[graft.streaming.Ingest.ivfMaintainSink]]
  * and [[graft.streaming.Ingest.indexDeleteSink]] live on ONE store at
  * once, both fed before either drains, while the serve thread keeps
  * sampling. Round18StoreSpec pins the pair's SEMANTICS (interleaved ≡
  * sequential, zero sink exceptions, dense version intervals); this
  * mode MEASURES the same shape at real geometry: the per-store
  * publish serializer queues whichever sink loses each race, so the
  * readout shows whether takedown publishes stretch the maintenance
  * wall or the during-serve tail. The JSON adds the takedown count,
  * the dense-version verdict recomputed from ops_log, and the
  * victims-still-served count (must be 0 — tombstones + patch
  * exclusion, checked against the FINAL reader).
  *
  * Prints one JSON line: geometry, build seconds, per-phase serve
  * latency (n/p50/p95 seconds), versions observed per phase, and the
  * maintenance decision log (action + recall gate verdict per batch).
  */
object SoakBench {

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) -1.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "testdata_sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "3").toInt
    val pool = sys.env.getOrElse("SPARK_GRAFT_POOL", "fair")
    val nDeletes = sys.env.getOrElse("SPARK_GRAFT_DELETES", "0").toInt
    require(nDeletes <= nBatches,
      s"SPARK_GRAFT_DELETES ($nDeletes) interleaves with the arrival " +
        s"batches — it cannot exceed SPARK_GRAFT_BATCHES ($nBatches)")
    // FAIR needs an allocation file naming the serve pool; write it
    // beside the store scratch (pool properties: minShare guarantees
    // the serve job task slots as soon as they free, weight breaks
    // ties above the guarantee)
    val allocFile = java.nio.file.Files.createTempFile("graft-pools", ".xml")
    java.nio.file.Files.write(allocFile,
      """<?xml version="1.0"?>
        |<allocations>
        |  <pool name="serve">
        |    <schedulingMode>FIFO</schedulingMode>
        |    <weight>4</weight>
        |    <minShare>4</minShare>
        |  </pool>
        |</allocations>
        |""".stripMargin.getBytes("UTF-8"))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (pool == "fair")
      builder.config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", allocFile.toString)
    else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // Repartition the corpus to ~4 tasks/core before caching: FAIR
    // scheduling is non-preemptive — a serve job gets slots only as
    // running tasks FINISH — so latency isolation needs maintenance
    // task durations bounded, not just pool weights. The sf10 corpus
    // parquet packs into a handful of scan partitions (51 MB / 32
    // files), which made each Lloyd/encode map task seconds long and
    // held the during-maintenance serve p95 at the single-task
    // duration (~6.5 s) even under the serve pool's minShare. The
    // repartition is one 51 MB shuffle paid once at startup.
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .repartition(4 * cpus.toInt).cache()
    val base = e.filter(col("vec_id") % 10 < 8)
    val nBase = base.count()
    val cells = Similarity.autoCells(nBase)
    val ck = math.min(cells, 64)
    val dir = "/tmp/graft_soak/" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    val ckpt = dir + "_ckpt"
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val ckptDel = dir + "_ckpt_del"
    fs.delete(new org.apache.hadoop.fs.Path(ckptDel), true)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val buildS = timed {
      IndexStore.buildIvfPq(base, dir, numCells = cells, cellIters = 2,
        numSub = 4, codebookK = ck, pqIters = 2)
    }

    // the arrival stream: the held-out 20%, hashed into nBatches groups
    val arrivals = (0 until nBatches).map { b =>
      e.filter(col("vec_id") % 10 >= 8)
        .filter(pmod(hash(col("vec_id")), lit(nBatches)) === b)
        .as[(Long, Seq[Float])].collect().toSeq
    }
    // takedown batches (dual-stream mode): 50 in-store ids per batch,
    // residue-disjoint across batches — bounded collects prepared
    // BEFORE maintStart so driver prep never counts as maintenance
    val victimBatches: Seq[Seq[Long]] = (0 until nDeletes).map { d =>
      base.select(col("vec_id"))
        .filter(pmod(col("vec_id"), lit(997)) === d)
        .orderBy(col("vec_id")).limit(50).as[Long].collect().toSeq
    }

    // serving thread: fixed 10-query batch, k=10, probes=2, run until
    // stopped; every sample records (wall START, duration, version)
    val q = e.filter(col("vec_id") < 10)
    // one unrecorded warmup serve: whole-stage codegen compilation and
    // the parquet reader warm-up would otherwise land in the first
    // 'before' sample and skew a 5-sample phase median
    IndexStore.openReader(spark, dir).serve(q, k = 10, probes = 2).count()
    val stop = new AtomicBoolean(false)
    val serveError = new AtomicReference[Throwable](null)
    val samples =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Long)]()
    val server = new Thread(() => {
      // the production serving shape: a PINNED reader, re-opened only
      // when the manifest version moves (the poll is a tiny directory
      // listing; the re-open pays partition discovery once per publish).
      // A serve failure (transient I/O, artifacts GC'd under a stalled
      // reader) is recorded and terminates the loop — the main thread's
      // sample waits abort on it instead of hanging forever.
      try {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          if (pool == "fair") "serve" else null)
        var reader = IndexStore.openReader(spark, dir)
        while (!stop.get()) {
          // reopen() is the incremental path: same version ⇒ `this`
          // (the poll costs one directory listing); a new version
          // re-reads only the artifacts whose manifest names changed
          reader = reader.reopen()
          val t0Wall = System.currentTimeMillis()
          val t0 = System.nanoTime()
          reader.serve(q, k = 10, probes = 2).count()
          samples.add((t0Wall, (System.nanoTime() - t0) / 1e9,
            reader.version))
        }
      } catch {
        case t: Throwable => serveError.set(t)
      }
    }, "soak-server")
    server.setDaemon(true)
    server.start()

    // sample waits carry a deadline and surface a dead server's error
    // instead of looping forever on a queue that stopped growing
    def awaitSamples(target: Int, deadlineMs: Long = 1200000L): Unit = {
      val t0 = System.currentTimeMillis()
      while (samples.size < target) {
        val err = serveError.get()
        if (err != null)
          throw new IllegalStateException("soak serve thread died", err)
        if (System.currentTimeMillis() - t0 > deadlineMs)
          throw new IllegalStateException(
            s"soak wait for $target samples exceeded ${deadlineMs / 1000}s " +
              s"(have ${samples.size})")
        Thread.sleep(200)
      }
    }

    // phase boundaries in wall-clock millis; maintStart is stamped
    // BEFORE the sink starts so its startup cost is maintenance time
    Thread.sleep(100)
    awaitSamples(5) // quiet 'before' window
    val mem = MemoryStream[(Long, Seq[Float])]
    val delMem = MemoryStream[Long]
    val maintStart = System.currentTimeMillis()
    val sink = graft.streaming.Ingest.ivfMaintainSink(
      mem.toDS().toDF("vec_id", "embedding"), base, dir, ckpt,
      numCells = cells, iters = 2, deltaMod = 10,
      churnThreshold = 0.05).start()
    // dual-stream mode: the takedown sink is LIVE alongside the
    // maintenance sink for the whole window — both streams get their
    // data before either drains, so their micro-batches overlap and
    // the per-store publish serializer is what keeps them ordered
    // (pre-serializer, one of these two would crash on the
    // single-writer guard)
    val delSink =
      if (nDeletes == 0) None
      else Some(graft.streaming.Ingest.indexDeleteSink(
        delMem.toDS().toDF("vec_id"), dir, ckptDel).start())
    try {
      arrivals.zipWithIndex.foreach { case (batch, i) =>
        mem.addData(batch: _*)
        if (i < victimBatches.size) delMem.addData(victimBatches(i): _*)
        sink.processAllAvailable()
        delSink.foreach(_.processAllAvailable())
      }
    } finally {
      sink.stop()
      delSink.foreach(_.stop())
    }
    val maintEnd = System.currentTimeMillis()
    // quiet 'after' window
    awaitSamples(samples.size + 5)
    stop.set(true)
    server.join(120000)

    val all = {
      val b = Seq.newBuilder[(Long, Double, Long)]
      samples.forEach(s => b += s)
      b.result()
    }
    def phase(pred: Long => Boolean): (Seq[Double], Seq[Long]) = {
      val in = all.filter(s => pred(s._1))
      (in.map(_._2), in.map(_._3).distinct.sorted)
    }
    val (beforeL, beforeV) = phase(_ < maintStart)
    val (duringL, duringV) =
      phase(t => t >= maintStart && t <= maintEnd)
    val (afterL, afterV) = phase(_ > maintEnd)
    def phJson(l: Seq[Double], v: Seq[Long]): String =
      s"""{"n":${l.size},"p50":${pct(l, 0.5)},"p95":${pct(l, 0.95)},""" +
        s""""versions":[${v.mkString(",")}]}"""
    // the accessor resolves live partitions ∪ the compacted archive
    // (the sink folds old batch partitions past its replay window)
    // dual-stream verdicts: (a) no victim may serve — probed with the
    // victims' OWN vectors, where a surviving row would be its own
    // nearest neighbor (the strongest query for this check); (b) every
    // published ops_log row reads version_after = version_before + 1
    // with no version claimed twice — the no-lost-update serializer
    // invariant Round18StoreSpec pins, recomputed from the store the
    // two live sinks actually produced. ops_log carries the DELETE
    // publishes only (maintenance logs to maintenance_log), so gaps
    // between rows are the other sink's interleaved publishes — the
    // visible trace of genuine two-writer interleaving, not a hole.
    val allVictims = victimBatches.flatten
    val victimsServed =
      if (allVictims.isEmpty) 0L
      else IndexStore.serveIvfPq(spark, dir,
          e.filter(col("vec_id").isin(allVictims: _*)), k = 1, probes = 2)
        .filter(col("nid").isin(allVictims: _*)).count()
    val published = IndexStore.opsLog(spark, dir)
      .filter(col("published"))
      .select(col("version_before"), col("version_after"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .sortBy(_._2)
    val versionsDense = published.forall { case (b2, a2) => a2 == b2 + 1 } &&
      published.map(_._2).distinct.size == published.size
    val log = graft.streaming.Ingest.maintenanceLog(spark, dir)
    val logCols = Seq("batch_id", "action", "recall_before",
      "recall_after", "adopted").filter(log.columns.contains)
    val logRows = log.select(logCols.map(col): _*)
      .orderBy("batch_id").collect().toSeq
      .map(r => logCols.zip(r.toSeq).map { case (c, x) =>
        s""""$c":${if (x.isInstanceOf[String]) s""""$x"""" else x}"""
      }.mkString("{", ",", "}"))
    println(s"""{"metric":"soak_bench","n_base":$nBase,"cells":$cells,""" +
      s""""codebook_k":$ck,"batches":$nBatches,"build_s":$buildS,""" +
      s""""pool":"$pool","before":${phJson(beforeL, beforeV)},""" +
      s""""during":${phJson(duringL, duringV)},""" +
      s""""after":${phJson(afterL, afterV)},""" +
      s""""maintenance_s":${(maintEnd - maintStart) / 1e3},""" +
      s""""deletes":$nDeletes,"victims":${allVictims.size},""" +
      s""""victims_served":$victimsServed,""" +
      s""""versions_dense":$versionsDense,""" +
      s""""n_published":${published.size},""" +
      s""""decisions":[${logRows.mkString(",")}],"sf":"$sfDir"}""")
    spark.stop()
  }
}
