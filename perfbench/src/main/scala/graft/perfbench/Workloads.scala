package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.{ReadingsLayout, SparkEntry, TsQuery}
import graft.operators.IndexStore
import graft.streaming.Ingest

private object Io {
  /** Sizes of the data files under the local directory `dir` (hidden and
    * `_` files skipped). Listed with java.nio: Hadoop's local listing forks
    * a shell per file for its permissions, about 25 ms a file.
    */
  def dataFiles(dir: String): Map[String, Long] = {
    val root = new File(dir).toPath
    if (!Files.isDirectory(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.map(f => f.toString -> Files.size(f)).toMap
      finally walk.close()
    }
  }

  def writeRows(spark: SparkSession, schema: StructType, rows: Seq[Row],
      path: File): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path.getPath)
}

/** Tracks bytes and files that appear under a directory between listings:
  * what a writer put there, whether or not it later replaced them.
  */
private final class WriteTracker(dir: String) {
  private var seen = Io.dataFiles(dir)
  var filesWritten = 0L
  var bytesWritten = 0L
  def poll(): Unit = {
    val now = Io.dataFiles(dir)
    val fresh = now.filter { case (f, n) => !seen.get(f).contains(n) }
    filesWritten += fresh.size
    bytesWritten += fresh.values.sum
    seen = now
  }
  def liveFiles: Int = seen.size
  def liveBytes: Long = seen.values.sum
}

/** `dashboard` and `corpus`: rounds of program queries in a seeded order,
  * each collected to the driver the way a dashboard or pipeline reads it.
  * Every distinct result is kept for the oracle, so every operation's
  * output is checked, not just the first.
  */
final class QueryMix(input: String, queries: Seq[String], seed: Long)
    extends Workload {
  private var spark: SparkSession = _
  private val results =
    mutable.LinkedHashMap.empty[(String, Int), (StructType, Array[Row])]
  private val seen = mutable.ArrayBuffer.empty[(String, Int)]

  private def execute(q: String): (StructType, Array[Row]) = {
    val df = SparkEntry.queries(q)(spark, input)
    (df.schema, df.collect())
  }

  private def keep(q: String, res: (StructType, Array[Row])): Unit = {
    val digest = scala.util.hashing.MurmurHash3.orderedHash(res._2.iterator.map(_.toString))
    results.getOrElseUpdate((q, digest), res)
    seen += ((q, digest))
  }

  def setup(s: SparkSession, attempt: Int): Unit = {
    spark = s
    // open and scan every input table once
    new File(input).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => s.read.parquet(f.getPath).count())
  }

  def round(r: Int, run: Runner): Unit =
    new scala.util.Random(seed * 7919L + r).shuffle(queries).foreach { q =>
      run.op(q, counted = true, r)(execute(q)).foreach(keep(q, _))
    }

  def finish(s: SparkSession, out: File, traced: Boolean): Map[String, Any] = {
    results.foreach { case ((q, d), (schema, rows)) =>
      Io.writeRows(s, schema, rows.toSeq, new File(out, s"results/$q/${d.toHexString}"))
    }
    Map(
      "oracle_sql" -> queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "results" -> seen.map { case (q, d) => Map("query" -> q, "digest" -> d.toHexString) },
      "rows" -> seen.map { case (q, d) => results((q, d))._2.length.toLong }.sum)
  }
}

/** `ingest`: the readings write path of the composed app. Each poll cycle
  * drops one JSON-lines file into the source directory of
  * `Ingest.fileSource`, and the last-wins sink commits it as one
  * micro-batch. A round is `perRound` cycles, with a live-tail read over
  * the current day after every `tailEvery` of them.
  */
final class IngestLoop(input: File, work: File, tailDay: String, perRound: Int,
    tailEvery: Int, traced: Boolean) extends Workload {
  private val cycles = new File(input, "cycles").listFiles()
    .filter(_.getName.endsWith(".json")).sortBy(_.getName)
  private val day = java.sql.Date.valueOf(tailDay)
  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private var layout, src: File = _
  private var tracker: WriteTracker = _
  private var delivered = 0
  private var linesDelivered = 0L
  private val tails = mutable.ArrayBuffer.empty[(Int, Array[Row], StructType, Array[Row], StructType)]

  private def tailRead(day: java.sql.Date): (Array[Row], StructType, Array[Row], StructType) = {
    val q = TsQuery(ReadingsLayout.read(spark, layout.getPath)
      .filter(col("date") === lit(day)))
    val last = q.last().select(col("meterId"), col("series"), col("last_values"),
      col("last_tag"), unix_micros(col("last_ts")).as("last_ts_us"))
    val hourly = q.bucketedAvg(3600L * 1000L).select(col("meterId"), col("series"),
      unix_micros(col("bucket")).as("bucket_us"), col("avg_value"), col("n"))
    (last.collect(), last.schema, hourly.collect(), hourly.schema)
  }

  override def seed(s: SparkSession): Unit = {
    layout = new File(work, "layout")
    ReadingsLayout.write(s.read.parquet(new File(input, "history.parquet").getPath),
      layout.getPath)
  }

  def setup(s: SparkSession, attempt: Int): Unit = {
    spark = s
    val base = new File(work, s"stream-$attempt")
    src = new File(base, "source")
    src.mkdirs()
    query = Ingest.lastWinsParquetSink(Ingest.fileSource(spark, src.getPath),
      layout.getPath, new File(base, "checkpoint").getPath)
      .queryName("perfbench-readings").start()
    delivered = 0
    linesDelivered = 0L
    tails.clear()
    tailRead(day) // the read path, warmed on the history of the current day
    query.processAllAvailable()
    tracker = new WriteTracker(layout.getPath)
  }

  override def teardown(): Unit = if (query != null) { query.stop(); query = null }

  override def hasRound(r: Int): Boolean = (r + 1) * perRound <= cycles.length

  def round(r: Int, run: Runner): Unit = (0 until perRound).foreach { c =>
    val i = r * perRound + c
    val f = cycles(i)
    run.op("cycle", counted = true, r) {
      // hidden name first: the source lists only complete files
      val tmp = new File(src, "_" + f.getName)
      Files.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp.toPath, new File(src, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }.foreach { _ =>
      delivered = i + 1
      linesDelivered += Files.readAllLines(f.toPath).size
    }
    if (traced) tracker.poll()
    if ((c + 1) % tailEvery == 0)
      run.op("tail", counted = false, r)(tailRead(day)).foreach {
        case (l, ls, h, hs) => tails += ((i, l, ls, h, hs))
      }
  }

  def finish(s: SparkSession, out: File, traced: Boolean): Map[String, Any] = {
    tails.foreach { case (i, l, ls, h, hs) =>
      Io.writeRows(s, ls, l.toSeq, new File(out, f"tails/$i%05d/last"))
      Io.writeRows(s, hs, h.toSeq, new File(out, f"tails/$i%05d/hourly"))
    }
    val sink =
      if (!traced) Map.empty[String, Any]
      else {
        tracker.poll()
        Map("sink.bytes_written" -> tracker.bytesWritten,
          "sink.files_written" -> tracker.filesWritten,
          "sink.files_live" -> tracker.liveFiles,
          "sink.live_bytes" -> tracker.liveBytes)
      }
    Map("layout" -> layout.getPath, "tail_day" -> tailDay, "cycles_committed" -> delivered,
      "tails" -> tails.map(_._1), "rows" -> linesDelivered) ++ sink
  }
}

/** `serve`: an IVF-PQ `IndexStore` serving query batches through a pinned
  * reader while the same client thread maintains it. A round is
  * `servesPerStep` serves, one append, one delete, `servesPerStep` serves.
  * The reader polls for a new version (`reopen`) before every serve, as a
  * serving deployment does. An append publishes no version; it becomes
  * visible with the version the delete after it publishes, so the serves
  * that end a round read the append and must not return the deleted ids.
  */
final class ServeLoop(input: File, work: File, p: String => String,
    traced: Boolean) extends Workload {
  private val k = p("k").toInt
  private val probes = p("probes").toInt
  private val batch = p("batch").toInt
  private val servesPerStep = p("serves_per_step").toInt
  private val numCells = p("num_cells").toInt
  private val numSub = p("num_sub").toInt
  private val codebookK = p("codebook_k").toInt
  private val appendBatches = p("append_batches").toInt
  private val nQueries = p("queries").toInt

  private var spark: SparkSession = _
  private var dir: String = _
  private var vectors, queries, deletes: DataFrame = _
  private var reader: graft.operators.IndexReader = _
  private var tracker: WriteTracker = _
  private var serveSeq = 0
  private var firstVersion = 0L
  private var maxPatches = 0
  private val served = mutable.ArrayBuffer.empty[Row]
  private val steps = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def queryBatch(i: Int): DataFrame = {
    val lo = (i * batch) % nQueries
    queries.filter(col("vec_id") >= lo && col("vec_id") < lo + batch)
  }

  private def load(s: SparkSession, name: String) =
    s.read.parquet(new File(input, name).getPath)

  override def seed(s: SparkSession): Unit = {
    dir = new File(work, "store").getPath
    IndexStore.buildIvfPq(load(s, "vectors.parquet").filter(col("batch") === 0)
      .select("vec_id", "embedding"), dir, numCells = numCells,
      cellIters = p("lloyd_iters").toInt, numSub = numSub, codebookK = codebookK,
      pqIters = p("lloyd_iters").toInt)
  }

  def setup(s: SparkSession, attempt: Int): Unit = {
    spark = s
    vectors = load(s, "vectors.parquet")
    queries = load(s, "queries.parquet")
    deletes = load(s, "deletes.parquet")
    reader = IndexStore.openReader(spark, dir)
    firstVersion = reader.version
    serveSeq = 0
    maxPatches = 0
    served.clear()
    steps.clear()
    tracker = new WriteTracker(dir)
  }

  override def hasRound(r: Int): Boolean = r < appendBatches

  private def serve(r: Int, run: Runner): Unit = {
    val i = serveSeq
    serveSeq += 1
    run.op("serve", counted = true, r) {
      reader = reader.reopen()
      (reader.version, reader.serve(queryBatch(i), k, probes)
        .select(col("qid"), col("nid")).collect())
    }.foreach { case (v, rows) =>
      rows.foreach(x => served += Row(i, v, x.getLong(0), x.getLong(1)))
    }
  }

  private def step(kind: String, r: Int, run: Runner)(body: => Unit): Unit = {
    val before = IndexStore.currentManifest(spark, dir).version
    val ok = run.op(kind, counted = false, r)(body).isDefined
    val m = IndexStore.currentManifest(spark, dir)
    maxPatches = math.max(maxPatches, m.patches.size)
    if (traced) tracker.poll()
    steps += Map("kind" -> kind, "round" -> r, "batch" -> (r + 1), "ok" -> ok,
      "version_before" -> before, "version_after" -> m.version,
      "after_serve" -> serveSeq)
  }

  def round(r: Int, run: Runner): Unit = {
    val b = r + 1
    (0 until servesPerStep).foreach(_ => serve(r, run))
    step("append", r, run) {
      IndexStore.appendVectors(
        vectors.filter(col("batch") === b).select("vec_id", "embedding"), dir, b)
    }
    step("delete", r, run) {
      IndexStore.deleteVectors(deletes.filter(col("step") === b).select("vec_id"), dir)
        .collect()
    }
    (0 until servesPerStep).foreach(_ => serve(r, run))
  }

  def finish(s: SparkSession, out: File, traced: Boolean): Map[String, Any] = {
    Io.writeRows(s, new StructType().add("serve", "int").add("version", "long")
      .add("qid", "long").add("nid", "long"), served.toSeq, new File(out, "served"))
    val store =
      if (!traced) Map.empty[String, Any]
      else Map("store.bytes_written" -> tracker.bytesWritten,
        "store.patch_depth" -> maxPatches,
        "store.versions" -> (IndexStore.currentManifest(s, dir).version - firstVersion))
    Map("store" -> dir, "steps" -> steps, "serves" -> serveSeq,
      "rows" -> served.size.toLong) ++ store
  }
}
