package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, Dedup, Packing, TextOps}
import graft.streaming.Ingest
import graft.streaming.Ingest.Reading
import StreamingSpec.streamMatchesBatch

/** Streaming twins vs their batch kernels: windowed averages with
  * watermark and the per-meter trapezoid interpolation state. Stateless
  * batch operators are run as they are on a MemoryStream and checked
  * against the same rows as a static frame (`streamMatchesBatch`).
  */
case class DocEvent(doc_id: Long, text: String, ts: java.sql.Timestamp)
case class SourcedDoc(doc_id: Long, text: String, source: String)
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
case class MaintWindow(user_id: Long, win_id: Long,
    start_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)

class StreamingSpec extends AnyFunSuite with SharedSpark {

  private def reading(meter: String, sec: Long, v: Double): Reading =
    Reading(meter, "Power", new java.sql.Timestamp(sec * 1000L), Seq(v), "W")

  private def doc(id: Long, text: String): DocEvent =
    DocEvent(id, text, new java.sql.Timestamp(id * 1000L))

  test("streaming dedup admits first occurrence only, keyed by content hash") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[DocEvent]
    val q = Ingest.dedupStream(mem.toDF(), lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      def doc(id: Long, text: String, sec: Long) =
        DocEvent(id, text, new java.sql.Timestamp(sec * 1000L))
      // batch 1: two distinct texts, one in-batch duplicate
      mem.addData(doc(1, "alpha beta", 0), doc(2, "gamma delta", 1),
        doc(3, "alpha beta", 2))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate within the horizon + one new doc
      mem.addData(doc(4, "alpha beta", 30), doc(5, "epsilon zeta", 31))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // one representative per content (which in-batch twin survives is
      // partition-order arbitrary), and the cross-batch duplicate (doc
      // 4) is dropped by the hash-keyed state
      assert(kept.size == 3 && (kept & Set(1L, 3L)).size == 1 &&
        kept.contains(2L) && kept.contains(5L) && !kept.contains(4L),
        s"kept $kept")
      // the state key is the 8-byte content hash, not raw text: the
      // output carries it for downstream audit
      val cols = spark.table("dedup_stream").columns.toSet
      assert(cols.contains("content_hash"))
    } finally q.stop()
  }

  test("incrementalDedupStream flags index dups as they arrive, matching batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val index = Seq((1L, shared), (2L, shared + " kappa"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val mem = MemoryStream[DocEvent]
    val q = Ingest.incrementalDedupStream(mem.toDF(), index,
      lateness = "10 minutes")
      .writeStream.format("memory").queryName("incdedup_stream")
      .outputMode("append").start()
    try {
      def doc(id: Long, text: String, sec: Long) =
        DocEvent(id, text, new java.sql.Timestamp(sec * 1000L))
      // ts must sit ABOVE the initial zero watermark: the dedup
      // operator drops event times ≤ watermark as late, and a brand-new
      // query starts at watermark 1970-01-01 — epoch-0 fixtures vanish
      mem.addData(doc(100, shared, 3600),
        doc(101, "fresh unseen material nothing like the index at all", 3601))
      q.processAllAvailable()
      mem.addData(doc(102, shared + " iota", 3630))
      q.processAllAvailable()
      val got = spark.table("incdedup_stream")
        .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // multi-band matches collapse to one row per (i, j); the fresh
      // doc emits nothing; batch and stream agree on the pair set
      val batch = graft.operators.Dedup.incrementalDedup(
        Seq((100L, shared),
          (101L, "fresh unseen material nothing like the index at all"),
          (102L, shared + " iota")).toDF("doc_id", "text"),
        index, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch && got.contains((100L, 1L)) && got.contains((102L, 1L))
        && !got.exists(_._1 == 101L), s"got $got batch $batch")
    } finally q.stop()
  }

  test("gopher stream gates documents at ingest, matching the batch body row-for-row") {
    import spark.implicits._
    val input = Seq(
      doc(1, "the of is " + (1 to 27).map(i => f"wrd$i%02d").mkString(" ")), // keep
      doc(2, "the of tiny"),                                                 // too short
      doc(3, (1 to 30).map(i => f"wrd$i%02d").mkString(" ")))                // no stopwords
    val rows = streamMatchesBatch(spark,
        TextOps.gopherRules(_, "doc_id", "text"), Seq(input))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(rows == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("contamination stream counts shared bench shingles, matching batch exactly") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val benchText = "the quick brown fox jumps over the lazy dog tonight"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val mem = MemoryStream[DocEvent]
    val q = Ingest.contaminationStream(mem.toDF(), bench)
      .writeStream.format("memory").queryName("contam")
      .outputMode("complete").start()
    try {
      def doc(id: Long, text: String) =
        DocEvent(id, text, new java.sql.Timestamp(id * 1000L))
      val input = Seq(
        doc(1, benchText + " and some tail"),                // many shared 3-grams
        doc(2, "entirely original content with no benchmark overlap at all"),
        doc(3, "the quick brown fox went elsewhere entirely today"))  // shares 2
      mem.addData(input: _*)
      q.processAllAvailable()
      val rows = spark.table("contam")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch operator on the union frame with the bench predicate must
      // agree exactly (the twin contract)
      val batch = graft.operators.Dedup.contamination(
          (input.map(d => (d.doc_id, d.text)) :+ ((100L, benchText)))
            .toDF("doc_id", "text"),
          "doc_id", "text", benchPredicate = col("doc_id") === 100L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == batch, s"stream $rows vs batch $batch")
      assert(rows.contains(1L) && rows.contains(3L) && !rows.contains(2L))
    } finally q.stop()
  }

  test("curation stream scores and filters documents statelessly, matching batch") {
    import spark.implicits._
    val rows = streamMatchesBatch(spark,
        TextOps.curationVerdict(_, minTokens = 3), Seq(Seq(
          doc(1, "the quick brown fox jumps"), // keeps: 5 tokens, en markers
          doc(2, "hi"),                        // drops: under min tokens
          doc(3, "spam spam spam spam spam spam spam spam spam spam spam")))) // drops: 10/11 dup
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("pred_lang"), r.getAs[Boolean]("keep")))).toMap
    assert(rows(1L) == (("en", true)))
    assert(rows(2L)._2 == false)
    assert(rows(3L)._2 == false) // dup_word_frac 10/11 > 0.9
  }

  test("cms sketch stream: fixed-size cells accumulate across batches, estimates never undercount") {
    import spark.implicits._
    val depth = 3; val width = 1024
    val batch1 = Seq(doc(1, "foo bar foo bar foo bar"), doc(2, "one two three"))
    val batch2 = Seq(doc(3, "foo bar baz qux"), doc(4, "one two one two"))
    // the running sketch equals the batch sketch over the union
    val streamCells = streamMatchesBatch(spark,
        df => TextOps.cmsCellsOf(TextOps.cmsBucketed(df, "text", depth, width), depth),
        Seq(batch1, batch2), outputMode = "complete")
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // state stays inside the fixed grid
    assert(streamCells.size <= depth * width)
    assert(streamCells.keys.forall { case (r, b) => r < depth && b < width })
    // CMS law: min-over-rows estimate >= true count for every gram
    val trueCounts = (batch1 ++ batch2).toDF()
      .select(explode(TextOps.tokenNgramsOfTokens(
        TextOps.tokens(col("text")), 2)).as("gram"))
      .groupBy("gram").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val bucketsOf = (g: String) => (0 until depth).map { r =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      r -> java.lang.Long.parseLong(hex.substring(5 * r, 5 * r + 5), 16) % width
    }
    trueCounts.foreach { case (g, c) =>
      val est = bucketsOf(g).map { case (r, b) => streamCells.getOrElse((r, b), 0L) }.min
      assert(est >= c, s"CMS undercounts '$g': est $est < true $c")
    }
  }

  test("hll sketch stream: bounded registers accumulate across batches, equal the batch sketch") {
    import spark.implicits._
    val withSrc = (df: DataFrame) =>
      df.withColumn("source",
        when(col("doc_id") % 2 === 0, "even").otherwise("odd"))
    val batch1 = Seq(doc(1, "foo bar foo baz"), doc(2, "one two three"))
    val batch2 = Seq(doc(3, "foo qux quux corge"), doc(4, "one two four"))
    // the running registers equal the batch registers over the union
    val streamRegs = streamMatchesBatch(spark,
        df => TextOps.hllRegisters(TextOps.hllBucketed(withSrc(df), "text", "source")),
        Seq(batch1, batch2), outputMode = "complete")
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    // state stays inside the fixed register grid: <= 256 per group
    assert(streamRegs.keys.forall { case (_, b) => b >= 0 && b < 256 })
    assert(streamRegs.groupBy(_._1._1).forall(_._2.size <= 256))
  }

  test("winnow stream: stateless append fingerprints equal the batch selection") {
    import spark.implicits._
    val streamed = streamMatchesBatch(spark,
        Dedup.winnowedFingerprints(_, "doc_id", "text"),
        Seq(Seq(doc(1, "a b c d e f g h i j"), doc(2, "x y")),
          Seq(doc(3, "p q r s t u v w"))))
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(streamed.nonEmpty)
    // doc 2 is shorter than w+k-1: no fingerprint rows
    assert(!streamed.exists(_._1 == 2L))
  }

  test("chunk-dedup gate: stream-static window probe counts dup windows per doc") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val index = Ingest.chunkHashIndex(corpus, maxLen = 4, stride = 4)
    val mem = MemoryStream[DocEvent]
    val q = Ingest.chunkDedupStream(mem.toDF(), index,
        maxLen = 4, stride = 4)
      .writeStream.format("memory").queryName("chunkgate")
      .outputMode("update").start()
    try {
      def doc(id: Long, text: String) =
        DocEvent(id, text, new java.sql.Timestamp(id * 1000L))
      // doc 1: both windows verbatim from the corpus; doc 2: fresh
      mem.addData(doc(1, "a b c d e f g h"), doc(2, "p q r s t u v w"))
      q.processAllAvailable()
      val rows = spark.table("chunkgate")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(rows(1L) == ((2L, 2L)), s"got ${rows(1L)}")
      assert(rows(2L) == ((2L, 0L)), s"got ${rows(2L)}")
    } finally q.stop()
  }

  test("split stream: stateless verdicts equal the batch assignment across batches") {
    import spark.implicits._
    val streamed = streamMatchesBatch(spark,
        df => Curation.splitAssignment(
          df.withColumn("source", lit("crawl")), "doc_id", "source"),
        Seq((1L to 50L).map(i => doc(i, s"text $i")),
          (51L to 100L).map(i => doc(i, s"text $i"))))
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(streamed.size == 100)
    assert(streamed.values.toSet.subsetOf(Set("train", "valid", "test")))
  }

  test("chunk stream emits window plans statelessly, matching batch (q72 twin)") {
    import spark.implicits._
    val rows = streamMatchesBatch(spark,
        Packing.chunk(_, "doc_id", "text", 4, 3),
        Seq(Seq(doc(1, "a b c d e f g"), doc(2, "x y")))) // 7 and 2 tokens
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    // doc 1: starts 1,4,7 → lengths 4,4,1; doc 2: one short window
    assert(rows == Set((1L, 0, 1, 4), (1L, 1, 4, 4), (1L, 2, 7, 1), (2L, 0, 1, 2)))
  }

  test("windowed averages finalize per watermark (A1 streaming twin)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Reading]
    val q = Ingest.windowedAverages(mem.toDF(), "1 minute", "30 seconds")
      .writeStream.format("memory").queryName("win_avg")
      .outputMode("append").start()
    try {
      mem.addData(reading("m1", 0, 10), reading("m1", 30, 20), reading("m1", 59, 30))
      q.processAllAvailable()
      // advance watermark far past the first window
      mem.addData(reading("m1", 300, 1))
      q.processAllAvailable()
      mem.addData(reading("m1", 600, 1))
      q.processAllAvailable()
      val rows = spark.table("win_avg")
        .select(unix_millis(col("bucket")).as("b"), col("avg_value"), col("n"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(rows.contains((0L, 20.0, 3L))) // first minute finalized
    } finally q.stop()
  }

  test("streaming sessionization finalizes gap-based sessions (q59 twin)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[UserEvent]
    val q = Ingest.sessionizeStream(mem.toDF(), gap = "30 minutes",
        lateness = "1 minute")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      def ev(u: Long, sec: Long) =
        UserEvent(u, new java.sql.Timestamp(sec * 1000L), 1.0)
      // user 1: two events 10 min apart (one session), then a 40-min
      // gap (new session); user 2: one lone event. Split across
      // micro-batches so the session store must merge fragments.
      mem.addData(ev(1, 0), ev(2, 60))
      q.processAllAvailable()
      mem.addData(ev(1, 600), ev(1, 3000))
      q.processAllAvailable()
      // push the watermark far past everything to finalize all sessions
      mem.addData(ev(9, 100000))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select(col("user_id"), unix_millis(col("session_start")).as("st"),
          col("n_events"), col("duration_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(rows.contains((1L, 0L, 2L, 600000000L)),
        s"merged first session missing: $rows")  // 0s + 600s merged
      assert(rows.contains((1L, 3000000L, 1L, 0L)), s"gap session missing: $rows")
      assert(rows.contains((2L, 60000L, 1L, 0L)), s"lone session missing: $rows")
    } finally q.stop()
  }

  test("stream-stream interval join matches events into windows (q57 twin)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val evMem = MemoryStream[UserEvent]
    val winMem = MemoryStream[MaintWindow]
    val q = Ingest.intervalJoinStream(evMem.toDF(), winMem.toDF(),
        lateness = "1 minute", maxWindowLen = "2 hours")
      .writeStream.format("memory").queryName("interval_join")
      .outputMode("append").start()
    try {
      // timestamps offset well past epoch: the initial watermark IS
      // the epoch, and a watermarked range join drops input rows whose
      // event time is <= the current watermark — a window starting at
      // second 0 would be "late" into an empty stream (found the hard
      // way; equality-only joins don't apply that filter)
      def ts(sec: Long) = new java.sql.Timestamp((100000L + sec) * 1000L)
      // one window per user; events land inside, outside, and on the
      // boundary. Both streams carry data in the FIRST batch — until a
      // stream has produced data its watermark doesn't participate in
      // the global min, so a window side idle in batch 1 would see the
      // event side's advanced watermark and have its (earlier) rows
      // dropped as late on arrival: the documented idle-source caveat
      // of multi-stream event time, not an operator property.
      evMem.addData(UserEvent(1, ts(100), 10.0), UserEvent(1, ts(5000), 20.0),
        UserEvent(2, ts(100), 30.0))
      winMem.addData(MaintWindow(1, 0, ts(0), ts(3600)),
        MaintWindow(2, 0, ts(200), ts(3600)))
      q.processAllAvailable()
      // cross-batch: the boundary event arrives a batch later and must
      // still match the buffered window state (inclusive end)
      evMem.addData(UserEvent(1, ts(3600), 40.0))
      q.processAllAvailable()
      val rows = spark.table("interval_join")
        .select(col("user_id"), col("win_id"), col("value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // (1, ts 100) in window; (1, ts 5000) outside end; (2, ts 100)
      // before window start; (1, ts 3600) on the inclusive boundary
      assert(rows == Set((1L, 0L, 10.0), (1L, 0L, 40.0)), s"got $rows")
    } finally q.stop()
  }

  test("streaming trapezoid interpolation matches the batch kernel (W3)") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Reading]
    val q = Ingest.interpolateEnergy(mem.toDS(), "Power")
      .writeStream.format("memory").queryName("interp")
      .outputMode("append").start()
    try {
      // two micro-batches: state must carry across them
      mem.addData(reading("m1", 0, 0.0), reading("m1", 1800, 50.0))
      q.processAllAvailable()
      mem.addData(reading("m1", 3600, 100.0))
      q.processAllAvailable()
      val cum = spark.table("interp")
        .orderBy(col("tsMicros")).select(col("cumEnergy"))
        .collect().map(_.getDouble(0)).toSeq
      // trapezoid of a 0→100 ramp over 1 h sampled at 0/1800/3600 = 50 power-hours
      assert(cum.last == 50.0)
      // equals the batch kernel on the same points
      val batch = graft.operators.TimeSeriesOps.trapezoidIntegrate(
        Seq((0L, 0.0), (1800L, 50.0), (3600L, 100.0))
          .toDF("sec", "v")
          .select(timestamp_seconds(col("sec")).as("ts"), lit("m1").as("k"), col("v")),
        Seq("k"), "ts", "v")
        .agg(sum("step_energy")).collect()(0).getDouble(0)
      assert(batch == cum.last)
    } finally q.stop()
  }

  test("file source streams dropped reading files (poll-cycle ingest)") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Paths.get(tmpDir("graft_filesrc"))
    val q = Ingest.fileSource(spark, dir.toString)
      .writeStream.format("memory").queryName("file_readings")
      .outputMode("append").start()
    try {
      java.nio.file.Files.writeString(dir.resolve("poll1.json"),
        """{"meterId":"m1","series":"Power","ts":"2024-01-01T00:00:00.000Z","values":[240.0],"tag":"W"}
          |{"meterId":"m1","series":"CO2","ts":"2024-01-01T00:00:01.000Z","values":[600.0,21.5],"tag":"ppm;C"}
          |""".stripMargin)
      q.processAllAvailable()
      java.nio.file.Files.writeString(dir.resolve("poll2.json"),
        """{"meterId":"m2","series":"Power","ts":"2024-01-01T00:01:00.000Z","values":[100.0],"tag":"W"}
          |""".stripMargin)
      q.processAllAvailable()
      val rows = spark.table("file_readings").collect()
      assert(rows.length == 3)
      val co2 = rows.find(_.getAs[String]("series") == "CO2").get
      assert(co2.getSeq[Double](co2.fieldIndex("values")) == Seq(600.0, 21.5))
    } finally q.stop()
  }

  test("streaming battery state matches the batch fold across micro-batches (W1)") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import s.implicits._
    import graft.operators.Battery
    val p = Battery.Params(10, 0.5, 100)
    val pts = Seq(
      Battery.Point(1, 0L, -2.0),
      Battery.Point(1, 60000000L, 1.0),
      Battery.Point(1, 120000000L, -30.0))
    val mem = MemoryStream[Battery.Point]
    val q = graft.streaming.Ingest.batteryStream(mem.toDS(), p)
      .writeStream.format("memory").queryName("battery_stream")
      .outputMode("append").start()
    try {
      mem.addData(pts(0), pts(1)) // batch 1
      q.processAllAvailable()
      mem.addData(pts(2)) // batch 2 — state must carry over
      q.processAllAvailable()
      val last = spark.table("battery_stream")
        .orderBy(col("tsMicros").desc).limit(1).collect()(0)
      val batch = Battery.foldMeter(1, pts.iterator, p)
      assert(last.getAs[Double]("socKwh") == batch.finalSocKwh)
      assert(last.getAs[Double]("chargedKwh") == batch.totalChargedKwh)
      assert(last.getAs[Double]("dischargedKwh") == batch.totalDischargedKwh)
      assert(last.getAs[Double]("cycles") == batch.cycles)
    } finally q.stop()
  }

  test("last-wins parquet sink dedups same-timestamp re-appends (S7)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = tmpDir("graft_sink")
    val ckpt = tmpDir("graft_ckpt")
    val mem = MemoryStream[Reading]
    val q = Ingest.lastWinsParquetSink(mem.toDF(), dir, ckpt).start()
    try {
      mem.addData(reading("m1", 0, 1.0), reading("m1", 0, 2.0), reading("m1", 60, 3.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(dir)
      assert(rows.count() == 2) // same-ts duplicate collapsed
      assert(rows.columns.contains("date")) // partition layout present
      // a re-poll of ts 0 landing in a LATER micro-batch must compact
      // to one stored row with the new value (P1Logger's re-append
      // overwrite held in storage, not just in-batch / at query time)
      mem.addData(reading("m1", 0, 9.0))
      q.processAllAvailable()
      val after = spark.read.parquet(dir)
      assert(after.count() == 2) // still exactly one row per (key, ts)
      val v0 = after.filter(col("ts") === new java.sql.Timestamp(0L))
        .collect().map(_.getAs[scala.collection.Seq[Double]]("values").head)
      assert(v0.toSeq == Seq(9.0)) // the later batch's write won
      // an untouched day + a re-poll in one batch: only touched
      // partitions rewrite, the day-2 row must survive the compaction
      mem.addData(reading("m1", 86400, 4.0), reading("m1", 60, 5.0))
      q.processAllAvailable()
      val day2 = spark.read.parquet(dir)
      assert(day2.count() == 3)
      val v60 = day2.filter(col("ts") === new java.sql.Timestamp(60000L))
        .collect().map(_.getAs[scala.collection.Seq[Double]]("values").head)
      assert(v60.toSeq == Seq(5.0))
    } finally q.stop()
  }

  /** The parquet data files under `dir`, counted per partition directory. */
  private def filesPerPartition(dir: String): Map[String, Int] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
      .groupBy(f => java.nio.file.Paths.get(dir).relativize(f.getParent).toString)
      .map { case (part, fs) => part -> fs.size }
    finally walk.close()
  }

  test("last-wins sink leaves each touched partition one file in (meterId, ts) order") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = tmpDir("graft_sink_compact")
    val mem = MemoryStream[Reading]
    val q = Ingest.lastWinsParquetSink(mem.toDF(), dir, tmpDir("graft_ckpt")).start()
    def temp(meter: String, sec: Long) =
      Reading(meter, "Temp", new java.sql.Timestamp(sec * 1000L), Seq(20.0), "C")
    try {
      mem.addData(reading("m3", 120, 1), reading("m1", 60, 2), reading("m2", 0, 3),
        reading("m1", 0, 4), reading("m3", 0, 5), reading("m2", 60, 6),
        temp("m2", 30), temp("m1", 30))
      q.processAllAvailable()
      // the same (Power, day 0) again: two new keys and a re-poll, plus a new day
      mem.addData(reading("m2", 30, 7), reading("m1", 60, 8), reading("m3", 60, 9),
        reading("m1", 86400, 10))
      q.processAllAvailable()
    } finally q.stop()
    assert(filesPerPartition(dir) == Map(
      "series=Power/date=1970-01-01" -> 1,
      "series=Power/date=1970-01-02" -> 1,
      "series=Temp/date=1970-01-01" -> 1))
    val files = PlanSpec.layoutFiles(spark, dir)
    val unsorted = files.filterNot { case (_, rows) => PlanSpec.keyOrdered(rows) }
    assert(unsorted.isEmpty, s"files not in (meterId, ts) order: $unsorted")
    assert(files.values.map(_.size).sum == 11)
    val m1At60 = spark.read.parquet(dir)
      .filter(col("meterId") === "m1" && col("ts") === new java.sql.Timestamp(60000L))
      .collect().map(_.getAs[scala.collection.Seq[Double]]("values").head)
    assert(m1At60.toSeq == Seq(8.0))
  }

  test("layout files from the batch writer and the sink are zstd with a plain ts chunk") {
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val seeded = tmpDir("graft_layout_codec")
    ReadingsLayout.write(Seq(reading("m2", 0, 1), reading("m1", 60, 2),
      reading("m1", 86400, 3)).toDF(), seeded)
    // the sink's first write (an empty dir), then its rewrite of a touched
    // partition beside a new one
    val sunk = tmpDir("graft_sink_codec")
    val mem = MemoryStream[Reading]
    val q = Ingest.lastWinsParquetSink(mem.toDF(), sunk, tmpDir("graft_ckpt")).start()
    try {
      mem.addData(reading("m2", 0, 1), reading("m1", 60, 2))
      q.processAllAvailable()
      mem.addData(reading("m1", 0, 3), reading("m1", 86400, 4))
      q.processAllAvailable()
    } finally q.stop()
    for (dir <- Seq(seeded, sunk)) {
      val footers = PlanSpec.footers(spark, dir)
      assert(footers.size >= 2, s"$dir holds ${footers.size} files")
      val chunks = for {
        (f, footer) <- footers
        block <- footer.getBlocks.asScala
        chunk <- block.getColumns.asScala
      } yield (f, chunk)
      val notZstd = chunks.filter(_._2.getCodec != CompressionCodecName.ZSTD)
      assert(notZstd.isEmpty, notZstd.map { case (f, c) => s"$f ${c.getPath}: ${c.getCodec}" })
      val ts = chunks.filter(_._2.getPath.toDotString == "ts")
      assert(ts.size >= footers.size)
      val dictTs = ts.filter(_._2.hasDictionaryPage)
      assert(dictTs.isEmpty, s"ts chunks with a dictionary page: ${dictTs.map(_._1)}")
    }
  }

  test("blocklist stream gates documents at ingest, matching the batch body row-for-row") {
    import spark.implicits._
    val rows = streamMatchesBatch(spark,
        TextOps.blocklistFilter(_, "doc_id", "text", Seq("bad", "worse"), 1),
        Seq(Seq(
          SourcedDoc(1L, "good clean text", "src0"),
          SourcedDoc(2L, "bad text bad again", "src0"),
          SourcedDoc(3L, "worse text", "src1"))))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"), r.getAs[Boolean]("keep")))
      .toSet
    assert(rows == Set((1L, 0L, true), (2L, 2L, false), (3L, 1L, true)))
  }

  test("sample stream rebalances the mixture at ingest, deterministically across replays") {
    import spark.implicits._
    val rates = Map("src0" -> (1, 4), "src1" -> (3, 4))
    val input = (1L to 200L).map(i =>
      SourcedDoc(i, s"doc $i", if (i % 2 == 0) "src0" else "src1"))
    // the second micro-batch replays 50 documents (exactly-once
    // composition): the stream must reach the batch operator's verdicts
    // on the replay too
    val verdicts = streamMatchesBatch(spark,
        Curation.seededSourceSample(_, "doc_id", "source", rates),
        Seq(input, input.take(50)))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("kept"))
    verdicts.groupBy(_._1).foreach { case (id, vs) =>
      assert(vs.map(_._2).distinct.size == 1, s"doc $id flipped")
    }
    val got = verdicts.toMap
    // the mixture actually moved: src1 keeps ~3x the fraction of src0
    val keptBySrc = input.groupBy(_.source).map { case (src, docs2) =>
      src -> docs2.count(d => got(d.doc_id)).toDouble / docs2.size
    }
    assert(keptBySrc("src1") > keptBySrc("src0"))
  }
}

object StreamingSpec {
  private val sinkIds = new AtomicInteger()

  /** Runs the batch operator `op` on a MemoryStream fed `batches` (one
    * micro-batch each) and on their union as a static frame, asserts
    * that both hold the same rows, and returns the streamed rows. An
    * aggregation runs in "complete" mode, so its sink holds the running
    * result over every batch.
    */
  private[graft] def streamMatchesBatch[T: Encoder](
      spark: SparkSession,
      op: DataFrame => DataFrame,
      batches: Seq[Seq[T]],
      outputMode: String = "append"): Seq[Row] = {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[T]
    val name = s"stream_matches_batch_${sinkIds.incrementAndGet()}"
    val q = op(mem.toDF()).writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()
    val streamed = try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
    val batch = op(spark.createDataset(batches.flatten).toDF()).collect().toSeq
    org.scalatest.Assertions.assert(
      streamed.sortBy(_.toString) == batch.sortBy(_.toString),
      s"stream $streamed vs batch $batch")
    streamed
  }
}
