package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Battery, Dedup, Multimodal, TimeSeriesOps}

/** Operator kernels on tiny in-memory data: the ordered/stateful ops
  * (W1/W3/W4/W6), as-of join semantics, and the dedup signatures.
  */
class SparkKernelsSpec extends AnyFunSuite with SharedSpark {

  private def tsDf(rows: Seq[(Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("sec", "k", "v")
      .select(timestamp_seconds(col("sec")).as("ts"), col("k"), col("v"))
  }

  test("battery fold matches hand-computed golden (ZeroExport semantics)") {
    val p = Battery.Params(capacityKwh = 10, efficiency = 0.5, maxStepKwh = 100)
    val pts = Iterator(
      Battery.Point(1, 0L, -2.0), // charge min(50, 1, 10) = 1  -> soc 1
      Battery.Point(1, 60000000L, 1.0), // discharge min(200, 2, 1) = 1 -> soc 0
      Battery.Point(1, 120000000L, -30.0)) // charge min(50, 15, 10) = 10 -> soc 10
    val r = Battery.foldMeter(1, pts, p)
    assert(math.abs(r.totalChargedKwh - 11.0) < 1e-12)
    assert(math.abs(r.totalDischargedKwh - 1.0) < 1e-12)
    assert(math.abs(r.finalSocKwh - 10.0) < 1e-12)
    assert(math.abs(r.cycles - 0.6) < 1e-12)
    assert(r.nDays == 1 && r.nSteps == 3)
  }

  test("battery simulate distributes per meter") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val df = Seq(
      (1L, 0L, -2.0), (1L, 60L, 1.0),
      (2L, 0L, -4.0), (2L, 60L, -4.0))
      .toDF("meterId", "sec", "energyKwh")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val res = Battery.simulate(df, Battery.Params(10, 0.5, 100)).collect()
      .map(r => r.meterId -> r).toMap
    assert(math.abs(res(1L).totalChargedKwh - 1.0) < 1e-12)
    assert(math.abs(res(1L).totalDischargedKwh - 1.0) < 1e-12)
    assert(math.abs(res(2L).totalChargedKwh - 4.0) < 1e-12)
    assert(res(2L).totalDischargedKwh == 0.0)
  }

  test("asOfJoin picks latest right row at-or-before, honors tolerance") {
    val left = tsDf(Seq((100L, "a", 0.0), (200L, "a", 0.0), (50L, "b", 0.0)))
      .select(col("k"), col("ts"), col("v"))
    val right = tsDf(Seq((90L, "a", 1.0), (150L, "a", 2.0), (100L, "b", 9.0)))
      .select(col("k"), col("ts"), col("v").as("rv"))
    val out = TimeSeriesOps.asOfJoin(left, right, Seq("k"), "ts", "ts", Seq("rv"))
      .select(col("k"), unix_micros(col("ts")).as("lts"), col("rv_asof"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 1000000L,
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(out == Set(("a", 100L, Some(1.0)), ("a", 200L, Some(2.0)), ("b", 50L, None)))

    // 30 s tolerance: the 100s left row is 10s after the 90s right row (ok),
    // the 200s row is 50s after 150s (dropped)
    val tol = TimeSeriesOps.asOfJoin(left, right, Seq("k"), "ts", "ts", Seq("rv"),
      toleranceMillis = 30000L)
      .select(col("k"), unix_micros(col("ts")).as("lts"), col("rv_asof"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 1000000L,
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSet
    assert(tol == Set(("a", 100L, Some(1.0)), ("a", 200L, None), ("b", 50L, None)))
  }

  test("asOfJoin equal timestamps: right row visible to left row") {
    val left = tsDf(Seq((100L, "a", 0.0))).select(col("k"), col("ts"))
    val right = tsDf(Seq((100L, "a", 5.0))).select(col("k"), col("ts"), col("v").as("rv"))
    val out = TimeSeriesOps.asOfJoin(left, right, Seq("k"), "ts", "ts", Seq("rv")).collect()
    assert(out.head.getAs[Double]("rv_asof") == 5.0)
  }

  test("rolloverCorrect accumulates reset offsets (Kasa/Tapo W4)") {
    val df = tsDf(Seq((1L, "m", 10.0), (2L, "m", 20.0), (3L, "m", 2.0), (4L, "m", 5.0),
      (5L, "m", 1.0)))
    val out = TimeSeriesOps.rolloverCorrect(df, Seq("k"), "ts", "v")
      .orderBy(col("ts")).select(col("corrected")).collect().map(_.getDouble(0)).toSeq
    // resets at 20->2 (offset 20) and 5->1 (offset +5 = 25)
    assert(out == Seq(10.0, 20.0, 22.0, 25.0, 26.0))
  }

  test("trapezoidIntegrate matches analytic integral (Mbus W3)") {
    // power ramps 0..100 W over 3600 s → energy = 0.05 kWh... in our unit
    // convention output is in (power·hours): 100/2 * 1h = 50
    val df = tsDf(Seq((0L, "m", 0.0), (3600L, "m", 100.0)))
    val out = TimeSeriesOps.trapezoidIntegrate(df, Seq("k"), "ts", "v")
      .agg(sum("step_energy")).collect()(0).getDouble(0)
    assert(math.abs(out - 50.0) < 1e-9)
    // non-monotonic timestamps are skipped
    val df2 = tsDf(Seq((0L, "m", 0.0), (3600L, "m", 100.0), (3600L, "m", 50.0)))
    val out2 = TimeSeriesOps.trapezoidIntegrate(df2, Seq("k"), "ts", "v")
      .agg(sum("step_energy")).collect()(0).getDouble(0)
    assert(math.abs(out2 - 50.0) < 1e-9)
  }

  test("debounce drops events within the window (Gpio W6)") {
    val df = spark.range(1).select(
      explode(array(
        (Seq(0L, 100L, 150L, 400L, 450L, 800L)).map(ms =>
          timestamp_millis(lit(ms))): _*)).as("ts"))
      .withColumn("k", lit("m"))
    val out = TimeSeriesOps.debounce(df, Seq("k"), "ts", 200L)
      .select(unix_millis(col("ts"))).collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 400L, 800L))
  }

  test("minhash LSH finds the planted near-duplicate") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("saltedAvg equals plain groupBy average (skew-safe two-phase)") {
    val rnd = new scala.util.Random(17)
    // one hot key with 10x the rows
    val rows = (1 to 1000).map(i => (60L + i, "hot", rnd.nextDouble() * 100)) ++
      (1 to 100).map(i => (60L + i, "cold", rnd.nextDouble() * 100))
    val df = tsDf(rows)
    val salted = TimeSeriesOps.saltedAvg(df, Seq("k"), "v", col("ts"), buckets = 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val plain = df.groupBy(col("k"))
      .agg(avg(col("v")).as("a"), count(col("v")).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    for (k <- Seq("hot", "cold")) {
      assert(salted(k)._2 == plain(k)._2)
      assert(math.abs(salted(k)._1 - plain(k)._1) < 1e-9)
    }
  }

  test("rolloverCorrect equals a reference fold on random counter series") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for {
      meter <- 1 to 8
      i <- 0 until 50
    } yield {
      // counters mostly rise, occasionally reset toward zero
      val v = if (rnd.nextDouble() < 0.15) rnd.nextDouble() * 5
              else i * 10.0 + rnd.nextDouble()
      (meter.toString, i.toLong, v)
    }
    val got = TimeSeriesOps.rolloverCorrect(
      tsDf(rows.map { case (k, sec, v) => (sec, k, v) }), Seq("k"), "ts", "v")
      .select(col("k"), unix_micros(col("ts")).as("us"), col("corrected"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 1000000L) -> r.getDouble(2)).toMap
    // reference: per meter, corrected = raw + running sum of pre-reset values
    rows.groupBy(_._1).foreach { case (k, rs) =>
      var offset = 0.0
      var prev = Double.NaN
      rs.sortBy(_._2).foreach { case (_, sec, v) =>
        if (!prev.isNaN && v < prev) offset += prev
        prev = v
        assert(math.abs(got((k, sec)) - (v + offset)) < 1e-9, s"meter $k at $sec")
      }
    }
  }

  test("trapezoidIntegrate equals a reference fold on random series") {
    val rnd = new scala.util.Random(13)
    val rows = for (meter <- 1 to 5; i <- 0 until 40)
      yield (meter.toString, i * 60L, rnd.nextDouble() * 1000)
    val got = TimeSeriesOps.trapezoidIntegrate(
      tsDf(rows.map { case (k, sec, v) => (sec, k, v) }), Seq("k"), "ts", "v")
      .groupBy(col("k")).agg(sum(col("step_energy")).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val sorted = rs.sortBy(_._2)
      val expected = sorted.zip(sorted.tail).map { case ((_, t0, v0), (_, t1, v1)) =>
        (v0 + v1) / 2.0 * ((t1 - t0).toDouble / 3600.0)
      }.sum
      assert(math.abs(got(k) - expected) < 1e-9, s"meter $k")
    }
  }

  test("runExtenderColumn matches the scalar law on the decision table") {
    import spark.implicits._
    import graft.functions.ControlLaws
    val cfg5 = ControlLaws.RunExtenderConfig(5, 24, 30)
    val cfg10 = ControlLaws.RunExtenderConfig(10, 24, 30)
    val rows = Seq( // (desiredModulation, mod, curMin, desired, actual)
      (5.0, 0.0, 24.0, 24.0, 25.0), (5.0, 0.0, 26.0, 0.0, 22.0),
      (5.0, 0.0, 23.0, 0.0, 15.0), (5.0, 0.0, 23.0, 23.0, 23.5),
      (5.0, 0.0, 24.0, 24.0, 24.5), (10.0, 9.0, 24.0, 25.0, 25.0),
      (10.0, 20.0, 26.0, 26.0, 26.0), (10.0, 5.0, 30.0, 30.0, 30.0),
      (10.0, 20.0, 25.0, 26.0, 26.0))
    for ((dm, m, c, d, a) <- rows) {
      val cfg = if (dm == 5.0) cfg5 else cfg10
      val expected = ControlLaws.runExtender(m, c, d, a, cfg)
      val got = Seq((m, c, d, a)).toDF("m", "c", "d", "a")
        .select(ControlLaws.runExtenderColumn(
          col("m"), col("c"), col("d"), col("a"), cfg).as("r"))
        .collect()(0).getDouble(0)
      assert(got == expected || (got.isNaN && expected.isNaN),
        s"($dm,$m,$c,$d,$a): column=$got scalar=$expected")
    }
  }

  test("multimodal stub decode: batch plumbing + deterministic features") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = Seq((0L, "abc", 3L), (1L, "zz", 2L), (2L, "q", 1L))
      .toDF("doc_id", "text", "n_chars")
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media, batchSize = 2).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(0L).kind == "image" && feats(1L).kind == "audio" && feats(2L).kind == "video")
    assert(feats(0L).n_bytes == 3 && feats(0L).luma == 'a'.toInt.toDouble)
    assert(feats(0L).checksum == 'a'.toInt + 'b'.toInt + 'c'.toInt)
    // embedding is unit-length
    val e = feats(0L).embedding.map(_.toDouble)
    assert(math.abs(e.map(x => x * x).sum - 1.0) < 1e-6)
    assert(Multimodal.sampleFrameIndexes(10, 3) == Seq(0, 3, 6, 9))
  }

  test("simhash: identical docs collide, disjoint docs differ") {
    import spark.implicits._
    val a = (1 to 40).map(i => s"tok$i").mkString(" ")
    val b = (100 to 140).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.simhashChunks(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.simhashNearDup(df, "doc_id", "text", threshold = 0.9)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("sparse_dot: sorted-merge over shared terms, symmetric, empty-safe") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Signatures.sparse_dot
    val df = Seq((
      Seq("apple", "cat", "dog"), Seq(2.0, 3.0, 5.0),
      Seq("apple", "dog", "zebra"), Seq(7.0, 11.0, 13.0)))
      .toDF("ta", "wa", "tb", "wb")
    val got = df.select(
      sparse_dot(col("ta"), col("wa"), col("tb"), col("wb")).as("d1"),
      sparse_dot(col("tb"), col("wb"), col("ta"), col("wa")).as("d2"),
      sparse_dot(col("ta"), col("wa"),
        expr("array()").cast("array<string>"),
        expr("array()").cast("array<double>")).as("d0")).head()
    assert(got.getDouble(0) == 2.0 * 7.0 + 5.0 * 11.0) // apple + dog; cat/zebra unshared
    assert(got.getDouble(1) == got.getDouble(0))
    assert(got.getDouble(2) == 0.0)
  }

  test("documented scale swaps hold: approx percentile and distinct within tolerance") {
    // q05 and q34 ship exact kernels with comments prescribing the
    // sketch-based swap at 100 TB (percentile_approx / HLL++). This
    // pins the swap's accuracy contract on real data so the advice
    // stays true as the queries evolve.
    val s = spark
    import org.apache.spark.sql.functions._
    val ev = Tables.events(s, "/root/testdata/sf0.001")
    val agg = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("p50_exact"),
        expr("percentile_approx(value, 0.5, 1000)").as("p50_approx"),
        countDistinct(col("user_id")).as("nd_exact"),
        expr("approx_count_distinct(user_id, 0.02)").as("nd_approx"))
      .collect()
    assert(agg.nonEmpty)
    for (r <- agg) {
      val (pe, pa) = (r.getDouble(1), r.getDouble(2))
      // percentile_approx with 1000 buckets: well under 5% of the
      // value range on this distribution
      assert(math.abs(pe - pa) <= math.max(1.0, math.abs(pe)) * 0.05,
        s"${r.getString(0)}: exact $pe approx $pa")
      val (ne, na) = (r.getLong(3), r.getLong(4))
      // HLL++ at rsd=0.02: allow 3 sigma
      assert(math.abs(ne - na) <= math.max(3.0, ne * 0.06),
        s"${r.getString(0)}: exact $ne approx $na")
    }
  }
}
