package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fluent DSL over the canonical readings shape: each combinator
  * must compose to the expected result and stay a pure Catalyst plan.
  */
class TsQuerySpec extends AnyFunSuite with SharedSpark {

  private def readings: DataFrame = {
    import spark.implicits._
    Seq(
      ("m1", "Power", 0L, Seq(100.0), "W"),
      ("m1", "Power", 1800L, Seq(200.0), "W"),
      ("m1", "Power", 3600L, Seq(300.0), "W"),
      ("m1", "Temp", 0L, Seq(21.5, 0.1), "C"),
      ("m2", "Power", 100L, Seq(50.0), "W"))
      .toDF("meterId", "series", "sec", "values", "tag")
      .select(col("meterId"), col("series"),
        timestamp_seconds(col("sec")).as("ts"), col("values"), col("tag"))
  }

  test("meter/series/range scans + bucketed avg") {
    val out = TsQuery(readings)
      .meter("m1").series("Power")
      .between(timestamp_seconds(lit(0)), timestamp_seconds(lit(3600)))
      .bucketedAvg(3600000L)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("avg_value") == 150.0)
    assert(out(0).getAs[Long]("n") == 2L)
  }

  test("last per key keeps values array and tag") {
    val out = TsQuery(readings).last().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Double](2)).toMap
    assert(out(("m1", "Power")) == Seq(300.0))
    assert(out(("m1", "Temp")) == Seq(21.5, 0.1))
  }

  test("align with fill=0 vs fill=None") {
    val filled = TsQuery(readings).alignAvg(3600000L, Seq("Power", "Temp"))
      .orderBy(col("bucket")).collect()
    // second hour has no Temp reading -> 0.0
    assert(filled(1).getAs[Double]("Temp") == 0.0)
    val raw = TsQuery(readings).alignAvg(3600000L, Seq("Power", "Temp"), fill = None)
      .orderBy(col("bucket")).collect()
    assert(raw(1).isNullAt(raw(1).fieldIndex("Temp")))
  }

  test("value column selection by position") {
    val out = TsQuery(readings).meter("m1").series("Temp").valueColumn(1)
      .df.select(col("value")).collect()
    assert(out.head.getDouble(0) == 0.1)
  }

  test("integrate composes the trapezoid kernel") {
    val out = TsQuery(readings).meter("m1").series("Power").integrate()
      .agg(sum(col("step_energy"))).collect()(0).getDouble(0)
    // (100+200)/2 * 0.5h + (200+300)/2 * 0.5h = 75 + 125 = 200
    assert(math.abs(out - 200.0) < 1e-9)
  }

  test("percentile per series") {
    val out = TsQuery(readings).series("Power").percentile(0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("m1") == 200.0)
    assert(out("m2") == 50.0)
  }

  test("bucketedRangeJoin equals the naive BETWEEN join, keeps empty windows") {
    val s = spark; import s.implicits._
    val H = 3600L * 1000000L // one hour in µs
    // events for two meters; m2's second window will be empty, and one
    // window spans multiple coarse buckets
    val events = Seq(
      ("m1", 0L * H + 5L, 1.0), ("m1", 1L * H, 2.0), ("m1", 5L * H, 3.0),
      ("m2", 0L * H + 10L, 10.0), ("m2", 9L * H, 20.0)
    ).toDF("meter", "ts_us", "value")
    val windows = Seq(
      ("m1", 0L, 0L, 2L * H),       // 2 events
      ("m1", 1L, 4L * H, 7L * H),   // 3h window crossing bucket edges
      ("m2", 0L, 0L, 1L),           // half-open: only ts 0 would match → empty
      ("m2", 1L, 8L * H, 10L * H)   // 1 event
    ).toDF("meter", "win_id", "start_us", "end_us")
    val got = graft.operators.TimeSeriesOps.bucketedRangeJoin(
        events, windows, Seq("meter"), col("ts_us"), bucketMicros = 3L * H)
      .groupBy(col("meter"), col("win_id"))
      .agg(count(col("value")).as("n"), sum(col("value")).as("sv"))
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    val want = windows.as("w").join(events.as("e"),
        col("w.meter") === col("e.meter") &&
          col("e.ts_us") >= col("start_us") && col("e.ts_us") < col("end_us"),
        "left")
      .groupBy(col("w.meter"), col("win_id"))
      .agg(count(col("value")).as("n"), sum(col("value")).as("sv"))
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got == want, s"got $got\nwant $want")
    assert(got(("m2", 0L)) == ((0L, None))) // empty window survived
    assert(got(("m1", 1L)) == ((1L, Some(3.0)))) // multi-bucket window deduped
  }
}
