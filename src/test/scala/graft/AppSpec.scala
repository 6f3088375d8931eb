package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ControlLaws
import graft.streaming.{App, Ingest}
import graft.streaming.App.Connector
import graft.streaming.Ingest.Reading

/** The composed application (Program.cs:21-48 parity): multiple
  * connectors' poll cycles through the real decoders into one
  * readings sink, the per-cycle doc-health write, and the two
  * stateful control loops emitting actuator decisions.
  */
class AppSpec extends AnyFunSuite with SharedSpark {

  private val telegram =
    "/ISK5\\2M550T-1012\r\n\r\n" +
      "1-0:1.7.0(00.421*kW)\r\n1-0:2.7.0(00.000*kW)\r\n" +
      "1-0:32.7.0(230.1*V)\r\n1-0:52.7.0(231.2*V)\r\n1-0:72.7.0(229.9*V)\r\n" +
      "1-0:31.7.0(001*A)\r\n1-0:51.7.0(001*A)\r\n1-0:71.7.0(001*A)\r\n" +
      "1-0:1.8.1(000004.426*kWh)\r\n1-0:1.8.2(000002.399*kWh)\r\n" +
      "1-0:2.8.1(000000.000*kWh)\r\n1-0:2.8.2(000000.000*kWh)\r\n!"

  // every extender/thermostat input series in one device tree:
  // Modulation 3 (under the desired 5), FlowTemp 25.5, desired flow 25,
  // held minimum 24 → decision-table branch 3 raises to actual+0.5=26.0
  private val ebusTree =
    """{"broadcast":{"messages":{"outsidetemp":
      |   {"lastup":60,"fields":{"temp2":{"value":11.2}}}}},
      | "hmu":{"messages":{
      |   "FlowTemp":{"lastup":60,"fields":{"0":{"value":25.5}}},
      |   "SetMode":{"lastup":60,"fields":{"flowtempdesired":{"value":25.0}}},
      |   "State":{"lastup":60,"fields":{
      |     "0":{"value":3},"1":{"value":5},"2":{"value":1},"3":{"value":2}}}}},
      | "720":{"messages":{
      |   "z1RoomTemp":{"lastup":60,"fields":{"tempv":{"value":20.6}}},
      |   "z1ActualRoomTempDesired":{"lastup":60,"fields":{"tempv":{"value":21.0}}},
      |   "Hc1MinFlowTempDesired":{"lastup":60,"fields":{"tempv":{"value":24.0}}}}}}
      |""".stripMargin

  private val extenderCfg = ControlLaws.RunExtenderConfig(
    desiredModulation = 5, minimumFlowTemperature = 24,
    maximumFlowTemperature = 30)
  private val thermoCfg = App.ThermostatConfig(
    permanentSwitchTemperature = 18.0,
    onPeriods = Seq((28800L, 43200L), (50400L, 64800L)))

  test("composed app e2e: three connectors -> sinks + control decisions") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = tmpDir("graft_app")
    val readingsDir = s"$base/readings"
    val metersDir = s"$base/meters"
    // seed the doc snapshot the health sink mutates
    Seq(
      graft.Meters.MeterDoc("meters/p1", 1L, "DSMR5", "Electricity", 0.0,
        lastPollSuccessful = false, extendRuns = true, switchThermostat = true,
        5.0, 24.0, 30.0, 18.0, 10L, 10L, Seq.empty, Seq.empty),
      graft.Meters.MeterDoc("meters/kasa", 2L, "KASA", "Electricity", 0.0,
        lastPollSuccessful = false, extendRuns = false, switchThermostat = false,
        5.0, 24.0, 30.0, 18.0, 10L, 10L, Seq.empty, Seq.empty),
      graft.Meters.MeterDoc("meters/ebus", 3L, "EBUS", "Electricity", 0.0,
        lastPollSuccessful = false, extendRuns = true, switchThermostat = true,
        5.0, 24.0, 30.0, 18.0, 10L, 10L, Seq.empty, Seq.empty),
      graft.Meters.MeterDoc("meters/idle", 4L, "SDM630", "Electricity", 0.0,
        lastPollSuccessful = false, extendRuns = false, switchThermostat = false,
        5.0, 24.0, 30.0, 18.0, 10L, 10L, Seq.empty, Seq.empty))
      .toDF().write.mode("overwrite").parquet(metersDir)

    val tg = telegram; val eb = ebusTree
    val kasaCipher = graft.functions.Parsers.kasaEncrypt(
      """{"emeter":{"get_realtime":{"power_mw":421000,"total_wh":4426}}}""")
    // one MemoryStream of ticks per connector, shared by all queries
    // (each query tracks its own offsets over the same data)
    val p1Ticks = MemoryStream[Long]
    val kasaTicks = MemoryStream[Long]
    val ebusTicks = MemoryStream[Long]
    val connectors = Seq(
      Connector("P1Logger", 10,
        _ => tg.getBytes("UTF-8"),
        raw => graft.streaming.PollSource.dsmrReadingRows(
          "meters/p1", new String(raw, "UTF-8"), 60000L),
        ticks = Some(p1Ticks.toDS())),
      Connector("KasaLogger", 10,
        _ => kasaCipher,
        raw => graft.streaming.PollSource.kasaReadingRows(
          "meters/kasa", raw, 60000L),
        ticks = Some(kasaTicks.toDS())),
      Connector("EbusLogger", 30,
        _ => eb.getBytes("UTF-8"),
        raw => graft.streaming.PollSource.ebusReadingRows(
          "meters/ebus", new String(raw, "UTF-8")),
        ticks = Some(ebusTicks.toDS())))

    val setpoints = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]
    val modes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]
    val queries = App.start(
      spark, connectors, readingsDir, Some(metersDir), s"$base/ckpt",
      extenderCfg, thermoCfg, triggerSeconds = 1,
      onSetpoint = _.foreach(setpoints.add),
      onMode = _.foreach(modes.add))
    try {
      p1Ticks.addData(0L); kasaTicks.addData(0L); ebusTicks.addData(0L)
      queries.foreach(_.processAllAvailable())

      // 1) readings sink: every connector's decoded rows landed in the
      // partitioned layout
      val stored = spark.read.parquet(readingsDir)
      val byMeter = stored.groupBy(col("meterId")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byMeter("meters/p1") == 5L) // 5 series per telegram
      assert(byMeter("meters/kasa") == 1L)
      assert(byMeter("meters/ebus") == 10L) // present tree paths (7
      // standard + SetMode/RoomDesired/MinFlow for the control loops)
      assert(stored.columns.contains("date")) // partition column

      // 2) doc health: polled meters flipped, the idle meter did not
      val health = spark.read.parquet(metersDir)
        .select(col("meterId"), col("lastPollSuccessful"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(health("meters/p1") && health("meters/kasa") && health("meters/ebus"))
      assert(!health("meters/idle"))

      // 3) run extender: under-modulating while flow tracks desired →
      // raise the held minimum to actualFlow + 0.5
      assert(setpoints.toArray.toSeq == Seq(("meters/ebus", 26.0)))

      // 4) thermostat: outside 11.2 ≤ 18 and only 1 recent setpoint →
      // the decision table stays silent (nSetpoints < 10)
      assert(modes.isEmpty)
    } finally queries.foreach(_.stop())
  }

  test("run-extender loop carries per-meter state across micro-batches") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def r(series: String, sec: Long, v: Double) =
      Reading("meters/hp", series, new java.sql.Timestamp(sec * 1000L), Seq(v), "")
    val mem = MemoryStream[Reading]
    val q = App.runExtenderDecisions(mem.toDS(), extenderCfg).toDF()
      .writeStream.format("memory").queryName("ext_stream")
      .outputMode("update").start()
    try {
      // batch 1: two of four inputs — no decision possible yet
      mem.addData(r("Modulation", 10, 3.0), r("MinimumFlowTemp", 10, 24.0))
      q.processAllAvailable()
      assert(spark.table("ext_stream").count() == 0)
      // batch 2: remaining inputs arrive; cached state completes the
      // quadruple → branch 3 raises to 25.5 + 0.5
      mem.addData(r("DesiredFlowTemperature", 20, 25.0),
        r("FlowTemperature", 20, 25.5))
      q.processAllAvailable()
      val d = spark.table("ext_stream").collect()
      assert(d.map(x => (x.getString(0), x.getDouble(2))).toSeq ==
        Seq(("meters/hp", 26.0)))
      // batch 3: over-modulating at/below the setpoint → lower by 0.5
      // (modulation 11 > 5+5, actual 24.5 ≤ desired 25 ≤ minimum 26)
      mem.addData(r("Modulation", 30, 11.0), r("MinimumFlowTemp", 30, 26.0),
        r("FlowTemperature", 30, 24.5))
      q.processAllAvailable()
      val d2 = spark.table("ext_stream").collect()
      assert(d2.map(_.getDouble(2)).toSeq.sorted == Seq(25.5, 26.0))
    } finally q.stop()
  }

  test("thermostat loop: warm-weather switch and all-off modulating switch") {
    implicit val s = spark
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def r(m: String, series: String, sec: Long, v: Double) =
      Reading(m, series, new java.sql.Timestamp(sec * 1000L), Seq(v), "")
    val mem = MemoryStream[Reading]
    val q = App.thermostatDecisions(mem.toDS(), thermoCfg).toDF()
      .writeStream.format("memory").queryName("thermo_stream")
      .outputMode("update").start()
    try {
      // meter A: warm outside (19 > 18) and room nearly satisfied
      // (diff 0.2 < 0.7) → immediate "thermostat", no history needed
      mem.addData(
        r("meters/a", "OutsideTemp", 10, 19.0),
        r("meters/a", "RoomTemperature", 10, 20.8),
        r("meters/a", "DesiredRoomTemperature", 10, 21.0))
      q.processAllAvailable()
      assert(spark.table("thermo_stream").collect()
        .map(x => (x.getString(0), x.getString(2))).toSeq ==
        Seq(("meters/a", "thermostat")))
      // meter B: cold outside, 10 all-off setpoints in the window →
      // "modulating" (and fewer than 10 stays silent on the way there)
      mem.addData(
        (Seq(r("meters/b", "OutsideTemp", 10, 5.0),
          r("meters/b", "RoomTemperature", 10, 19.0),
          r("meters/b", "DesiredRoomTemperature", 10, 21.0)) ++
          (1 to 9).map(i =>
            r("meters/b", "DesiredFlowTemperature", 10 + i, 0.0))): _*)
      q.processAllAvailable()
      val afterNine = spark.table("thermo_stream").collect()
        .filter(_.getString(0) == "meters/b")
      assert(afterNine.isEmpty) // 9 setpoints < the required 10
      mem.addData(r("meters/b", "DesiredFlowTemperature", 20, 0.0))
      q.processAllAvailable()
      val b = spark.table("thermo_stream").collect()
        .filter(_.getString(0) == "meters/b")
      assert(b.map(_.getString(2)).toSeq == Seq("modulating"))
    } finally q.stop()
  }

  test("supervise: W9-backoff restarts on failure, resets when healthy, clean stop ends") {
    val s = spark; import s.implicits._
    val poison = new java.util.concurrent.atomic.AtomicBoolean(true)
    val successes = new java.util.concurrent.atomic.AtomicInteger(0)
    val delays = scala.collection.mutable.ArrayBuffer[Long]()
    val restarts = scala.collection.mutable.ArrayBuffer[Int]()
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[Int]
    mem.addData(1, 2, 3)
    val ckpt = tmpDir("supervise-spec")
    def startQuery() = mem.toDS().writeStream
      .option("checkpointLocation", ckpt)
      .queryName("supervised-spec")
      .foreachBatch { (_: org.apache.spark.sql.Dataset[Int], _: Long) =>
        if (poison.get()) throw new RuntimeException("flaky connector")
        successes.incrementAndGet(); ()
      }.start()
    // watchdog issues the operator's clean stop() after recovery
    val stopper = new Thread(() => {
      while (successes.get() < 1) Thread.sleep(50)
      s.streams.active.find(_.name == "supervised-spec").foreach(_.stop())
    })
    stopper.setDaemon(true); stopper.start()
    App.supervise(
      () => startQuery(),
      maxRestarts = 5, baseMillis = 100L, healthyMillis = 3600000L,
      onRestart = (n, _) => restarts += n,
      // injected sleep records the W9 ladder; the 2nd restart heals
      // the connector, so the 3rd attempt processes and stops cleanly
      sleep = ms => { delays += ms; if (delays.size == 2) poison.set(false) })
    stopper.join(10000)
    assert(restarts.toSeq == Seq(1, 2), "two failed attempts, then recovery")
    assert(delays.toSeq == Seq(100L, 200L), "backoff doubles per W9")
    assert(successes.get() >= 1)
    // give-up: a permanently broken query rethrows after maxRestarts
    poison.set(true)
    val ckpt2 = tmpDir("supervise-spec2")
    def broken() = mem.toDS().writeStream
      .option("checkpointLocation", ckpt2)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[Int], _: Long) =>
        throw new RuntimeException("always down")
      }.start()
    val thrown = intercept[Exception] {
      App.supervise(() => broken(), maxRestarts = 2,
        baseMillis = 10L, healthyMillis = 3600000L, sleep = _ => ())
    }
    assert(thrown.getMessage != null)
  }

  test("withBackoff: retry-once recovers, repeated failure doubles the hold-off") {
    var now = 0L
    val clock = () => now
    var calls = 0
    var failuresLeft = 0
    val edge: Long => Array[Byte] = _ => {
      calls += 1
      if (failuresLeft > 0) { failuresLeft -= 1; sys.error("edge down") }
      Array[Byte](1)
    }
    val hardened = App.withBackoff(edge, baseMillis = 1000L, clock = clock)
    // one transient fault: retry-once absorbs it inside the cycle (W11)
    failuresLeft = 1
    assert(hardened(0L).sameElements(Array[Byte](1)) && calls == 2)
    // a dead device: both attempts fail -> cycle throws, 2s hold-off
    failuresLeft = Int.MaxValue
    intercept[RuntimeException](hardened(1L))
    val afterFirstFail = calls
    // inside the hold-off the edge must NOT be touched (fail fast)
    now = 1500L
    intercept[IllegalStateException](hardened(2L))
    assert(calls == afterFirstFail)
    // past the hold-off it probes again; failure doubles the delay (W9)
    now = 2500L
    intercept[RuntimeException](hardened(3L))
    now = 5000L // 2.5s + 4s hold-off not yet elapsed
    intercept[IllegalStateException](hardened(4L))
    assert(calls == afterFirstFail + 2)
    // recovery resets to the base delay
    now = 7000L
    failuresLeft = 0
    assert(hardened(5L).sameElements(Array[Byte](1)))
  }

  test("Goodwe frames stream through decodePollCycles (S11 connector shape)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.functions.BinaryDecoders
    val frame = BinaryDecoders.goodweEncode(BinaryDecoders.GoodweTelemetry(
      year = 2022, month = 4, day = 21, hour = 16, minute = 5, second = 0,
      vpv = 351.1, ipv = 3.2, vac = 230.1, iac = 2.1, gridFrequency = 50.02,
      powerW = 740.0, status = 1, temperatureC = 41.3,
      energyTodayKwh = 5.4, energyLifetimeKwh = 1234.5))
    val ticks = MemoryStream[Long]
    val readings = graft.streaming.PollSource.decodePollCycles(
      ticks.toDS(),
      poll = _ => frame, // fake UDP edge
      decode = raw => graft.streaming.PollSource.goodweReadingRows(
        "meters/goodwe", raw, java.time.ZoneId.of("UTC")))
    val q = readings.writeStream.format("memory").queryName("goodwe_rows")
      .outputMode("append").start()
    try {
      ticks.addData(0L)
      q.processAllAvailable()
      val rows = spark.table("goodwe_rows").collect()
      assert(rows.length == 7) // the seven logger series
      val power = rows.filter(_.getAs[String]("series") == "Power").head
      assert(power.getAs[scala.collection.Seq[Double]]("values") == Seq(740.0))
      // the row carries the inverter's own clock, not the poll tick
      assert(power.getAs[java.sql.Timestamp]("ts").getTime ==
        java.time.Instant.parse("2022-04-21T16:05:00Z").toEpochMilli)
    } finally q.stop()
  }
}
