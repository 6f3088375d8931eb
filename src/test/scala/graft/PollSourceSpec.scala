package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Parsers, Vents}
import graft.streaming.PollSource

/** The generic poll-cycle connector: tick stream → edge fetch → pure
  * decoder → reading rows, proven end-to-end through the real DSMR,
  * Vents, and Kasa decoders with deterministic fake edges.
  */
class PollSourceSpec extends AnyFunSuite with SharedSpark {

  /** A device payload under src/test/resources/poll (FIXTURES.md §2). */
  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/poll/$name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private val telegram =
    "/ISK5\\2M550T-1012\r\n\r\n" +
      "1-0:1.7.0(00.421*kW)\r\n1-0:2.7.0(00.000*kW)\r\n" +
      "1-0:21.7.0(00.141*kW)\r\n1-0:22.7.0(00.000*kW)\r\n" +
      "1-0:41.7.0(00.140*kW)\r\n1-0:42.7.0(00.000*kW)\r\n" +
      "1-0:61.7.0(00.140*kW)\r\n1-0:62.7.0(00.000*kW)\r\n" +
      "1-0:32.7.0(230.1*V)\r\n1-0:52.7.0(231.2*V)\r\n1-0:72.7.0(229.9*V)\r\n" +
      "1-0:31.7.0(001*A)\r\n1-0:51.7.0(001*A)\r\n1-0:71.7.0(001*A)\r\n" +
      "1-0:1.8.1(000004.426*kWh)\r\n1-0:1.8.2(000002.399*kWh)\r\n" +
      "1-0:2.8.1(000000.000*kWh)\r\n1-0:2.8.2(000000.000*kWh)\r\n!"

  test("poll cycles stream through the DSMR decoder (S8/S9 connector shape)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tg = telegram // local copy — the closure must not capture the suite
    val ticks = MemoryStream[Long]
    val readings = PollSource.decodePollCycles(
      ticks.toDS(),
      poll = tick => tg.getBytes("UTF-8"), // fake serial/HTTP edge
      decode = raw =>
        PollSource.dsmrReadingRows("meters/p1", new String(raw, "UTF-8"), 60000L))
    val q = readings.writeStream.format("memory").queryName("p1_rows")
      .outputMode("append").start()
    try {
      ticks.addData(0L, 1L)
      q.processAllAvailable()
      val rows = spark.table("p1_rows").collect()
      assert(rows.length == 10) // 2 cycles x 5 series per telegram
      val power = rows.filter(_.getAs[String]("series") == "Power")
      assert(power.forall(_.getAs[scala.collection.Seq[Double]]("values").head == 421.0))
      val counters = rows.filter(_.getAs[String]("series") == "EnergyCounters").head
      assert(counters.getAs[scala.collection.Seq[Double]]("values") ==
        Seq(4.426, 2.399, 0.0, 0.0))
    } finally q.stop()
  }

  test("poll cycles stream through the Vents codec (S12 connector shape)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def b(v: Int) = Array[Byte](v.toByte)
    def A(n: String) = Vents.ItemAddress(n)
    val items = Map(
      A("OnOff") -> b(1), A("SpeedMode") -> b(3),
      A("WeeklyScheduleEnabled") -> b(0), A("WeeklyScheduleSpeed") -> b(4),
      A("Timer") -> b(0), A("TimerSpeed") -> b(5), A("Boost") -> b(0),
      A("TemperatureOutsideIntake") -> Array[Byte](0x64, 0x00),
      A("TemperatureOutsideExhaust") -> Array[Byte](0xc8.toByte, 0x00),
      A("SupplySpeed1") -> b(20), A("ExtractSpeed1") -> b(21),
      A("SupplySpeed2") -> b(30), A("ExtractSpeed2") -> b(31),
      A("SupplySpeed3") -> b(40), A("ExtractSpeed3") -> b(41),
      A("SupplySpeed4") -> b(50), A("ExtractSpeed4") -> b(51),
      A("SupplySpeed5") -> b(60), A("ExtractSpeed5") -> b(61),
      A("SupplySpeedBoost") -> b(90), A("ExtractSpeedBoost") -> b(95))
    val frame = Vents.encodeReply("0011", "pw", items.toSeq.sortBy(_._1))
    val ticks = MemoryStream[Long]
    val readings = PollSource.decodePollCycles(
      ticks.toDS(),
      poll = _ => frame, // fake UDP edge
      decode = raw => PollSource.ventsReadingRows("meters/vents", raw, 0L))
    val q = readings.writeStream.format("memory").queryName("vents_rows")
      .outputMode("append").start()
    try {
      ticks.addData(0L)
      q.processAllAvailable()
      val rows = spark.table("vents_rows").collect()
        .map(r => r.getAs[String]("series") ->
          (r.getAs[scala.collection.Seq[Double]]("values"), r.getAs[String]("tag"))).toMap
      assert(rows("Speed") == (Seq(3.0), "on"))
      assert(rows("FanSpeedPercentages") == (Seq(40.0, 41.0), "supply;extract"))
      assert(rows("OutsideTemperature")._1 == Seq(10.0))
    } finally q.stop()
  }

  test("poll cycles stream through the Kasa cipher (S13 connector shape)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val json =
      """{"emeter":{"get_realtime":{"power_mw":421000,"total_wh":4426}}}"""
    val ciphertext = Parsers.kasaEncrypt(json)
    val ticks = MemoryStream[Long]
    val readings = PollSource.decodePollCycles(
      ticks.toDS(),
      poll = _ => ciphertext, // fake TCP edge
      decode = raw => PollSource.kasaReadingRows("meters/plug", raw, 0L))
    val q = readings.writeStream.format("memory").queryName("kasa_rows")
      .outputMode("append").start()
    try {
      ticks.addData(0L)
      q.processAllAvailable()
      val rows = spark.table("kasa_rows").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[scala.collection.Seq[Double]]("values") == Seq(421.0, 4.426))
      assert(rows.head.getAs[String]("tag") == "W;kWh")
    } finally q.stop()
  }

  test("Goodwe frames map to the seven logger series with device-clock timestamps (S11)") {
    import graft.functions.BinaryDecoders
    val t = BinaryDecoders.GoodweTelemetry(
      year = 2022, month = 4, day = 21, hour = 16, minute = 5, second = 0,
      vpv = 351.1, ipv = 3.2, vac = 230.1, iac = 2.1, gridFrequency = 50.02,
      powerW = 740.0, status = 1, temperatureC = 41.3,
      energyTodayKwh = 5.4, energyLifetimeKwh = 1234.5)
    val rows = PollSource.goodweReadingRows("meters/aa:bb", BinaryDecoders.goodweEncode(t),
      java.time.ZoneId.of("Europe/Amsterdam"))
    assert(rows.map(_.series) == Seq("Power", "MPPT1", "Vac", "GridFrequency",
      "InternalTemperature", "EnergyLifetime", "EnergyToday"))
    val byName = rows.map(r => r.series -> r).toMap
    assert(byName("Power").values == Seq(740.0))
    assert(byName("MPPT1").values == Seq(3.2, 351.1) && byName("MPPT1").tag == "A,V")
    // clock bytes are site-local CEST -> 14:05Z
    assert(byName("Power").ts.getTime ==
      java.time.Instant.parse("2022-04-21T14:05:00Z").toEpochMilli)
    // a corrupted frame yields no rows
    val bad = BinaryDecoders.goodweEncode(t); bad(20) = (bad(20) ^ 1).toByte
    assert(PollSource.goodweReadingRows("m", bad, java.time.ZoneId.of("UTC")).isEmpty)
  }

  test("ZyAura reports dispatch by opcode after decrypt (S16)") {
    import graft.functions.BinaryDecoders
    def report(op: Char, raw: Int) = BinaryDecoders.zyauraEncrypt(
      Array(op.toByte, ((raw >> 8) & 0xff).toByte, (raw & 0xff).toByte, 0, 0, 0, 0, 0))
    val co2 = PollSource.zyauraReadingRows("meters/co2", report('P', 612), 1000L)
    assert(co2.map(r => (r.series, r.values, r.tag)) ==
      Seq(("CO2", Seq(612.0), "ppm")))
    val temp = PollSource.zyauraReadingRows("meters/co2", report('B', 4740), 1000L)
    assert(temp.head.series == "RoomTemperature")
    assert(math.abs(temp.head.values.head - (4740 / 16.0 - 273.15)) < 1e-9)
    assert(PollSource.zyauraReadingRows("meters/co2", report('n', 1), 1000L).isEmpty)
  }

  test("GPIO pulses append staircase pairs with rates (S17)") {
    val first = PollSource.gpioPulseRows("meters/gas", "GasPulses", 0.01, None, 10000L)
    assert(first.map(_.values) == Seq(Seq(0.01, 0.0)))
    val next = PollSource.gpioPulseRows("meters/gas", "GasPulses", 0.01,
      Some((0.01, 10000L)), 20000L)
    // 0.01 qty over 10 s -> rate 0.001/s; pre-point at t-10ms holds old count
    assert(next.map(_.values) == Seq(Seq(0.01, 0.001), Seq(0.02, 0.001)))
    assert(next.map(_.ts.getTime) == Seq(19990L, 20000L))
  }

  test("Weewx golden index.html drives the full table-scrape pipeline (S15)") {
    val html = fixture("weewx_index.html")
    val zone = java.time.ZoneId.of("Europe/Amsterdam")
    val rows = PollSource.weewxReadingRows("meters/WeatherStation", html, zone)
    // the golden current-conditions table has 13 rows, all parseable
    assert(rows.length == 13)
    assert(rows.map(_.series) == Seq(
      "OutsideTemperature", "HeatIndex", "WindChill", "DewPoint",
      "OutsideHumidity", "Barometer", "Wind", "RainToday", "RainRate",
      "UVIndex", "Radiation", "InsideTemperature", "InsideHumidity"))
    // every reading carries the page's .lastupdate resolved as site-
    // local wall time (22/04/22 08:23:00 CEST = 06:23:00Z)
    val expectedTs = java.time.ZonedDateTime
      .of(2022, 4, 22, 8, 23, 0, 0, zone).toInstant.toEpochMilli
    assert(rows.map(_.ts.getTime).distinct == Seq(expectedTs))
    val byName = rows.map(r => r.series -> r).toMap
    // the ragged Wind row: 2-element values, ;-joined unit
    assert(byName("Wind").values == Seq(0.9, 110.0))
    assert(byName("Wind").tag == "m/s;°")
    // Barometer's "(   N/A)" tail is rejected by the recursive grammar
    assert(byName("Barometer").values == Seq(1010.5))
    assert(byName("Barometer").tag == "mbar")
    // a bare numeric row parses with empty unit
    assert(byName("UVIndex").values == Seq(0.0) && byName("UVIndex").tag == "")
    assert(byName("OutsideTemperature").values == Seq(10.2))
    assert(byName("OutsideTemperature").tag == "°C")
    // doc mutation from the about widget (WeewxLogger.cs:53-54)
    assert(PollSource.weewxStationInfo(html)
      .contains(("Renkforce WH2315", "Weewx4.7.0")))
    // dynamic first-sight registration (name → description [unit])
    val regs = Parsers.weewxSeriesRegistrations(
      graft.functions.Html.widgetRows(html, "current_widget")).toMap
    assert(regs("Wind") == Seq("Wind [m/s;°]"))
    assert(regs("OutsideTemperature") == Seq("Outside Temperature [°C]"))
  }

  test("Tapo golden tapo.json drives device info + PowerEnergy append (S14)") {
    val json = fixture("tapo.json")
    val info = PollSource.tapoDeviceInfo(json).get
    assert(info.model == "P115")
    assert(info.mac == "34-60-F9-3A-41-17")
    assert(Parsers.canonicalMac(info.mac) == "34:60:f9:3a:41:17")
    assert(info.nick == "Test") // base64 "VGVzdA=="
    val rows = PollSource.tapoReadingRows("meters/fridge", json,
      tsMillis = 1666036462789L, energyOffset = 100.0)
    assert(rows.length == 1)
    val r = rows.head
    assert(r.series == "PowerEnergy" && r.tag == "W;kWh")
    // month_energy 26 Wh → 0.026 kWh; current_power 0 mW → 0 W;
    // values = [power_W, corrected_kWh, raw_kWh] (TapoLogger.cs:78-82)
    assert(r.values == Seq(0.0, 100.026, 0.026))
    assert(r.ts.getTime == 1666036462000L) // truncated to seconds
  }

  test("poll cycles stream through the Weewx HTML scrape (S15 connector shape)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val html = fixture("weewx_index.html")
    val ticks = MemoryStream[Long]
    val readings = PollSource.decodePollCycles(
      ticks.toDS(),
      poll = _ => html.getBytes("UTF-8"), // fake page fetch
      decode = raw => PollSource.weewxReadingRows(
        "meters/WeatherStation", new String(raw, "UTF-8"),
        java.time.ZoneId.of("Europe/Amsterdam")))
    val q = readings.writeStream.format("memory").queryName("weewx_rows")
      .outputMode("append").start()
    try {
      ticks.addData(0L, 1L)
      q.processAllAvailable()
      val rows = spark.table("weewx_rows").collect()
      assert(rows.length == 26) // 2 cycles x 13 current-conditions rows
      val wind = rows.filter(_.getAs[String]("series") == "Wind")
      assert(wind.forall(_.getAs[scala.collection.Seq[Double]]("values") ==
        Seq(0.9, 110.0)))
    } finally q.stop()
  }

  test("poll cycles stream through the Tapo JSON decoder (S14 connector shape)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val json = fixture("tapo.json")
    val ticks = MemoryStream[Long]
    val readings = PollSource.decodePollCycles(
      ticks.toDS(),
      poll = _ => json.getBytes("UTF-8"), // fake subprocess edge
      decode = raw => PollSource.tapoReadingRows(
        "meters/fridge", new String(raw, "UTF-8"), 60000L, 0.5))
    val q = readings.writeStream.format("memory").queryName("tapo_rows")
      .outputMode("append").start()
    try {
      ticks.addData(0L, 1L, 2L)
      q.processAllAvailable()
      val rows = spark.table("tapo_rows").collect()
      assert(rows.length == 3) // one PowerEnergy row per cycle
      assert(rows.forall(_.getAs[String]("series") == "PowerEnergy"))
      assert(rows.forall(_.getAs[scala.collection.Seq[Double]]("values") ==
        Seq(0.0, 0.526, 0.026)))
    } finally q.stop()
  }

  test("Tapo monthly-reset offset law folds the last raw reading in (S14)") {
    // month rolled over: counter dropped 52.41667 → 0.3 ⇒ offset += round(last, 3)
    assert(PollSource.tapoNewEnergyOffset(52.41667, 0.3, 10.0) == 10.0 + 52.417)
    // no reset: counter still climbing ⇒ offset unchanged
    assert(PollSource.tapoNewEnergyOffset(52.41667, 52.5, 10.0) == 10.0)
    // comparison at 1 decimal: a sub-0.05 dip is not a reset
    assert(PollSource.tapoNewEnergyOffset(1.24, 1.21, 0.0) == 0.0)
    // .NET Math.Round is banker's: 1.25 → 1.2 at 1 decimal, so a
    // current of 1.24 (→1.2) is NOT below it
    assert(PollSource.tapoNewEnergyOffset(1.25, 1.24, 0.0) == 0.0)
  }

  test("ebus whole-tree poll maps present paths through the series map (S9)") {
    val tree =
      """{"broadcast":{"messages":{"outsidetemp":
        |   {"lastup":1650000000.0,"fields":{"temp2":{"value":11.188}}}}},
        | "hmu":{"messages":{
        |   "FlowTemp":{"lastup":1650000010,"fields":{"0":{"value":27.5}}},
        |   "State":{"lastup":1650000020,"fields":{
        |     "0":{"value":30},"1":{"value":5},"2":{"value":1},"3":{"value":2}}}}},
        | "720":{"messages":{
        |   "z1RoomTemp":{"lastup":1650000030,"fields":{"tempv":{"value":20.62}}}}}}
        |""".stripMargin
    val rows = PollSource.ebusReadingRows("meters/ebus", tree)
    // only the paths present in the tree land; absent items skip
    assert(rows.map(_.series) == Seq("OutsideTemp", "FlowTemperature",
      "Modulation", "ThermalEnergyToday", "onoff", "State", "RoomTemperature"))
    val byName = rows.map(r => r.series -> r).toMap
    // each record carries the DEVICE's lastup stamp, not a poll tick
    assert(byName("OutsideTemp").ts.getTime == 1650000000000L)
    assert(byName("OutsideTemp").values == Seq(11.188))
    assert(byName("OutsideTemp").tag == "°C")
    // State fans out into four series off distinct field indices
    assert(byName("Modulation").values == Seq(30.0))
    assert(byName("ThermalEnergyToday").values == Seq(5.0))
    assert(byName("ThermalEnergyToday").tag == "*100W")
    assert(byName("onoff").tag == null) // reference appends a null tag
    assert(byName("RoomTemperature").ts.getTime == 1650000030000L)
  }

  test("ebus extra LogItems poll through the cadence law and maxage URL (S9/W10)") {
    import graft.functions.EbusJson
    val fanJson =
      """{"hmu":{"messages":{"Fan1":
        |  {"lastup":1650000040,"fields":{"0":{"value":1450.0}}}}}}""".stripMargin
    var fetched = Vector.empty[String]
    val items = Seq(
      (EbusJson.ItemSpec("hmu/Fan1", "Fan", "fields.0.value", ""), 300000L),
      (EbusJson.ItemSpec("hmu/Yield", "Yield", "fields.0.value", "kWh"), 3600000L))
    val now = 1650000100000L
    val rows = PollSource.ebusLogItemRows("meters/ebus",
      "http://localhost:8889/data", items,
      // Fan1 never read → due; Yield read 10 min ago < 0.8·1h → not due
      lastRead = Map("hmu/Yield" -> (now - 600000L)),
      nowMillis = now,
      fetch = url => { fetched :+= url; fanJson })
    // maxage = 80% of the item's own interval (EbusLogger.cs:92)
    assert(fetched == Vector("http://localhost:8889/data/hmu/Fan1?maxage=240"))
    assert(rows.map(r => (r.series, r.values, r.ts.getTime)) ==
      Seq(("Fan", Seq(1450.0), 1650000040000L)))
  }

  test("SDM register pipeline decodes float pairs with offset and rounding") {
    def bits(f: Float): (Int, Int) = {
      val b = java.lang.Float.floatToIntBits(f)
      ((b >>> 16) & 0xffff, b & 0xffff)
    }
    val image = Map(12 -> bits(230.25f), 72 -> bits(1234.5678f))
    val regs = Seq(
      graft.Meters.RegisterDef(12, "Power", "W", 0.0),
      graft.Meters.RegisterDef(72, "Energy", "kWh", 10.0),
      graft.Meters.RegisterDef(99, "Missing", "", 0.0)) // failed read skips
    val rows = PollSource.sdmReadingRows("meters/sdm", regs, image.get, 1650000123456L)
    assert(rows.map(_.series) == Seq("Power", "Energy"))
    val byName = rows.map(r => r.series -> r).toMap
    assert(byName("Power").values == Seq(230.25))
    assert(byName("Power").tag == "W")
    // float 1234.5678f widens to 1234.5677490234375 → round4 → + offset
    assert(byName("Energy").values == Seq(1234.5677 + 10.0))
    assert(rows.map(_.ts.getTime).distinct == Seq(1650000123000L))
  }

  test("a failing poll cycle drops the batch instead of the stream") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tg = telegram // local copy — the closure must not capture the suite
    val ticks = MemoryStream[Long]
    val readings = PollSource.decodePollCycles(
      ticks.toDS(),
      poll = tick => if (tick % 2 == 0) throw new RuntimeException("device away")
        else tg.getBytes("UTF-8"),
      decode = raw =>
        PollSource.dsmrReadingRows("meters/p1", new String(raw, "UTF-8"), 0L))
    val q = readings.writeStream.format("memory").queryName("flaky_rows")
      .outputMode("append").start()
    try {
      ticks.addData(0L, 1L, 2L, 3L)
      q.processAllAvailable()
      // ticks 1 and 3 decode; 0 and 2 drop silently
      assert(spark.table("flaky_rows").count() == 10)
    } finally q.stop()
  }
}
