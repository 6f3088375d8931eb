package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.functions.ControlLaws

/** The composed pipeline — the reference's hosted-service wiring
  * (TelemetryToRaven/Program.cs:21-48: twelve logger/control services
  * sharing one document store) re-expressed as concurrent Structured
  * Streaming queries over one SparkSession:
  *
  *   - every poller (P1, ebus, M-Bus, Goodwe, SDM, Weewx, Kasa, Tapo,
  *     Vents, GPIO) is a [[Connector]]: a tick cadence, an edge fetch,
  *     a pure decoder — their union feeds ONE readings sink
  *     (`Ingest.lastWinsParquetSink`, the S7 storage layout every
  *     batch operator partition-prunes on);
  *   - each poll cycle also writes the meter doc's health bit
  *     (`lastPollSuccessful`, LoggerService.cs:44-48) through the
  *     last-wins doc upsert;
  *   - the two control services (EbusRunExtender.cs,
  *     EbusThermostatSwitcher.cs) run as stateful streams over the
  *     same readings — per-meter `flatMapGroupsWithState` carrying the
  *     latest observed values (the reference's in-process poll cache)
  *     — and emit their decisions into `Ingest.actuatorSink`, the
  *     side-effect boundary.
  *
  * Cadence: one `Trigger.ProcessingTime` micro-batch per poll cycle;
  * per-connector intervals are enforced by the tick filter
  * (`PollSource.rateTicks`), and the reference's failure backoff (W9)
  * stays available as `Harness.nextDelayMillis` for edge functions
  * that wrap flaky transports.
  *
  * Scale posture: each query's state is ONE small record per meter
  * (latest values / a 45-minute setpoint window), so a fleet of
  * millions of devices shards across executors by meter key; readings
  * ride the normal sink path and nothing corpus-sized ever reaches
  * the driver — decisions are per-meter rows, collected only at the
  * actuator boundary exactly like the reference's device writes.
  */
object App {

  /** One reference logger service: cadence + edge fetch + decoder.
    * `ticks` is injectable so specs drive the SAME composition from
    * MemoryStream; production leaves it None → `rateTicks`.
    */
  final case class Connector(
      name: String,
      intervalSeconds: Int,
      poll: Long => Array[Byte],
      decode: Array[Byte] => Seq[Ingest.Reading],
      ticks: Option[Dataset[Long]] = None)

  /** W9/W11 edge-hardening composition: wrap a connector's `poll`
    * with the reference's retry-once law and failure backoff
    * (LoggerService.cs:27-73). A cycle retries once immediately; a
    * failed cycle DOUBLES the hold-off (capped at an hour by
    * `Harness.nextDelayMillis`) and polls inside the hold-off window
    * fail fast without touching the device; the first success resets
    * the delay to base. The state is an in-process cell per executor
    * — exactly the reference's instance-field `Delay`, and like the
    * reference it resets on restart (nothing worth checkpointing: the
    * next cycle re-probes the device anyway). `clock` is injectable
    * for deterministic specs.
    */
  def withBackoff(
      poll: Long => Array[Byte],
      baseMillis: Long,
      onRetry: Throwable => Unit = _ => (),
      clock: () => Long = () => System.currentTimeMillis()): Long => Array[Byte] = {
    var delay = baseMillis
    var notBefore = 0L
    tick => {
      val now = clock()
      if (now < notBefore)
        throw new IllegalStateException(s"backing off until $notBefore")
      try {
        val r = Harness.retryOnce(onRetry)(poll(tick))
        delay = baseMillis
        r
      } catch {
        case e: Exception =>
          delay = Harness.nextDelayMillis(baseMillis, delay, 0L, failed = true)
          notBefore = now + delay
          throw e
      }
    }
  }

  /** Graceful-restart supervision for one streaming query — the
    * process-level resilience the reference gets from systemd
    * restarting the whole host process, held INSIDE the app so one
    * flaky connector query doesn't take down the other eleven: start
    * the query, block on termination, and
    *
    *  - a CLEAN stop (operator called `stop()`) ends supervision;
    *  - a FAILED query restarts from its checkpoint after the W9
    *    backoff delay (double on consecutive failures, capped — the
    *    `nextDelayMillis` law the pollers already obey), because
    *    micro-batch sinks here are idempotent (last-wins readings,
    *    upsert snapshots, keyed actuator writes) a restart replays
    *    safely;
    *  - an uptime of at least `healthyMillis` before the crash counts
    *    as recovery and resets both the delay and the restart budget;
    *  - more than `maxRestarts` consecutive failures rethrows the
    *    last exception — a persistently broken query should fail the
    *    process loudly, not flap forever.
    *
    * `sleep`/`clock` are injectable for deterministic specs. Blocks
    * until clean stop or give-up; run one thread per supervised query.
    */
  def supervise(
      startQuery: () => StreamingQuery,
      maxRestarts: Int,
      baseMillis: Long,
      healthyMillis: Long,
      onRestart: (Int, Throwable) => Unit = (_, _) => (),
      sleep: Long => Unit = Thread.sleep,
      clock: () => Long = () => System.currentTimeMillis()): Unit = {
    require(maxRestarts >= 0 && baseMillis > 0 && healthyMillis >= 0)
    var consecutive = 0
    var delay = baseMillis
    var running = true
    while (running) {
      val startedAt = clock()
      val q = startQuery()
      try q.awaitTermination()
      catch { case _: Exception => () } // q.exception carries the cause
      q.exception match {
        case None => running = false
        case Some(e) =>
          if (clock() - startedAt >= healthyMillis) {
            consecutive = 0
            delay = baseMillis
          }
          consecutive += 1
          if (consecutive > maxRestarts) throw e
          onRestart(consecutive, e)
          sleep(delay)
          delay = Harness.nextDelayMillis(baseMillis, delay, 0L, failed = true)
      }
    }
  }

  /** Union of every connector's decoded poll cycles — the single
    * readings stream all sinks and control loops consume.
    */
  def readingStream(
      spark: SparkSession, connectors: Seq[Connector]): Dataset[Ingest.Reading] = {
    require(connectors.nonEmpty, "no connectors")
    connectors.map { c =>
      PollSource.decodePollCycles(
        c.ticks.getOrElse(PollSource.rateTicks(spark, c.intervalSeconds)),
        c.poll, c.decode)
    }.reduce(_ union _)
  }

  /** W7 as a stream — the run-extender service loop
    * (EbusRunExtender.cs:38-97): per meter, cache the latest value of
    * each input series across micro-batches (the reference's
    * GetLatestValue reads), and once all four inputs have been seen,
    * apply the decision table after every batch that touched the
    * meter. NaN (no action) emits nothing; a real decision emits the
    * new minimum-flow setpoint for the actuator.
    */
  final case class ExtenderDecision(
      meterId: String, tsMillis: Long, newMinimum: Double)

  private val extenderInputs = Seq(
    "Modulation", "MinimumFlowTemp", "DesiredFlowTemperature", "FlowTemperature")

  def runExtenderDecisions(
      readings: Dataset[Ingest.Reading],
      cfg: ControlLaws.RunExtenderConfig)(
      implicit spark: SparkSession): Dataset[ExtenderDecision] = {
    import spark.implicits._
    val wanted = extenderInputs.toSet
    readings
      .filter(r => wanted.contains(r.series) && r.values.nonEmpty)
      .groupByKey(_.meterId)
      .flatMapGroupsWithState[Map[String, Double], ExtenderDecision](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (meterId, rows, state) =>
          var latest = state.getOption.getOrElse(Map.empty[String, Double])
          var lastTs = 0L
          // sorted within the (micro-batch × meter) group so the cached
          // value is the newest observation, like interpolateEnergy
          rows.toSeq.sortBy(_.ts.getTime).foreach { r =>
            latest += (r.series -> r.values.head)
            lastTs = math.max(lastTs, r.ts.getTime)
          }
          state.update(latest)
          if (!extenderInputs.forall(latest.contains)) Iterator.empty
          else {
            val d = ControlLaws.runExtender(
              latest("Modulation"), latest("MinimumFlowTemp"),
              latest("DesiredFlowTemperature"), latest("FlowTemperature"), cfg)
            if (d.isNaN) Iterator.empty
            else Iterator(ExtenderDecision(meterId, lastTs, d))
          }
      }
  }

  /** W8 as a stream — the thermostat-switcher service loop
    * (EbusThermostatSwitcher.cs:40-92): per meter, cache the latest
    * outside/room/desired temperatures plus the trailing window of
    * heat-request setpoints (DesiredFlowTemperature ≥ 1 = heat
    * requested — the same predicate the run extender's branch 2
    * uses), pruned to `lookbackMinutes` behind the newest
    * observation so state stays bounded per meter. After each batch
    * the decision table picks "thermostat" / "modulating" or stays
    * silent.
    *
    * Hysteresis note (EbusThermostatSwitcher.cs:44): the reference
    * reads the thermostat's own hourly-averaged outside temperature
    * ("OutsideTempAvg") precisely so the permanent-switch branch needs
    * no hysteresis band. Feed this loop the averaged series where the
    * device provides one (rename in the connector's decode); wiring
    * the instantaneous reading narrows the no-flap guarantee to the
    * device's own smoothing.
    */
  final case class ThermostatConfig(
      permanentSwitchTemperature: Double,
      onPeriods: Seq[(Long, Long)], // seconds-of-day heating windows
      minSetpoints: Int = 10,
      // the reference's asymmetric horizons (MinimumOnPeriod /
      // MinimumOffPeriod, EbusThermostatSwitcher.cs:60-77): "all on"
      // is judged over the ON window, "all off" over the OFF window,
      // history is kept for max(on, off)
      minOnMinutes: Int = 45,
      minOffMinutes: Int = 45)

  final case class ModeDecision(meterId: String, tsMillis: Long, mode: String)

  final case class ThermoState(
      setpoints: Seq[(Long, Boolean)], // (tsMillis, heatRequested)
      outside: Double, room: Double, desired: Double)

  def thermostatDecisions(
      readings: Dataset[Ingest.Reading],
      cfg: ThermostatConfig)(
      implicit spark: SparkSession): Dataset[ModeDecision] = {
    import spark.implicits._
    val wanted = Set("OutsideTemp", "RoomTemperature",
      "DesiredRoomTemperature", "DesiredFlowTemperature")
    readings
      .filter(r => wanted.contains(r.series) && r.values.nonEmpty)
      .groupByKey(_.meterId)
      .flatMapGroupsWithState[ThermoState, ModeDecision](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (meterId, rows, state) =>
          var st = state.getOption.getOrElse(
            ThermoState(Seq.empty, Double.NaN, Double.NaN, Double.NaN))
          var lastTs = st.setpoints.map(_._1).maxOption.getOrElse(0L)
          rows.toSeq.sortBy(_.ts.getTime).foreach { r =>
            val v = r.values.head
            lastTs = math.max(lastTs, r.ts.getTime)
            r.series match {
              case "OutsideTemp" => st = st.copy(outside = v)
              case "RoomTemperature" => st = st.copy(room = v)
              case "DesiredRoomTemperature" => st = st.copy(desired = v)
              case _ => // DesiredFlowTemperature: one setpoint
                // observation; heat requested = value > 0, the
                // reference's predicate (e.Value > 0)
                st = st.copy(setpoints = st.setpoints :+ (r.ts.getTime, v > 0.0))
            }
          }
          val keepHorizon = lastTs -
            math.max(cfg.minOnMinutes, cfg.minOffMinutes) * 60000L
          st = st.copy(setpoints = st.setpoints.filter(_._1 >= keepHorizon))
          state.update(st)
          if (st.outside.isNaN || st.room.isNaN || st.desired.isNaN)
            Iterator.empty
          else {
            val inOff = !ControlLaws.inAnyPeriod(
              (lastTs / 1000L) % 86400L, cfg.onPeriods)
            def younger(mins: Int) =
              st.setpoints.filter(_._1 >= lastTs - mins * 60000L)
            val onWin = younger(cfg.minOnMinutes)
            val offWin = younger(cfg.minOffMinutes)
            ControlLaws.thermostatDecision(
              st.outside, st.desired - st.room, inOff,
              cfg.permanentSwitchTemperature,
              // the reference requires a FULL recent window before
              // trusting all-on/all-off (count < 10 → no action)...
              st.setpoints.size,
              // ...then judges "long runtime" over the ON horizon and
              // "long offtime" over the OFF horizon
              onWin.nonEmpty && onWin.forall(_._2),
              offWin.nonEmpty && offWin.forall(!_._2))
              .map(m => ModeDecision(meterId, lastTs, m)).iterator
          }
      }
  }

  /** Per-cycle meter-doc health write (LoggerService.cs:44-48 /
    * KasaLogger.cs:73): every meter that produced rows in the batch
    * gets `lastPollSuccessful = true` through the last-wins doc
    * upsert. Only meter IDs ride the stream; the doc merge reads the
    * snapshot, flips the bit, and rewrites through the staged swap
    * (`Ingest.swapSnapshot`) so a crash mid-write keeps the previous
    * snapshot readable; a crash between the swap's two renames is
    * undone by `Ingest.restoreSnapshot` before the next batch reads.
    */
  def pollHealthSink(
      readings: DataFrame, metersDir: String, checkpointDir: String) =
    readings.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val polled = batch.select(col("meterId")).distinct()
        Ingest.restoreSnapshot(spark, metersDir)
        val current = spark.read.parquet(metersDir)
        val updates = current.join(polled, "meterId")
          .withColumn("lastPollSuccessful", lit(true))
          .withColumn("_seq", lit(batchId))
        Ingest.swapSnapshot(graft.Meters.upsert(current, updates), metersDir)
      }

  /** Start the composed application: one readings-sink query, an
    * optional doc-health query, and the two control-loop queries, all
    * on the same `Trigger.ProcessingTime` cadence. Returns the running
    * queries (callers await/stop them).
    */
  def start(
      spark: SparkSession,
      connectors: Seq[Connector],
      readingsDir: String,
      metersDir: Option[String],
      checkpointRoot: String,
      extenderCfg: ControlLaws.RunExtenderConfig,
      thermoCfg: ThermostatConfig,
      triggerSeconds: Int = 60,
      onSetpoint: Seq[(String, Double)] => Unit = _ => (),
      onMode: Seq[(String, Double)] => Unit = _ => ()): Seq[StreamingQuery] = {
    implicit val s: SparkSession = spark
    val trigger = Trigger.ProcessingTime(s"$triggerSeconds seconds")
    // each query builds its OWN stream instance (separate source
    // offsets/checkpoints), exactly like the reference's independent
    // hosted services polling on their own loops
    def readings() = readingStream(spark, connectors)

    val qReadings = Ingest.lastWinsParquetSink(
        readings().toDF(), readingsDir, s"$checkpointRoot/readings")
      .trigger(trigger).queryName("graft-readings").start()
    val qHealth = metersDir.map { md =>
      pollHealthSink(readings().toDF(), md, s"$checkpointRoot/health")
        .trigger(trigger).queryName("graft-poll-health").start()
    }
    val qExtender = Ingest.actuatorSink(
        runExtenderDecisions(readings(), extenderCfg).toDF()
          .select(col("meterId"), col("newMinimum")),
        s"$checkpointRoot/extender")(onSetpoint)
      .trigger(trigger).queryName("graft-run-extender").start()
    // the actuator contract is (key, Double); modes map to the
    // reference's hwcsetmode writes — 1.0 = "thermostat", 0.0 =
    // "modulating" (EbusThermostatSwitcher.cs:94-99)
    val qThermo = Ingest.actuatorSink(
        thermostatDecisions(readings(), thermoCfg).toDF()
          .select(col("meterId"),
            when(col("mode") === "thermostat", lit(1.0)).otherwise(lit(0.0))
              .as("value")),
        s"$checkpointRoot/thermostat")(onMode)
      .trigger(trigger).queryName("graft-thermostat").start()
    Seq(qReadings) ++ qHealth ++ Seq(qExtender, qThermo)
  }

  /** Demo wiring — the twelve services with deterministic fake edges
    * through the REAL decoders (the sandbox has no serial/UDP/TCP/HID
    * devices; production swaps each `poll` closure for the transport
    * call and nothing else changes). Payload shapes are the golden
    * fixtures the decoder specs pin.
    */
  def demoConnectors(spark: SparkSession): Seq[Connector] = {
    import graft.functions.{BinaryDecoders, Parsers, Vents}
    val zone = java.time.ZoneId.of("UTC")
    def now() = System.currentTimeMillis()

    val telegram =
      "/ISK5\\2M550T-1012\r\n\r\n" +
        "1-0:1.7.0(00.421*kW)\r\n1-0:2.7.0(00.000*kW)\r\n" +
        "1-0:32.7.0(230.1*V)\r\n1-0:52.7.0(231.2*V)\r\n1-0:72.7.0(229.9*V)\r\n" +
        "1-0:31.7.0(001*A)\r\n1-0:51.7.0(001*A)\r\n1-0:71.7.0(001*A)\r\n" +
        "1-0:1.8.1(000004.426*kWh)\r\n1-0:1.8.2(000002.399*kWh)\r\n" +
        "1-0:2.8.1(000000.000*kWh)\r\n1-0:2.8.2(000000.000*kWh)\r\n!"
    val ebusTree =
      """{"broadcast":{"messages":{"outsidetemp":
        |   {"lastup":%d,"fields":{"temp2":{"value":11.2}}}}},
        | "hmu":{"messages":{
        |   "FlowTemp":{"lastup":%d,"fields":{"0":{"value":27.5}}},
        |   "SetMode":{"lastup":%d,"fields":{"flowtempdesired":{"value":27.0}}},
        |   "State":{"lastup":%d,"fields":{
        |     "0":{"value":3},"1":{"value":5},"2":{"value":1},"3":{"value":2}}}}},
        | "720":{"messages":{
        |   "z1RoomTemp":{"lastup":%d,"fields":{"tempv":{"value":20.6}}},
        |   "z1ActualRoomTempDesired":{"lastup":%d,"fields":{"tempv":{"value":21.0}}},
        |   "Hc1MinFlowTempDesired":{"lastup":%d,"fields":{"tempv":{"value":24.0}}}}}}
        |""".stripMargin
    // record ids 1/9/10/12/13: energy, flow temp, return temp, power,
    // volume flow — the slots MbusLogger.cs:82-95 reads
    val mbusXml =
      """<MBusData><SlaveInformation><Id>12345678</Id>
        |<Manufacturer>LUG</Manufacturer><Medium>Heat</Medium></SlaveInformation>
        |<DataRecord id="1"><Unit>kWh</Unit><Value>1234</Value>
        |<Timestamp>2022-04-21T16:05:00</Timestamp></DataRecord>
        |<DataRecord id="9"><Unit>0.01 C</Unit><Value>4550</Value>
        |<Timestamp>2022-04-21T16:05:00</Timestamp></DataRecord>
        |<DataRecord id="10"><Unit>0.01 C</Unit><Value>3820</Value>
        |<Timestamp>2022-04-21T16:05:00</Timestamp></DataRecord>
        |<DataRecord id="12"><Unit>100 W</Unit><Value>7</Value>
        |<Timestamp>2022-04-21T16:05:00</Timestamp></DataRecord>
        |<DataRecord id="13"><Unit>m3/h</Unit><Value>0.5</Value>
        |<Timestamp>2022-04-21T16:05:00</Timestamp></DataRecord>
        |</MBusData>""".stripMargin
    val goodweFrame = BinaryDecoders.goodweEncode(BinaryDecoders.GoodweTelemetry(
      year = 2022, month = 4, day = 21, hour = 16, minute = 5, second = 0,
      vpv = 351.1, ipv = 3.2, vac = 230.1, iac = 2.1, gridFrequency = 50.02,
      powerW = 740.0, status = 1, temperatureC = 41.3,
      energyTodayKwh = 5.4, energyLifetimeKwh = 1234.5))
    val kasaCipher = Parsers.kasaEncrypt(
      """{"emeter":{"get_realtime":{"power_mw":421000,"total_wh":4426}}}""")
    val tapoJson =
      """{"device_info":{"result":{"model":"P110","ip":"192.168.1.9",
        |"mac":"AA-BB-CC-DD-EE-FF","nickname":"UGx1Zw=="}},
        |"energy_usage":{"result":{"current_power":421000,"month_energy":4426}}}
        |""".stripMargin
    def b(v: Int) = Array[Byte](v.toByte)
    def A(n: String) = Vents.ItemAddress(n)
    val ventsItems = Seq(
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
      .sortBy(_._1)
    val ventsFrame = Vents.encodeReply("0011", "pw", ventsItems)
    val weewxHtml = // lastupdate is dd/MM/yy site-local wall time (P11)
      """<html><body>
        |<span class="lastupdate">21/04/22 16:05:00</span>
        |<div id="current_widget"><table>
        |<tr><td class="label">Outside Temperature</td>
        |<td class="data">11.2&#176;C</td></tr>
        |<tr><td class="label">Wind</td>
        |<td class="data">3 km/h from 270&#176;</td></tr>
        |</table></div></body></html>""".stripMargin
    val sdmRegisters = Seq(
      graft.Meters.RegisterDef(0, "Voltage", "V", 0.0),
      graft.Meters.RegisterDef(12, "Power", "W", 0.0))
    // 230.1f / 740.0f as IEEE-754 register pairs, hi-word first
    def floatPair(f: Float): (Int, Int) = {
      val bits = java.lang.Float.floatToIntBits(f)
      ((bits >>> 16) & 0xffff, bits & 0xffff)
    }

    Seq(
      Connector("P1Logger", 10,
        _ => telegram.getBytes("UTF-8"),
        raw => PollSource.dsmrReadingRows(
          "meters/p1", new String(raw, "UTF-8"), now())),
      Connector("EbusLogger", 30,
        _ => { val t = now() / 1000L
          ebusTree.format(t, t, t, t, t, t, t).getBytes("UTF-8") },
        raw => PollSource.ebusReadingRows(
          "meters/ebus", new String(raw, "UTF-8"))),
      Connector("MbusLogger", 60,
        _ => mbusXml.getBytes("UTF-8"),
        raw => PollSource.mbusReadingRows(
          "meters/mbus", new String(raw, "UTF-8"), now())),
      Connector("GoodweLogger", 30,
        _ => goodweFrame,
        raw => PollSource.goodweReadingRows("meters/goodwe", raw, zone)),
      Connector("SdmLogger", 30,
        _ => Array.emptyByteArray,
        _ => PollSource.sdmReadingRows("meters/sdm", sdmRegisters,
          r => Some(if (r == 0) floatPair(230.1f) else floatPair(740.0f)),
          now())),
      Connector("WeewxLogger", 60,
        _ => weewxHtml.getBytes("UTF-8"),
        raw => PollSource.weewxReadingRows(
          "meters/weewx", new String(raw, "UTF-8"), zone)),
      Connector("KasaLogger", 10,
        _ => kasaCipher,
        raw => PollSource.kasaReadingRows("meters/kasa", raw, now())),
      Connector("TapoLogger", 10,
        _ => tapoJson.getBytes("UTF-8"),
        raw => PollSource.tapoReadingRows(
          "meters/tapo", new String(raw, "UTF-8"), now(), 0.0)),
      Connector("VentsMicraLogger", 30,
        _ => ventsFrame,
        raw => PollSource.ventsReadingRows("meters/ventsmicra", raw, now())),
      Connector("GpioLogger", 10,
        _ => Array.emptyByteArray,
        _ => PollSource.gpioPulseRows(
          "meters/gpio", "WaterMeter", 0.5, None, now())))
  }

  /** Run the composed demo pipeline:
    * `runMain graft.streaming.App [readingsDir] [metersDir] [ckptDir]`.
    */
  def main(args: Array[String]): Unit = {
    val readingsDir = args.lift(0).getOrElse("/tmp/graft_app/readings")
    val metersDir = args.lift(1).getOrElse("/tmp/graft_app/meters")
    val ckpt = args.lift(2).getOrElse("/tmp/graft_app/ckpt")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-app")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // seed the meters snapshot if absent so the health sink has docs
    if (!new java.io.File(metersDir).exists()) {
      import spark.implicits._
      val docs = demoConnectors(spark).map(c =>
        graft.Meters.MeterDoc("meters/" + c.name.stripSuffix("Logger").toLowerCase,
          0L, c.name, "Electricity", 0.0, lastPollSuccessful = false,
          extendRuns = false, switchThermostat = false, 5.0, 24.0, 30.0,
          18.0, 10L, 10L, Seq.empty, Seq.empty))
      docs.toDF().write.mode("overwrite").parquet(metersDir)
    }
    // every edge runs under the reference's retry-once + failure
    // backoff laws (W9/W11)
    val hardened = demoConnectors(spark).map(c =>
      c.copy(poll = withBackoff(c.poll, c.intervalSeconds * 1000L)))
    val queries = start(
      spark, hardened, readingsDir, Some(metersDir), ckpt,
      ControlLaws.RunExtenderConfig(
        desiredModulation = 5, minimumFlowTemperature = 24,
        maximumFlowTemperature = 30),
      ThermostatConfig(
        permanentSwitchTemperature = 18.0,
        onPeriods = Seq((28800L, 43200L), (50400L, 64800L))),
      triggerSeconds = 10,
      onSetpoint = ds => ds.foreach { case (m, v) =>
        println(s"[actuator] $m Hc1MinFlowTempDesired := $v") },
      onMode = ms => ms.foreach { case (m, v) =>
        println(s"[actuator] $m hwcsetmode := $v") })
    println(s"[graft-app] ${queries.size} streaming queries running; " +
      s"readings → $readingsDir, meters → $metersDir")
    spark.streams.awaitAnyTermination()
  }
}
