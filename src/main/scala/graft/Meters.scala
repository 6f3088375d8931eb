package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `meters` dimension: one typed document per device, joined
  * against its time series — the reference's RavenDB `Meter` document
  * family re-expressed as a Spark dimension table.
  *
  * Reference model: base doc `TelemetryToRaven/Meter.cs:5-10`
  * (Id, VendorInfo, Medium); vendor subtypes add typed config —
  * Modbus register maps (`Sdm/SdmLogger.cs:124-135`), control-law
  * parameters + switch periods (`Ebus/EbusMeter.cs:5-43`), rolling
  * energy offsets and poll health (`Kasa/KasaLogger.cs:55-75`,
  * `Tapo/TapoLogger.cs:104-125`). Named series columns are registered
  * once per series (`P1/P1Logger.cs:103-127` RegisterAsync) and looked
  * up by name at query time.
  *
  * Spark-first shape: the doc table is tiny relative to readings
  * (thousands of devices vs billions of points), so every doc⋈TS join
  * broadcasts the meters side — readings never shuffle for a doc join
  * at any scale.
  */
object Meters {

  /** Modbus register → series mapping (SdmMeter.RegisterDefinition). */
  case class RegisterDef(register: Int, seriesName: String, tag: String, offset: Double)

  /** Time-of-day switch window, seconds UTC (EbusMeter.TimeRange). */
  case class TimeRange(onSec: Long, offSec: Long)

  /** Full typed document — the union of the reference's meter subtypes
    * (single-table inheritance: inapplicable fields hold defaults).
    */
  case class MeterDoc(
      meterId: String,
      userId: Long,
      vendorInfo: String,
      medium: String,
      energyOffset: Double,
      lastPollSuccessful: Boolean,
      extendRuns: Boolean,
      switchThermostat: Boolean,
      desiredModulation: Double,
      minimumFlowTemperature: Double,
      maximumFlowTemperature: Double,
      permanentSwitchTemperature: Double,
      minimumOnMinutes: Long,
      minimumOffMinutes: Long,
      registers: Seq[RegisterDef],
      switchTimePeriods: Seq[TimeRange])

  val vendors: Seq[String] = Seq("DSMR5", "KASA", "TAPO", "SDM630", "EBUS")
  val media: Seq[String] = Seq("Electricity", "Gas", "Water")

  /** Named series columns (≙ `TimeSeries.RegisterAsync`,
    * P1/P1Logger.cs:103-127): per series, the ordered names of the
    * entries of the `values` array. Lookup by name replaces the
    * positional-only access of round 1.
    */
  val defaultRegistry: Map[String, Seq[String]] = Map(
    "click" -> Seq("Power [W]", "Power [kW]", "Energy [Wmin]"),
    "view" -> Seq("Power [W]", "Power [kW]", "Energy [Wmin]"),
    "purchase" -> Seq("Value"),
    "error" -> Seq("Value"))

  /** Derive the deterministic meters dimension from the events table
    * (the driver testdata ships no meters parquet; every attribute is a
    * pure function of user_id so the DuckDB oracle reproduces it
    * exactly). One narrow shuffle over the distinct device ids.
    */
  def fromEvents(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct().select(
      concat(lit("meters/"), col("user_id")).as("meterId"),
      col("user_id").cast("long").as("userId"),
      element_at(typedLit(vendors), (col("user_id") % 5 + 1).cast("int")).as("vendorInfo"),
      element_at(typedLit(media), (col("user_id") % 3 + 1).cast("int")).as("medium"),
      ((col("user_id") % 7) * 10.0).as("energyOffset"),
      (col("user_id") % 11 =!= 0).as("lastPollSuccessful"),
      (col("user_id") % 3 === 0).as("extendRuns"),
      (col("user_id") % 4 === 0).as("switchThermostat"),
      lit(5.0).as("desiredModulation"),
      lit(24.0).as("minimumFlowTemperature"),
      lit(30.0).as("maximumFlowTemperature"),
      lit(5.0).as("permanentSwitchTemperature"), // EbusMeter.cs:21 default
      lit(45L).as("minimumOnMinutes"), // EbusMeter.cs:22-23 defaults
      lit(45L).as("minimumOffMinutes"),
      array(
        struct(lit(12).as("register"), lit("Power").as("seriesName"),
          lit("W").as("tag"), lit(0.0).as("offset")),
        struct(lit(72).as("register"), lit("Energy").as("seriesName"),
          lit("kWh").as("tag"), ((col("user_id") % 7) * 10.0).as("offset")))
        .as("registers"),
      array(
        struct(lit(28800L).as("onSec"), lit(43200L).as("offSec")),
        struct(lit(50400L).as("onSec"), lit(64800L).as("offSec")))
        .as("switchTimePeriods"))

  /** S6 — last-wins document upsert: `updates` (full docs, the
    * reference's StoreAsync writes whole documents) replace matching
    * docs in `current`; unmatched docs pass through. Deterministic:
    * within `updates`, the highest `_seq` wins per meterId.
    */
  def upsert(current: DataFrame, updates: DataFrame): DataFrame = {
    val cur = current.withColumn("_src", lit(0L)).withColumn("_seq", lit(0L))
    val upd =
      if (updates.columns.contains("_seq")) updates.withColumn("_src", lit(1L))
      else updates.withColumn("_src", lit(1L)).withColumn("_seq", lit(0L))
    val w = Window.partitionBy(col("meterId"))
      .orderBy(col("_src").desc, col("_seq").desc)
    cur.unionByName(upd)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src", "_seq")
  }

  /** The Kasa/Tapo rolling-offset law (KasaLogger.cs:55-75): the stored
    * series value is raw + offset; when a device's raw counter resets
    * (current < previous − ε), fold the last stored reading into the
    * offset (rounded to 4 decimals like the reference) so the stored
    * series stays monotonic. Returns (userId, new_offset) per meter —
    * the doc mutation a poll cycle persists.
    *
    * counterEvents: (user_id, ts, value) raw cumulative readings.
    */
  /** The Tapo monthly-reset variant (TapoLogger.cs:88-107): the raw
    * counter is month-to-date energy, so it legitimately resets at
    * every month boundary; on reset (current rounded to 1 decimal <
    * last rounded to 3 then 1) the last raw reading is ACCUMULATED
    * into the offset (`offset += last`) rather than replacing it —
    * the offset carries the sum of all completed months. Same
    * single-shuffle lag shape as energyOffsetUpdate; broadcast doc
    * side.
    *
    * Rounding: Spark/DuckDB `round` is half-away-from-zero, .NET
    * Math.Round is banker's — this batch twin keeps the engines'
    * native mode so the oracle stays bit-exact, and diverges from the
    * reference (and from the .NET-faithful streaming law
    * PollSource.tapoNewEnergyOffset) only at exact decimal midpoints,
    * measure-zero on real meter readings.
    */
  def tapoOffsetUpdate(
      meters: DataFrame,
      counterEvents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val latest = counterEvents
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts").desc)))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("value").as("cur"),
        round(col("prev"), 3).as("last_raw"))
    broadcast(meters.select(col("userId").as("user_id"), col("energyOffset")))
      .join(latest, "user_id")
      .select(col("user_id"),
        when(col("last_raw").isNotNull &&
            round(col("cur"), 1) < round(col("last_raw"), 1),
          col("energyOffset") + col("last_raw"))
          .otherwise(col("energyOffset")).as("new_offset"))
  }

  def energyOffsetUpdate(
      meters: DataFrame,
      counterEvents: DataFrame,
      epsilon: Double = 0.01): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val latest = counterEvents
      .withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts").desc)))
      .filter(col("_rn") === 1)
      .select(col("user_id"), col("value").as("cur"), col("prev"))
    broadcast(meters.select(col("userId").as("user_id"), col("energyOffset")))
      .join(latest, "user_id")
      .select(col("user_id"),
        when(col("prev").isNotNull && col("cur") < col("prev") - lit(epsilon),
          round(col("prev") + col("energyOffset"), 4))
          .otherwise(col("energyOffset")).as("new_offset"))
  }
}
