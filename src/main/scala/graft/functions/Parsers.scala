package graft.functions

import scala.util.matching.Regex

/** Ingest-edge parsers, re-implemented from the reference's golden
  * fixtures (SURVEY.md §2.3, FIXTURES.md §2). Pure Scala functions —
  * registered as UDFs only at the ingest boundary; the query engine core
  * never depends on them.
  */
object Parsers {

  // -------------------------------------------------------------------
  // P9 — timestamp truncation (ref Meter.cs:14-21, ExtensionTest.cs).
  // Micros-domain equivalents of TruncateToSeconds / TruncateTo(interval).
  // -------------------------------------------------------------------
  def truncateToSecondsMicros(micros: Long): Long = micros - micros % 1000000L

  def truncateToMicros(micros: Long, intervalMicros: Long): Long =
    micros - micros % intervalMicros

  // -------------------------------------------------------------------
  // F1 — Weewx "value unit (extra)" grammar
  // (ref WeewxLogger.cs:67-104, decision table WeewxTests.cs:8-21).
  // Recursive: the parenthesized tail is parsed with the same grammar
  // and its values/units appended (unit `;`-joined).
  // -------------------------------------------------------------------
  case class WeatherItem(name: String, description: String, values: Array[Double], unit: String)

  private val valueRegex: Regex = """(-?\d+[.]?\d*)\s?(\S+)[^(]*\(?([^)]*)""".r.unanchored

  def weewxParse(label: String, data: String): Option[WeatherItem] = {
    val name = label.replace(" ", "")
    data.toDoubleOption match {
      case Some(v) =>
        Some(WeatherItem(name, s"$label []", Array(v), ""))
      case None =>
        valueRegex.findFirstMatchIn(data).map { m =>
          val unit0 = m.group(2)
          val v0 = m.group(1).toDouble
          val tail = Option(m.group(3)).getOrElse("")
          val sub =
            if (tail.trim.nonEmpty) weewxParse(label, tail) else None
          val (values, unit) = sub match {
            case Some(s) => (v0 +: s.values, unit0 + ";" + s.unit)
            case None => (Array(v0), unit0)
          }
          WeatherItem(name, s"$label [$unit]", values, unit)
        }
    }
  }

  // -------------------------------------------------------------------
  // P11 — local-wall-clock → instant conversion. Device clocks report
  // wall time in the site's zone with no offset: Weewx's lastupdate is
  // "dd/MM/yy HH:mm:ss" AssumeLocal (WeewxLogger.cs:56), the Goodwe
  // frame carries raw Y/M/D-H/M/S clock bytes (GoodwePoller.cs:84-86).
  // Both resolve through an explicit ZoneId — DST-gap times resolve the
  // way java.time does (shift forward), matching .NET's Local handling.
  // -------------------------------------------------------------------
  private val weewxFormat =
    java.time.format.DateTimeFormatter.ofPattern("dd/MM/yy HH:mm:ss")

  /** Parse the Weewx lastupdate stamp as site-local wall time → epoch
    * micros.
    */
  def weewxLastUpdateMicros(text: String, zone: java.time.ZoneId): Long =
    localWallClockMicros(
      java.time.LocalDateTime.parse(text.trim, weewxFormat), zone)

  /** Assemble the Goodwe clock bytes into an instant (clock-byte year
    * is offset from 2000).
    */
  def goodweClockMicros(
      year: Int, month: Int, day: Int, hour: Int, minute: Int, second: Int,
      zone: java.time.ZoneId): Long =
    localWallClockMicros(
      java.time.LocalDateTime.of(year, month, day, hour, minute, second), zone)

  def localWallClockMicros(dt: java.time.LocalDateTime, zone: java.time.ZoneId): Long = {
    val instant = dt.atZone(zone).toInstant
    instant.getEpochSecond * 1000000L + instant.getNano / 1000L
  }

  // -------------------------------------------------------------------
  // S15 — Weewx dynamic series discovery (WeewxLogger.cs:37-50): the
  // scraped current-conditions rows become the series registry at
  // runtime — one registration (name, description [unit]) per parsed
  // row, exactly what RegisterAsync receives on first sight of the
  // station.
  // -------------------------------------------------------------------
  def weewxSeriesRegistrations(
      rows: Seq[(String, String)]): Seq[(String, Seq[String])] =
    rows.flatMap { case (label, data) => weewxParse(label, data) }
      .map(item => item.name -> Seq(item.description))

  // -------------------------------------------------------------------
  // S8/DSMR — P1 telegram framing + OBIS line parse
  // (ref P1Logger.cs:45-78 framing, golden P1/p1sample.txt; field map
  //  P1Logger.cs:131-154). The hardware quirk of embedded NUL bytes is
  //  stripped (P1Logger.cs:64).
  // -------------------------------------------------------------------
  case class ObisLine(code: String, values: Seq[String], unit: Option[String])

  private val obisLine: Regex = """^(\d+-\d+:\d+\.\d+\.\d+)(.*)$""".r
  private val parenGroup: Regex = """\(([^)]*)\)""".r

  /** Frame a raw stream chunk into telegrams: '/'-header to '!'-trailer,
    * NULs stripped.
    */
  def dsmrFrames(raw: String): Seq[String] = {
    val clean = raw.replace("\u0000", "")
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var idx = 0
    while (idx < clean.length) {
      val start = clean.indexOf('/', idx)
      if (start < 0) idx = clean.length
      else {
        val end = clean.indexOf('!', start)
        if (end < 0) idx = clean.length
        else {
          out += clean.substring(start, end + 1)
          idx = end + 1
        }
      }
    }
    out.toSeq
  }

  /** Parse one telegram's OBIS lines into (code → values/unit). A value
    * like `000004.426*kWh` splits into value + unit.
    */
  def dsmrParse(telegram: String): Map[String, ObisLine] =
    telegram.linesIterator.flatMap {
      case obisLine(code, rest) =>
        val groups = parenGroup.findAllMatchIn(rest).map(_.group(1)).toSeq
        val (vals, unit) = groups.lastOption match {
          case Some(last) if last.contains('*') =>
            val Array(v, u) = last.split('*')
            (groups.init :+ v, Some(u))
          case _ => (groups, None)
        }
        Some(code -> ObisLine(code, vals, unit))
      case _ => None
    }.toMap

  /** The five reading rows P1Logger materializes per telegram
    * (P1Logger.cs:131-154): series → (values, tag). kW→W scaling on the
    * power series; counters stay in kWh.
    */
  def dsmrReadings(telegram: String): Map[String, (Array[Double], String)] = {
    val m = dsmrParse(telegram)
    def d(code: String): Double =
      m.get(code).flatMap(_.values.headOption).flatMap(_.toDoubleOption).getOrElse(Double.NaN)
    Map(
      "Power" -> (Array(1000 * (d("1-0:1.7.0") - d("1-0:2.7.0"))), "W"),
      "PowerPerPhase" -> (Array(
        1000 * (d("1-0:21.7.0") - d("1-0:22.7.0")),
        1000 * (d("1-0:41.7.0") - d("1-0:42.7.0")),
        1000 * (d("1-0:61.7.0") - d("1-0:62.7.0"))), "W"),
      "VacPerPhase" -> (Array(d("1-0:32.7.0"), d("1-0:52.7.0"), d("1-0:72.7.0")), "V"),
      "IacPerPhase" -> (Array(d("1-0:31.7.0"), d("1-0:51.7.0"), d("1-0:71.7.0")), "A"),
      "EnergyCounters" -> (Array(
        d("1-0:1.8.1"), d("1-0:1.8.2"), d("1-0:2.8.1"), d("1-0:2.8.2")), "kWh"),
    )
  }

  // -------------------------------------------------------------------
  // F6 — MAC canonicalization (ref TapoLogger.cs:158-161,
  // KasaLogger.cs:118-119): '-' → ':' and case-insensitive.
  // -------------------------------------------------------------------
  def canonicalMac(mac: String): String = mac.replace('-', ':').toLowerCase

  // -------------------------------------------------------------------
  // P6 — fixed-point register decodes (ref Goodwe/Extensions.cs:19-42,
  // Vents/ItemDictionaryExtensions.cs:15-20, ZGm053Service.cs:150).
  // -------------------------------------------------------------------
  def u16be(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  def u32be(b: Array[Byte], off: Int): Long =
    ((u16be(b, off).toLong) << 16) | u16be(b, off + 2)

  def fixedPoint(raw: Int, scale: Double, decimals: Int): Double =
    BigDecimal(raw * scale).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** ZyAura temperature decode: raw/16 − 273.15 (ZGm053Service.cs:150). */
  def zyauraTempC(raw: Int): Double = raw / 16.0 - 273.15

  /** P7 — IEEE-754 float from a Modbus register pair
    * (SdmLogger.cs:90: Int32BitsToSingle(hi<<16 | lo)).
    */
  def registerPairToFloat(hi: Int, lo: Int): Float =
    java.lang.Float.intBitsToFloat(((hi & 0xffff) << 16) | (lo & 0xffff))

  /** F6 — base64 → UTF-8 (Tapo nickname, TapoLogger.cs:238-246). */
  def base64Utf8(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** F8 — subnet host enumeration for device discovery
    * (KasaLogger.cs:100-111): base IP's .2-.254 siblings.
    */
  def subnetAddresses(ip: String): Seq[String] = {
    val m = """(.+[.])\d+""".r
    ip match {
      case m(base) => (2 to 254).map(i => s"$base$i")
      case _ => Seq.empty
    }
  }

  // -------------------------------------------------------------------
  // F9 — CRC-16/Modbus (ref Goodwe/InverterTelemetry.cs:48-68).
  // -------------------------------------------------------------------
  def crc16Modbus(bytes: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0xffff
    var i = from
    while (i < from + len) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 1) != 0) (crc >>> 1) ^ 0xa001 else crc >>> 1
        b += 1
      }
      i += 1
    }
    crc
  }

  // -------------------------------------------------------------------
  // F11 — Kasa XOR-autokey cipher (ref Kasa/Extensions.cs:41-64).
  // -------------------------------------------------------------------
  def kasaDecrypt(bytes: Array[Byte]): String = {
    var key = 171
    val out = new StringBuilder(bytes.length)
    for (b <- bytes) {
      val plain = (b & 0xff) ^ key
      key = b & 0xff
      out.append(plain.toChar)
    }
    out.toString
  }

  def kasaEncrypt(s: String): Array[Byte] = {
    var key = 171
    s.map { c =>
      val cipher = c.toInt ^ key
      key = cipher
      cipher.toByte
    }.toArray
  }
}
