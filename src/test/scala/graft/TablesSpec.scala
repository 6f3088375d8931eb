package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events reader must survive the driver regenerating testdata with
  * a different parquet timestamp physical type — round 8's bench lost
  * all 30 readings queries to exactly that (TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS, isAdjustedToUTC=false)). Golden fixtures pin BOTH
  * layouts to the same known microsecond instants.
  */
class TablesSpec extends AnyFunSuite with SharedSpark {

  private val wantMicros =
    Seq(1704067200000000L, 1704067260500000L, 1704153599999999L)

  private def stageDir(fixture: String): String = {
    val dir = Paths.get(tmpDir("graft-tables"))
    val src = Paths.get(getClass.getResource(s"/$fixture").toURI)
    Files.copy(src, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  for ((fixture, label) <- Seq(
      "events_nanos.parquet" -> "TIMESTAMP(NANOS)",
      "events_micros.parquet" -> "TIMESTAMP(MICROS, NTZ)")) {
    test(s"events() reads the $label layout to the same microsecond instants") {
      val df = Tables.events(spark, stageDir(fixture))
      // ts must land as a plain TIMESTAMP usable by unix_micros
      val got = df.orderBy("event_id")
        .select(expr("unix_micros(ts)"))
        .collect().map(_.getLong(0)).toSeq
      assert(got == wantMicros, s"$label: wrong micros")
      // schema contract: every downstream query calls unix_micros/
      // date_trunc on ts — TimestampNTZType would break them
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    }
  }
}
