package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import MetersSpec.{BakRenameFails, NoBak}

/** The meters dimension: doc derivation, last-wins upsert (S6), the
  * Kasa rolling-offset law, and named value-column resolution through
  * the series registry.
  */
class MetersSpec extends AnyFunSuite with SharedSpark {

  private def eventsDf = {
    import spark.implicits._
    Seq(
      (0L, "view", 1000L, 10.0),
      (0L, "view", 2000L, 12.0),
      (3L, "view", 1000L, 100.0),
      (3L, "view", 2000L, 3.0), // counter reset: 3 < 100 - 0.01
      (5L, "view", 1000L, 7.0))
      .toDF("user_id", "event_type", "ts_ms", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
  }

  test("fromEvents derives one typed doc per device, deterministically") {
    val m = Meters.fromEvents(eventsDf).orderBy("userId").collect()
    assert(m.map(_.getAs[String]("meterId")).toSeq ==
      Seq("meters/0", "meters/3", "meters/5"))
    val doc0 = m(0)
    assert(doc0.getAs[String]("vendorInfo") == "DSMR5") // 0 % 5 -> idx 1
    assert(doc0.getAs[String]("medium") == "Electricity")
    assert(doc0.getAs[Double]("energyOffset") == 0.0)
    assert(doc0.getAs[Boolean]("extendRuns")) // 0 % 3 == 0
    val doc3 = m(1)
    assert(doc3.getAs[String]("vendorInfo") == "SDM630") // 3 % 5 -> idx 4
    assert(doc3.getAs[Double]("energyOffset") == 30.0)
    // registers carry the per-doc offset in the Energy register
    val regs = doc3.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("registers")
    assert(regs.map(r => (r.getAs[Int]("register"), r.getAs[String]("seriesName"))) ==
      Seq((12, "Power"), (72, "Energy")))
    assert(regs(1).getAs[Double]("offset") == 30.0)
  }

  test("upsert is last-wins per meterId and passes unmatched docs through (S6)") {
    val current = Meters.fromEvents(eventsDf)
    // poll cycle mutated meters/3: new offset + failed poll
    val updated = current.filter(col("userId") === 3)
      .withColumn("energyOffset", lit(130.0))
      .withColumn("lastPollSuccessful", lit(false))
    val merged = Meters.upsert(current, updated)
    assert(merged.count() == 3)
    val m3 = merged.filter(col("userId") === 3).collect()(0)
    assert(m3.getAs[Double]("energyOffset") == 130.0)
    assert(!m3.getAs[Boolean]("lastPollSuccessful"))
    // untouched doc unchanged
    val m0 = merged.filter(col("userId") === 0).collect()(0)
    assert(m0.getAs[Double]("energyOffset") == 0.0)
    // within one batch of updates, highest _seq wins
    val v1 = updated.withColumn("energyOffset", lit(1.0)).withColumn("_seq", lit(1L))
    val v2 = updated.withColumn("energyOffset", lit(2.0)).withColumn("_seq", lit(2L))
    val merged2 = Meters.upsert(current, v1.unionByName(v2))
    assert(merged2.filter(col("userId") === 3).collect()(0)
      .getAs[Double]("energyOffset") == 2.0)
  }

  test("energyOffsetUpdate folds the last stored reading on counter reset") {
    val out = Meters.energyOffsetUpdate(
      Meters.fromEvents(eventsDf),
      eventsDf.select(col("user_id"), col("ts"), col("value")))
      .orderBy("user_id").collect()
    // user 0: 12 > 10, offset stays 0.0
    assert(out(0).getAs[Double]("new_offset") == 0.0)
    // user 3: 3 < 100 - eps -> new offset = round(prev + oldOffset, 4) = 130.0
    assert(out(1).getAs[Double]("new_offset") == 130.0)
    // user 5: single reading, prev null -> offset unchanged (50.0 = 5 % 7 * 10)
    assert(out(2).getAs[Double]("new_offset") == 50.0)
  }

  test("valueColumnNamed resolves per-series positions from the registry") {
    import spark.implicits._
    val readings = Seq(
      ("meters/1", "click", 1000L, Seq(5000.0, 5.0, 300000.0)),
      ("meters/1", "purchase", 1000L, Seq(9.0, 0.009, 540.0)))
      .toDF("meterId", "series", "ts_ms", "values")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("tag", lit(""))
    val kw = TsQuery(readings).valueColumnNamed("Power [kW]").df
      .select(col("series"), col("value")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    // click registers "Power [kW]" at position 2; purchase doesn't have it
    assert(kw("click").contains(5.0))
    assert(kw("purchase").isEmpty)
    // "Value" resolves to position 1 for purchase only
    val v = TsQuery(readings).valueColumnNamed("Value").df
      .select(col("series"), col("value")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(v("purchase").contains(9.0))
    assert(v("click").isEmpty)
    // unregistered name is rejected at plan time
    intercept[IllegalArgumentException] {
      TsQuery(readings).valueColumnNamed("No Such Column")
    }
  }

  /** Drives `App.pollHealthSink` with one micro-batch of polled meter
    * ids against the snapshot in `dir`.
    */
  private def pollOnce(dir: String, polled: String*): Unit = {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ckpt = tmpDir("ckpt")
    val mem = MemoryStream[String]
    val q = graft.streaming.App.pollHealthSink(mem.toDF().toDF("meterId"), dir, ckpt).start()
    try {
      mem.addData(polled: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Writes the meters snapshot with every doc's last poll failed. */
  private def failedSnapshot(dir: String): Unit =
    Meters.fromEvents(eventsDf).withColumn("lastPollSuccessful", lit(false))
      .write.mode("overwrite").parquet(dir)

  private def pollHealth(dir: String): Map[String, Boolean] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("meterId") -> r.getAs[Boolean]("lastPollSuccessful"))
      .toMap

  test("pollHealthSink flips lastPollSuccessful only for polled meters") {
    val dir = tmpDir("meters") + "/snap"
    failedSnapshot(dir)
    // meters/9 has no doc: the join drops it instead of minting one
    pollOnce(dir, "meters/3", "meters/5", "meters/3", "meters/9")
    assert(pollHealth(dir) ==
      Map("meters/0" -> false, "meters/3" -> true, "meters/5" -> true))
    // the rest of each doc passes through the upsert unchanged
    val after = spark.read.parquet(dir)
    assert(after.filter(col("userId") === 3).collect()(0)
      .getAs[Double]("energyOffset") == 30.0)
  }

  test("pollHealthSink restores a snapshot cut between swapSnapshot's two renames") {
    val dir = tmpDir("meters") + "/snap"
    failedSnapshot(dir)
    // the crash window: rename(live, bak) happened, rename(staged, live)
    // did not — the staged merge of the uncommitted batch is left over
    spark.read.parquet(dir).withColumn("lastPollSuccessful", lit(true))
      .write.parquet(s"$dir.staging")
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(s"$dir.bak"))
    pollOnce(dir, "meters/0")
    // the old snapshot came back and the batch ran against it, not
    // against the staged state of the batch that crashed
    assert(pollHealth(dir) ==
      Map("meters/0" -> true, "meters/3" -> false, "meters/5" -> false))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir.bak")))
  }

  /** Runs `body` with [[BakRenameFails]] registered under [[NoBak]]. */
  private def withNoBak[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.$NoBak.impl", classOf[BakRenameFails].getName)
    hc.setBoolean(s"fs.$NoBak.impl.disable.cache", true)
    try body
    finally {
      hc.unset(s"fs.$NoBak.impl")
      hc.unset(s"fs.$NoBak.impl.disable.cache")
    }
  }

  test("swapSnapshot throws when a rename returns false and keeps the live snapshot") {
    val dir = tmpDir("meters") + "/snap"
    failedSnapshot(dir)
    val before = spark.read.parquet(dir).collect().toSet
    withNoBak {
      val merged = spark.read.parquet(dir).withColumn("lastPollSuccessful", lit(true))
      val err = intercept[java.io.IOException] {
        graft.streaming.Ingest.swapSnapshot(merged, s"$NoBak:$dir")
      }
      assert(err.getMessage.contains(s"$dir.bak"), err.getMessage)
    }
    assert(spark.read.parquet(dir).collect().toSet == before)
  }

  test("restoreSnapshot throws when the rename back returns false and keeps the backup") {
    val dir = tmpDir("meters") + "/snap"
    failedSnapshot(dir)
    val before = spark.read.parquet(dir).collect().toSet
    // the crash window: rename(live, bak) happened, rename(staged, live) did not
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(s"$dir.bak"))
    withNoBak {
      val err = intercept[java.io.IOException] {
        graft.streaming.Ingest.restoreSnapshot(spark, s"$NoBak:$dir")
      }
      assert(err.getMessage.contains(s"$dir.bak"), err.getMessage)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    assert(spark.read.parquet(s"$dir.bak").collect().toSet == before)
  }
}

object MetersSpec {

  /** Scheme of [[BakRenameFails]]. */
  val NoBak = "nobak"

  /** The local file system, except that a rename onto or out of a
    * `.bak` path returns false without throwing, as Hadoop's `rename`
    * contract allows: a snapshot swap cannot move the live dir aside,
    * and a restore cannot move the backup back onto the live path.
    * Every other rename, Spark's commit renames included, works.
    */
  class BakRenameFails extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$NoBak:///")
    override def getScheme: String = NoBak
    override def rename(src: Path, dst: Path): Boolean =
      !dst.getName.endsWith(".bak") && !src.getName.endsWith(".bak") &&
        super.rename(src, dst)
  }
}
