package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Harness

/** W9–W11 poll-harness laws against the reference loop's semantics. */
class HarnessSpec extends AnyFunSuite {

  private val base = 60000L // 1-minute base interval

  test("backoff doubles on failure and caps after reaching an hour (W9)") {
    // success resumes the base grid, subtracting work time with a 5 s floor
    assert(Harness.nextDelayMillis(base, base, workMillis = 10000, failed = false) == 50000)
    assert(Harness.nextDelayMillis(base, base, workMillis = 59000, failed = false) == 5000)
    assert(Harness.nextDelayMillis(base, base, workMillis = 120000, failed = false) == 5000)
    // repeated failures double the current delay: 1m 2m 4m ... until >= 1h
    val seq = Iterator.iterate(base)(d =>
      Harness.nextDelayMillis(base, d, 0, failed = true)).take(9).toSeq
    assert(seq == Seq(60000L, 120000L, 240000L, 480000L, 960000L, 1920000L,
      3840000L, 3840000L, 3840000L))
    // the final doubling overshoots the hour (32 min -> 64 min) then holds,
    // exactly like the reference's pre-check `if (Delay < 1h)`
    assert(seq.last == 3840000L && seq.last > 3600000L)
    // recovery resets to the base grid
    assert(Harness.nextDelayMillis(base, seq.last, 0, failed = false) == base)
    assert(Harness.workTimeoutMillis(base) == 2 * base)
  }

  test("per-item cadence: due at 80% of the read interval (W10)") {
    assert(Harness.maxAgeSeconds(600) == 480) // EbusLogger.cs:92 maxage
    assert(Harness.maxAgeSeconds(90) == 72)
    val items = Seq(("fast", 60000L), ("slow", 600000L))
    // never-read items are always due
    assert(Harness.dueItems(items, Map.empty, nowMillis = 0) == Seq("fast", "slow"))
    // fast due again at 48 s; slow not until 480 s
    val last = Map("fast" -> 0L, "slow" -> 0L)
    assert(Harness.dueItems(items, last, nowMillis = 47999) == Seq())
    assert(Harness.dueItems(items, last, nowMillis = 48000) == Seq("fast"))
    assert(Harness.dueItems(items, last, nowMillis = 480000) == Seq("fast", "slow"))
  }

  test("retry-once: second attempt wins, third failure propagates (W11)") {
    var calls = 0
    var warned = 0
    val v = Harness.retryOnce(_ => warned += 1) {
      calls += 1
      if (calls < 2) throw new RuntimeException("flaky")
      42
    }
    assert(v == 42 && calls == 2 && warned == 1)
    // two consecutive failures propagate the second exception
    var calls2 = 0
    val e = intercept[RuntimeException] {
      Harness.retryOnce() { calls2 += 1; throw new RuntimeException(s"fail$calls2") }
    }
    assert(e.getMessage == "fail2" && calls2 == 2)
  }

  test("only the SharedSpark fixture builds or stops a Spark session") {
    // split literals, so this file does not match its own scan
    val calls = Seq("SparkSession" + ".builder", "spark" + ".stop()")
    val root = Paths.get("src/test/scala")
    val files: Seq[Path] = {
      val s = Files.walk(root)
      try s.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "SharedSpark.scala"),
      s"the scan of $root missed the fixture")
    val offenders = files.filter { p =>
      // ISO-8859-1 reads any byte, so a spec holding binary fixtures scans too
      val text = new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1)
      p.getFileName.toString != "SharedSpark.scala" && calls.exists(text.contains)
    }
    assert(offenders.isEmpty, "use the SharedSpark session instead")
  }

  test("only Exec materializes or releases frames inside the operators") {
    // split literals, so this file does not match its own scan
    val calls = Seq(".cache" + "()", ".persist" + "(", ".unpersist" + "(",
      ".localCheckpoint" + "(", ".checkpoint" + "(")
    val root = Paths.get("src/main/scala/graft/operators")
    val files: Seq[Path] = {
      val s = Files.walk(root)
      try s.filter(_.toString.endsWith(".scala")).toArray.toSeq.map(_.asInstanceOf[Path])
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "Exec.scala"),
      s"the scan of $root missed Exec")
    val offenders = files.filter { p =>
      val text = new String(Files.readAllBytes(p), StandardCharsets.ISO_8859_1)
      p.getFileName.toString != "Exec.scala" && calls.exists(text.contains)
    }
    assert(offenders.isEmpty,
      "materialize through Exec.scoped or Exec.materializeToTemp instead")
  }
}
