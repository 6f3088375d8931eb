package graft

import org.apache.spark.sql.functions.udf
import org.scalatest.funsuite.AnyFunSuite

/** Bench watchdog laws (round-15 item 5): a query that blows its
  * wall-clock budget is cancelled (its job group aborts), reported as
  * a timeout — and the SESSION stays healthy: the next query runs
  * clean, so one pathological configuration can never contaminate the
  * medians behind it (the q183 grind poisoned three neighbors before
  * this existed).
  */
class BenchWatchdogSpec extends AnyFunSuite with SharedSpark {

  test("budget breach cancels the job group, reports timeout, and isolates neighbors") {
    // deliberately slow: 4 tasks that each sleep 60 s, under a 2 s
    // budget — must come back as a timeout in ~2 s, not in a minute.
    // The sleep must survive the optimizer: count() over an unused
    // deterministic projection gets column-pruned to nothing, so the
    // UDF output feeds the aggregate itself
    val slow = udf((i: Long) => { Thread.sleep(60000L); i })
    val t0 = System.nanoTime()
    val r = Bench.runWithBudget(spark, "wd-slow", 2000L) {
      import org.apache.spark.sql.functions.{col, sum}
      spark.range(4).repartition(4).select(slow(col("id")).as("x"))
        .agg(sum("x")).collect(); ()
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(r.fold(_.startsWith("timeout"), _ => false), s"got $r")
    assert(elapsed < 40.0,
      s"watchdog took ${elapsed}s — cancellation did not unwind")
    // isolation: the session is immediately usable by the next query
    val r2 = Bench.runWithBudget(spark, "wd-fast", 60000L) {
      assert(spark.range(100).count() == 100L); ()
    }
    assert(r2.isRight, s"fast query after a breach failed: $r2")
    // an erroring query reports error (and keeps its diagnosis), not
    // a timeout and not a near-zero success
    val r3 = Bench.runWithBudget(spark, "wd-err", 60000L) {
      throw new RuntimeException("boom")
    }
    assert(r3.fold(r => r.startsWith("error") && r.contains("boom"),
      _ => false), s"got $r3")
  }

  test("retry-once: a first-pass timeout gets exactly one requeue; recovery is 'retried', double-breach stands, errors and oks pass through") {
    val firstPass = Seq(
      ("q_ok", 1.5, "ok"),
      ("q_noisy", -1.0, "timeout"), // recovers on retry
      ("q_stuck", -1.0, "timeout"), // breaches again
      ("q_broken", -1.0, "error"))  // deterministic — must NOT retry
    val retriedNames = scala.collection.mutable.ListBuffer[String]()
    val out = Bench.retryPass(firstPass, name => {
      retriedNames += name
      name match {
        case "q_noisy" => (2.25, "ok")
        case "q_stuck" => (-1.0, "timeout")
        case other => fail(s"unexpected retry of $other")
      }
    })
    // only the two timeouts were requeued, each exactly once
    assert(retriedNames.toSeq == Seq("q_noisy", "q_stuck"))
    assert(out == Seq(
      ("q_ok", 1.5, "ok"),
      ("q_noisy", 2.25, "retried"), // numeric row, marked second-window
      ("q_stuck", -1.0, "timeout"), // double breach = real
      ("q_broken", -1.0, "error")))
  }
}
