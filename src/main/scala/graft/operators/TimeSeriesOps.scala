package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operator library (SURVEY.md §2.2/§2.4/§2.5/§2.6),
  * re-expressed as declarative DataFrame transforms so Catalyst keeps
  * predicate pushdown / column pruning / partial aggregation for free.
  *
  * All operators are keyed by arbitrary key columns (typically
  * (meterId, series)) and therefore scale out linearly: every groupBy /
  * window shuffles once on the key, and per-key state never exceeds
  * per-device cardinality (100 TB posture, SURVEY.md §7.4).
  */
object TimeSeriesOps {

  // ---------------------------------------------------------------------
  // P9 — timestamp quantization (ref: TelemetryToRaven/Meter.cs:14-21).
  // Floor-truncate a timestamp to an arbitrary millisecond interval.
  // Written with integer arithmetic on epoch micros so it stays inside
  // whole-stage codegen (no UDF).
  // ---------------------------------------------------------------------
  def truncateTo(ts: Column, intervalMillis: Long): Column = {
    val q = intervalMillis * 1000L // micros
    val us = unix_micros(ts)
    // exact long arithmetic (Column `/` would go through double)
    timestamp_micros(us - pmod(us, lit(q)))
  }

  /** Tumbling bucket start, aligned to the epoch — equivalent to
    * date_trunc for standard units but works for any interval.
    */
  def bucket(ts: Column, intervalMillis: Long): Column =
    truncateTo(ts, intervalMillis)

  // ---------------------------------------------------------------------
  // A3 — last entry of a series (ref: KasaLogger.cs:59-68 `ts.Last()`).
  // max_by over a struct keeps a single shuffle + partial agg; no global
  // sort. At 100 TB this is the idiomatic "latest value per device".
  // ---------------------------------------------------------------------
  def lastByKey(
      df: DataFrame,
      keys: Seq[Column],
      tsCol: Column,
      payload: Seq[(String, Column)]): DataFrame = {
    val aggs = payload.map { case (n, c) => max_by(c, tsCol).as(n) } :+
      max(tsCol).as("last_ts")
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------------------
  // A4 — last-within-lookback (ref: EbusRunExtender.cs:38-57,
  // MbusLogger.cs:26-43): range-prune first, then last per key; absent
  // keys surface as null via the caller's left join (fill policy at DSL
  // level, SURVEY.md §7.4 absent-data semantics).
  // ---------------------------------------------------------------------
  def lastWithinLookback(
      df: DataFrame,
      keys: Seq[Column],
      tsCol: Column,
      cutoff: Column,
      payload: Seq[(String, Column)]): DataFrame =
    lastByKey(df.filter(tsCol >= cutoff), keys, tsCol, payload)

  // ---------------------------------------------------------------------
  // J1 — N-way align-by-bucket join with missing⇒default
  // (ref: RandomQueries/Program.cs:33-45 — dictionary TryGetValue ⇒ 0).
  // Spark-first: ONE shuffle total. Instead of N-1 joins of N pre-
  // aggregated frames, pivot the series dimension inside a single
  // groupBy(bucket) — each series becomes a column, missing ⇒ fill.
  // ---------------------------------------------------------------------
  def alignSeriesByBucket(
      df: DataFrame,
      seriesCol: Column,
      tsCol: Column,
      valueCol: Column,
      intervalMillis: Long,
      seriesNames: Seq[String],
      fill: Double = 0.0): DataFrame = {
    val pivoted = alignSeriesByBucketNullable(
      df, seriesCol, tsCol, valueCol, intervalMillis, seriesNames)
    seriesNames.foldLeft(pivoted) { (acc, s) =>
      acc.withColumn(s, coalesce(col(s), lit(fill)))
    }
  }

  /** [[alignSeriesByBucket]] with missing ⇒ null (caller decides the
    * fill policy per column — e.g. keep one series null to test bucket
    * presence, default the rest).
    */
  def alignSeriesByBucketNullable(
      df: DataFrame,
      seriesCol: Column,
      tsCol: Column,
      valueCol: Column,
      intervalMillis: Long,
      seriesNames: Seq[String]): DataFrame =
    df.groupBy(bucket(tsCol, intervalMillis).as("bucket"))
      .pivot(seriesCol, seriesNames)
      .agg(avg(valueCol))

  // ---------------------------------------------------------------------
  // J5 / W5 — rate from a cumulative counter
  // (ref: GpioLogger.cs:85-99 — qtyPerPulse / Δt vs previous pulse).
  // lag window per key; single shuffle on the key.
  // ---------------------------------------------------------------------
  def rateFromCounter(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      counterCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.withColumn("prev_v", lag(col(counterCol), 1).over(w))
      .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn(
        "rate",
        (col(counterCol) - col("prev_v")) /
          (unix_micros(col(tsCol)) - unix_micros(col("prev_ts"))).cast("double") * lit(1e6))
  }

  // ---------------------------------------------------------------------
  // W4 — counter-rollover offset correction
  // (ref: KasaLogger.cs:55-75, TapoLogger.cs:87-107: if current < last−ε
  // the counter reset; corrected = raw + cumulative sum of lost offsets).
  // Two window passes over the same (key, ts) sort order — Catalyst
  // reuses one sort+shuffle for both.
  // ---------------------------------------------------------------------
  def rolloverCorrect(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      counterCol: String,
      epsilon: Double = 0.0): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("prev_v", lag(col(counterCol), 1).over(w))
      .withColumn(
        "reset_amount",
        when(col("prev_v").isNotNull && col(counterCol) < col("prev_v") - lit(epsilon),
          col("prev_v")).otherwise(lit(0.0)))
      .withColumn("offset", sum(col("reset_amount")).over(cum))
      .withColumn("corrected", col(counterCol) + col("offset"))
  }

  // ---------------------------------------------------------------------
  // W3 — trapezoid (Riemann) integration of a rate series
  // (ref: MbusLogger.cs:116-149 — fractional energy
  //  (P_t + P_{t-1})/2 · Δt_h, skipping non-monotonic timestamps).
  // Emits the per-step increment and the running integral per key.
  // ---------------------------------------------------------------------
  def trapezoidIntegrate(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      powerCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dtHours =
      (unix_micros(col(tsCol)) - unix_micros(col("prev_ts"))).cast("double") / lit(3600e6)
    df.withColumn("prev_p", lag(col(powerCol), 1).over(w))
      .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .withColumn(
        "step_energy",
        when(col("prev_p").isNotNull && col(tsCol) > col("prev_ts"),
          (col(powerCol) + col("prev_p")) / lit(2.0) * dtHours)
          .otherwise(lit(0.0)))
      .withColumn("cum_energy", sum(col("step_energy")).over(cum))
  }

  // ---------------------------------------------------------------------
  // W6 — debounce: drop events closer than `debounceMillis` to their
  // predecessor (ref: GpioLogger.cs:46-70, 200 ms).
  // ---------------------------------------------------------------------
  def debounce(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      debounceMillis: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.withColumn("_prev_ts", lag(col(tsCol), 1).over(w))
      .filter(col("_prev_ts").isNull ||
        unix_micros(col(tsCol)) - unix_micros(col("_prev_ts")) > debounceMillis * 1000L)
      .drop("_prev_ts")
  }

  // ---------------------------------------------------------------------
  // Skew salting (100 TB posture, SURVEY.md §7.4): when one key (a hot
  // meter, a dominant series) would swamp a single reducer, aggregate in
  // two phases over (keys, salt) then (keys). The salt is deterministic
  // (hash of a high-cardinality column, e.g. the timestamp), so results
  // are reproducible. Map-side partial aggregation already handles mild
  // skew for algebraic aggregates — this helper is for the severe case
  // and for aggregates whose partial state is per-group-heavy.
  // ---------------------------------------------------------------------
  def saltedAvg(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      saltFrom: Column,
      buckets: Int): DataFrame =
    df.withColumn("_salt", pmod(xxhash64(saltFrom), lit(buckets.toLong)))
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(sum(col(valueCol)).as("_s"), count(col(valueCol)).as("_c"))
      .groupBy(keys.map(col): _*)
      .agg((sum(col("_s")) / sum(col("_c"))).as("avg_value"),
        sum(col("_c")).as("n"))

  // ---------------------------------------------------------------------
  // As-of join (SURVEY.md §2.5): for each left row, the latest right row
  // with rTs <= lTs within `toleranceMillis`, per key. Generalizes A4+J5
  // ("last value before t"). Implemented as union + window (one shuffle,
  // no range explosion): tag sides, sort by (key, ts), carry the last
  // right payload forward with last(ignoreNulls) over an unbounded-
  // preceding frame, keep left rows.
  // ---------------------------------------------------------------------
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      lTs: String,
      rTs: String,
      rPayload: Seq[String],
      toleranceMillis: Long = Long.MaxValue): DataFrame = {
    val l = left
      .withColumn("_ts", col(lTs))
      .withColumn("_side", lit(1))
      .withColumn("_rts", lit(null).cast("timestamp"))
    val lWithNullPayload = rPayload.foldLeft(l) { (acc, p) =>
      acc.withColumn(s"_r_$p", lit(null).cast(right.schema(p).dataType))
    }
    var r = right
      .withColumn("_ts", col(rTs))
      .withColumn("_side", lit(0))
      .withColumn("_rts", col(rTs))
    for (p <- rPayload) r = r.withColumn(s"_r_$p", col(p))
    val rCols = keys ++ Seq("_ts", "_side", "_rts") ++ rPayload.map(p => s"_r_$p")
    val lCols = left.columns.toSeq ++ Seq("_ts", "_side", "_rts") ++ rPayload.map(p => s"_r_$p")
    val unioned = lWithNullPayload
      .select(lCols.head, lCols.tail: _*)
      .unionByName(r.select(rCols.head, rCols.tail: _*), allowMissingColumns = true)
    // right rows sort before left rows at equal ts (side 0 < 1) so an
    // equal-timestamp right row IS visible to the left row (<=).
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rPayload.foldLeft(
      unioned.withColumn("_last_rts", last(col("_rts"), ignoreNulls = true).over(w))) {
      (acc, p) => acc.withColumn(s"_c_$p", last(col(s"_r_$p"), ignoreNulls = true).over(w))
    }
    val tolMicros = // saturate: Long.MaxValue ms would overflow µs
      if (toleranceMillis > Long.MaxValue / 1000L) Long.MaxValue
      else toleranceMillis * 1000L
    val tolOk =
      col("_last_rts").isNotNull &&
        (unix_micros(col("_ts")) - unix_micros(col("_last_rts")) <= tolMicros)
    val out = carried
      .filter(col("_side") === 1)
      .withColumn("asof_ts", when(tolOk, col("_last_rts")))
    val withPayload = rPayload.foldLeft(out) { (acc, p) =>
      acc.withColumn(p + "_asof", when(tolOk, col(s"_c_$p")))
    }
    withPayload.select(
      left.columns.toIndexedSeq.map(col) ++ Seq(col("asof_ts")) ++
        rPayload.map(p => col(p + "_asof")): _*)
  }

  // ---------------------------------------------------------------------
  // Interval (range) join, bucketed. Spark plans a bare
  // `ts BETWEEN start AND end` join as BroadcastNestedLoopJoin — O(N·W)
  // comparisons and a broadcast of one whole side, both scale-killers.
  // The standard fix: quantize time into buckets at least as wide as
  // the longest window, explode each window onto every bucket it
  // overlaps, equi-join on (keys, bucket) — each event carries exactly
  // one bucket so no output dedup is needed — then refine with the
  // precise range predicate inside the join. One shuffled equi-join,
  // replication factor bounded by ceil(maxWindowLen/bucket)+1 window
  // rows (windows are the small side by construction).
  // ---------------------------------------------------------------------

  /** Events-in-windows join: `left` rows (keys, tsMicros) matched into
    * `windows` rows (keys, start_us, end_us half-open) via the bucketed
    * strategy above. Left-outer from the WINDOW side so empty windows
    * survive (their event columns null). `bucketMicros` must be ≥ the
    * longest window; callers derive it from the window spec.
    */
  def bucketedRangeJoin(
      left: DataFrame, windows: DataFrame, keys: Seq[String],
      tsMicros: Column, bucketMicros: Long): DataFrame = {
    // rename the event-side keys to reserved names BEFORE the join:
    // windows frames are routinely DERIVED from the event frame (min-ts
    // anchors etc.), so dataframe-tagged columns (wb(k)/ev(k)) share
    // expression ids and resolve ambiguously — a left join that then
    // drops "the event copy" can silently keep the null-bearing side
    val ev = keys.foldLeft(left.withColumn("__ts_us", tsMicros))(
        (d, k) => d.withColumnRenamed(k, "__l_" + k))
      .withColumn("__lb", expr(s"__ts_us div ${bucketMicros}L"))
    // clamp the upper bucket: a degenerate window (end_us <= start_us)
    // would otherwise make sequence() DESCEND and replicate the window
    // once per spurious bucket — the empty window must surface exactly
    // one null-event row, not several
    val wb = windows.withColumn("__wb",
      explode(sequence(expr(s"start_us div ${bucketMicros}L"),
        expr(s"greatest(start_us div ${bucketMicros}L, (end_us - 1) div ${bucketMicros}L)"))))
    val cond = keys.map(k => col(k) === col("__l_" + k)).reduce(_ && _) &&
      col("__wb") === col("__lb") &&
      col("__ts_us") >= col("start_us") && col("__ts_us") < col("end_us")
    wb.join(ev, cond, "left")
      .drop("__wb" +: "__lb" +: "__ts_us" +: keys.map("__l_" + _): _*)
  }
}
