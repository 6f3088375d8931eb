package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout of the canonical readings fact table (SURVEY §1.4).
  *
  * At 100 TB the single biggest scan-cost lever is not predicate
  * pushdown (which only skips row groups inside files already opened)
  * but PARTITION PRUNING — never listing, opening, or scheduling the
  * files at all. The canonical layout is hive-style
  * `series=<s>/date=<yyyy-MM-dd>/` parquet:
  *
  *  - `series` is low-cardinality (one per logical signal — the
  *    reference's named time series per meter document,
  *    TelemetryToRaven/Meter.cs:5-10), so the directory fanout is
  *    |series| × |days| — thousands of directories for years of data,
  *    well inside any metastore/listing budget;
  *  - `date` makes every time-bounded query (all of SURVEY §2.A —
  *    hourly buckets, lookback-last, day windows) a directory-level
  *    range prune;
  *  - within each partition, rows are sorted by (meterId, ts) so the
  *    parquet row-group min/max statistics turn per-meter range scans
  *    into row-group skips — the pushdown layer composes with, rather
  *    than substitutes for, the pruning layer.
  *
  * The writer repartitions by the partition columns first so each
  * output task owns whole directories — one file per (series, date)
  * per shuffle partition instead of the tasks × partitions small-file
  * explosion the naive `partitionBy` write produces at cluster scale.
  */
object ReadingsLayout {

  /** Write `readings` (meterId, series, ts, values, tag) as a
    * (series, date)-partitioned parquet table at `path`.
    */
  def write(readings: DataFrame, path: String): Unit =
    readings
      .withColumn("date", to_date(col("ts")))
      .repartition(col("series"), col("date"))
      // led by the partition columns: the planned write sorts by them
      // and would otherwise replace a (meterId, ts)-only order
      .sortWithinPartitions(col("series"), col("date"), col("meterId"),
        col("ts"))
      .write.mode("overwrite")
      .partitionBy("series", "date")
      .parquet(path)

  /** Read the partitioned layout back; `series`/`date` come from the
    * directory structure, so filters on them prune at file-listing
    * time (assert via PartitionFilters in the scan node — see
    * PlanSpec). The `date` column is carried (it is free — no file
    * bytes) so time-window queries can prune with it directly.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("meterId"), col("series"), col("ts"), col("values"),
        col("tag"), col("date"))
}
