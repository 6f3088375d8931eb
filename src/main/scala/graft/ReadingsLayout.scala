package graft

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * One writer ([[writer]]) writes every partition, for the batch
  * [[write]] and for the streaming sink's [[writeLastWins]] alike. It
  * repartitions by the partition columns first, so each output task
  * owns whole directories: one file per (series, date) per write
  * instead of the tasks × partitions small-file explosion the naive
  * `partitionBy` write produces at cluster scale.
  *
  * Encoding, measured in bytes per row of each column chunk on a
  * 100k-reading, 1,500-meter, 30-day history (Snappy pages with a
  * dictionary on every column → this writer):
  *  - `ts` 9.54 → 6.19: its values are unique per row, so a dictionary
  *    only adds a page of them beside the indices; it is written plain,
  *    in zstd pages;
  *  - `meterId` 5.34 → 3.08: its dictionary stays, in zstd pages;
  *  - `values` 12.29 → 10.58: zstd pages in place of Snappy;
  *  - the whole layout 29.07 → 21.75 B/row.
  * `ts` stays INT96, Spark's default: `prepareWrite` sets the
  * timestamp type from the session conf and overrides a per-write
  * option, and parquet's v2 pages gave nothing under INT96 (23.31 vs
  * 23.08 B/row), so neither is set here.
  */
object ReadingsLayout {

  private val Partitions = Seq(col("series"), col("date"))

  /** The layout's clustering, led by the partition columns: the planned
    * write sorts by them and would otherwise replace a (meterId, ts)-only
    * order. It is also the last-wins key.
    */
  private val Key = Partitions ++ Seq(col("meterId"), col("ts"))

  /** Write `readings` (meterId, series, ts, values, tag) as a
    * (series, date)-partitioned parquet table at `path`, replacing
    * whatever `path` held.
    */
  def write(readings: DataFrame, path: String): Unit =
    writer(readings.withColumn("date", to_date(col("ts"))))(identity)
      .mode("overwrite").parquet(path)

  /** Last-wins upsert of `fresh` (meterId, series, ts, values, tag, in
    * arrival order) into the layout at `path`. `stored` holds every
    * stored row of the (series, date) partitions `fresh` lands in (read
    * back from `path`), or is empty when `path` holds no partition yet.
    * Per (series, date, meterId, ts) the last fresh row wins, over any
    * stored one. Only the partitions `fresh` lands in are replaced
    * (dynamic partition overwrite). The rank runs over the writer's own
    * exchange: one shuffle and one sort do the dedup, the clustering
    * and the file order. The write stages its files and swaps each
    * partition in at commit, so `stored` may read the partitions it
    * replaces.
    */
  private[graft] def writeLastWins(fresh: DataFrame, stored: Option[DataFrame],
      path: String): Unit = {
    // taken before the shuffle, `_seq` follows arrival order, so fresh
    // re-sends rank newest first; stored rows rank below every fresh one
    val ranked = fresh.withColumn("date", to_date(col("ts")))
      .withColumn("_pri", lit(1)).withColumn("_seq", monotonically_increasing_id())
    val rows = stored.fold(ranked)(
      _.withColumn("_pri", lit(0)).withColumn("_seq", lit(0L)).unionByName(ranked))
    val newestFirst = Window.partitionBy(Key: _*)
      .orderBy(col("_pri").desc, col("_seq").desc)
    writer(rows)(_.withColumn("_rn", row_number().over(newestFirst))
        .filter(col("_rn") === 1).drop("_rn", "_pri", "_seq"))
      .mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .parquet(path)
  }

  /** Repartitions `rows` by the partition columns, applies `keep` over
    * that exchange, sorts each task by [[Key]] and sets the layout's
    * encoding (see the object doc).
    */
  private def writer(rows: DataFrame)(keep: DataFrame => DataFrame): DataFrameWriter[Row] =
    keep(rows.repartition(Partitions: _*)).sortWithinPartitions(Key: _*).write
      .option("compression", "zstd")
      .option("parquet.enable.dictionary#ts", "false")
      .partitionBy("series", "date")

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
