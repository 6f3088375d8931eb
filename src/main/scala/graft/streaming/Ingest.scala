package graft.streaming

import graft.ReadingsLayout
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming ingestion — the Spark-native re-expression of the
  * reference's logger loop (SURVEY.md §2.7, §3 E3):
  *
  *  - every poll cycle = one micro-batch (`Trigger.ProcessingTime`
  *    replaces LoggerService.cs:28-50's 1-minute loop);
  *  - per-device mutable state cached across cycles
  *    (MbusLogger.cs:17-18,24-44) = `flatMapGroupsWithState`, recovered
  *    from the checkpoint instead of re-read from the store;
  *  - same-timestamp overwrite on append (S7) = last-wins dedup inside
  *    `foreachBatch` before the sink write;
  *  - no watermarking exists in the reference — we add a configurable
  *    one so out-of-order device clocks don't hold unbounded state.
  */
object Ingest {

  /** Canonical reading row (FIXTURES.md §1). */
  val readingSchema: StructType = StructType(Seq(
    StructField("meterId", StringType),
    StructField("series", StringType),
    StructField("ts", TimestampType),
    StructField("values", ArrayType(DoubleType)),
    StructField("tag", StringType)))

  case class Reading(meterId: String, series: String, ts: java.sql.Timestamp,
      values: Seq[Double], tag: String)

  /** File-based streaming source: each dropped file is a poll result.
    * JSON-lines in the reading shape; schema is fixed so the stream
    * never does inference work.
    */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(readingSchema).json(dir)

  /** The dedup family's streaming twin (batch: Dedup.exactDedup):
    * admit a document only if its CONTENT FINGERPRINT hasn't been seen
    * within the watermark horizon. dropDuplicatesWithinWatermark keys
    * state on the 64-bit content hash and expires entries as event
    * time advances, so state is bounded by the dedup horizon × distinct
    * rate, not by stream length — the property that makes streaming
    * dedup viable on an unbounded crawl feed. Only the 8-byte hash
    * (plus the projected row) rides the dedup exchange; raw text never
    * becomes the shuffle key, matching the batch operator's two-phase
    * hash discipline. Hash collisions (~2⁻⁶⁴) trade a lost document
    * for bounded state — the standard call at crawl scale.
    */
  def dedupStream(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", xxhash64(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** L55's streaming twin — incoming documents LSH-checked against a
    * STATIC existing-corpus index as they arrive (batch:
    * Dedup.incrementalDedup; same k/b/r banding, same exact-Jaccard
    * verify, so the two agree row-for-row on the same data). The
    * stream side carries its own shingle set through banding (one
    * extra array column on batch-sized rows — a stream can't re-join
    * itself to fetch it later); the index side is banded ONCE and
    * every join here is STREAM-STATIC (candidate match on
    * (band, bandsig), then shingle fetch by j) — stateless, no
    * stream-stream buffering. The only keyed state is the
    * (i, j)-deduplication of multi-band matches, which runs AFTER the
    * verify filter on slim (ts, i, j, jac) rows and expires on the
    * watermark — bounded by the dup rate × horizon, not stream length.
    * Expects (ts, doc_id, text) on the stream.
    */
  def incrementalDedupStream(
      incoming: DataFrame,
      index: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      lateness: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.graft.Signatures
    val rows = numHashes / bands
    def bandCol(sig: org.apache.spark.sql.Column) =
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        slice(sig, b * rows + 1, lit(rows))))
    val shIn = incoming
      .withWatermark("ts", lateness)
      .select(col("ts"), col("doc_id").as("i"),
        Signatures.shingle_hashes(split(col("text"), " "), shingleN).as("sh_i"))
      .filter(size(col("sh_i")) > 0)
      .select(col("ts"), col("i"), col("sh_i"),
        bandCol(Signatures.minhash_signature(col("sh_i"), numHashes))
          .as(Seq("band", "bandsig")))
    val shIx = index
      .select(col("doc_id").as("j"),
        Signatures.shingle_hashes(split(col("text"), " "), shingleN).as("sh_j"))
      .filter(size(col("sh_j")) > 0)
    val bandedIx = shIx
      .select(col("j"), bandCol(Signatures.minhash_signature(col("sh_j"), numHashes))
        .as(Seq("band", "bandsig")))
    shIn
      .join(bandedIx, Seq("band", "bandsig"))
      .join(shIx, Seq("j"))
      .withColumn("jac", Signatures.jaccard_longs(col("sh_i"), col("sh_j")))
      .filter(col("jac") >= threshold)
      .select(col("ts"), col("i"), col("j"), col("jac"))
      .dropDuplicatesWithinWatermark("i", "j")
  }

  /** The composed ingest-side curation chain — every STATELESS stage
    * of [[graft.CurationPipeline]] fused into one per-document
    * projection a crawl stream runs at wire speed: Gopher rules (L72)
    * ∧ blocklist (L84) ∧ duplicate-n-gram (L117) ∧ token entropy
    * (L121) ∧ hashed classifier (L122) ∧ PII policy (L129), plus the
    * mixture downsample verdict (L81), the split assignment (L95),
    * and the redacted-text md5. One row in → one verdict row out; no
    * shuffle, no state, identical decisions on replay — so the chain
    * composes with exactly-once sinks and with the stream-static
    * stages (chunk dedup L111, contamination L6) that need a static
    * index. Each stage body is its batch operator's Column core, so
    * there is no second implementation to drift; the dedup and
    * perplexity stages stay batch-side by design — they need
    * corpus-wide state.
    */
  def curationChainStream(
      docs: DataFrame,
      blocklist: Seq[String] = Seq("slow", "leak", "crash"),
      maxHits: Int = 2,
      rates: Map[String, (Int, Int)] = Map.empty,
      minProb: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      // sources absent from `rates` keep everything by default — the
      // ingest chain must not downsample unless asked (contrast
      // seededSourceSample, whose 1/2 default is the sampling op's own
      // contract); pass defaultNum/defaultDen to downsample the rest
      defaultNum: Int = 1,
      defaultDen: Int = 1): DataFrame = {
    import graft.operators.{Curation, TextOps}
    val t = col(textCol)
    // ONE projection: a self-join of a stream on doc_id would be a
    // stateful stream-stream join, so every gate contributes its
    // Column core (gopherKeepCol family / splitCol / sampleKeptCol)
    // instead of its frame op — the stream≡batch spec pins each core
    // to its frame twin row-for-row
    val prob = TextOps.classifierProbCol(t)
    val verdicts = Seq(
      TextOps.gopherKeepCol(t).as("keep_rules"),
      TextOps.blocklistKeepCol(t, blocklist, maxHits).as("keep_blocklist"),
      TextOps.dupNgramKeepCol(t).as("keep_dupgram"),
      TextOps.entropyKeepCol(t).as("keep_entropy"),
      (prob >= minProb).as("keep_classifier"),
      TextOps.piiKeepCol(t).as("keep_pii"),
      Curation.sampleKeptCol(idCol, sourceCol, rates,
        defaultNum = defaultNum, defaultDen = defaultDen).as("keep_sample"))
    docs.select(Seq(
      col(idCol).as("doc_id"), col(sourceCol).as("source"),
      prob.as("prob"),
      md5(TextOps.piiRedactedCol(t)).as("redacted_md5"),
      Curation.splitCol(idCol).as("split")) ++ verdicts: _*)
      .withColumn("keep",
        col("keep_rules") && col("keep_blocklist") && col("keep_dupgram")
          && col("keep_entropy") && col("keep_classifier")
          && col("keep_pii") && col("keep_sample"))
  }

  /** L6's streaming twin — ingest-time benchmark contamination guard:
    * every arriving document is probed against the STATIC benchmark
    * shingle set (the realistic deployment — the held-out suite is
    * fixed while the crawl streams) via a stream-static broadcast
    * semi-join, then one streaming aggregation counts shared shingles
    * per document. Shingles are array_distinct'd BEFORE the explode so
    * a plain count equals the batch operator's countDistinct (exact
    * distinct aggregation isn't streaming-legal; per-doc pre-distinct
    * makes it unnecessary). Run in update/complete mode.
    */
  def contaminationStream(
      docs: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.graft.Signatures.shingle_hashes
    val benchSh = bench.select(
      explode(array_distinct(shingle_hashes(split(col(textCol), " "), shingleN)))
        .as("h")).distinct()
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(shingle_hashes(split(col(textCol), " "), shingleN)))
          .as("h"))
      .join(broadcast(benchSh), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** L111's streaming twin — a stream-static chunk-dedup gate: each
    * arriving document's maxLen/stride training windows are hashed
    * map-side and probed against a STATIC window-hash index of the
    * existing corpus (the contaminationStream shape: broadcast
    * semi-join, then a per-doc count in update mode). A document
    * whose windows are mostly already-trained-on adds little — the
    * downstream policy reads n_dup_windows / n_windows against its
    * tolerance before persisting. The index side is the batch
    * operator's hash frame (build it from the corpus with
    * `chunkHashIndex`); the stream side carries only 8-byte hashes.
    */
  def chunkDedupStream(
      docs: DataFrame,
      index: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxLen: Int = 32,
      stride: Int = 24): DataFrame = {
    val w = split(col(textCol), " ")
    val windows = docs
      .select(col(idCol).as("doc_id"), w.as("__w"), size(w).as("__n"))
      .select(col("doc_id"), col("__w"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("__ci", "__s")))
      .select(col("doc_id"),
        xxhash64(concat_ws(" ",
          slice(col("__w"), col("__s") + 1, lit(maxLen)))).as("h"))
    // ONE aggregation (two aggregates joined would be an unsupported
    // stream-stream join): stream-static LEFT join marks hits, then a
    // single per-doc groupBy counts windows and dup windows together
    windows
      .join(broadcast(index.select(col("h")).distinct()
        .withColumn("__hit", lit(1L))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_dup_windows"))
  }

  /** Static window-hash index for [[chunkDedupStream]] — the existing
    * corpus's distinct training-window hashes.
    */
  def chunkHashIndex(
      corpus: DataFrame,
      textCol: String = "text",
      maxLen: Int = 32,
      stride: Int = 24): DataFrame = {
    val w = split(col(textCol), " ")
    corpus
      .select(w.as("__w"), size(w).as("__n"))
      .select(col("__w"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("__ci", "__s")))
      .select(xxhash64(concat_ws(" ",
        slice(col("__w"), col("__s") + 1, lit(maxLen)))).as("h"))
      .distinct()
  }

  /** A1's streaming twin: tumbling averages with a watermark; emits
    * finalized windows only (append mode compatible).
    */
  def windowedAverages(
      readings: DataFrame,
      windowDuration: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    readings
      .withWatermark("ts", lateness)
      .groupBy(col("meterId"), col("series"),
        window(col("ts"), windowDuration).as("w"))
      .agg(avg(element_at(col("values"), 1)).as("avg_value"),
        count(lit(1)).as("n"))
      .select(col("meterId"), col("series"),
        col("w.start").as("bucket"), col("avg_value"), col("n"))

  /** Per-meter trapezoid-interpolation state (W3's streaming twin;
    * batch twin is TimeSeriesOps.trapezoidIntegrate). State carries the
    * previous (ts, power) and the running integral, exactly like
    * MbusLogger's `_latestReading`/`_interpolatedEnergy` pair.
    */
  case class InterpState(lastTsMicros: Long, lastPower: Double, cumEnergy: Double)
  case class EnergyPoint(meterId: String, tsMicros: Long, power: Double,
      stepEnergy: Double, cumEnergy: Double)

  def interpolateEnergy(
      readings: Dataset[Reading],
      powerSeries: String)(implicit spark: SparkSession): Dataset[EnergyPoint] = {
    import spark.implicits._
    readings
      .filter(_.series == powerSeries)
      .groupByKey(_.meterId)
      .flatMapGroupsWithState[InterpState, EnergyPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (meterId: String, rows: Iterator[Reading], state: GroupState[InterpState]) =>
          var st = state.getOption.getOrElse(InterpState(Long.MinValue, Double.NaN, 0.0))
          // toSeq.sortBy buffers ONE (micro-batch × key) group — bounded
          // by trigger size for a rate-limited source (maxFilesPerTrigger
          // / maxOffsetsPerTrigger), NOT by the stream; an unthrottled
          // replay of deep history must set a trigger limit or this
          // buffer grows with the batch.
          val out = rows.toSeq.sortBy(_.ts.getTime).iterator.map { r =>
            val tsMicros = r.ts.getTime * 1000L
            val p = r.values.head
            val step =
              if (st.lastTsMicros == Long.MinValue || tsMicros <= st.lastTsMicros) 0.0
              else (p + st.lastPower) / 2.0 *
                ((tsMicros - st.lastTsMicros).toDouble / 3600e6)
            st = InterpState(tsMicros, p, st.cumEnergy + step)
            EnergyPoint(meterId, tsMicros, p, step, st.cumEnergy)
          }.toSeq
          state.update(st)
          out.iterator
      }
  }

  /** W1's streaming twin: the battery simulation state carried across
    * micro-batches per meter (batch twin: graft.operators.Battery
    * .simulate — both run the same Battery.step recurrence). Emits the
    * running totals after each processed point.
    */
  case class BatterySnapshot(meterId: Long, tsMicros: Long, socKwh: Double,
      chargedKwh: Double, dischargedKwh: Double, cycles: Double)

  def batteryStream(
      points: Dataset[graft.operators.Battery.Point],
      params: graft.operators.Battery.Params)(
      implicit spark: SparkSession): Dataset[BatterySnapshot] = {
    import spark.implicits._
    import graft.operators.Battery
    points
      .groupByKey(_.meterId)
      .flatMapGroupsWithState[Battery.State, BatterySnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (meterId: Long, rows: Iterator[Battery.Point], state: GroupState[Battery.State]) =>
          var st = state.getOption.getOrElse(Battery.initialState)
          // bounded by (micro-batch × key) under a trigger limit — see
          // the interpolateEnergy note above
          val out = rows.toSeq.sortBy(_.tsMicros).map { pt =>
            st = Battery.step(st, pt.tsMicros, pt.energyKwh, params)
            BatterySnapshot(meterId, pt.tsMicros, st.socKwh,
              st.chargedKwh, st.dischargedKwh,
              (st.chargedKwh + st.dischargedKwh) / 2.0 / params.capacityKwh)
          }
          state.update(st)
          out.iterator
      }
  }

  /** q174's streaming twin — incremental compaction planning as file
    * manifests arrive (the auto-compaction service loop): per table
    * partition, the running byte total is the ONLY state (one long per
    * partition, bounded by partition count, never by file count), and
    * each incoming file is assigned the output group the batch planner
    * would give it — grp = floor(bytesBefore / target), the identical
    * running-sum bin of Layout.compactionPlan. Emits one assignment
    * row per file; a downstream aggregate (or the compaction executor
    * itself) folds assignments into (partition, group) work items.
    *
    * The batch≡stream equivalence holds only when files arrive in
    * global seq order per partition (the manifest-append contract: seq
    * is assigned at commit time, so a commit log replays in order). A
    * file whose seq is ≤ the highest seq already binned CANNOT be
    * given its batch group — the running sum has moved past it — so it
    * is emitted with `grp = -1` (the explicit out-of-order marker, not
    * silently binned by arrival order) and its bytes are EXCLUDED from
    * the running sum, keeping every in-order file's assignment
    * identical to Layout.compactionPlan's. A downstream consumer
    * routes grp = -1 rows to a manifest repair/replan, the same way a
    * late-data row past the watermark is surfaced rather than
    * misfiled.
    */
  case class FileMeta(part: String, seq: Long, bytes: Long)
  case class FileAssign(part: String, seq: Long, bytes: Long, grp: Long)
  case class PackState(cumBytes: Long, lastSeq: Long)

  def compactionPlanStream(files: Dataset[FileMeta], targetBytes: Long)(
      implicit spark: SparkSession): Dataset[FileAssign] = {
    import spark.implicits._
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    files
      .groupByKey(_.part)
      .flatMapGroupsWithState[PackState, FileAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (part: String, rows: Iterator[FileMeta], state: GroupState[PackState]) =>
          var st = state.getOption.getOrElse(PackState(0L, Long.MinValue))
          // bounded by (micro-batch × key) under a trigger limit — see
          // the interpolateEnergy note above
          val out = rows.toSeq.sortBy(_.seq).map { f =>
            if (f.seq <= st.lastSeq) {
              // out-of-order arrival: the batch bin is unrecoverable —
              // flag it (grp = -1) and leave the running sum untouched
              FileAssign(part, f.seq, f.bytes, -1L)
            } else {
              val grp = st.cumBytes / targetBytes
              st = PackState(st.cumBytes + f.bytes, f.seq)
              FileAssign(part, f.seq, f.bytes, grp)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class ZoneRow(file: Long, x: Long, y: Long)
  case class ZoneState(n: Long, xMin: Long, xMax: Long, yMin: Long,
    yMax: Long)
  case class ZoneStats(file: Long, n: Long, x_min: Long, x_max: Long,
    y_min: Long, y_max: Long)

  /** Zone-map upkeep at ingest — the streaming twin of the q173/q176
    * per-file stats readout (`Layout` fileStats): as rows append to a
    * clustered table, each file's (count, min/max of both skipping
    * dims) is folded incrementally in flatMapGroupsWithState, so the
    * data-skipping metadata the readers prune on is CURRENT after
    * every micro-batch instead of waiting for a stats recompute job.
    * State is one 5-long record per file — bounded by the file count,
    * the same bound the table format's manifest carries. Update mode:
    * every batch re-emits the refreshed stats row for files it
    * touched; the latest row per file is the manifest entry.
    */
  def zoneStatsStream(rows: Dataset[ZoneRow])(
      implicit spark: SparkSession): Dataset[ZoneStats] = {
    import spark.implicits._
    rows
      .groupByKey(_.file)
      .flatMapGroupsWithState[ZoneState, ZoneStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (file: Long, it: Iterator[ZoneRow], state: GroupState[ZoneState]) =>
          var s = state.getOption.getOrElse(
            ZoneState(0L, Long.MaxValue, Long.MinValue, Long.MaxValue,
              Long.MinValue))
          it.foreach { r =>
            s = ZoneState(s.n + 1, math.min(s.xMin, r.x),
              math.max(s.xMax, r.x), math.min(s.yMin, r.y),
              math.max(s.yMax, r.y))
          }
          state.update(s)
          Iterator.single(
            ZoneStats(file, s.n, s.xMin, s.xMax, s.yMin, s.yMax))
      }
  }

  /** q59's streaming twin — gap-based sessionization on an unbounded
    * event stream via the NATIVE session_window (merging-window state
    * store), not a hand-rolled flatMapGroupsWithState: Spark merges
    * overlapping per-key session fragments across micro-batches and
    * finalizes a session once the watermark passes its close, so state
    * is bounded by (open sessions × keys), never by stream length.
    * Same gap semantics as the batch query (a silence > gap starts a
    * new session); emits one finalized row per session in append mode.
    */
  def sessionizeStream(
      events: DataFrame, // (user_id, ts, ...)
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
          .as("duration_us"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("duration_us"))

  /** q57's streaming twin — events matched into maintenance windows as
    * a stream-stream INTERVAL join. Both sides carry watermarks and
    * the join condition bounds the two event times against each other
    * (ts ∈ [start_ts, start_ts + maxWindowLen]), which is what lets
    * Spark expire buffered rows instead of holding both streams
    * forever — the streaming analogue of the batch operator's bucket
    * bound (TimeSeriesOps.bucketedRangeJoin quantizes by a max window
    * length for the same reason). Inner join: matches emit as soon as
    * both sides arrive; state drains as the watermark advances.
    *
    * Idle-source caveat (inherent to multi-stream event time, not this
    * operator): a stream contributes to the global watermark only once
    * it has produced data, so if the WINDOW stream sits idle while the
    * event stream advances, window rows older than the events' already-
    * advanced watermark are dropped as late on first arrival. Feed the
    * window definitions before (or with) the events they govern — the
    * natural order for maintenance schedules — or relax
    * `spark.sql.streaming.multipleWatermarkPolicy`.
    */
  def intervalJoinStream(
      events: DataFrame, // (user_id, ts, value)
      windows: DataFrame, // (user_id, win_id, start_ts, end_ts)
      lateness: String = "10 minutes",
      maxWindowLen: String = "12 hours"): DataFrame = {
    val e = events.withWatermark("ts", lateness).alias("e")
    val w = windows.withWatermark("start_ts", lateness).alias("w")
    e.join(w,
        col("e.user_id") === col("w.user_id") &&
          col("e.ts") >= col("w.start_ts") &&
          col("e.ts") <= col("w.start_ts") + expr(s"INTERVAL $maxWindowLen") &&
          col("e.ts") <= col("w.end_ts"))
      .select(col("e.user_id"), col("w.win_id"), col("e.ts"), col("e.value"))
  }

  /** S6/S7 sink: last-wins upsert per (meterId, series, ts) — the
    * reference's same-timestamp overwrite-on-append (P1Logger.cs:
    * 131-154) held IN STORAGE, not just at query time. Within a
    * micro-batch the newest write wins; across micro-batches a
    * re-polled timestamp COMPACTS the touched partitions: the batch's
    * (series, date) directories — and only those — are re-read,
    * merged new-over-old per key, and swapped in by
    * `ReadingsLayout.writeLastWins`, the layout's own writer, so each
    * touched partition is rewritten as one sorted file. Untouched
    * partitions never rewrite, so at fleet scale the per-batch cost is
    * bounded by the partitions a poll cycle actually lands in
    * (normally each series' current date), never by the archive.
    */
  def lastWinsParquetSink(
      readings: DataFrame,
      outDir: String,
      checkpointDir: String) =
    readings.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val out = new org.apache.hadoop.fs.Path(outDir)
        val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // first write = the layout has no partition directories yet (a
        // bare pre-created dir, or only _SUCCESS/hidden markers)
        val hasData = fs.exists(out) && fs.listStatus(out).exists { st =>
          st.isDirectory && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")
        }
        val stored =
          if (!hasData) None
          else {
            // partition-pruned read of ONLY the partitions this batch
            // touches (tiny in-predicate: one poll cycle lands in a
            // handful of (series, date) pairs)
            val touched = batch.select(col("series"), to_date(col("ts"))).distinct()
              .collect().map(r => (r.getString(0), r.getDate(1)))
            val pred = touched.map { case (s, d) =>
              col("series") === lit(s) && col("date") === lit(d)
            }.reduce(_ || _)
            Some(spark.read.parquet(outDir).filter(pred))
          }
        ReadingsLayout.writeLastWins(batch, stored, outDir)
      }

  /** Replace a parquet snapshot directory via a staged write + rename
    * swap: the merge is fully written to `<dir>.staging` (reading the
    * live dir stays safe — no localCheckpoint needed), then the live
    * dir is swapped in two metadata renames. A crash mid-write leaves
    * the PREVIOUS snapshot readable — an in-place `overwrite` deletes
    * the live data before the first new byte lands, so any failure
    * destroys the snapshot (the DocumentsLayout discipline; a
    * production deployment on an object store would use a
    * transactional table format instead). A rename that returns false
    * throws: renaming the staged dir onto a live dir that is still there
    * would nest it inside and report success.
    */
  private[graft] def swapSnapshot(df: DataFrame, dir: String): Unit = {
    val staged = new Path(dir + ".staging")
    df.write.mode("overwrite").parquet(staged.toString)
    val live = new Path(dir)
    val bak = new Path(dir + ".bak")
    val fs = live.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"snapshot swap could not rename $from to $to")
    fs.delete(bak, true)
    if (fs.exists(live)) rename(live, bak)
    rename(staged, live)
    fs.delete(bak, true)
    ()
  }

  /** Undo a [[swapSnapshot]] cut between its two renames: the live dir
    * is gone and `<dir>.bak` still holds the previous snapshot. Renaming
    * it back restores the last committed state, so the micro-batch that
    * crashed (never committed to its checkpoint) re-runs against it. A
    * rename that returns false throws, instead of leaving the live dir
    * missing for the batch's read to fail on.
    */
  private[graft] def restoreSnapshot(spark: SparkSession, dir: String): Unit = {
    val live = new Path(dir)
    val bak = new Path(dir + ".bak")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(bak) && !fs.rename(bak, live))
      throw new java.io.IOException(s"snapshot restore could not rename $bak to $live")
  }

  /** S18 actuator sink stub: the control loop's side-effect boundary.
    * The callback receives finalized decisions per micro-batch (in
    * production: shell out / HTTP to the device).
    */
  def actuatorSink(
      decisions: DataFrame,
      checkpointDir: String)(act: Seq[(String, Double)] => Unit) =
    decisions.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        act(batch.collect().toSeq.map(r =>
          (r.getString(0), r.getDouble(1))))
      }

  /** The index-maintenance loop's streaming twin (batch:
    * Similarity.ivfIndexMaintain + IndexStore.writeCentroids/
    * reassignCells): each micro-batch of newly-ingested vectors
    * triggers the q186 decision over base ∪ everything-arrived-so-far,
    * persists the maintained centroid set into the store, refreshes
    * every member's cell assignment, and appends one decision row to
    * `storeDir/maintenance_log` — the full refresh-vs-rebuild ACTION
    * running continuously instead of as a scheduled batch job.
    *
    * foreachBatch (not a row transform) because maintenance is a
    * side-effecting decision over the WHOLE corpus: Lloyd needs every
    * vector, and the artifacts it rewrites (centroids, codes) live in
    * the store, not in the stream. The stream carries only the
    * ARRIVALS; `base` is the already-indexed corpus (in production: a
    * parquet read of the vector table the store was built from). The
    * spec pins stream ≡ batch: one fed micro-batch must leave the
    * store exactly as the batch API sequence does.
    *
    * `deltaMod` keeps ivfIndexMaintain's id-mod batch definition so
    * the decision readout (and its oracle, q186) is replayed verbatim;
    * arrivals are expected to be id-mod batch rows.
    *
    * CONTINUOUS-RUN correctness (round-15 fixes, both spec-pinned by
    * the two-batch + replay cases):
    *   - arrivals ACCUMULATE: each micro-batch is persisted under
    *     `storeDir/arrivals` (batch-keyed partition) and the decision/
    *     repair corpus is base ∪ EVERY arrival so far — batch 2's
    *     merged frame includes batch 1's rows, so the reassign join
    *     covers every code row and the row-count guard holds;
    *   - every write is IDEMPOTENT under foreachBatch's at-least-once
    *     replay: arrivals, appended codes, and the decision log are
    *     all batch-keyed dynamic partition overwrites — a replayed
    *     batch rewrites its own partition instead of duplicating rows.
    *
    * Adoption is RECALL-GATED ([[graft.operators.IndexStore
    * .publishRefreshGated]]): the maintained centroids are published
    * only when the probed recall@`probeK` does not regress on the
    * fixed query sample (vec_id < `probeQueries` of the merged
    * corpus); the decision log carries the recall columns and the
    * adoption verdict alongside the q186 readout.
    *
    * MAINTENANCE AGE (round-16): an ADOPTED refresh compacts the code
    * stream as a side effect (publishRefresh rewrites to batch 0), but
    * the gate REJECTING refreshes — its job — leaves every append's
    * `batch=` partition in place and serve reads one file per probed
    * cell PER BATCH. After each decision the loop therefore runs the
    * age-gated compaction policy ([[graft.operators.IndexStore
    * .compactIfAged]], threshold `compactAfterBatches`): a
    * codes-bit-identical fold back to one file per cell, published as
    * its own version, no-op (one listing) while under threshold.
    * Replay-safe like every step here — a replayed batch re-runs the
    * policy against the already-compacted stream and no-ops.
    */
  def ivfMaintainSink(arrivals: DataFrame, base: DataFrame,
      storeDir: String, checkpointDir: String, numCells: Int, iters: Int,
      deltaMod: Int, churnThreshold: Double, probeK: Int = 5,
      probeQueries: Int = 3, probeProbes: Int = 2,
      compactAfterBatches: Int = 8, logKeepBatches: Int = 8) =
    arrivals.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val arrived = batch.select(col("vec_id"), col("embedding"))
        // 0. accumulate: persist this batch's arrivals (batch-keyed
        //    overwrite — replay-safe), then read back EVERYTHING
        //    arrived so far; lineage cut at the parquet boundary
        arrived.withColumn("batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch").parquet(s"$storeDir/arrivals")
        // arrivals are tiny files, so the scan packs them into one
        // partition and every downstream map (Lloyd, the recall-gate
        // brute force) would carry one arrivals-sized task; the
        // repartition bounds those durations like the append's below
        val allArrived = spark.read.parquet(s"$storeDir/arrivals")
          .select(col("vec_id"), col("embedding"))
          .repartition(spark.sparkContext.defaultParallelism)
        val merged = base.select(col("vec_id"), col("embedding"))
          .unionAll(allArrived)
        // 1. absorb: encode THIS batch against the existing index
        //    (batch-keyed partition; batch 0 is the build's). The
        //    repartition bounds MAINTENANCE TASK DURATIONS — a
        //    MemoryStream/single-file arrival block otherwise ships as
        //    ONE task and the whole assign+encode map runs serially on
        //    it, which is exactly the non-preemptible task the FAIR
        //    serve pool cannot preempt (the r16 soak's residual
        //    during-p95 tail). One tiny batch-sized shuffle; batch
        //    boundaries stay the feeder's.
        graft.operators.IndexStore.appendVectors(
          arrived.repartition(spark.sparkContext.defaultParallelism),
          storeDir, batchId + 1)
        // 2. decide: the q186 refresh-vs-rebuild readout over merged
        val (readout, maintained) = graft.operators.Similarity
          .ivfIndexMaintain(merged, numCells, iters, deltaMod,
            churnThreshold)
        // 3. repair, gated: publish the maintained centroids + repaired
        //    membership as ONE new store version only if the probed
        //    recall does not regress (atomic manifest swap — a
        //    concurrent serve reads the old or the new version, never
        //    a mix)
        val gate = graft.operators.IndexStore.publishRefreshGated(
          merged, storeDir, maintained,
          merged.filter(col("vec_id") < probeQueries), probeK, probeProbes)
        readout.crossJoin(gate).withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(s"$storeDir/maintenance_log")
        // 4. heal maintenance age: fold accumulated append batches back
        //    to one file per cell once past the threshold (rejected
        //    refreshes never compact; adopted ones already did)
        graft.operators.IndexStore.compactIfAged(spark, storeDir,
          compactAfterBatches)
        // 5. keep the decision log itself at O(1) files: fold batch
        //    partitions older than the replay window into the flat
        //    compacted archive (one listing when under threshold)
        foldMaintenanceLog(spark, storeDir, keepBatches = logKeepBatches)
        ()
      }

  /** Fold OLD maintenance-log batch partitions into a compacted flat
    * archive (round-17): the decision log is batch-keyed
    * (`partitionBy(batch_id)`) because a replayed micro-batch must
    * dynamic-overwrite ITS OWN partition — but that layout grows one
    * directory + one tiny file per decision FOREVER, exactly the
    * small-file accumulation the engine's own L140/L145 machinery
    * flags. The fold keeps replay-addressability where replay can
    * actually happen (the most recent `keepBatches` partitions —
    * foreachBatch re-delivers only the in-flight batch, never ancient
    * ones) and moves everything older into
    * `storeDir/maintenance_log_arch`, a FLAT parquet log with
    * `batch_id` as a data column, kept at O(1) files by
    * [[graft.operators.IndexStore.compactLogIfGrown]].
    *
    * IDEMPOTENT against its own crash window: batches already present
    * in the archive are never re-appended (the guard reads the
    * archive's batch_id set — archive-scale, compacted), and
    * [[maintenanceLog]] resolves a batch present in BOTH (a fold that
    * crashed between append and delete, or a replayed fold) with
    * archive-wins, so the union never duplicates a row. A later fold
    * deletes the leftover live partition without re-appending.
    *
    * One flat listing when under threshold — safe to run after every
    * decision, which is where [[ivfMaintainSink]] calls it.
    */
  def foldMaintenanceLog(spark: SparkSession, storeDir: String,
      keepBatches: Int = 8): Unit = {
    require(keepBatches >= 1, s"keepBatches must be >= 1, got $keepBatches")
    val live = s"$storeDir/maintenance_log"
    val arch = s"$storeDir/maintenance_log_arch"
    val fs = new Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(live))) return
    val liveBatches = fs.listStatus(new Path(live)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") =>
        n.stripPrefix("batch_id=").toLong }
    if (liveBatches.isEmpty) return
    val cutoff = liveBatches.max - keepBatches
    val foldSet = liveBatches.filter(_ <= cutoff).sorted
    if (foldSet.isEmpty) return
    val archBatches =
      if (!fs.exists(new Path(arch))) Set.empty[Long]
      else spark.read.parquet(arch).select(col("batch_id"))
        .distinct().collect().map(_.getLong(0)).toSet
    val toAppend = foldSet.filterNot(archBatches.contains)
    if (toAppend.nonEmpty) {
      // partition-pruned read of exactly the folding batches; batch_id
      // becomes a DATA column in the flat archive (cast long — the
      // partition value comes back int-inferred)
      val rows = spark.read.parquet(live)
        .filter(col("batch_id").isin(toAppend.map(_.toInt): _*))
      val cols = rows.columns.filter(_ != "batch_id").map(col) :+
        col("batch_id").cast("long").as("batch_id")
      rows.select(cols.toIndexedSeq: _*)
        .coalesce(1).write.mode("append").parquet(arch)
    }
    foldSet.foreach { b =>
      fs.delete(new Path(live, s"batch_id=$b"), true); ()
    }
    graft.operators.IndexStore.compactLogIfGrown(spark, arch)
  }

  /** The COMPLETE maintenance decision log: live batch-keyed
    * partitions ∪ the flat archive, archive-wins on any batch present
    * in both (the fold's crash window / a replayed fold), `batch_id`
    * as a long column either way. Empty-schema-free: at least one of
    * the two must exist (the sink writes before anything folds).
    */
  def maintenanceLog(spark: SparkSession, storeDir: String): DataFrame = {
    val live = s"$storeDir/maintenance_log"
    val arch = s"$storeDir/maintenance_log_arch"
    val fs = new Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasLive = fs.exists(new Path(live))
    val hasArch = fs.exists(new Path(arch))
    def liveDf = {
      val df = spark.read.parquet(live)
      val cols = df.columns.filter(_ != "batch_id").map(col) :+
        col("batch_id").cast("long").as("batch_id")
      df.select(cols.toIndexedSeq: _*)
    }
    if (hasLive && hasArch) {
      val a = spark.read.parquet(arch)
      // the anti-join moves the key column first; restore the archive's
      // column order so the accessor's schema is fold-invariant
      liveDf.join(a.select(col("batch_id")).distinct(),
        Seq("batch_id"), "left_anti")
        .unionByName(a)
        .select(a.columns.map(col).toIndexedSeq: _*)
    } else if (hasArch) spark.read.parquet(arch)
    else liveDf
  }

  /** Streaming DELETION sink: drop-lists arrive continuously (takedown
    * requests, the curation loop's canonical-keeper losers and PII
    * evictions — q110/q163/q167 all emit exactly a vec_id stream) and
    * each micro-batch lands on the serving index as one
    * [[graft.operators.IndexStore.deleteVectors]] publish —
    * PARTITION-SCOPED since round 17: only the touched cells'
    * surviving rows are rewritten (an immutable patch segment under a
    * new version), centroids/codebooks untouched, readers isolated by
    * the manifest swap; a streamed takedown's write cost is the
    * touched-cell fraction, not the corpus, every micro-batch.
    *
    * IDEMPOTENT under foreachBatch's at-least-once replay BY
    * CONSTRUCTION of deleteVectors: a replayed drop-list finds no
    * surviving code rows, removes nothing, and publishes nothing — no
    * version churn, unlike the append path this needs no batch keying.
    *
    * COEXISTS with a live [[ivfMaintainSink]] on the same store
    * (round-18): both sinks' publishes queue on the store's publish
    * serializer ([[graft.operators.IndexStore.withStoreLock]]) and land
    * in some serial order, and deleteVectors' tombstone record keeps a
    * later maintenance refresh — whose input is the corpus, which
    * still carries the taken-down rows — from resurrecting them. The
    * continuous-maintenance + continuous-takedown pair is the normal
    * production shape; the coexistence spec pins final-serve
    * equivalence to a sequential application of the same batches.
    * Cross-JVM writers still serialize externally (the fail-stop
    * publish guard backstops that).
    */
  def indexDeleteSink(dropIds: DataFrame, storeDir: String,
      checkpointDir: String) =
    dropIds.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.IndexStore.deleteVectors(
          batch.select(col("vec_id")), storeDir)
        ()
      }
}
