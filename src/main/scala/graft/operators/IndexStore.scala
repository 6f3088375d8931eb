package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One DELETION PATCH layer of the code stream (round-17): `dir` holds
  * the REWRITTEN (surviving) code rows of the delete's touched cells,
  * partitioned (batch, cell) with their ORIGINAL batch values; `cells`
  * × `batches` names exactly the partition slice the patch supersedes
  * in every EARLIER code segment (the primary stream and older
  * patches). The qualifier on `batches` — the batch ids present when
  * the delete ran — is what keeps a LATER append visible in a touched
  * cell: its new batch id is outside the superseded slice. `nRows` = 0
  * marks a patch that emptied its cells entirely (its directory is
  * never read, only its exclusion applies).
  */
final case class CodePatch(dir: String, cells: Seq[Long],
    batches: Seq[Long], nRows: Long)

/** One published index version: the artifact directory NAMES (relative
  * to the store root) a reader needs. Immutable once published — a
  * refresh publishes a NEW manifest referencing a mix of new and
  * reused artifacts, never edits one in place. The LOGICAL code stream
  * is `codes` (the primary segment — the one [[IndexStore
  * .appendVectors]] grows in place) overlaid by `patches` in order:
  * each patch supersedes its (cells × batches) slice of every earlier
  * segment (see [[CodePatch]]) — how a deletion publishes by writing
  * only the touched cells instead of rewriting the corpus.
  */
final case class IndexManifest(version: Long, kind: String,
    centroids: String, codebooks: String, codes: String, meta: String,
    patches: Seq[CodePatch] = Nil)

/** A pinned serving handle (see [[IndexStore.openReader]]): the
  * manifest version, the code stream's resolved file index, and the
  * version's centroid and codebook rows as local relations (collected
  * once at open or reopen), held across serves so the per-call driver
  * cost is zero: the probe assignment's codeword collect runs no job.
  * `rawCodes` keeps the partition columns untouched so Catalyst's
  * dynamic partition pruning lands on the partition column directly.
  */
final class IndexReader private[operators] (spark: SparkSession,
    dir: String, val manifest: IndexManifest,
    private[graft] val centRel: DataFrame,
    private[graft] val bookRel: DataFrame,
    private[graft] val rawCodes: DataFrame,
    // the primary code segment's batch=* partition state (name →
    // mtime) as listed BEFORE the code relation resolved — the one
    // artifact [[IndexStore.appendVectors]] legitimately GROWS in
    // place (new batch partitions, no version bump) or REWRITES in
    // place (an at-least-once replay overwriting its own batch
    // partition), so name equality alone is not proof the resolved
    // file index is still complete or still points at live files.
    // Captured before resolution (not in this constructor) so an
    // append landing DURING resolution makes the next reopen's
    // comparison fail conservatively (a re-read) instead of recording
    // a state the carried-over file index does not actually cover.
    private[operators] val codeBatchState: Map[String, Long],
    private[operators] val numSub: Int,
    private[operators] val w: Int) {

  def version: Long = manifest.version

  /** INCREMENTAL re-open (round-16): resolve the store's current
    * manifest and return a reader pinned to it, CARRYING OVER every
    * artifact relation whose content is provably unchanged.
    * Centroids/codebooks/meta are immutable once published (a refresh
    * writes new names; GC never touches a name the current manifest
    * references), so a NAME match carries them over. The CODE STREAM
    * can grow in place ([[IndexStore.appendVectors]] adds `batch=*`
    * partitions without a publish, and an at-least-once replay can
    * REWRITE its own batch partition), so a name match is confirmed by
    * ONE top-level listing comparing the batch partition state (name →
    * mtime) with the state captured before the held file index
    * resolved — O(batches), never the recursive discovery + footer
    * pass. A changed mtime (the replay overwrite) or a deletion patch in
    * either manifest forces a re-read. Re-open cost thus tracks the
    * changed-artifact fraction, not the store size. Same version ⇒
    * returns `this`: appends without a publish stay invisible to a
    * pinned reader by design (the version pin IS the consistency
    * boundary). Serving is identical to a cold open at the same
    * version (spec-pinned, relations referentially reused).
    */
  def reopen(): IndexReader = {
    val m2 = IndexStore.currentManifest(spark, dir)
    if (m2.version == manifest.version) this
    else {
      def rel(name: IndexManifest => String, cur: DataFrame): DataFrame =
        if (name(m2) == name(manifest)) cur
        else IndexStore.localRelation(spark, s"$dir/${name(m2)}")
      val (ns, ww) =
        if (m2.meta == manifest.meta) (numSub, w)
        else {
          val meta = spark.read.parquet(s"$dir/${m2.meta}").head()
          (meta.getAs[Int]("num_sub"), meta.getAs[Int]("w"))
        }
      // list BEFORE resolving (same conservative order as a cold open)
      val st2 = IndexStore.listBatchState(spark, s"$dir/${m2.codes}")
      val (codes, state) =
        if (m2.codes == manifest.codes && m2.patches == manifest.patches
          && st2 == codeBatchState) (rawCodes, codeBatchState)
        else (IndexStore.rawLogicalCodes(spark, dir, m2), st2)
      new IndexReader(spark, dir, m2, rel(_.centroids, centRel),
        rel(_.codebooks, bookRel), codes, state, ns, ww)
    }
  }

  /** [[IndexStore.serveIvfPq]]'s contract over the pinned version —
    * same arguments, same bit-identical results, no per-call manifest
    * resolution or partition discovery.
    */
  def serve(queries: DataFrame, k: Int, probes: Int,
      allowed: Option[DataFrame] = None,
      refineWith: Option[DataFrame] = None, kShort: Int = 0): DataFrame = {
    // partition-column values come back type-inferred (int); the ADC
    // joins key on the long the relations carry. No scan restriction
    // here: the ADC join keys the code stream on the partition column
    // against a broadcast query-sized table, so Catalyst's dynamic
    // partition pruning reads only the probed cells' directories
    val codes = rawCodes.select(col("vec_id"), col("sub"), col("code"),
      col("cell").cast("long").as("cell"))
    val kServe = if (refineWith.isEmpty) k
      else if (kShort > 0) kShort else 5 * k
    val short = manifest.kind match {
      case IndexStore.KindPq => Similarity.ivfPqServe(codes, centRel,
        bookRel, queries, kServe, probes, numSub, w, allowed)
      case IndexStore.KindPqResidual => Similarity.ivfPqResidualServe(
        codes, centRel, bookRel, queries, kServe, probes, numSub, w,
        allowed)
      case other =>
        throw new IllegalStateException(s"unknown index kind: $other")
    }
    refineWith match {
      case Some(vec) => Similarity.refineTopK(short, vec, queries, k)
      case None => short
    }
  }
}

/** Persisted ANN index: train ONCE, serve MANY — the lifecycle piece
  * that divorces query latency from index construction. Every serving
  * artifact of the IVF-PQ search is a plain parquet relation; the
  * store supports BOTH encodings the library ships:
  * plain PQ (kind = "pq", q121's chain) and residual PQ
  * (kind = "pq_residual", q171's production index — codebooks trained
  * on r = x − c(x)).
  *
  * Layout (VERSIONED — round-15): the store root holds immutable,
  * version-suffixed artifact directories plus tiny manifest files
  * whose FILENAME carries the version:
  *
  *   dir/manifest-<v>     — properties: kind + the four artifact names
  *   dir/centroids-<i>    — [[Similarity.centroidRelation]] schema
  *                          (cid, cv, cnrm, cn2)
  *   dir/codebooks-<i>    — [[Similarity.codebookRelation]] schema
  *   dir/codes-<i>        — the ENCODED corpus (vec_id, sub, code,
  *                          cell), parquet PARTITIONED BY `batch` —
  *                          batch 0 is the build (or a compacted
  *                          refresh), batch b > 0 an ingest append;
  *                          the only corpus-sized artifact
  *   dir/meta-<i>         — one row (num_sub, w, num_cells, codebook_k)
  *   dir/maintenance_log  — append-only decision log (batch-keyed)
  *   dir/ops_log          — append-only store-level decision log
  *                          ([[compactCodes]]/[[deleteVectors]] rows)
  *   dir/arrivals         — batch-partitioned vector arrivals the
  *                          streaming maintenance loop accumulates
  *
  * Encoding: one writer per artifact kind ([[writeCodes]] for every
  * code segment, [[writeRelation]] for the rest), zstd pages and no
  * dictionary on `vec_id`. Bytes on a 6,180-vector, 8-cell, 4×8 store
  * after one append and one delete, parent Snappy layout → this:
  *  - code segment (24,800 rows, 16 files): `vec_id` 49,685 → 8,171,
  *    `code` 10,898 → 10,042, `sub` 1,474 → 1,548, footers and page
  *    headers 14,420 → 14,224; whole 76,477 → 33,985 (3.08 → 1.37 B
  *    per code row);
  *  - centroids 9,567 → 5,482 and codebooks 12,139 → 6,482 (4 files →
  *    one each);
  *  - the store 178,056 → 73,893 (28.81 → 11.96 B per live vector).
  *
  * PUBLISH IS ONE ATOMIC POINTER SWAP: a refresh writes its new
  * artifacts completely, then renames `.manifest-<v>.tmp` →
  * `manifest-<v>` — a single filesystem rename to a NEW name, atomic
  * on any rename-capable store. Readers resolve max(version) once per
  * serve and read only that manifest's artifacts, so a concurrent
  * serve sees exactly one consistent index version — never a mix, and
  * never a half-written stream (the reader-isolation spec pins this).
  * A crash mid-refresh leaves unreferenced artifact dirs and no new
  * manifest: the previous version keeps serving. The previous
  * version's artifacts are retained for in-flight readers; older ones
  * are garbage-collected at publish. WRITERS ARE SERIALIZED, not
  * refused (round-18): every mutating operation runs under a per-store
  * write lock (the publish serializer — see [[withStoreLock]]), so a
  * continuous maintenance stream and a continuous takedown stream
  * coexist on one store inside a JVM, their publishes interleaving in
  * some serial order; cross-JVM writers must still serialize
  * externally (the fail-stop guard in [[publishManifest]] backstops
  * that). Readers are unlimited and lock-free.
  *
  * Parquet stores arrays of doubles and int64s exactly, so a served
  * result is BIT-IDENTICAL to the in-memory search (spec-pinned
  * round-trips for both kinds): the store inherits the whole family's
  * oracle gates.
  *
  * Scale shape: the index relations are index-sized (never plan
  * literals — the L152 form), `codes` is corpus-sized but narrow and
  * column-pruned at the scan, and serving never touches the original
  * d-dim vectors. On a cluster the store is just a parquet directory:
  * build on one job, serve from any number of downstream jobs, refresh
  * via [[Similarity.ivfIndexMaintain]] + [[publishRefreshGated]]
  * without retraining codebooks.
  */
object IndexStore {

  val KindPq = "pq"
  val KindPqResidual = "pq_residual"

  private val ManifestName = "manifest-(\\d+)".r
  private val ArtifactName = "(centroids|codebooks|codes|meta)-(\\d+)".r

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Top-level `batch=*` directory state (name → modification time) of
    * a code-stream segment — one flat listing, the cheap completeness
    * check [[IndexReader.reopen]] runs before reusing a resolved
    * code-stream file index. The mtime is what distinguishes a
    * REWRITTEN batch partition (an at-least-once replay's dynamic
    * overwrite deletes and recreates its cell children, moving the
    * batch directory's mtime) from an untouched one with the same name.
    */
  private[operators] def listBatchState(spark: SparkSession,
      path: String): Map[String, Long] =
    fsOf(spark, path).listStatus(new Path(path)).toSeq
      .filter(_.getPath.getName.startsWith("batch="))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap

  /** Resolve the CURRENT manifest: list `manifest-*`, take the max
    * version (the filename is the pointer — no content race), parse
    * its properties. One listing + one tiny read per serve.
    */
  def currentManifest(spark: SparkSession, dir: String): IndexManifest = {
    val fs = fsOf(spark, dir)
    val v = listVersions(fs, dir).maxOption.getOrElse(
      throw new IllegalStateException(s"no manifest under $dir"))
    readManifest(fs, dir, v)
  }

  private def listVersions(fs: FileSystem, dir: String): Seq[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case ManifestName(v) => v.toLong
    }
  }

  private def readManifest(fs: FileSystem, dir: String,
      v: Long): IndexManifest = {
    val in = fs.open(new Path(dir, s"manifest-$v"))
    val buf = new java.io.ByteArrayOutputStream()
    try {
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
    } finally in.close()
    val kv = new String(buf.toByteArray, UTF_8).linesIterator
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap
    def longs(s: String): Seq[Long] =
      if (s.isEmpty) Seq.empty else s.split(",").toSeq.map(_.toLong)
    val patches = kv.keys.filter(_.startsWith("patch."))
      .toSeq.sortBy(_.stripPrefix("patch.").toInt).map { k =>
        val parts = kv(k).split("\\|", -1)
        CodePatch(parts(0), longs(parts(1)), longs(parts(2)),
          parts(3).toLong)
      }
    IndexManifest(v, kv("kind"), kv("centroids"), kv("codebooks"),
      kv("codes"), kv("meta"), patches)
  }

  /** Per-store-dir publish locks backing the SINGLE-WRITER guard (see
    * [[publishManifest]]): check-then-rename must be atomic within the
    * JVM for the racing-publish spec's deterministic loser.
    */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-store WRITE locks (round-18): the PUBLISH SERIALIZER that lets
    * a continuous maintenance stream and a continuous takedown stream
    * coexist on ONE store — the normal production pair. Every mutating
    * operation ([[appendVectors]], [[compactCodes]], [[deleteVectors]],
    * [[writeCentroids]], [[reassignCells]], [[publishRefresh]],
    * [[publishRefreshGated]], the builders) runs its ENTIRE body —
    * manifest resolution, artifact writes, manifest swap, ops-log row —
    * inside this lock, so concurrent callers queue instead of racing
    * (each op publishes against the manifest it resolved, and no two
    * ops share an artifact name or a `_temporary` staging dir). The
    * [[publishManifest]] guard stays the fail-stop backstop for
    * CROSS-PROCESS writers (the lock is keyed by the dir string).
    * Reentrant because gated refresh publishes through publishRefresh.
    * Readers never take it: serve/openReader/reopen stay lock-free
    * (reader isolation is the manifest swap, not a lock).
    */
  private val storeLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  private[graft] def withStoreLock[T](dir: String)(f: => T): T = {
    val l = storeLocks.computeIfAbsent(dir,
      _ => new java.util.concurrent.locks.ReentrantLock())
    l.lock()
    try f finally l.unlock()
  }

  /** Write the manifest fully to a hidden tmp name, then ONE rename to
    * `manifest-<v>` — the atomic pointer swap. Afterwards GC: keep this
    * and the previous version's manifests + every artifact either
    * references; delete the rest (older readers must re-resolve).
    *
    * SINGLE-WRITER-AT-A-TIME, two layers: in-process the publish
    * serializer ([[withStoreLock]]) queues whole mutating operations,
    * so this guard never trips from one JVM; cross-process it is
    * enforced fail-stop here. Two unserialized publishers would race to
    * publish `version+1`; a per-dir lock covers the exists-check-then-
    * rename within the JVM, and the loser throws
    * [[IllegalStateException]] WITHOUT touching the winner's manifest
    * (racing-publish spec). Across processes the mutex is the
    * create-refuses-existing of the tmp file (`fs.create(tmp,
    * overwrite = false)`): atomic on HDFS; on a local filesystem Hadoop
    * checks then creates, so a narrow two-JVM window remains there. A
    * publisher crashing between the tmp create and the rename orphans
    * the tmp and fail-stops every later attempt at that version —
    * deliberately loud; delete the `.tmp` to re-admit the version.
    */
  private[graft] def publishManifest(spark: SparkSession, dir: String,
      m: IndexManifest): Unit = {
    val fs = fsOf(spark, dir)
    val patchLines = m.patches.zipWithIndex.map { case (p, i) =>
      s"patch.$i=${p.dir}|${p.cells.mkString(",")}|" +
        s"${p.batches.mkString(",")}|${p.nRows}\n"
    }.mkString
    val body = s"version=${m.version}\nkind=${m.kind}\n" +
      s"centroids=${m.centroids}\ncodebooks=${m.codebooks}\n" +
      s"codes=${m.codes}\nmeta=${m.meta}\n" + patchLines
    val lock = publishLocks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      val dest = new Path(dir, s"manifest-${m.version}")
      if (fs.exists(dest))
        throw new IllegalStateException(
          s"concurrent publish lost the race: $dest already exists " +
            "(the store is single-writer — serialize publish jobs)")
      val tmp = new Path(dir, s".manifest-${m.version}.tmp")
      val out =
        try fs.create(tmp, false)
        catch { case e: java.io.IOException =>
          throw new IllegalStateException(
            s"concurrent publish lost the race: $tmp already exists " +
              "(the store is single-writer — serialize publish jobs; " +
              "if the other publisher crashed, delete the .tmp to " +
              "re-admit this version)", e)
        }
      try out.write(body.getBytes(UTF_8)) finally out.close()
      if (!fs.rename(tmp, dest))
        throw new IllegalStateException(
          s"manifest publish rename failed: $dest")
    }
    gcOldVersions(fs, dir)
  }

  /** How many trailing versions [[gcOldVersions]] retains for `dir` —
    * the default 2 (current + previous) covers a reader at most one
    * publish behind; a deployment with LONG-PINNED readers under
    * RAPID publishes (the soak shape: a serve loop that re-opens
    * lazily while maintenance publishes every micro-batch) raises it
    * with [[setKeepVersions]] so a reader N-1 publishes behind still
    * has live artifacts. Persisted as a tiny `gc-keep` file in the
    * store (policy travels with the data, not the JVM).
    */
  private def keepVersionsOf(fs: FileSystem, dir: String): Int = {
    val p = new Path(dir, "gc-keep")
    if (!fs.exists(p)) 2
    else {
      // a corrupt/empty policy file must not fail a publish that
      // already landed (GC runs AFTER the manifest rename) — fall back
      // to the default retention instead of propagating a parse error
      val parsed = scala.util.Try {
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          new String(buf, 0, math.max(0, n), UTF_8).trim.toInt
        } finally in.close()
      }
      math.max(2, parsed.getOrElse(2))
    }
  }

  /** Persist the GC retention policy for `dir`: keep the last `n` ≥ 2
    * published versions' artifacts (see [[keepVersionsOf]]). A pinned
    * [[IndexReader]] survives up to n−1 publishes between reopens;
    * one more and its artifacts are collected mid-serve — the serve
    * fails loudly (missing-file read error), never silently returns
    * partial results (parquet scans fail-stop on a vanished file).
    */
  def setKeepVersions(spark: SparkSession, dir: String, n: Int): Unit = {
    require(n >= 2, s"keep-N must be >= 2 (current + previous), got $n")
    val fs = fsOf(spark, dir)
    val out = fs.create(new Path(dir, "gc-keep"), true)
    try out.write(n.toString.getBytes(UTF_8)) finally out.close()
  }

  private def gcOldVersions(fs: FileSystem, dir: String): Unit = {
    val versions = listVersions(fs, dir).sorted
    val keepN = keepVersionsOf(fs, dir)
    if (versions.size <= 1) return
    val keep = versions.takeRight(keepN)
    val referenced = keep.map(readManifest(fs, dir, _))
      .flatMap(m => Seq(m.centroids, m.codebooks, m.codes, m.meta)
        ++ m.patches.map(_.dir)).toSet
    fs.listStatus(new Path(dir)).foreach { st =>
      st.getPath.getName match {
        case ManifestName(v) if v.toLong < keep.head =>
          fs.delete(st.getPath, false); ()
        case a @ ArtifactName(_, _) if !referenced.contains(a) =>
          fs.delete(st.getPath, true); ()
        case _ => ()
      }
    }
  }

  private def artifactPath(dir: String, name: String): String = s"$dir/$name"

  /** The current version's centroids/codebooks/codes/meta paths — for
    * specs and audits that read artifacts directly.
    */
  def artifactPaths(spark: SparkSession, dir: String):
      Map[String, String] = {
    val m = currentManifest(spark, dir)
    Map("centroids" -> artifactPath(dir, m.centroids),
      "codebooks" -> artifactPath(dir, m.codebooks),
      "codes" -> artifactPath(dir, m.codes),
      "meta" -> artifactPath(dir, m.meta))
  }

  /** Code-stream layout: parquet partitioned by (batch, CELL). `cell`
    * as a physical partition column is the serve-side I/O contract —
    * a probed serve restricts the scan to its probed cells' directories
    * (see [[serveIvfPq]]), so serve bytes-read scale with the PROBED
    * FRACTION (≈ probes/numCells ≈ probes/√N under autoCells), not the
    * corpus. The `repartition(cell)` keeps one file per cell per batch
    * (a cell's rows hash to one task) — without it every shuffle task
    * writes a sliver into every cell directory and the layout
    * degenerates into the small-files antipattern at exactly the scale
    * partition pruning is meant to win. At very large cell counts
    * (beyond ~10⁵ directories) a deployment would bucket `cell` by a
    * modulus instead; autoCells caps at 65536, inside the safe range.
    *
    * The one writer of every code segment: the build, appends,
    * compaction, refreshes and both delete paths. `batch` names the one
    * batch the rows land in; a patch passes None and keeps each row's
    * own `batch` column. Each task sorts by (batch, cell, vec_id, sub),
    * so a file's rows are in (vec_id, sub) order by statement, not by
    * the planned write. One batch is added as a literal after the sort:
    * sorted on, Catalyst folds it to a leading literal, and the planned
    * write then re-sorts by (batch, cell) alone (seen in its plans).
    */
  private def writeCodes(codes: DataFrame, path: String,
      batch: Option[Long]): Unit = {
    // one-file-per-cell needs only each cell's rows hashing to ONE
    // task; the explicit partition count (4 tasks/core, above the
    // shuffle default) bounds WRITE TASK DURATIONS — a corpus rewrite
    // at the default 1-task-per-shuffle-partition ships multi-second
    // write tasks, which are exactly the non-preemptible units a FAIR
    // serve pool waits behind during an adopted refresh (soak r17)
    val spark = codes.sparkSession
    val parts = math.max(
      spark.sessionState.conf.numShufflePartitions,
      4 * spark.sparkContext.defaultParallelism)
    val own = if (batch.isEmpty) Seq(col("batch")) else Nil
    val sorted = codes
      .select(Seq(col("vec_id"), col("sub"), col("code"), col("cell")) ++ own: _*)
      .repartition(parts, col("cell"))
      .sortWithinPartitions(own ++ Seq(col("cell"), col("vec_id"), col("sub")): _*)
    batch.fold(sorted)(b => sorted.withColumn("batch", lit(b)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .option("parquet.enable.dictionary#vec_id", "false")
      .partitionBy("batch", "cell").parquet(path)
  }

  /** The one writer of the index-sized relations (centroids, codebooks,
    * meta): a few dozen rows, one zstd file.
    */
  private def writeRelation(rel: DataFrame, path: String): Unit =
    rel.coalesce(1).write.mode("overwrite").option("compression", "zstd")
      .parquet(path)

  /** A stored index relation collected once into a local relation: a
    * collect over it (the probe assignment's codeword array) runs no
    * Spark job.
    */
  private[operators] def localRelation(spark: SparkSession,
      path: String): DataFrame = {
    val stored = spark.read.parquet(path)
    spark.createDataFrame(java.util.Arrays.asList(stored.collect(): _*),
      stored.schema)
  }

  /** The LOGICAL code stream of a manifest with its raw partition
    * columns (batch, cell) intact: the primary segment overlaid by the
    * deletion patches in order. Patch k supersedes its (cells ×
    * batches) slice in every EARLIER segment — the primary and patches
    * before it — so each segment scan carries the conjunction of every
    * LATER patch's exclusion as a partition-column-only predicate
    * (pruned at listing time, never a row filter after the scan), and
    * the union of the filtered scans is exactly the stream a full
    * rewrite would have produced (spec-pinned bit-identity). A patch
    * that emptied its cells (`nRows == 0`) contributes only its
    * exclusion, its directory is never read. Dynamic partition pruning
    * and per-branch partition filters push through the union; the chain is
    * bounded by the delete path's `maxPatches` fallback and folded to
    * one segment by [[compactCodes]].
    */
  private[operators] def rawLogicalCodes(spark: SparkSession, dir: String,
      m: IndexManifest): DataFrame = {
    val segs = (m.codes, -1) +: m.patches.zipWithIndex
      .filter(_._1.nRows > 0L).map { case (p, k) => (p.dir, k) }
    val reads = segs.map { case (seg, selfK) =>
      val base = spark.read.parquet(artifactPath(dir, seg))
        .select(col("vec_id"), col("sub"), col("code"), col("batch"),
          col("cell"))
      m.patches.zipWithIndex.filter { case (_, k) => k > selfK }
        .foldLeft(base) { case (df, (p, _)) =>
          df.filter(not(col("cell").isin(p.cells.map(_.toInt): _*)
            && col("batch").isin(p.batches.map(_.toInt): _*)))
        }
    }
    reads.reduce(_.unionAll(_))
  }

  private def readCodes(spark: SparkSession, dir: String,
      m: IndexManifest): DataFrame =
    rawLogicalCodes(spark, dir, m)
      // partition-column values come back type-inferred (int); the ADC
      // joins key on the long the relations carry
      .select(col("vec_id"), col("sub"), col("code"),
        col("cell").cast("long").as("cell"))

  /** Train the IVF-PQ index over `vectors` (vec_id, embedding) and
    * publish all four artifacts as a new version under `dir`. The chain
    * is [[Similarity.ivfPqTopK]]'s: [[Similarity.ivfPqTrain]] (the
    * coarse centroids and the per-subspace codebooks as the books of
    * one [[Similarity.lloydBooks]] call) and [[Similarity.ivfPqEncode]]
    * (member cells + the nearest-codeword encode against the broadcast
    * codebook relation) — every index term a relation, nothing
    * index-sized in any plan.
    */
  def buildIvfPq(vectors: DataFrame, dir: String, numCells: Int,
      cellIters: Int, numSub: Int, codebookK: Int, pqIters: Int): Unit =
    buildAny(vectors, dir, numCells, cellIters, numSub, codebookK,
      pqIters, KindPq)

  /** [[buildIvfPq]] for the RESIDUAL encoding (q171's chain — measured
    * recall ≥ plain PQ at every scale, BASELINE.md):
    * codebooks trained on r = x − c(x) offsets, codes the residual
    * encodings. Serving replays [[Similarity.ivfPqResidualServe]]'s
    * ADC reconstruction algebra from the stored relations.
    */
  def buildIvfPqResidual(vectors: DataFrame, dir: String, numCells: Int,
      cellIters: Int, numSub: Int, codebookK: Int, pqIters: Int): Unit =
    buildAny(vectors, dir, numCells, cellIters, numSub, codebookK,
      pqIters, KindPqResidual)

  private def buildAny(vectors: DataFrame, dir: String, numCells: Int,
      cellIters: Int, numSub: Int, codebookK: Int, pqIters: Int,
      kind: String): Unit = withStoreLock(dir) {
    val spark = vectors.sparkSession
    import spark.implicits._
    val fs = fsOf(spark, dir)
    val v1 = listVersions(fs, dir).maxOption.getOrElse(0L) + 1
    // a REBUILD into a dir with tombstoned ids honors them (store
    // truth survives every publish kind); a fresh dir has none
    val live = antiTombstones(vectors, dir)
    val (centRel, bookRel, w) = Similarity.ivfPqTrain(live, kind, numCells,
      cellIters, numSub, codebookK, pqIters)
    val codes = Similarity.ivfPqEncode(live, centRel, bookRel, kind,
      numSub, w)
    val m = IndexManifest(v1, kind, s"centroids-$v1", s"codebooks-$v1",
      s"codes-$v1", s"meta-$v1")
    writeRelation(centRel, artifactPath(dir, m.centroids))
    writeRelation(bookRel, artifactPath(dir, m.codebooks))
    writeCodes(codes, artifactPath(dir, m.codes), Some(0L))
    writeRelation(Seq((numSub, w, numCells, codebookK))
      .toDF("num_sub", "w", "num_cells", "codebook_k"),
      artifactPath(dir, m.meta))
    publishManifest(spark, dir, m)
  }

  /** Serve a top-k query batch from the persisted index — NO training,
    * no corpus-vector scan: resolve the current manifest once, probe
    * assignment over the queries against the stored centroid relation,
    * then the kind's ADC serve ([[Similarity.ivfPqServe]] /
    * [[Similarity.ivfPqResidualServe]]) over the stored code stream.
    * `allowed` applies the filtered-ANN allow-list (see ivfPqServe's
    * scaladoc) before scoring.
    *
    * SCAN PRUNING (the point of the (batch, cell) code layout): serve
    * I/O is the probed fraction of the corpus (≈ probes/√N under
    * autoCells — at 10⁹ vectors and probes=2, ~0.006% of the code
    * stream), not the corpus. By DEFAULT this needs no code here at
    * all: the ADC serve joins the code stream to a BROADCAST
    * query-sized table keyed on the partition column, so Catalyst
    * inserts a dynamic partition-pruning filter and the scan reads
    * only the probed cells' directories inside one execution — no
    * driver job for the pruning (spec-pinned: `dynamicpruning` in the
    * scan's partitionFilters, files read ≤ probes × |queries|). The
    * serve's one driver fold is the k-row centroid array its probe
    * assignment collects ([[Similarity.assignCellsRelation]]), from the
    * reader's local relation.
    *
    * `refineWith` composes the exact re-rank stage
    * ([[Similarity.refineTopK]]) over the served shortlist — the
    * store-path default a production two-stage retrieval runs (and the
    * repo's own measured recommendation on filtered search: recall@10
    * 0.42→0.47 at sf0.1, 0.44→0.53 at sf1). Pass the full-precision
    * vector table (vec_id, embedding) — the store deliberately never
    * persists d-dim vectors, so refine's one broadcast-join corpus
    * scan reads the caller's table. The index serves a `kShort`-deep
    * shortlist (default 5·k) and refine returns the exact-cosine
    * top-k over it.
    */
  def serveIvfPq(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, probes: Int, allowed: Option[DataFrame] = None,
      refineWith: Option[DataFrame] = None, kShort: Int = 0): DataFrame =
    openReader(spark, dir).serve(queries, k, probes, allowed, refineWith,
      kShort)

  /** Open a PINNED reader on the store's current version, ONCE: the
    * manifest is resolved, the code stream's file index built (partition
    * discovery and footer reads — ~1.5 s at sf1's 256 cell directories,
    * growing with √N), the centroid and codebook rows collected and the
    * meta row fetched. Every `serve` reuses them, so warm serve latency
    * is the ADC plan alone (perfbench's `serve` workload times this). A
    * deployment opens at startup, serves many, and re-opens when
    * [[currentManifest]].version moves. The handle pins its version by
    * construction; GC keeps the previous version's artifacts, so a
    * reader at most one version behind always serves.
    */
  def openReader(spark: SparkSession, dir: String): IndexReader = {
    val m = currentManifest(spark, dir)
    // batch state listed BEFORE the code relation resolves: an append
    // landing during resolution then fails the next reopen's equality
    // check (a conservative re-read) instead of being recorded as
    // covered by a file index that never saw it
    val state = listBatchState(spark, artifactPath(dir, m.codes))
    val centRel = localRelation(spark, artifactPath(dir, m.centroids))
    val bookRel = localRelation(spark, artifactPath(dir, m.codebooks))
    val meta = spark.read.parquet(artifactPath(dir, m.meta)).head()
    new IndexReader(spark, dir, m, centRel, bookRel,
      rawLogicalCodes(spark, dir, m), state,
      meta.getAs[Int]("num_sub"), meta.getAs[Int]("w"))
  }

  /** Append an ingest batch to the persisted index WITHOUT retraining
    * (how a real system absorbs arrivals — new vectors go to their
    * nearest existing cell, encoded against the existing codebooks;
    * residual stores encode x − c(x) against the residual codebooks):
    * one broadcast assignment + encode over the BATCH only, landed as
    * partition `batch=<batchId>` of the current code stream.
    *
    * IDEMPOTENT under at-least-once replay: foreachBatch re-delivers a
    * batch after a mid-batch failure, and a batch-keyed dynamic
    * partition overwrite makes the replay rewrite ITS OWN partition
    * instead of appending duplicate code rows (duplicates would
    * silently inflate the grouped ADC partial-distance sums). Batch 0
    * belongs to the build; `batchId` must be > 0, and a vec_id must
    * arrive in at most one batch (the ingest contract upstream
    * dedup enforces). Staleness introduced here is exactly what the
    * q181 drift readout measures and the q186 maintain action repairs.
    */
  def appendVectors(vectors: DataFrame, dir: String, batchId: Long): Unit = {
    require(batchId > 0, s"batchId must be > 0 (0 is the build), got $batchId")
    // the deletion-patch exclusion and the maintenance-log fold both
    // push batch ids as Int partition-filter literals (partition values
    // type-infer as int while every value fits); a batch id past
    // Int.MaxValue (e.g. epoch millis) would silently truncate in those
    // predicates and a superseded slice would KEEP SERVING — refuse it
    // here, at the only door batch ids enter through
    require(batchId <= Int.MaxValue,
      s"batchId must fit in Int (got $batchId): the patch-exclusion and " +
        "log-fold partition filters push batch ids as Int literals — use " +
        "a small monotonic counter (foreachBatch's batchId), not a " +
        "timestamp")
    val spark = vectors.sparkSession
    withStoreLock(dir) {
    val m = currentManifest(spark, dir)
    val centRel = spark.read.parquet(artifactPath(dir, m.centroids))
    val bookRel = spark.read.parquet(artifactPath(dir, m.codebooks))
    val meta = spark.read.parquet(artifactPath(dir, m.meta)).head()
    // a tombstoned id arriving (late replay of a pre-takedown feed)
    // must not re-enter the stream — store truth outranks arrivals
    val batchCodes = Similarity.ivfPqEncode(antiTombstones(vectors, dir),
      centRel, bookRel, m.kind, meta.getAs[Int]("num_sub"),
      meta.getAs[Int]("w"))
    writeCodes(batchCodes, artifactPath(dir, m.codes), Some(batchId))
    }
  }

  /** A decision log's file count stays bounded by ITS OWN compaction
    * (round-17): each append lands one tiny parquet file — decision
    * cadence — and at real cadence (a decision per micro-batch,
    * forever) that is exactly the small-file accumulation the engine's
    * L140/L145 machinery exists to detect, so the log eats the
    * dogfood: once the directory holds more than [[LogCompactFiles]]
    * part- files, [[Layout.compactionRewrite]] packs them
    * (row-preserving, refuses the swap on any count mismatch,
    * idempotent — packed outputs are never re-selected). After N
    * decisions the directory holds O(1) files and round-trips
    * identically (spec-pinned).
    */
  val LogCompactFiles = 32

  private[graft] def compactLogIfGrown(spark: SparkSession,
      logDir: String): Unit = {
    val fs = fsOf(spark, logDir)
    val p = new Path(logDir)
    if (fs.exists(p)) {
      val nFiles = fs.listStatus(p).count(st =>
        st.isFile && st.getPath.getName.startsWith("part-"))
      if (nFiles > LogCompactFiles) {
        // target far above the row size so every small file packs into
        // one group per LogCompactFiles window
        Layout.compactionRewrite(spark, logDir, targetBytes = 8L << 20)
        ()
      }
    }
  }

  /** Append one decision row to `dir/ops_log` — the store-level
    * publish decisions ([[compactCodes]], [[deleteVectors]]) get their
    * own append-only log with a schema IndexStore owns
    * (`dir/maintenance_log` belongs to the streaming maintenance sink,
    * whose rows carry the q186 readout + recall-gate columns; mixing
    * schemas in one parquet directory would force mergeSchema on every
    * reader). One tiny file per decision — decision cadence, not data
    * cadence — kept at O(1) files by [[compactLogIfGrown]].
    */
  private def logOp(spark: SparkSession, dir: String, op: String,
      versionBefore: Long, versionAfter: Long, published: Boolean,
      detail: Long): Unit = {
    import spark.implicits._
    Seq((op, versionBefore, versionAfter, published, detail))
      .toDF("op", "version_before", "version_after", "published", "detail")
      .coalesce(1).write.mode("append").parquet(s"$dir/ops_log")
    compactLogIfGrown(spark, s"$dir/ops_log")
  }

  /** The store-level decision log ([[compactCodes]] / [[deleteVectors]]
    * rows) — empty-schema-safe for stores that never ran either.
    */
  def opsLog(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    if (fs.exists(new Path(dir, "ops_log")))
      spark.read.parquet(s"$dir/ops_log")
    else {
      import spark.implicits._
      Seq.empty[(String, Long, Long, Boolean, Long)]
        .toDF("op", "version_before", "version_after", "published", "detail")
    }
  }

  /** TOMBSTONES (round-18): the persisted set of vec_ids every
    * [[deleteVectors]] call has ever been asked to take down — the
    * piece that makes a delete STORE TRUTH under the coexistence
    * deployment (a maintenance stream and a takedown stream on one
    * store). A patch/full delete removes an id's code rows, but a
    * later [[publishRefresh]]/[[reassignCells]]/rebuild re-derives the
    * code stream FROM THE CALLER'S CORPUS, which still carries the
    * taken-down rows (the corpus table and the index are separate
    * systems; a takedown reaches the index first) — without a durable
    * drop set the refresh would quietly RESURRECT them. Every
    * corpus-consuming publish therefore anti-joins the tombstone set
    * first ([[antiTombstones]]), and [[appendVectors]] drops
    * tombstoned arrivals. The set is takedown-sized (ids only, never
    * vectors), append-only with an idempotent-append guard, and kept
    * at O(1) files by [[compactLogIfGrown]] — the same discipline as
    * the decision logs. It is deliberately NEVER cleared by
    * compaction: the ids' absence from the code stream says nothing
    * about the next refresh's input. Delete `dir/tombstones` to
    * reinstate ids (an explicit operator action, not an API).
    */
  def tombstones(spark: SparkSession, dir: String): DataFrame = {
    val fs = fsOf(spark, dir)
    if (fs.exists(new Path(dir, "tombstones")))
      spark.read.parquet(s"$dir/tombstones")
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("vec_id")
    }
  }

  /** `vectors` minus the tombstoned ids — identity (no join in the
    * plan) for a store that never deleted.
    */
  private def antiTombstones(vectors: DataFrame, dir: String): DataFrame = {
    val spark = vectors.sparkSession
    if (!fsOf(spark, dir).exists(new Path(dir, "tombstones"))) vectors
    else vectors.join(spark.read.parquet(s"$dir/tombstones"),
      Seq("vec_id"), "left_anti")
  }

  /** Record `ids` as tombstoned (idempotent: already-recorded ids are
    * never re-appended, so a replayed drop-list adds no file).
    */
  private def appendTombstones(spark: SparkSession, dir: String,
      ids: DataFrame): Unit = {
    val t = s"$dir/tombstones"
    val fresh = ids.select(col("vec_id").cast("long").as("vec_id"))
      .distinct()
    val toAdd =
      if (!fsOf(spark, dir).exists(new Path(t))) fresh
      else fresh.join(spark.read.parquet(t), Seq("vec_id"), "left_anti")
    if (!toAdd.isEmpty) {
      toAdd.coalesce(1).write.mode("append").parquet(t)
      compactLogIfGrown(spark, t)
    }
  }

  /** The code stream's batch partition ids under the CURRENT manifest
    * (batch 0 = build/compacted; b > 0 = ingest appends) — the aging
    * readout [[compactCodes]] acts on.
    */
  def codeBatches(spark: SparkSession, dir: String): Seq[Long] = {
    val m = currentManifest(spark, dir)
    val fs = fsOf(spark, dir)
    fs.listStatus(new Path(artifactPath(dir, m.codes))).toSeq
      .map(_.getPath.getName).collect {
        case n if n.startsWith("batch=") => n.stripPrefix("batch=").toLong
      }.sorted
  }

  /** COMPACTION-ONLY publish (round-16 item 1): rewrite the accumulated
    * `batch=*` partitions of the code stream into a single compacted
    * batch 0 under a NEW version — codes bit-identical (the same
    * (vec_id, sub, code, cell) row set, row-count guarded), centroids/
    * codebooks/meta REUSED by name, no reassignment, no re-encode.
    *
    * Why it exists: every [[appendVectors]] adds a `batch=<id>`
    * partition with one file per cell, and the recall gate REJECTING
    * refreshes (exactly what it is for) means nothing ever folds them
    * back — so a serve reads B files per probed cell after B-1 appends
    * and warm serves erode with maintenance age (BASELINE.md's round-16
    * aging rows). Compaction rewrites into fresh artifacts and swaps the
    * manifest pointer: readers in flight keep their version, and a
    * crash mid-compact leaves the old manifest serving.
    *
    * IDEMPOTENT: a stream already at a single batch 0 is left
    * untouched — no new version, `published = false` in the report (a
    * second compact is a no-op, spec-pinned). One corpus pass of the
    * narrow code stream (4 int-ish columns), shuffled once by `cell` to
    * restore one-file-per-cell; runs for ANY kind (codes move verbatim
    * — cell membership and encodings are unchanged by relocation).
    *
    * Returns the one-row report (version_before, version_after,
    * published, n_batches_in) and appends it to the [[opsLog]].
    */
  def compactCodes(spark: SparkSession, dir: String): DataFrame =
    withStoreLock(dir) {
    import spark.implicits._
    val m = currentManifest(spark, dir)
    val batches = codeBatches(spark, dir)
    // layers = what a probed serve pays per cell: one file set per
    // batch partition of the primary segment plus one per deletion
    // patch overlaying it — compaction folds BOTH back to a single
    // batch-0 segment
    val layers = batches.size.toLong + m.patches.size
    val report =
      if (batches == Seq(0L) && m.patches.isEmpty)
        (m.version, m.version, false, layers)
      else {
        val v1 = m.version + 1
        val codesName = s"codes-$v1"
        val nOld = readCodes(spark, dir, m).count()
        writeCodes(readCodes(spark, dir, m), artifactPath(dir, codesName),
          Some(0L))
        val nNew = spark.read.parquet(artifactPath(dir, codesName)).count()
        require(nNew == nOld,
          s"compact row-count drift: $nOld -> $nNew; aborting publish")
        publishManifest(spark, dir,
          m.copy(version = v1, codes = codesName, patches = Nil))
        (m.version, v1, true, layers)
      }
    logOp(spark, dir, "compact", report._1, report._2, report._3, report._4)
    Seq(report).toDF("version_before", "version_after", "published",
      "n_batches_in")
    }

  /** Age-gated compaction policy — the form a MAINTENANCE LOOP calls
    * after every decision: compact only once the code stream has
    * accumulated more than `maxBatches` batch partitions (each one
    * multiplies files-per-probed-cell on every serve), otherwise do
    * nothing at all — no publish, no ops_log row, one directory
    * listing of cost (a loop polling after every micro-batch must not
    * spam versions or log files). The threshold trades write
    * amplification (each compact rewrites the narrow code stream) for
    * serve I/O; BASELINE.md's round-16 aging rows price both sides. Returns
    * [[compactCodes]]'s report when it fires, None when under
    * threshold.
    */
  def compactIfAged(spark: SparkSession, dir: String,
      maxBatches: Int = 8): Option[DataFrame] = {
    require(maxBatches >= 1, s"maxBatches must be >= 1, got $maxBatches")
    // deletion patches age the serve path the same way append batches
    // do (one more file layer per probed touched cell), so they count
    // toward the threshold
    val layers = codeBatches(spark, dir).size +
      currentManifest(spark, dir).patches.size
    if (layers > maxBatches) Some(compactCodes(spark, dir))
    else None
  }

  /** Cap on a single delete's patch width: a drop-list touching more
    * distinct cells than this falls back to the full-stream rewrite
    * (at that width the patch stops paying — the touched fraction
    * approaches the corpus and the manifest's exclusion list stops
    * being metadata-sized). Matches the DriverBoundsSpec index-family
    * bound.
    */
  val MaxPatchCells = 4096

  /** Cap on the deletion patch CHAIN length: each patch adds one file
    * layer to the touched cells' serves and one exclusion conjunct to
    * every earlier segment's scan, so past this depth a delete folds
    * the whole stream instead of patching (the same full rewrite,
    * which also resets the chain — and [[compactIfAged]] usually folds
    * it sooner).
    */
  val MaxPatches = 4

  /** VECTOR DELETION publish (round-16 item 2; PARTITION-SCOPED since
    * round 17): remove `ids` (vec_id) from the index WITHOUT a rebuild
    * and — the scale point — WITHOUT rewriting the corpus. The code
    * stream is partitioned by (batch, cell), so a drop-list touching k
    * cells rewrites ONLY those k cells' partitions: the surviving rows
    * of the touched cells land in a new immutable PATCH segment
    * (original batch values preserved) and the manifest overlay
    * ([[CodePatch]]) supersedes exactly that (cells × current batches)
    * slice of the earlier segments. Bytes written ∝ the touched-cell
    * fraction of the corpus (BASELINE.md's round-17 delete row), not
    * the corpus. Centroids/codebooks/meta are REUSED by name (deletion
    * changes neither cell geometry nor any surviving vector's encoding,
    * for BOTH kinds). Curation drop-lists (q110, q163, q167) and
    * takedowns all land here as a vec_id list.
    *
    * FALLBACK to the round-16 full-stream rewrite (which also folds
    * patches and batches to one segment) when the patch would stop
    * paying: touched cells > `maxPatchCells`, every cell touched (the
    * patch would supersede the whole stream and keep every earlier
    * segment referenced), or the patch chain is already `maxPatches`
    * deep.
    *
    * Serving equivalence (spec-pinned, both kinds, both paths): serve
    * after delete ≡ serve before delete with `allowed` =
    * everything-but-ids — the overlay algebra leaves the ADC the same
    * code set the anti-join rewrite would. The difference is the
    * contract: `allowed` is per-query scoping; deletion is store truth
    * (the rows are GONE — no caller can forget the filter), which is
    * what a takedown needs. A LATER append into a touched cell stays
    * visible (the patch's batch qualifier excludes only the batches
    * that existed at delete time) — and a replayed append that
    * resurrects dropped rows by rewriting its own batch partition is
    * HEALED by the same qualifier: the resurrected rows sit in a
    * superseded slice and never serve.
    *
    * IDEMPOTENT: ids with no code rows are ignored; a delete that
    * would remove nothing publishes NOTHING (`published = false`, no
    * version churn on replay). One narrow pass of the TOUCHED cells per
    * drop-list; the publish is the same atomic pointer swap.
    *
    * Returns the one-row report (version_before, version_after,
    * published, n_rows_removed, mode = none|patch|full,
    * n_cells_touched) and appends it to the [[opsLog]].
    */
  def deleteVectors(ids: DataFrame, dir: String,
      maxPatchCells: Int = MaxPatchCells,
      maxPatches: Int = MaxPatches): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    withStoreLock(dir) {
    val m = currentManifest(spark, dir)
    val drop = ids.select(col("vec_id"))
    // record the takedown INTENT first (idempotent): even an id with
    // no code rows today (never indexed, or already deleted) must stay
    // out of every later refresh/rebuild/append — see [[tombstones]].
    // Crash after this, before the publish: the rows keep serving
    // until the replayed delete lands, but no refresh can resurrect.
    appendTombstones(spark, dir, drop)
    val raw = rawLogicalCodes(spark, dir, m)
    val hit = raw.join(drop, Seq("vec_id"), "left_semi")
    val nHit = hit.count()
    val report =
      if (nHit == 0L) (m.version, m.version, false, 0L, "none", 0L)
      else {
        val v1 = m.version + 1
        val codesName = s"codes-$v1"
        // every dropped row lives in a touched cell by definition;
        // the fold is ≤ numCells ids (≤ 65536 under autoCells), capped
        // by maxPatchCells before it reaches the driver
        val touched = hit.select(col("cell").cast("long")).distinct()
          .limit(maxPatchCells + 1).collect().map(_.getLong(0)).sorted.toSeq
        val numCells = spark.read.parquet(artifactPath(dir, m.meta)).head()
          .getAs[Int]("num_cells")
        if (touched.size > maxPatchCells || touched.size >= numCells
            || m.patches.size >= maxPatches) {
          // full-stream rewrite: folds patches and batches to batch 0
          val nOld = raw.count()
          writeCodes(raw.join(drop, Seq("vec_id"), "left_anti"),
            artifactPath(dir, codesName), Some(0L))
          val nNew = spark.read.parquet(artifactPath(dir, codesName)).count()
          require(nNew == nOld - nHit,
            s"delete row-count drift: $nOld - $nHit != $nNew; " +
              "aborting publish")
          publishManifest(spark, dir,
            m.copy(version = v1, codes = codesName, patches = Nil))
          (m.version, v1, true, nHit, "full", touched.size.toLong)
        } else {
          // patch path: rewrite ONLY the touched cells' rows, original
          // batch values preserved so the overlay's batch qualifier
          // lines up; the superseded slice is (touched cells × the
          // batch ids present RIGHT NOW)
          val batchesNow = listBatchState(spark, artifactPath(dir, m.codes))
            .keys.map(_.stripPrefix("batch=").toLong).toSeq.sorted
          val touchedRows =
            raw.filter(col("cell").isin(touched.map(_.toInt): _*))
          val nTouched = touchedRows.count()
          writeCodes(touchedRows.join(drop, Seq("vec_id"), "left_anti"),
            artifactPath(dir, codesName), None)
          val nNew = nTouched - nHit
          if (nNew > 0L) {
            val check = spark.read.parquet(artifactPath(dir, codesName))
              .count()
            require(check == nNew,
              s"delete patch row-count drift: $nTouched - $nHit != " +
                s"$check; aborting publish")
          }
          publishManifest(spark, dir, m.copy(version = v1,
            patches = m.patches
              :+ CodePatch(codesName, touched, batchesNow, nNew)))
          (m.version, v1, true, nHit, "patch", touched.size.toLong)
        }
      }
    logOp(spark, dir, "delete", report._1, report._2, report._3, report._4)
    Seq(report).toDF("version_before", "version_after", "published",
      "n_rows_removed", "mode", "n_cells_touched")
    }
  }

  /** Persist a maintained centroid set (the output of
    * [[Similarity.ivfIndexMaintain]]) as a NEW VERSION reusing the
    * current codes/codebooks/meta — the centroid-only refresh of a
    * PLAIN-PQ store (its codes are cell-independent; only probing
    * changes). Member cells go stale against the new boundaries —
    * exactly the staleness the q181 drift readout sizes — until
    * [[reassignCells]] or [[publishRefresh]] repairs them. Residual
    * stores refuse: their codes encode x − c(cell), so moving a
    * centroid without re-encoding corrupts the reconstruction —
    * use [[publishRefresh]], which re-encodes.
    */
  def writeCentroids(spark: SparkSession, dir: String,
      cent: Seq[(Long, Seq[Double])]): Unit = withStoreLock(dir) {
    val m = currentManifest(spark, dir)
    require(m.kind == KindPq,
      s"centroid-only refresh is undefined for kind=${m.kind} " +
        "(residual codes encode x − c(cell)); use publishRefresh")
    val v1 = m.version + 1
    val next = m.copy(version = v1, centroids = s"centroids-$v1")
    writeRelation(Similarity.centroidRelation(spark, cent),
      artifactPath(dir, next.centroids))
    publishManifest(spark, dir, next)
  }

  /** Membership refresh against the CURRENT stored centroids: every
    * vector's cell is recomputed and the code stream republished as a
    * new version (compacted to batch 0). Plain PQ keeps sub/code and
    * rewrites only `cell`; residual stores re-encode (a moved vector's
    * residual changes with its centroid). One map-side assignment over
    * the vectors plus a narrow codes rewrite — never a retrain. The
    * row-count guard aborts the publish on drift, and the manifest
    * swap means a reader never sees a half-written stream.
    */
  def reassignCells(vectors: DataFrame, dir: String): Unit =
    withStoreLock(dir) {
    val spark = vectors.sparkSession
    val m = currentManifest(spark, dir)
    val centRel = spark.read.parquet(artifactPath(dir, m.centroids))
    publishCodesVersion(spark, dir, m, centRel,
      refreshedCodes(vectors, spark, dir, m, centRel),
      centroidsName = m.centroids)
  }

  /** Full maintenance publish: new centroids + repaired membership in
    * ONE new version (the streaming loop's repair step). Plain PQ
    * reassigns cells; residual stores re-encode against the new
    * centroids. Readers concurrently serving keep the previous
    * version until they re-resolve.
    */
  def publishRefresh(vectors: DataFrame, dir: String,
      cent: Seq[(Long, Seq[Double])]): Unit = withStoreLock(dir) {
    val spark = vectors.sparkSession
    val m = currentManifest(spark, dir)
    val newCentRel = Similarity.centroidRelation(spark, cent)
    val v1 = m.version + 1
    writeRelation(newCentRel, artifactPath(dir, s"centroids-$v1"))
    publishCodesVersion(spark, dir, m, newCentRel,
      refreshedCodes(vectors, spark, dir, m, newCentRel),
      centroidsName = s"centroids-$v1")
  }

  /** The code stream the store would carry after refreshing membership
    * against `centRel` — plain PQ: stored sub/code joined to the new
    * cells; residual: full re-encode of x − c(x) against the stored
    * codebooks. Pure plan (nothing executed) so callers can also use
    * it to SIMULATE a candidate refresh (the recall gate).
    */
  private def refreshedCodes(vectors: DataFrame, spark: SparkSession,
      dir: String, m: IndexManifest, centRel: DataFrame): DataFrame = {
    // the refresh input is the CALLER'S corpus — anti-join the
    // tombstone set or the rewrite resurrects taken-down ids (the
    // plain-PQ path would drop them anyway via its join to the stored
    // codes; the residual path re-encodes from the corpus and would
    // not)
    val live = antiTombstones(vectors, dir)
    if (m.kind == KindPq) {
      val cells = Similarity.assignCellsRelation(live.select(
          col("vec_id"), Similarity.asDouble(col("embedding")).as("v")),
        centRel, probes = 1)
      readCodes(spark, dir, m).drop("cell")
        .join(cells.select(col("vec_id"), col("cell")), "vec_id")
    } else {
      // meta is one stored row (num_sub, w, num_cells, codebook_k)
      val meta = spark.read.parquet(artifactPath(dir, m.meta)).head()
      Similarity.ivfPqEncode(live, centRel,
        spark.read.parquet(artifactPath(dir, m.codebooks)), m.kind,
        meta.getAs[Int]("num_sub"), meta.getAs[Int]("w"))
    }
  }

  /** Write `newCodes` as the next version's code stream (row-count
    * guarded against the current stream), publish the manifest.
    */
  private def publishCodesVersion(spark: SparkSession, dir: String,
      m: IndexManifest, centRel: DataFrame, newCodes: DataFrame,
      centroidsName: String): Unit = {
    val v1 = m.version + 1
    val nOld = readCodes(spark, dir, m).count()
    // a refresh LEGITIMATELY sheds rows whose ids are tombstoned but
    // still in the old stream (a delete that crashed after its
    // tombstone append and before its publish — the durable-intent
    // window): the guard expects exactly that shrink, nothing else
    val nTomb =
      if (!fsOf(spark, dir).exists(new Path(dir, "tombstones"))) 0L
      else readCodes(spark, dir, m)
        .join(spark.read.parquet(s"$dir/tombstones"),
          Seq("vec_id"), "left_semi").count()
    val codesName = s"codes-$v1"
    writeCodes(newCodes, artifactPath(dir, codesName), Some(0L))
    val nNew = spark.read.parquet(artifactPath(dir, codesName)).count()
    require(nNew == nOld - nTomb,
      s"codes row-count drift: $nOld - $nTomb tombstoned -> $nNew; " +
        "aborting publish")
    // the rewrite read the LOGICAL stream and wrote it whole, so the
    // new version carries no deletion-patch overlay
    publishManifest(spark, dir, m.copy(version = v1,
      centroids = centroidsName, codes = codesName, patches = Nil))
  }

  /** RECALL-GATED maintenance adoption (round-15 item 3): the sf0.01
    * readout proved a blind centroid refresh can HURT (recall@10
    * 0.80 → 0.74), so adoption is measured, not assumed. Probes
    * recall@k of the CURRENT index and of the candidate refreshed
    * index (simulated in-plan — nothing published) against exact
    * brute-force ground truth on the caller's fixed query sample,
    * publishes the refresh ONLY on non-regression
    * (recall_after ≥ recall_before), and returns the one-row verdict
    * (recall_before, recall_after, adopted) for the decision log.
    *
    * Cost: two index serves plus one brute-force pass of the QUERY
    * sample over the corpus — the sample is small and fixed by
    * contract (an audit probe, not a production search), so the gate
    * adds one corpus scan per maintenance decision.
    */
  def publishRefreshGated(vectors: DataFrame, dir: String,
      cent: Seq[(Long, Seq[Double])], sampleQueries: DataFrame, k: Int,
      probes: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    withStoreLock(dir) {
    val m = currentManifest(spark, dir)
    // ground truth over the LIVE corpus: a tombstoned id is not a
    // legitimate neighbor, and counting it would depress both recalls
    // and could flip the gate
    val live = antiTombstones(vectors, dir)
    val exact = Similarity.bruteForceTopK(live, sampleQueries, k)
      .select(col("qid"), col("nid"))
    val nExact = exact.count()
    def recallOf(served: DataFrame): Double =
      if (nExact == 0L) 0.0
      else exact.join(served.select(col("qid"), col("nid")),
        Seq("qid", "nid")).count().toDouble / nExact
    val before = recallOf(serveIvfPq(spark, dir, sampleQueries, k, probes))
    val newCentRel = Similarity.centroidRelation(spark, cent)
    val candCodes = refreshedCodes(vectors, spark, dir, m, newCentRel)
    val bookRel = spark.read.parquet(artifactPath(dir, m.codebooks))
    val meta = spark.read.parquet(artifactPath(dir, m.meta)).head()
    val numSub = meta.getAs[Int]("num_sub")
    val w = meta.getAs[Int]("w")
    val candServe = m.kind match {
      case KindPq => Similarity.ivfPqServe(candCodes, newCentRel, bookRel,
        sampleQueries, k, probes, numSub, w)
      case _ => Similarity.ivfPqResidualServe(candCodes, newCentRel,
        bookRel, sampleQueries, k, probes, numSub, w)
    }
    val after = recallOf(candServe)
    val adopted = after >= before
    if (adopted) publishRefresh(vectors, dir, cent)
    Seq((math.rint(before * 1e6) / 1e6, math.rint(after * 1e6) / 1e6,
      adopted))
      .toDF("recall_before", "recall_after", "adopted")
    }
  }
}
