package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Exec, TextOps}

/** Executable end-to-end curation pipeline — the composed batch run a
  * user of this library would schedule over a crawl drop, chaining the
  * shipped operators in the order a production pipeline applies them
  * (cheapest gate first, text re-shuffled never):
  *
  *   1. Gopher rule gate (L72, scan-speed) ∧ blocklist gate (L84,
  *      scan-speed) — per-doc keep verdicts, no exchange; with
  *      `modelGates = true` ("modelGates" as a third CLI arg) the
  *      learned stage ANDs in the hashed linear classifier (L122),
  *      the bigram-LM perplexity gate (L125), and the PII drop-mode
  *      gate (L129) — rules first, then model signals, then policy;
  *   2. normalization-insensitive exact dedup (L92) — canonical
  *      keepers by 8-byte hash groups;
  *   3. near-dup clusters (L2 LSH → L5 connected components) with
  *      quality-argmax canonical selection (L76) — survivors are each
  *      near-dup cluster's best member;
  *   4. deterministic train/valid/test assignment (L95);
  *   5. outputs: the curated corpus (id, split), the per-source
  *      census, a one-row savings summary, and the estimate-only
  *      sketch readout (per-source HLL vocabulary + KMV source
  *      overlap, `audit = false` — see [[sketchReadout]]).
  *
  * Every stage is the same oracle-gated operator the query surface
  * exposes (q106/q118/q126/q110/q129/q134 semantics); this object
  * only sequences them and persists the results. All joins are
  * id-keyed; document text rides no exchange anywhere in the chain.
  */
object CurationPipeline {

  /** One leak-repair route decision (round-18): which pair source the
    * pipeline will run, and the corpus statistics that chose it. A
    * one-row frame of this is written into the pipeline artifact
    * (`route_decision`) so every run records WHY it took the path it
    * took — the q62→q78 gated-swap discipline, automated.
    */
  final case class LeakRouteDecision(route: String, nDocs: Long,
      estCandPairs: Long, sampledDocs: Long)

  /** AUTO-SELECT the leak-repair pair source by corpus statistics —
    * pre-r18 the measured content-quadratic exact path was the default
    * at ANY size (`leakLsh` defaulted false and nothing flipped it; the
    * sf10-skew run only survived because a human passed the flag).
    *
    * Decision rule, cheapest test first:
    *   1. `nDocs ≤ smallCorpusDocs` → "exact" (one count — tiny corpora
    *      never generate a harmful candidate set, and exact is the
    *      audit-grade semantics: repairs at jac ≥ 0.5);
    *   2. otherwise estimate the PPJoin candidate mass from ONE cheap
    *      aggregation over a deterministic 1/`sampleMod` doc sample
    *      (`doc_id % sampleMod == 0`): Σ_h f·(f−1)/2 over the sample's
    *      shingle document frequencies, scaled by sampleMod² (a pair
    *      survives sampling when BOTH endpoints do, p = 1/m²). This
    *      deliberately bounds the exact path's prefix-filter candidates
    *      from ABOVE (full-shingle df ≥ prefix df) — overestimating
    *      pushes toward the scale route, the safe direction (the LSH
    *      chain is candidate-bounded at any size; its cost is the
    *      documented 0.5→0.7 semantic narrowing, not a blown disk);
    *   3. est > `maxExactCandidates` → "lsh", else "exact".
    *
    * The estimator is linear in the SAMPLE's shingles (one explode +
    * one partial-aggregated count — no join, no window, no pair
    * generation), so the decision costs a scan of 1/m of the corpus —
    * nothing at any scale next to the stage it gates. Thresholds:
    * sf10-skew measured 1.38e9 exact candidates (fatal, >70 GB of
    * verify shuffle); 5e7 keeps the verify stage's pair frame under a
    * few GB on one box and is ~30× under the measured wall.
    */
  def chooseLeakRoute(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleN: Int = 3,
      smallCorpusDocs: Long = 50000, maxExactCandidates: Long = 50000000L,
      sampleMod: Int = 16): LeakRouteDecision = {
    val nDocs = docs.count()
    if (nDocs <= smallCorpusDocs)
      LeakRouteDecision("exact", nDocs, -1L, 0L)
    else {
      val sample = docs.filter(col(idCol) % sampleMod === 0)
      val est = graft.operators.Dedup
        .hashedShingles(sample, idCol, textCol, shingleN)
        .select(explode(col("shh")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("f"))
        .agg(coalesce(sum(col("f") * (col("f") - 1) / 2), lit(0.0))
          .as("pairs"))
        .head().getAs[Double]("pairs")
      val scaled = est * sampleMod.toDouble * sampleMod
      val estL = if (scaled > Long.MaxValue.toDouble) Long.MaxValue
        else scaled.toLong
      LeakRouteDecision(
        if (estL > maxExactCandidates) "lsh" else "exact",
        nDocs, estL, nDocs / sampleMod)
    }
  }

  /** Resolve a caller's `leakRoute` argument: "exact"/"lsh" are forced
    * (recorded with no statistics paid), "auto" measures.
    */
  def resolveLeakRoute(docs: DataFrame, leakRoute: String,
      idCol: String = "doc_id",
      textCol: String = "text"): LeakRouteDecision = leakRoute match {
    case "exact" | "lsh" => LeakRouteDecision(leakRoute, -1L, -1L, 0L)
    case "auto" => chooseLeakRoute(docs, idCol, textCol)
    case other => throw new IllegalArgumentException(
      s"leakRoute must be auto|exact|lsh, got $other")
  }

  /** The composed frames, lazily planned — callers pick what to
    * materialize. Returns (curated survivors with split, per-(source,
    * split) census, one-row savings summary).
    *
    * `gateFirst` (default true, the production order) selects dedup
    * keepers AMONG the gate survivors: a duplicate group whose
    * full-corpus canonical happens to fail the Gopher/blocklist gate
    * still keeps its best gate-passing member, so gating never silently
    * erases content that has a clean copy. `gateFirst = false` keeps
    * the historical AND-composition (independent full-corpus verdicts,
    * the q134 training-census semantics) — lossy exactly when a dup
    * group's canonical fails a gate, documented here by name.
    *
    * With `modelGates = true` the returned frames share one CACHED
    * (doc_id, bool) verdict — 9 bytes/row, never text. In a shared
    * session, unpersist after materializing the outputs (main() clears
    * its own session's cache once the parquet writes land).
    *
    * `stageDir` bounds DISK, the resource a one-lineage run exhausts at
    * scale: executed as a single job, every verdict chain's shuffle
    * files stay referenced (and on disk) until the final write, so the
    * box pays the SUM of all stage shuffles — measured at sf10
    * (modelGates + repairLeaks, 500k docs): >70 GB accumulated and the
    * run died on `No space left on device` at the leak-repair chain.
    * With a stage directory each id-keyed verdict (doc_id + bool —
    * megabytes at any corpus) is written to parquet and re-read, so
    * the heavy chain behind it becomes driver-garbage, its shuffle
    * files are reclaimed, and live shuffle is bounded by the LARGEST
    * stage instead of the sum — the checkpoint-at-stage-boundary
    * discipline every production multi-stage pipeline runs on. Output
    * is IDENTICAL (spec-pinned): staging changes where intermediate
    * bytes live, never what they say.
    */
  def run(spark: SparkSession, sfDir: String,
      blocklist: Seq[String] = Seq("slow", "leak", "crash"),
      maxHits: Int = 2,
      gateFirst: Boolean = true,
      modelGates: Boolean = false,
      repairLeaks: Boolean = false,
      // `leakRoute` picks the repair's PAIR SOURCE: "exact" (PPJoin,
      // repairs at jac >= 0.5 — the audit semantics), "lsh" (banded
      // MinHash, candidate-bounded at any corpus size, verifies at
      // `leakLshThreshold` — default 0.7, the banding geometry's
      // calibrated point: pairs with jac in [0.5, 0.7) are NOT
      // repaired, a semantic narrowing beyond banding misses, surfaced
      // here and overridable per run), or "auto" (round-18 DEFAULT:
      // [[chooseLeakRoute]] measures the corpus — row count + a
      // sampled Σ df² candidate-mass estimate — and takes the exact
      // path only while it is provably affordable; the decision is
      // written to `routeLog` when set, so the artifact records why).
      leakRoute: String = "auto",
      leakLshThreshold: Double = 0.7,
      routeLog: Option[String] = None,
      stageDir: Option[String] = None): (DataFrame, DataFrame, DataFrame) = {
    // stage boundary: materialize an id-keyed verdict frame and cut its
    // lineage (Exec.stageTo: parquet round-trip + a GC settle so the
    // ContextCleaner reclaims the now-unreferenced upstream shuffle files)
    def staged(name: String, df: DataFrame): DataFrame = stageDir match {
      case None => df
      case Some(d) => Exec.stageTo(df, s"$d/$name")
    }
    val docs = Tables.documents(spark, sfDir)
    val gate = staged("gate", TextOps.gopherRules(docs, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("__k1")))
    val block = staged("block", TextOps.blocklistFilter(docs, "doc_id",
        "text", blocklist, maxHits)
      .select(col("doc_id"), col("keep").as("__k2")))
    // Optional round-11 model-gate stage (the modern curation order:
    // rules first, then learned signals, then PII policy): hashed
    // linear classifier (L122), bigram-LM perplexity (L125), PII
    // drop-mode gate (L129). Each is the same oracle-gated operator as
    // its q156/q159/q163 query; verdicts AND into one id-keyed column.
    val model =
      if (!modelGates)
        docs.select(col("doc_id"), lit(true).as("__km"))
      else {
        val c = TextOps.hashedLinearQuality(docs, "doc_id", "text")
          .select(col("doc_id"), col("keep").as("__kc"))
        val p = TextOps.bigramPerplexityGate(docs, "doc_id", "text")
          .select(col("doc_id"), col("keep").as("__kp"))
        val pii = TextOps.piiRedactGate(docs, "doc_id", "text")
          .select(col("doc_id"), col("keep").as("__kpii"))
        // the verdict frame is consumed twice (dedup-input filter +
        // final join) and its perplexity branch re-derives a 3-shuffle
        // model chain per use — cache the (doc_id, bool) result, which
        // is corpus-row-count × 9 bytes, not text (staged runs get the
        // same reuse from the parquet round-trip and skip the cache)
        val verdict = c.join(p, "doc_id").join(pii, "doc_id")
          .select(col("doc_id"),
            (col("__kc") && col("__kp") && col("__kpii")).as("__km"))
        if (stageDir.isDefined) staged("model", verdict) else verdict.cache()
      }
    // Dedup corpus: gate survivors (production) or the full corpus
    // (q134-parity AND-composition). Either way the dedup operators
    // themselves are the same oracle-gated L92/L76 implementations.
    val dedupDocs =
      if (gateFirst)
        docs.join(gate.filter(col("__k1")).select(col("doc_id")), "doc_id")
          .join(block.filter(col("__k2")).select(col("doc_id")), "doc_id")
          .join(model.filter(col("__km")).select(col("doc_id")), "doc_id")
      else docs
    val exactKeep = staged("exact_keep",
      Dedup.normalizedDedup(dedupDocs, "doc_id", "text")
        .select(col("keeper").as("doc_id"), lit(true).as("__k3")))
    val nearKeep = staged("near_keep",
      Dedup.clusterCanonicalSelect(dedupDocs, "doc_id", "text")
        .select(col("keeper").as("doc_id"), lit(true).as("__k4")))
    val split = staged("split",
      Curation.splitAssignment(docs, "doc_id", "source")
        .select(col("doc_id"), col("split")))
    // Split-leakage repair (L133): drop the less-protected member of
    // every cross-split near-dup pair, so the shipped corpus carries
    // zero train→eval leakage by construction. Runs on the FULL corpus
    // (a leaking pair must be caught even when one member fails a
    // gate) and ANDs in as one more id-keyed verdict.
    val leakOk =
      if (!repairLeaks)
        docs.select(col("doc_id"), lit(true).as("__kl"))
      else {
        // route decided by measurement under "auto" (the q62→q78 gated
        // swap, automated): the exact PPJoin repair is the audit path,
        // and at sf10-skew its prefix filter measured 1.38 BILLION
        // candidates — content-quadratic, beyond one box's disk even
        // with the candidate-set job boundary below. The banded-MinHash
        // repair is candidate-bounded at any corpus size.
        val decision = resolveLeakRoute(docs, leakRoute)
        routeLog.foreach { p =>
          import spark.implicits._
          Seq(decision).toDF().coalesce(1)
            .write.mode("overwrite").parquet(p)
        }
        staged("leak_ok",
          // threshold passed EXPLICITLY: the 0.5 → 0.7 tightening vs
          // the exact path is a pipeline-level decision (see the
          // `leakRoute` parameter doc), not a buried operator default
          (if (decision.route == "lsh")
             Curation.splitLeakRepairLsh(docs, "doc_id", "text",
               threshold = leakLshThreshold)
           else Curation.splitLeakRepair(docs, "doc_id", "text",
             candStage = stageDir.map(d => s"$d/leak_cand")))
            .select(col("doc_id"), (col("action") === "keep").as("__kl")))
      }
    val curated = docs
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(gate, "doc_id").join(block, "doc_id")
      .join(model, "doc_id")
      .join(leakOk, "doc_id")
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearKeep, Seq("doc_id"), "left")
      .join(split, "doc_id")
      .filter(col("__k1") && col("__k2") && col("__km") && col("__kl") &&
        coalesce(col("__k3"), lit(false)) &&
        coalesce(col("__k4"), lit(false)))
      .select(col("doc_id"), col("source"), col("split"), col("n_tokens"))
    val census = curated.groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("source"), col("split"))
    val total = docs.count()
    val savings = curated.agg(
      lit(total).as("n_input"),
      count(lit(1)).as("n_kept"),
      round(lit(1.0) - count(lit(1)).cast("double") / lit(total), 6)
        .as("drop_frac"),
      sum(col("n_tokens")).as("tokens_kept"))
    (curated, census, savings)
  }

  /** Per-source sketch readout — the 100 TB configuration of the
    * estimate-only sketch paths, exercised by the shipped pipeline
    * rather than left behind a flag: per-source HLL vocabulary
    * estimate (`audit = false` — no corpus-wide exact distinct
    * anywhere in the plan) alongside the KMV pairwise source-overlap
    * matrix (`audit = false` — no shingle-level self-join; the only
    * join the sketch contributes is the |sources|²-bounded signature
    * pairing). Runs over the curated survivors (one id-keyed join back
    * to text; the text column itself still never rides an exchange —
    * both sketch front-halves hash at the scan). At cluster scale the
    * signatures/registers are constant-size per source and mergeable
    * across shards, so this readout costs one scan over the curated
    * corpus regardless of vocabulary or shingle cardinality.
    */
  def sketchReadout(docs: DataFrame, curated: DataFrame): (DataFrame, DataFrame) = {
    val kept = docs.join(curated.select("doc_id"), "doc_id")
    val vocab = TextOps.hllVocabulary(kept, "text", "source", audit = false)
    val overlap = Dedup.kmvSourceOverlap(kept, "doc_id", "text", "source",
      audit = false)
    (vocab, overlap)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val flags = args.drop(2).toSet
    val modelGates = flags.contains("modelGates")
    val repairLeaks = flags.contains("repairLeaks")
    // CLI keeps the explicit overrides; absent both, the route is
    // measured per run (chooseLeakRoute) and recorded in the artifact
    val leakRoute =
      if (flags.contains("leakLsh")) "lsh"
      else if (flags.contains("leakExact")) "exact"
      else "auto"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val (curated, census, savings) = run(spark, sfDir,
      modelGates = modelGates, repairLeaks = repairLeaks,
      leakRoute = leakRoute, routeLog = Some(s"$outDir/route_decision"),
      stageDir = Some(s"$outDir/_stages"))
    curated.write.mode("overwrite").parquet(s"$outDir/curated")
    census.coalesce(1).write.mode("overwrite").parquet(s"$outDir/census")
    savings.coalesce(1).write.mode("overwrite").parquet(s"$outDir/savings")
    // estimate-only sketch readout over the survivors — the shipped
    // 100 TB configuration (no exact audit twin paid in production)
    val keptIds = spark.read.parquet(s"$outDir/curated")
    val (vocab, overlap) =
      sketchReadout(Tables.documents(spark, sfDir), keptIds)
    vocab.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/source_vocab_est")
    overlap.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/source_overlap_est")
    // layout triage over the pipeline's OWN output files (the real
    // manifest, not a model): small-file health verdict + the
    // compaction work list an OPTIMIZE pass would execute next
    val manifest = graft.operators.Layout.fileManifest(
      spark, s"$outDir/curated")
    graft.operators.Layout
      .layoutHealth(manifest, "part", "bytes", targetBytes = 4L << 20)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/layout_health")
    graft.operators.Layout
      .compactionPlan(manifest, "part", "seq", "bytes",
        targetBytes = 4L << 20)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/compaction_plan")
    // …and EXECUTE the plan (round-14: layoutHealth → plan → rewrite,
    // closing the loop): small files in the pipeline's own output are
    // packed and swapped in place, then re-triaged — the report and
    // the after-health land next to the plan so the round's artifact
    // shows the verdict flipping
    graft.operators.Layout
      .compactionRewrite(spark, s"$outDir/curated", targetBytes = 4L << 20)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/compaction_report")
    graft.operators.Layout
      .layoutHealth(
        graft.operators.Layout.fileManifest(spark, s"$outDir/curated"),
        "part", "bytes", targetBytes = 4L << 20)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/layout_health_after")
    val secs = (System.nanoTime() - t0) / 1e9
    // read the summary back from the parquet just written — collecting
    // the uncached `savings` frame would recompute the entire
    // gates→dedup→leak chain a second time
    val back = spark.read.parquet(s"$outDir/savings")
    val s0 = back.collect()(0)
    val (nIn, nKept, tokKept) = (s0.getLong(0), s0.getLong(1), s0.getLong(3))
    // the modelGates verdict frame is cached inside run(); drop its
    // blocks now that every consumer has materialized
    spark.sharedState.cacheManager.clearCache()
    // end-to-end throughput line (BASELINE.md records these): wall time
    // covers the full gates→dedup→split→write chain including parquet IO
    println(f"""{"metric":"curation_pipeline","secs":$secs%.2f,"n_input":$nIn,"n_kept":$nKept,"tokens_kept":$tokKept,"docs_per_sec":${nIn / secs}%.0f,"sf":"$sfDir"}""")
    back.show(truncate = false)
    spark.stop()
  }
}
