package graft

import org.apache.spark.GraftListenerDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Driver-bound enforcement: every documented `collect()` in the
  * operator surface claims a bound in its scaladoc (k×d centroids,
  * depth×width CMS cells, 16·numShards offsets, candN² similarity
  * matrices, percentile cuts, 1-row scalars). This spec turns those
  * claims into enforced invariants — it runs each collect-owning query
  * at sf0.1 (the largest driver-generated scale) under a
  * QueryExecutionListener that records the result row count of every
  * collect-class action, and fails if ANY collect during the sweep
  * returns more rows than the documented ceiling. A future operator
  * whose "bounded" driver fold silently scales with the corpus fails
  * here before it ships.
  */
class DriverBoundsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.1"

  // collect-class actions: everything that pulls result rows onto the
  // driver. count/save funcNames are excluded — a count's result is one
  // scalar no matter how many rows the plan emits.
  private val collectFuncs =
    Set("collect", "collectAsList", "head", "first", "take", "tail",
      "collectToPython", "toLocalIterator")

  private val recorded =
    new scala.collection.mutable.ArrayBuffer[(String, Long)]()

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      if (collectFuncs.contains(funcName)) {
        val rows = rowsOf(qe.executedPlan)
        recorded.synchronized { recorded += ((funcName, rows)) }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Topmost numOutputRows in the executed plan — the best available
    * proxy for "rows returned to the driver" (the root nodes of
    * collect plans are projections/aggregates that all carry it; AQE
    * roots are unwrapped to their final physical plan). A plan with NO
    * numOutputRows metric anywhere records -1 — the assertions below
    * reject it explicitly rather than letting a metric-less
    * corpus-sized collect masquerade as 0 rows and silently pass.
    */
  private def rowsOf(plan: SparkPlan): Long = {
    // Pre-order DFS that sees THROUGH the AQE stage boundaries:
    // AdaptiveSparkPlanExec and QueryStageExec are leaf-ish wrappers
    // whose real plan is not in `children`, so a plain collectFirst
    // stops at the boundary and misses every metric inside.
    def findIn(p: SparkPlan): Option[Long] = p match {
      case a: AdaptiveSparkPlanExec => findIn(a.executedPlan)
      // A limit root caps the driver transfer at `limit` no matter how
      // many rows the child plan emits — descending past it would
      // report the (distributed, never-collected) child cardinality.
      case c: CollectLimitExec           => Some(c.limit.toLong)
      case t: TakeOrderedAndProjectExec  => Some(t.limit.toLong)
      case q: QueryStageExec =>
        if (q.metrics.contains("numOutputRows"))
          Some(q.metrics("numOutputRows").value)
        else findIn(q.plan)
      case n if n.metrics.contains("numOutputRows") =>
        Some(n.metrics("numOutputRows").value)
      case n =>
        n.children.iterator.map(findIn).collectFirst { case Some(v) => v }
    }
    findIn(plan).getOrElse(-1L)
  }

  /** Runs the thunk with the listener armed and returns the row counts
    * of every collect-class action it triggered.
    */
  private def collectsDuring(thunk: => Unit): Seq[Long] = {
    spark.listenerManager.register(listener)
    try {
      recorded.synchronized(recorded.clear())
      thunk
      GraftListenerDrain.drain(spark.sparkContext)
      recorded.synchronized(recorded.map(_._2).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  // (query, ceiling, what the scaladoc claims)
  private val bounded: Seq[(String, Long, String)] = Seq(
    ("q95_cms_heavy_hitters", 3L * 1024, "depth×width CMS cells"),
    ("q104_shard_assignment", 8192L, "16·numShards offsets + group sums"),
    ("q77_token_budget", 4096L, "per-bucket token sums"),
    ("q23_ivf_topk", 4096L, "k centroids × Lloyd iterations"),
    ("q121_ivfpq_topk", 4096L, "centroids + sub-codebooks"),
    ("q138_bpe_train", 64L, "1-row argmax per merge"),
    ("q139_bpe_encode", 64L, "1-row argmax per merge"),
    ("q147_bpe_curve", 64L, "1-row argmax per merge"),
    ("q82_kcenter_coreset", 4096L, "1-row farthest-point argmax per center"),
    ("q125_power_iteration_pc1", 4096L, "d-dim iterate vector per step"),
    ("q161_sq8_recall", 4096L, "d per-dim min/max rows"),
    ("q162_mmr_select", 4096L, "candN rel + candN²/2 sims"),
    ("q171_ivfpq_residual", 4096L, "centroids + residual sub-codebooks"),
    ("q172_refine_rerank", 4096L, "q171's index folds; refine adds none"),
    ("q181_ivf_drift", 4096L, "k centroids × (Lloyd iters + 1 refresh)"),
    ("q183_knn_pagerank", 4096L, "k centroids × Lloyd iterations"),
    ("q184_bpe_fertility", 64L, "1-row argmax per merge"),
    // q121/q171's calls under their second ids: index TRAINING folds
    // k×d centroids on the driver (the documented kmeansCentroidSeq
    // bound); the SEARCH plan itself adds no collect (index rides
    // broadcast relations)
    ("q187_ivfpq_relation", 4096L, "centroids + sub-codebooks"),
    ("q188_residual_relation", 4096L, "centroids + residual sub-codebooks"),
    // auto-geometry: cells = autoCells(N) ≤ 65536 but the per-iteration
    // driver fold is the centroid set only; at the spec's sf0.1 that is
    // 128 rows/iteration (count() for N is not a collect-class action)
    ("q191_knn_pagerank_auto", 4096L, "autoCells(N) centroids × Lloyd iterations"),
    ("q192_knn_pagerank_sampled", 4096L, "autoCells(N) centroids × Lloyd iterations"),
    // store lifecycle: BUILD folds k×d centroids (the documented Lloyd
    // bound) + one meta row; the serve's only driver action is the
    // 1-row meta head — the code-stream scan is restricted by
    // Catalyst's dynamic partition pruning INSIDE the execution, with
    // no driver fold of the probed cells
    ("q193_store_serve", 4096L, "build-time Lloyd folds + 1-row meta"),
    ("q194_filtered_ann", 4096L, "build-time Lloyd folds + 1-row meta"),
    ("q197_store_serve_residual", 4096L,
      "build-time Lloyd folds + 1-row meta"))

  // Ops whose scaladoc claims a FULLY LAZY plan — zero driver collects.
  // q165 binaryHammingRecall is a broadcast-limit join + two windows;
  // never collecting is the property worth pinning (a future "helper"
  // collect sneaking in would fail here). The round-13 layout family
  // (q173/q174/q176/q177) and hard-negative mining (q175) are pure
  // declarative plans — broadcast scalar bounds ride subquery
  // exchanges inside ONE query execution, never a driver collect.
  private val lazyOps: Seq[String] = Seq("q165_binary_recall",
    "q173_zorder_layout", "q174_compaction_plan", "q175_hard_negatives",
    "q176_zorder_pruning", "q177_layout_health", "q178_curve_pruning",
    "q179_eqdepth_pruning", "q180_bloom_skipping", "q182_maxsim_topk",
    // the LSH leak repair is one declarative chain end to end: banded
    // candidates → exact-Jaccard verify → split verdicts — no Lloyd,
    // no CC checkpoint loop, nothing driver-sized
    "q195_leak_repair_lsh")

  test("documented driver folds stay bounded at sf0.1 (no corpus-sized collect)") {
    val corpusRows = 5000L // sf0.1 documents = 5k, embeddings = 2k
    for ((q, bound, claim) <- bounded) {
      val sizes = collectsDuring {
        // materialize through count() — not a collect-class action, so
        // only the op's INTERNAL driver folds are recorded
        SparkEntry.queries(q)(spark, sf).count()
      }
      assert(sizes.nonEmpty,
        s"$q: no internal driver fold recorded — the listener net is " +
          "broken or the op no longer collects; either way the spec is " +
          "vacuous for it")
      assert(!sizes.contains(-1L),
        s"$q: a collect-class action's plan carried no numOutputRows " +
          "metric — cannot verify the bound; tighten rowsOf or the plan")
      assert(sizes.forall(_ <= bound),
        s"$q: internal collect exceeded its documented bound ($claim ≤ " +
          s"$bound): ${sizes.filter(_ > bound).mkString(",")}")
      assert(sizes.forall(_ < corpusRows),
        s"$q: collect scales with the corpus: ${sizes.maxOption.getOrElse(0L)}")
    }
  }

  test("declared-lazy ops trigger zero driver collects") {
    for (q <- lazyOps) {
      val sizes = collectsDuring {
        SparkEntry.queries(q)(spark, sf).count()
      }
      assert(sizes.isEmpty,
        s"$q is documented as a fully lazy plan but triggered " +
          s"${sizes.length} collect-class action(s) of sizes " +
          s"${sizes.mkString(",")} — either the op regressed or the " +
          "scaladoc claim is stale")
    }
  }
}
