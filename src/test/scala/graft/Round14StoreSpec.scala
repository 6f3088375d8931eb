package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{IndexStore, Similarity}

/** Index-store lifecycle specs (round 14, second wave): the persisted
  * index must serve BIT-IDENTICAL results to the in-memory relation
  * path (parquet stores doubles and int64s exactly — this spec is what
  * makes q193's shared-oracle claim a law, not a hope), the filtered
  * serve must be a pure pre-scoring restriction (allow-everything ≡
  * unfiltered, results ⊆ allow-list), and a maintenance refresh
  * persisted through the store must change SERVING exactly as the
  * in-memory maintained centroids would.
  */
class Round14StoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-round14-store-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def embeddings: DataFrame = Tables.embeddings(spark, sf)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-store-$tag").toString

  test("store round-trip serves the in-memory relation path bit-for-bit (two geometries)") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    for ((nc, ck) <- Seq((6, 6), (4, 8))) {
      val dir = tmpDir(s"rt-$nc-$ck")
      IndexStore.buildIvfPq(e, dir, numCells = nc, cellIters = 2,
        numSub = 4, codebookK = ck, pqIters = 2)
      val served = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2)
      val mem = Similarity.ivfPqTopK(e, q, k = 4, numCells = nc,
        cellIters = 2, probes = 2, numSub = 4, codebookK = ck,
        pqIters = 2)
      assert(served.columns.toSeq == mem.columns.toSeq)
      assert(rows(served) == rows(mem),
        s"store round-trip diverges from in-memory path at ($nc, $ck)")
    }
  }

  test("filtered serve: allow-everything is the unfiltered result; allow-list bounds the nids") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val dir = tmpDir("filt")
    IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val plain = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2)
    val all = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
      allowed = Some(e.select(col("vec_id"))))
    assert(rows(all) == rows(plain),
      "allow-everything must be a no-op filter")
    val lab = e.filter(col("label") === 3).select(col("vec_id"))
    val labIds = lab.collect().map(_.getLong(0)).toSet
    assert(labIds.nonEmpty, "fixture must have label-3 members")
    val filt = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
      allowed = Some(lab))
    val nids = filt.select(col("nid")).collect().map(_.getLong(0))
    assert(nids.nonEmpty, "filtered serve returned nothing")
    assert(nids.forall(labIds.contains),
      "filtered serve leaked a non-allowed member")
    // ranks are dense per query and start at 1 over the RESTRICTED set
    val perQ = filt.groupBy(col("qid"))
      .agg(min(col("rank")).as("lo"), max(col("rank")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
    perQ.foreach { r =>
      assert(r.getAs[Int]("lo") == 1 &&
        r.getAs[Long]("n") == r.getAs[Int]("hi").toLong,
        s"ranks not dense from 1 for qid group: $r")
    }
    // an EMPTY allow-list serves an empty result, not an error
    val none = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2,
      allowed = Some(e.filter(col("label") === -1).select(col("vec_id"))))
    assert(none.count() == 0L)
  }

  test("ngramJaccardJoin pairPredicate equals the unrestricted join post-filtered") {
    import graft.operators.{Curation, Dedup}
    val docs = Tables.documents(spark, sf)
    val pred: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column =
      (i, j) => Curation.splitColOf(i) =!= Curation.splitColOf(j)
    val pushed = Dedup.ngramJaccardJoin(docs, "doc_id", "text",
      threshold = 0.5, pairPredicate = Some(pred))
      .orderBy(col("i"), col("j"))
    val post = Dedup.ngramJaccardJoin(docs, "doc_id", "text",
      threshold = 0.5)
      .filter(pred(col("i"), col("j")))
      .orderBy(col("i"), col("j"))
    assert(rows(pushed) == rows(post),
      "pushed pair predicate diverges from post-filtering")
    // candidate-set staging is pure materialization — output identical
    val staged = Dedup.ngramJaccardJoin(docs, "doc_id", "text",
      threshold = 0.5, pairPredicate = Some(pred),
      candStage = Some(tmpDir("cand") + "/cand"))
      .orderBy(col("i"), col("j"))
    assert(rows(staged) == rows(pushed),
      "candStage materialization changed the pair set")
    // and the pushed set is non-trivial on the fixture (the spec must
    // not pass vacuously on an empty pair set)
    assert(pushed.count() > 0 ||
      Dedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.5)
        .count() == 0)
  }

  test("weighted priority sample: deterministic, clamped, min-key monotone in tickets") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
    val total = docs.count().toInt
    val a = Curation.weightedPrioritySample(docs, "doc_id", "text",
      n = total + 10)
    val b = Curation.weightedPrioritySample(docs, "doc_id", "text",
      n = total + 10)
    assert(rows(a) == rows(b), "sample is not deterministic")
    assert(a.count() == total.toLong, "n >= corpus must return every doc")
    // clamp law: 1 <= w_tickets <= maxTickets and = min(n_tokens, cap)
    val bad = a.filter(col("w_tickets") =!=
      greatest(lit(1L), least(col("n_tokens"), lit(256L)))).count()
    assert(bad == 0L, s"$bad rows violate the ticket clamp")
    // monotonicity: a doc's priority is a min over MORE tickets at a
    // larger cap, so key(cap=256) <= key(cap=1) per doc — exact law
    val k1 = Curation.weightedPrioritySample(docs, "doc_id", "text",
      n = total + 10, maxTickets = 1)
      .select(col("doc_id"), col("key").as("k1"))
    val joined = a.select(col("doc_id"), col("key")).join(k1, "doc_id")
    assert(joined.filter(col("key") > col("k1")).count() == 0L,
      "raising the ticket cap raised a doc's min-ticket key")
    // the two caps must DISAGREE on order somewhere (weights matter):
    // identical rankings would mean the weighting is vacuous on the
    // fixture
    val o256 = a.orderBy(col("key"), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val o1 = Curation.weightedPrioritySample(docs, "doc_id", "text",
      n = total + 10, maxTickets = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(o256 != o1, "weighted and unweighted orders coincide")
  }

  test("LSH leak repair drops only docs the exact repair also drops (gated-swap subset)") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
    // every LSH-verified pair is a true jac >= 0.7 pair, and
    // jac >= 0.7 cross-split pairs are a subset of the exact path's
    // jac >= 0.5 pair set — so the LSH drop set must be contained in
    // the exact drop set (a banding miss loses a repair, never
    // invents one)
    val lsh = Curation.splitLeakRepairLsh(docs, "doc_id", "text")
      .filter(col("action") === "drop_leak")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val exact = Curation.splitLeakRepair(docs, "doc_id", "text")
      .filter(col("action") === "drop_leak")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(lsh.subsetOf(exact),
      s"LSH repair dropped docs the exact repair keeps: ${lsh -- exact}")
    // and both verdicts cover every document exactly once
    assert(Curation.splitLeakRepairLsh(docs, "doc_id", "text").count()
      == docs.count())
  }

  test("streaming maintenance loop leaves the store exactly as the batch API sequence") {
    val s = spark
    implicit val sq = s.sqlContext
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Ingest
    val e = embeddings
    val base = e.filter(col("vec_id") % 10 =!= 9)
    val arrivalRows = e.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    assert(arrivalRows.nonEmpty)
    // store A: maintained by the STREAM sink
    val dirA = tmpDir("stream-a")
    IndexStore.buildIvfPq(base, dirA, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = Ingest.ivfMaintainSink(
      mem.toDS().toDF("vec_id", "embedding"), base, dirA,
      tmpDir("stream-ckpt"), numCells = 6, iters = 2, deltaMod = 10,
      churnThreshold = 0.1).start()
    try {
      mem.addData(arrivalRows: _*)
      q.processAllAvailable()
    } finally q.stop()
    // store B: the same lifecycle through the BATCH API
    val dirB = tmpDir("stream-b")
    IndexStore.buildIvfPq(base, dirB, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val arrived = e.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), col("embedding"))
    val merged = base.select(col("vec_id"), col("embedding"))
      .unionAll(arrived)
    IndexStore.appendVectors(arrived, dirB, batchId = 1)
    val (readout, maintained) = Similarity.ivfIndexMaintain(merged,
      numCells = 6, iters = 2, deltaMod = 10, churnThreshold = 0.1)
    val gate = IndexStore.publishRefreshGated(merged, dirB, maintained,
      merged.filter(col("vec_id") < 3), k = 5, probes = 2)
    def artifact(dir: String, name: String): String =
      IndexStore.artifactPaths(spark, dir)(name)
    def sortedRows(path: String, keys: String*): Seq[Seq[Any]] =
      rows(spark.read.parquet(path)
        .drop("batch").orderBy(keys.map(col): _*))
    assert(sortedRows(artifact(dirA, "centroids"), "cid")
      == sortedRows(artifact(dirB, "centroids"), "cid"),
      "stream-maintained centroids diverge from the batch sequence")
    assert(sortedRows(artifact(dirA, "codes"), "vec_id", "sub")
      == sortedRows(artifact(dirB, "codes"), "vec_id", "sub"),
      "stream-maintained codes diverge from the batch sequence")
    // the decision log carries the batch readout verbatim (+ recall
    // gate columns + batch_id)
    val logged = spark.read.parquet(s"$dirA/maintenance_log")
    assert(logged.count() == 1L)
    val lr = logged.select("n_total", "n_batch", "n_moved", "churn",
      "decision", "recall_before", "recall_after", "adopted").head()
    val br = readout.crossJoin(gate).head()
    assert(lr.toSeq == br.toSeq,
      s"logged decision ${lr.toSeq} != batch readout ${br.toSeq}")
    // serving from either store is identical
    val qv = e.filter(col("vec_id") < 3)
    assert(rows(IndexStore.serveIvfPq(spark, dirA, qv, k = 4, probes = 2))
      == rows(IndexStore.serveIvfPq(spark, dirB, qv, k = 4, probes = 2)))
  }

  test("maintenance refresh persisted via writeCentroids changes serving like the in-memory set") {
    val e = embeddings
    val q = e.filter(col("vec_id") < 3)
    val dir = tmpDir("maint")
    IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val (_, maintained) = Similarity.ivfIndexMaintain(e, numCells = 6,
      iters = 2, deltaMod = 10, churnThreshold = 0.1)
    IndexStore.writeCentroids(spark, dir, maintained)
    val served = IndexStore.serveIvfPq(spark, dir, q, k = 4, probes = 2)
    // the reference: the same stored codes/codebooks, probe assignment
    // against the maintained centroids held in memory
    val art = IndexStore.artifactPaths(spark, dir)
    val codes = spark.read.parquet(art("codes"))
      .select(col("vec_id"), col("sub"), col("code"), col("cell"))
    val bookRel = spark.read.parquet(art("codebooks"))
    val centRel = Similarity.centroidRelation(spark, maintained)
    val meta = spark.read.parquet(art("meta")).head()
    val mem = Similarity.ivfPqServe(codes, centRel, bookRel, q, k = 4,
      probes = 2, numSub = meta.getAs[Int]("num_sub"),
      w = meta.getAs[Int]("w"))
    assert(rows(served) == rows(mem),
      "persisted maintained centroids serve differently than in-memory")
  }
}
