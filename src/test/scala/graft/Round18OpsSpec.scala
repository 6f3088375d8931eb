package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 pipeline specs: the leak-repair ROUTE is auto-selected by
  * corpus statistics (row count, then a sampled Σ df² candidate-mass
  * estimate) — small corpora keep the audit-grade exact path, corpora
  * whose exact candidate set would be content-quadratic get the
  * LSH-banded scale path, and the decision is recorded in the run's
  * artifact. Outputs agree across routes on the driver fixture.
  */
class Round18OpsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"


  test("chooseLeakRoute: a small corpus keeps the exact path without paying the estimator") {
    val docs = Tables.documents(spark, sf)
    val d = CurationPipeline.chooseLeakRoute(docs)
    assert(d.route == "exact")
    assert(d.nDocs == docs.count())
    assert(d.estCandPairs == -1L && d.sampledDocs == 0L,
      s"small corpus must short-circuit before sampling: $d")
  }

  test("chooseLeakRoute: past the doc threshold the sampled candidate-mass estimate picks the route") {
    val s = spark
    import s.implicits._
    // duplicate-heavy 60k corpus: every doc shares every shingle, so
    // the exact PPJoin's candidate set is ~n²/2 — the estimator must
    // see it through the 1/16 sample and gate the scale route
    val dupHeavy = s.range(60000)
      .select(col("id").as("doc_id"),
        lit("alpha beta gamma delta epsilon").as("text"))
    val dDup = CurationPipeline.chooseLeakRoute(dupHeavy)
    assert(dDup.route == "lsh", s"content-quadratic corpus kept exact: $dDup")
    assert(dDup.nDocs == 60000L && dDup.sampledDocs == 60000L / 16)
    // sample df ≈ 3750 per shingle ⇒ est ≥ 3750·3749/2 · 256 ≈ 1.8e9
    assert(dDup.estCandPairs > 50000000L, s"estimate too low: $dDup")
    // all-unique 60k corpus: no shared shingles, zero candidate mass —
    // size alone must NOT force the scale route
    val unique = s.range(60000)
      .select(col("id").as("doc_id"),
        concat(lit("u"), col("id"), lit("a u"), col("id"),
          lit("b u"), col("id"), lit("c u"), col("id"), lit("d"))
          .as("text"))
    val dUniq = CurationPipeline.chooseLeakRoute(unique)
    assert(dUniq.route == "exact",
      s"zero-candidate corpus was pushed to lsh: $dUniq")
    assert(dUniq.estCandPairs == 0L)
    // forced routes resolve without measuring; bogus names refuse
    assert(CurationPipeline.resolveLeakRoute(dupHeavy, "exact").route
      == "exact")
    assert(CurationPipeline.resolveLeakRoute(dupHeavy, "lsh").nDocs == -1L)
    intercept[IllegalArgumentException] {
      CurationPipeline.resolveLeakRoute(dupHeavy, "bogus")
    }
  }

  test("pipeline run records the route decision in the artifact and outputs match across routes on the fixture") {
    def curatedRows(df: DataFrame): Seq[Seq[Any]] =
      df.orderBy(col("doc_id")).collect().toSeq.map(_.toSeq)
    val routeLog = tmpDir("routelog") + "/route_decision"
    val (cAuto, _, _) = CurationPipeline.run(spark, sf,
      repairLeaks = true, leakRoute = "auto", routeLog = Some(routeLog))
    val auto = curatedRows(cAuto)
    // the decision landed in the artifact: fixture is small ⇒ exact
    val logged = spark.read.parquet(routeLog).collect()
    assert(logged.length == 1)
    assert(logged.head.getAs[String]("route") == "exact"
      && logged.head.getAs[Long]("nDocs") > 0)
    // forced-lsh output equals the exact route's on this fixture (its
    // cross-split near-dups are high-jaccard clones both pair sources
    // catch; divergence would mean a banding or threshold regression)
    val (cLsh, _, _) = CurationPipeline.run(spark, sf,
      repairLeaks = true, leakRoute = "lsh")
    assert(curatedRows(cLsh) == auto,
      "lsh-route curated output diverges from the exact route on the fixture")
  }
}
