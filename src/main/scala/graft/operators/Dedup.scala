package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for
  * the 100 TB regime:
  *
  *  - exact dedup: one shuffle on the text (or a hash of it);
  *  - MinHash + LSH banding: near-dup candidate generation whose cost is
  *    O(docs · shingles · hashes) map-side plus a shuffle keyed by
  *    (band, band-signature) — candidate pairs are verified with exact
  *    Jaccard so the output is deterministic (no probabilistic output,
  *    only probabilistic *work*);
  *  - SimHash: 64-bit weighted-bit signature, bucketed by 16-bit chunks
  *    (pigeonhole guarantees recall for hamming ≤ 3 with 4 chunks).
  *
  * Hashing discipline (the difference between seconds and minutes at
  * the bench): every shingle/token string is xxhash64'd exactly ONCE
  * into a long; the k permutation hashes / 64 sign bits derive from
  * that long, never from the string. The hashed-shingle frame is cached
  * because three plan branches (banding, i-side verify, j-side verify)
  * would otherwise each recompute it. Jaccard verification runs on the
  * hashed shingles — identical to string Jaccard up to a ~2⁻⁶⁴
  * collision, far below the 6-decimal output rounding.
  */
object Dedup {

  /** Exact duplicate groups: keeper (min id) + duplicate count per
    * distinct text. Two-phase hash-group plan so full document text
    * never rides the main shuffle:
    *
    *   1. shuffle (xxhash64(text), id) only — min id + count per hash;
    *   2. only multi-member hash buckets are re-joined with their texts
    *      and verified by grouping on (hash, text), splitting any
    *      (astronomically unlikely) 64-bit collisions exactly.
    *
    * At 100 TB with a mostly-unique corpus, phase 2's text shuffle is
    * bounded by the number of duplicate-candidate documents, not the
    * corpus; phase 1 moves 16 bytes per document. Output is identical
    * to a direct groupBy(text).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(col(idCol).as("__id"), col(textCol).as("__text"),
      xxhash64(col(textCol)).as("__h"))
    val byHash = h.groupBy(col("__h")) // text pruned from this branch's scan
      .agg(min(col("__id")).as("keeper"), count(lit(1)).as("n_copies"))
    val singles = byHash.filter(col("n_copies") === 1)
      .select(col("keeper"), col("n_copies"))
    // broadcast the candidate-hash list so the text-bearing side stays
    // map-side: without the hint a planner mis-estimate could pick a
    // sort-merge join and shuffle ALL text — the exact thing this plan
    // exists to avoid. The broadcast is 8 bytes per DUPLICATED distinct
    // text; a corpus degenerate enough to overflow it (billions of
    // distinct duplicated texts) should use the one-phase
    // groupBy(text) instead, which that data shape makes optimal.
    val verified = h
      .join(broadcast(byHash.filter(col("n_copies") > 1).select(col("__h"))), "__h")
      .groupBy(col("__h"), col("__text"))
      .agg(min(col("__id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"))
    singles.union(verified)
  }

  /** Canonical-document selection per near-dup cluster: after
    * clustering (LSH pairs → connected components, the q49 machinery),
    * pick each cluster's keeper as the member maximizing (rounded
    * quality score, then lowest doc_id on ties) — the step that turns
    * "these N documents are near-identical" into "train on THIS one".
    * Min-id keepers (what raw CC gives you) keep whatever the crawler
    * saw first; a mixing pipeline wants the best-quality variant kept
    * and the rest dropped. Unlike verbatim-dup groups (where any
    * text-derived score is constant across copies), near-dup cluster
    * members genuinely differ, so the quality argmax is meaningful.
    *
    * Scale shape: rides the raw CC labels (pair-set-bounded) plus one
    * map-side score scan; cluster membership for singletons is a
    * coalesce, NOT labelClusters' corpus-wide n_members window (this
    * aggregation computes its own member count, so paying that window
    * would duplicate work); the argmax is a struct max inside the
    * cluster-keyed aggregation — no window over the corpus, no text on
    * any exchange.
    */
  def clusterCanonicalSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7,
      scoreOf: Column => Column = t => TextOps.stopwordRatio(t)): DataFrame = {
    val pairs = minhashLsh(df, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val cc = connectedComponents(pairs.select(col("i"), col("j")))
      .withColumnRenamed("node", "doc_id")
    val scored = df.select(col(idCol).as("doc_id"),
      round(scoreOf(col(textCol)), 6).as("q_score"))
    scored.join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("rep"), col("doc_id")))
      .groupBy(col("cluster"))
      .agg(max(struct(col("q_score").as("s"), (-col("doc_id")).as("negid"))).as("__m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"), (-col("__m.negid")).as("keeper"),
        col("__m.s").as("q_score"), col("n_members"))
      .orderBy(col("cluster"))
  }

  /** Distinct word n-gram shingles of a text column. */
  def shingles(text: Column, n: Int): Column = {
    val w = split(text, " ")
    array_distinct(
      transform(sequence(lit(0), size(w) - n), i =>
        concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*)))
  }

  /** (doc_id, shh): distinct n-gram shingle hashes via the native
    * ShingleHashes expression — tokens hashed once, windows combined
    * arithmetically, no shingle strings materialized.
    */
  private[graft] def hashedShingles(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.Signatures
        .shingle_hashes(split(col(textCol), " "), shingleN).as("shh"))
      .filter(size(col("shh")) > 0)

  /** MinHash signature from pre-hashed shingles: k minima of seeded
    * XXH64 rehashes of the 8-byte shingle hash (native expression —
    * no per-(seed,shingle) interpreted lambda).
    */
  def minhashSignatureFromHashes(shh: Column, k: Int): Column =
    org.apache.spark.sql.graft.Signatures.minhash_signature(shh, k)

  /** Exact Jaccard similarity of two array columns (set semantics) —
    * generic Column formulation, kept for arbitrary element types.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** Exact Jaccard over pre-hashed shingle sets — the native
    * sort-merge kernel (one compiled loop per candidate pair; the
    * interpreted array_intersect/array_union verify dominated the
    * near-dup queries).
    */
  def jaccardHashes(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Signatures.jaccard_longs(a, b)

  /** Near-duplicate pairs by MinHash LSH with exact-Jaccard verification.
    *
    * Plan shape (scales linearly in documents):
    *   1. map: shingles → hash → k-min signature → b band keys per doc
    *   2. shuffle 1: self-join on (band, bandSig) → candidate pairs
    *   3. shuffle 2: re-attach shingle-hash sets, exact Jaccard, filter ≥ τ
    *
    * Banding parameters (k=64, b=16, r=4) give miss probability
    * (1−s⁴)¹⁶ ≈ 3·10⁻¹⁸ at s=0.98 — deterministic in practice, so the
    * output equals brute-force Jaccard ≥ τ (which is the oracle).
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    val rows = numHashes / bands
    // deliberately NOT cached: the hashed-shingle frame feeds three
    // branches, and recomputing a codegen'd hash projection per branch
    // is the scale-correct trade — a stateless lazy plan keeps full
    // lineage fault tolerance, leaks nothing into a shared session,
    // and at 100 TB the shingle set would never fit a cache anyway
    // (round-2 shipped cache()+eager checkpoint here; both reverted).
    val hashed = hashedShingles(df, idCol, textCol, shingleN)
    val sig = hashed.select(col("doc_id"),
      minhashSignatureFromHashes(col("shh"), numHashes).as("sig"))
    // Hot-bucket cap: a (band, bandsig) bucket of B members yields
    // B²/2 candidate pairs, so one degenerate bucket (boilerplate
    // shingles, near-constant docs) is a quadratic straggler at scale.
    // Buckets over `maxBucket` are dropped from candidate generation —
    // a documented recall bound, not silent: each surviving pair is
    // still exact-Jaccard verified, and a pair lost here is one whose
    // EVERY matching band was degenerate. The count runs in the same
    // (band, bandsig) exchange the self-join needs anyway.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bandsig"))
    val banded = sig.select(
      col("doc_id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          slice(col("sig"), b * rows + 1, lit(rows)))).as(Seq("band", "bandsig")))
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandsig") === col("b.bandsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(hashed.select(col("doc_id").as("i"), col("shh").as("sh_i")), "i")
      .join(hashed.select(col("doc_id").as("j"), col("shh").as("sh_j")), "j")
      .withColumn("jac", jaccardHashes(col("sh_i"), col("sh_j")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** [[minhashLsh]]'s banded chain with ENGINE-PORTABLE signatures and
    * a REDUCED width — the sf1-oracle twin of the q19 family (round-14
    * item 2). The production chain's XXH64 signatures can't be
    * replayed by a SQL oracle, so at the gate SFs its oracle is the
    * brute-force Jaccard join (valid because k=64/b=16 makes banding
    * recall 1 in practice) — which is O(N²) in DuckDB and infeasible
    * at sf1. This twin runs the SAME chain shape — distinct shingles →
    * per-permutation min-hash → contiguous bands → (band, bandsig)
    * self-join under the hot-bucket cap → exact-Jaccard verify — with
    * the q100/q150 exact-contract hash discipline: permutation k of a
    * shingle is the first 16 hex chars of md5(shingle ∥ "#k"), the
    * component min is the LEXICOGRAPHIC min over those fixed-width hex
    * strings (identical to the unsigned-64 order), and the band key is
    * the '|'-join of the slice. At numPerms=16/bands=4, banding recall
    * is deliberately < 1 — the POINT is that the oracle replays the
    * whole chain INCLUDING the misses, candidate-bounded instead of
    * all-pairs, which is what makes the family verifiable at 50k docs.
    *
    * Scale shape is [[minhashLsh]]'s verbatim (map-side signatures,
    * two candidate-bounded shuffles); the md5-per-(shingle, perm)
    * signature is interpreted and ~4× the XXH64 kernel's cost, which
    * is the documented price of portability — the production path
    * stays [[minhashLsh]].
    */
  def minhashLshPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    require(numPerms % bands == 0, s"bands $bands must divide perms $numPerms")
    val rows = numPerms / bands
    val shingleStrs = {
      val w = split(col(textCol), " ")
      when(size(w) < shingleN, array().cast("array<string>"))
        .otherwise(array_distinct(transform(sequence(lit(0), size(w) - shingleN),
          i => concat_ws(" ", slice(w, i + 1, lit(shingleN))))))
    }
    // §3.3 materialization: the shingle-STRING sets feed the signature
    // pass and both exact-Jaccard verify sides; re-deriving the string
    // arrays per branch was the portable chain's hidden double work
    val sh = Exec.materializeToTemp(
      df.select(col(idCol).as("doc_id"), shingleStrs.as("__sh"))
        .filter(size(col("__sh")) > 0), "mh16")
    val sig = sh.select(col("doc_id"),
      array((0 until numPerms).map { k =>
        array_min(transform(col("__sh"),
          s => substring(md5(concat(s, lit("#" + k))), 1, 16)))
      }: _*).as("sig"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bandsig"))
    val banded = sig.select(
      col("doc_id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          array_join(slice(col("sig"), b * rows + 1, lit(rows)), "|")))
        .as(Seq("band", "bandsig")))
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandsig") === col("b.bandsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("i"), col("__sh").as("sh_i")), "i")
      .join(sh.select(col("doc_id").as("j"), col("__sh").as("sh_j")), "j")
      .withColumn("jac",
        size(array_intersect(col("sh_i"), col("sh_j"))).cast("double") /
          size(array_union(col("sh_i"), col("sh_j"))).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** [[nearDupClusters]] over the PORTABLE reduced-width chain — the
    * sf1-oracle twin of the cluster family (q49/q110/q116/q131):
    * [[minhashLshPortable]] pairs closed under the same alternating-
    * star connected components, every document labeled with rep and
    * size. Verifies the pair→CC→label machinery at a scale where the
    * production chain's brute-force oracle can't follow.
    */
  def nearDupClustersPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashLshPortable(df, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val cc = connectedComponents(pairs.select(col("i"), col("j")))
    labelClusters(df.select(col(idCol).as("doc_id")), "doc_id", cc)
  }

  /** Incremental dedup — an INCOMING batch LSH-joined against an
    * EXISTING corpus index: the daily-crawl shape, where re-shingling
    * and self-joining the whole corpus per increment (q19 on the
    * union) would be corpus-sized work for batch-sized news. Both
    * sides band exactly as [[minhashLsh]] (same k/b/r, so the same
    * (1−s^r)^b miss bound and the same brute-force oracle), but the
    * join is CROSS-frame only: no incoming×incoming or index×index
    * pairs, and the quadratic hot-bucket guard caps the INDEX side
    * (the corpus-sized one — a degenerate boilerplate bucket there
    * would pay batch×bucket pairs per increment). Exact-Jaccard
    * verification runs against the two frames' own shingle sets, so
    * every emitted (i=incoming, j=index, jac) is true Jaccard ≥ τ —
    * the rows an ingest pipeline drops (or routes to supersede)
    * before appending the batch. At 100 TB the index side's
    * signatures are computed once per increment from the stored
    * corpus — or, in a productionized layout, read back from a
    * persisted signature table; either way the exchanges are keyed on
    * (band, bandsig) and the batch side stays small.
    */
  def incrementalDedup(
      incoming: DataFrame,
      index: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucket: Int = 100000): DataFrame = {
    val rows = numHashes / bands
    val hin = hashedShingles(incoming, idCol, textCol, shingleN)
    val hix = hashedShingles(index, idCol, textCol, shingleN)
    def banded(h: DataFrame): DataFrame = h
      .select(col("doc_id"),
        minhashSignatureFromHashes(col("shh"), numHashes).as("sig"))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          slice(col("sig"), b * rows + 1, lit(rows)))).as(Seq("band", "bandsig")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bandsig"))
    val bx = banded(hix)
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
    val cand = banded(hin).as("a")
      .join(bx.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandsig") === col("b.bandsig"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(hin.select(col("doc_id").as("i"), col("shh").as("sh_i")), "i")
      .join(hix.select(col("doc_id").as("j"), col("shh").as("sh_j")), "j")
      .withColumn("jac", jaccardHashes(col("sh_i"), col("sh_j")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** Benchmark-contamination check: documents sharing at least one word
    * n-gram with a benchmark set (the standard eval-leak scan before
    * training). Shingles are hashed once natively; the benchmark side
    * collapses to DISTINCT shingle hashes (small — benchmark suites are
    * tiny next to the corpus) and the corpus side semi-joins against it
    * broadcast, so the scan stays map-side at any corpus size. Returns
    * (doc_id, n_shared) for contaminated documents only.
    */
  def contamination(
      df: DataFrame,
      idCol: String,
      textCol: String,
      benchPredicate: Column,
      shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"), benchPredicate.as("is_bench"),
      explode(org.apache.spark.sql.graft.Signatures
        .shingle_hashes(split(col(textCol), " "), shingleN)).as("h"))
    val bench = sh.filter(col("is_bench")).select(col("h")).distinct()
    sh.filter(!col("is_bench"))
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
  }

  /** Per-source contamination attribution: for each source, how many of
    * its (non-bench) documents share at least `minShared` distinct
    * n-grams with the benchmark slice, and the rate — the WHICH-crawl-
    * leaks-the-benchmark readout that turns the corpus-wide q42 scan
    * into a curation decision (drop or re-filter the leaking source).
    * Rides [[contamination]]'s broadcast semi-join verbatim; the
    * attribution is one id-keyed join + a source-keyed aggregation,
    * nothing text-sized on any exchange.
    */
  def contaminationBySource(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      benchPredicate: Column,
      shingleN: Int = 3,
      minShared: Long = 1L): DataFrame = {
    val c = contamination(df, idCol, textCol, benchPredicate, shingleN)
    val hit = coalesce(col("n_shared"), lit(0L)) >= minShared
    df.filter(!benchPredicate)
      .select(col(idCol).as("doc_id"), col(sourceCol).as("source"))
      .join(c, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(hit, 1L).otherwise(0L)).as("n_contaminated"),
        round(avg(when(hit, 1.0).otherwise(0.0)), 6).as("contam_rate"))
      .orderBy(col("source"))
  }

  /** Dedup-savings summary: the headline what-does-dedup-buy-us number
    * — total documents, near-dup clusters (= documents that would
    * remain after keeping one per cluster), documents dropped, and the
    * drop fraction, in ONE row. The readout a curation run reports
    * before committing a threshold (pair- and cluster-level detail
    * lives in q49/q101/q110; this is their executive summary). Rides
    * the LSH+CC labels; the summary is a two-value aggregation.
    */
  def dedupSavings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashLsh(df, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val cc = connectedComponents(pairs.select(col("i"), col("j")))
      .withColumnRenamed("node", "doc_id")
    df.select(col(idCol).as("doc_id")).join(cc, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("rep"), col("doc_id")))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster")).as("n_clusters"))
      .select(col("n_docs"), col("n_clusters"),
        (col("n_docs") - col("n_clusters")).as("n_dropped"),
        round((col("n_docs") - col("n_clusters")).cast("double") / col("n_docs"), 6)
          .as("drop_frac"))
  }

  /** Bloom-gated contamination scan — [[contamination]]'s exact
    * semantics behind a sketch prefilter, for when the reference
    * n-gram set is too large to broadcast exactly (the
    * decontamination regime against a big held-out suite or a whole
    * second corpus). The bench side folds into ONE compact Bloom blob
    * (bits sized from the measured distinct count and `fpp`); the
    * corpus side probes the blob as a literal — a map-side filter, no
    * exchange — so only Bloom HITS (true matches + an fpp-sized
    * trickle of false positives) ever reach the exact verification
    * join that removes the false positives. Output is therefore
    * EXACTLY [[contamination]]'s (doc_id, n_shared) — probabilistic
    * work, verified output, the minhashLsh pattern — which is also
    * why the same oracle gates it. The verify join carries no
    * broadcast hint on purpose: at test scale AQE broadcasts it, at
    * reference-set scale it degrades to a shuffle join over the
    * already-tiny candidate set instead of a corpus-sized exchange.
    */
  def bloomContamination(
      df: DataFrame,
      idCol: String,
      textCol: String,
      benchPredicate: Column,
      shingleN: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graft.Sketches
    val sh = df.select(col(idCol).as("doc_id"), benchPredicate.as("is_bench"),
      explode(org.apache.spark.sql.graft.Signatures
        .shingle_hashes(split(col(textCol), " "), shingleN)).as("h"))
    val bench = sh.filter(col("is_bench")).select(col("h")).distinct()
    // size the sketch from the measured reference cardinality: the
    // count is one aggregation over the (small) bench side, and the
    // optimal bit count for a target fpp is -n·ln(p)/ln²2
    val nBench = math.max(bench.count(), 1L)
    val numBits = math.max(64L,
      math.ceil(-(nBench * math.log(fpp)) / (math.log(2) * math.log(2))).toLong)
    val blobRow = bench
      .agg(Sketches.bloom_filter_agg(col("h"), nBench, numBits).as("bf"))
      .head()
    val corpus = sh.filter(!col("is_bench"))
    val cand =
      if (blobRow.isNullAt(0)) corpus.filter(lit(false)) // empty bench set
      else corpus.filter(
        Sketches.might_contain(lit(blobRow.getAs[Array[Byte]](0)), col("h")))
    cand.join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
  }

  /** Cross-source leakage scan — near-duplicate pairs whose two
    * documents come from DIFFERENT sources: the train/test-split (or
    * crawl-domain) leakage sweep a corpus build runs before mixing
    * sources. Pair generation is [[minhashLsh]] verbatim (banded
    * candidates, exact-Jaccard verification, same τ recall argument),
    * so this inherits the scale path; the source labels are attached
    * AFTER pairing with two id-keyed joins against the narrow
    * (id, source) projection — the pair set is near-dup-rate-sized and
    * only (id, 2 small strings) rides those exchanges, never text.
    * Same-source near-dups (ordinary intra-source duplication, q19's
    * business) are filtered out; what remains is exactly the pair a
    * split audit must act on. Returns (i, j, src_i, src_j, jac).
    */
  def crossSourceLeakage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashLsh(df, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val src = df.select(col(idCol).as("__sid"), col(srcCol).as("__src"))
    pairs
      .join(src, col("i") === col("__sid"))
      .withColumnRenamed("__src", "src_i").drop("__sid")
      .join(src, col("j") === col("__sid"))
      .withColumnRenamed("__src", "src_j").drop("__sid")
      .filter(col("src_i") =!= col("src_j"))
      .select(col("i"), col("j"), col("src_i"), col("src_j"), col("jac"))
  }

  /** EXACT n-gram Jaccard similarity join via inverted-index posting
    * lists — the exact counterpart to minhashLsh: instead of banding a
    * sketch, explode each document's distinct shingle hashes, group the
    * corpus by shingle (posting lists), and pair documents within each
    * posting list. Every candidate pair is then verified with the
    * exact sorted-merge Jaccard kernel over the two FULL hashed-shingle
    * sets, so NO candidate is ever verified against raw text, every
    * emitted `jac` is the true Jaccard, and the result equals
    * brute-force Jaccard ≥ τ exactly (no banding miss probability) —
    * use it when the dedup policy must be auditable; use minhashLsh
    * when τ is high and corpus-scale wins matter.
    *
    * Plan shape: one exchange on shingle hash (global document
    * frequencies), one exchange on doc id (per-document frequency-order
    * ranking → prefix selection), one exchange on prefix-shingle hash
    * (pairing — the cap window reuses the same partitioning), one
    * exchange on (i, j) for candidate dedup, two id-keyed joins to
    * fetch the shingle sets for the verification kernel
    * (candidate-set-sized, not corpus-sized).
    *
    * The primary quadratic defense is PPJoin PREFIX FILTERING (Xiao et
    * al., WWW'08), which is EXACT: order every document's shingles by
    * ascending global document frequency (ties by hash — one canonical
    * total order), and generate candidates only from each document's
    * first n − ⌈τ·n⌉ + 1 shingles. Any pair with jac ≥ τ must share at
    * least one PREFIX shingle on both sides (overlap ≥ τ·max(n_i, n_j)
    * exceeds what the non-prefix suffix can supply), so recall is 1 by
    * theorem while candidate generation runs over the RAREST-first
    * posting lists — exactly the lists a hot vocabulary cannot
    * dominate. The length filter (min ≥ τ·max) prunes lopsided pairs
    * inside the candidate join. `maxPosting` survives as a last-resort
    * straggler bound on the PREFIX posting lists only — with
    * rarest-first prefixes it can bite only a corpus whose documents
    * are near-identical at scale (then every list is hot), where a
    * pair lost to the cap shares nothing but degenerate boilerplate.
    */
  /** @param pairPredicate optional predicate over the two candidate
    *   doc ids, pushed INTO the candidate self-join. Exactness is
    *   preserved for the restricted pair population: the output equals
    *   the unrestricted join filtered by the same predicate
    *   (spec-pinned) — but pairs failing the predicate are never
    *   materialized, so the candidate stream, its distinct() exchange,
    *   and the verify joins all shrink by the predicate's selectivity.
    *   The leak-repair caller passes split(i) ≠ split(j): only ~34% of
    *   an 80/10/10-split corpus's pairs are cross-split, and the
    *   same-split 66% were ALL being generated, deduped, and verified
    *   just to be dropped by the downstream filter (the measured sf10
    *   leak-stage disk death: >76 GB of candidate shuffle).
    * @param candStage optional parquet path: materialize the CANDIDATE
    *   id-pair set (two longs per row — megabytes where the shuffles
    *   behind it are tens of GB) at a job boundary before verification.
    *   The L159 staging discipline pushed INTO the operator: candidate
    *   generation (posting explode → freq join → prefix window → pair
    *   join → distinct) and verification (two array-carrying id joins)
    *   are the two disk-heavy phases, and in one lineage their shuffle
    *   files are LIVE SIMULTANEOUSLY — measured 93 GB at sf10-skew,
    *   over this box's disk even after the predicate pushdown. Staged,
    *   the candidate-gen shuffle is reclaimed before verify's
    *   exchanges start; peak = max(phase), not sum. Output identical
    *   (pure materialization — spec-pinned).
    */
  def ngramJaccardJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxPosting: Int = 100000,
      pairPredicate: Option[(Column, Column) => Column] = None,
      candStage: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT materialized: an A/B of a §3.3 temp-parquet here read 1.04×
    // on q53 and 1.5–2.2× on the light callers (q100/q101) — exchange
    // reuse already dedupes the repeated posting subtrees, so the
    // eager write is pure overhead at every measured size
    val hashed = hashedShingles(df, idCol, textCol, shingleN)
    val posts = hashed.select(col("doc_id"), size(col("shh")).as("n"),
      explode(col("shh")).as("h"))
    // global canonical order key: (document frequency asc, hash asc).
    // Computed as a partial-aggregated count + shuffle-hash join, NOT a
    // count-over-window: a window partitioned by `h` full-sorts the
    // entire exploded posting frame inside one exchange (measured at
    // sf10: ~10⁸ rows through the sorter, the spill that dominated the
    // leak-repair stage's disk), where the aggregate ships only partial
    // (h, count) rows and the hash join never sorts the posting side
    val freq = posts.groupBy(col("h")).agg(count(lit(1)).as("f"))
    val withFreq = posts.join(freq.hint("shuffle_hash"), "h")
    // PPJoin prefix: the first n − ⌈τ·n⌉ + 1 shingles in global order.
    // The ε guard keeps a float product that lands a hair ABOVE the
    // exact τ·n from shortening the prefix below the theorem's length
    // (too long is a perf wobble; too short loses recall).
    val prefix = withFreq
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("f"), col("h"))))
      .filter(col("__rn") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("n"), col("h"))
    // last-resort straggler cap on the PREFIX posting lists — the same
    // aggregate-join shape as `freq` (sort-free, partial-aggregated)
    val capped = prefix
      .join(prefix.groupBy(col("h")).agg(count(lit(1)).as("__pn"))
        .hint("shuffle_hash"), "h")
      .filter(col("__pn") <= maxPosting)
      .drop("__pn")
    // Candidates only — prefix lists must NOT feed the intersection
    // count: verification always runs on the full shingle sets below,
    // so every emitted jac is the true Jaccard. The length filter
    // (min ≥ τ·max, ε-relaxed the safe direction) prunes pairs no
    // verify could pass.
    val basePred = col("a.h") === col("b.h") &&
      col("a.doc_id") < col("b.doc_id") &&
      least(col("a.n"), col("b.n")).cast("double") >=
        lit(threshold) * greatest(col("a.n"), col("b.n")) - lit(1e-9)
    val joinPred = pairPredicate.fold(basePred)(p =>
      basePred && p(col("a.doc_id"), col("b.doc_id")))
    val candLazy = capped.as("a")
      .join(capped.as("b"), joinPred)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    val cand = candStage match {
      case Some(p) => Exec.stageTo(candLazy, p)
      case None => candLazy
    }
    cand
      .join(hashed.select(col("doc_id").as("i"), col("shh").as("__shh_i")), "i")
      .join(hashed.select(col("doc_id").as("j"), col("shh").as("__shh_j")), "j")
      .withColumn("jac", jaccardHashes(col("__shh_i"), col("__shh_j")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (transitively: if A~B and
    * B~C, all three are one duplicate group even when A~C itself missed
    * the threshold). Returns (node, rep) for every node that appears in
    * an edge, rep = minimum node id of its component.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * standard shuffle-friendly CC for graphs that don't fit one machine.
    * Each round is two window-aggregate passes over the edge list;
    * convergence is O(log² n) rounds on adversarial chains and 2-3
    * rounds on real near-dup graphs (components are short-diameter
    * blobs). Per round the edge list only shrinks (stars point ever
    * lower), so the 100 TB cost profile is: rounds × shuffles of the
    * PAIR set — which LSH already bounded — never of the corpus.
    *
    * Materialization: the convergence loop iterates over edge sets
    * materialized in an [[Exec.scoped]] block (each round's frame
    * replaces the previous, which is released immediately) so the
    * expensive upstream plan — for near-dup clustering, the whole
    * MinHash-LSH pipeline — runs ONCE, not once per convergence probe;
    * each round's frame is rooted at its materialized blocks so round
    * R's logical plan is O(1) nodes instead of O(R) re-analyzed per
    * signature() action. The CONVERGED star edges are then written
    * once to a JVM-temp parquet and the RETURNED frame reads them back
    * (guide §3.3 materialization) — this preserves the shared-session
    * contract (no persistent RDDs survive the call) WITHOUT the old
    * stateless-replay pattern, which re-executed the whole upstream a
    * second time in every consumption of the result (measured: the
    * CC-consumer family q110/q116/q185 ran 0.23–0.79× after the swap).
    */
  /** @param maxEdges fail-fast bound on the input pair set, checked in
    *   the count the convergence signature already computes (no extra
    *   job). CC shuffles the edge set ~3× per round, so a pair source
    *   that quietly went quadratic (e.g. a cosine threshold inside a
    *   continuum) turns the cluster step into the corpus bottleneck —
    *   the same discipline as `maxBucket`/`maxPosting`, except CC
    *   cannot drop edges without changing the output, so it REFUSES
    *   loudly instead and the caller picks a sparser pair source
    *   (LSH, higher τ).
    */
  def connectedComponents(
      pairs: DataFrame, maxRounds: Int = 25,
      maxEdges: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // normalize to (u < v), drop self-loops and duplicates
    val edges0 = pairs.toDF("i", "j").filter(col("i") =!= col("j"))
      .select(least(col("i"), col("j")).as("u"),
        greatest(col("i"), col("j")).as("v"))
      .distinct()

    // One alternating large-star/small-star round (Kiveris et al.).
    // CRITICAL plan-shape constraint: the input frame is referenced
    // EXACTLY ONCE (both fan-outs go through explode, not union) so a
    // round's plan holds one copy of its input — the union formulation
    // duplicated the input subtree ~4× per round, and Catalyst choked
    // exponentially on a chained (un-rebound) plan for any graph
    // needing more than a few rounds (a 300-node path hung the
    // analyzer before this was reshaped).
    def oneRound(edges: DataFrame): DataFrame = {
      // large-star: for each node u (both directions), m = min(Γ(u)∪{u});
      // connect every LARGER neighbor to m
      val nbrs = edges.select(explode(array(
          struct(col("u").as("u"), col("v").as("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
      val wU = Window.partitionBy(col("u"))
      // no distinct here: duplicate edges are idempotent for both star
      // min-computations, and the small-star output below dedupes —
      // dropping it saves one full shuffle per round (the per-round
      // fixed cost dominates CC latency on short-round graphs)
      val large = nbrs
        .withColumn("m", least(col("u"), min(col("v")).over(wU)))
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: direct each edge (larger → smaller); for each center
      // c, m = min(Γ⁻(c) ∪ {c}); connect c and every smaller neighbor
      // to m. Emit (m→c) always and (m→n) when n ≠ m — one filtered
      // 2-element array explode, so `directed` is referenced once.
      val wC = Window.partitionBy(col("c"))
      val directed = large.select(col("v").as("c"), col("u").as("n")) // c > n
        .withColumn("m", min(col("n")).over(wC))
      directed.select(col("m"), explode(filter(array(
          struct(col("m").as("u"), col("c").as("v")),
          struct(col("m").as("u"), col("n").as("v"))),
          x => x.getField("v") =!= col("m"))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .distinct()
    }

    def signature(e: DataFrame): (Long, Long) = {
      // XOR-fold, not sum: order-independent over the distinct edge set
      // and immune to ANSI-mode long overflow (summing 64-bit hashes
      // overflows after a handful of edges under spark.sql.ansi.enabled)
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    // Convergence loop over scope rebinds: the upstream (LSH) runs once,
    // each round shuffles only the ever-shrinking PAIR set, and round R's
    // plan is O(1) nodes — un-rebound, every signature() re-analyzed the
    // whole round history and the pair source (round-18 profile: driver
    // in Catalyst, executors idle). The scope releases the live rounds on
    // return and on every error path (maxEdges, maxRounds, a failed job).
    var rounds = 0
    val edges = Exec.scoped { s =>
      var ck = s.rebind(edges0)
      var sig = signature(ck)
      require(sig._1 <= maxEdges,
        s"connectedComponents: ${sig._1} edges exceed maxEdges=$maxEdges — " +
          "the pair source has gone quadratic; use a sparser source " +
          "(LSH candidates, higher threshold) or raise the bound")
      var converged = false
      while (!converged && rounds < maxRounds) {
        val next = s.rebind(oneRound(ck))
        val nsig = signature(next)
        s.release(ck)
        ck = next
        converged = nsig == sig
        sig = nsig
        rounds += 1
      }
      require(converged, s"connectedComponents did not converge in $maxRounds rounds")
      // Materialize the CONVERGED star edges to a JVM-temp parquet and
      // return the read-back plan (guide §3.3): carries no block
      // dependency out of the scope, and replaces the old stateless
      // replay, which re-executed the ENTIRE upstream — pair generation
      // included — a second time in every consumption of the result.
      // The write is pair-set-sized (two longs per edge).
      Exec.materializeToTemp(ck, "cc")
    }
    // at the fixpoint every edge is (rep, member): stars centered at the
    // component minimum. Roots label themselves.
    edges.select(col("v").as("node"), col("u").as("rep"))
      .union(edges.select(col("u").as("node"), col("u").as("rep")))
      .groupBy(col("node")).agg(min(col("rep")).as("rep"))
  }

  /** Near-duplicate clusters: MinHash-LSH pairs → connected components →
    * every document labeled with its cluster representative (min doc id;
    * singletons are their own cluster) and the cluster size. This is the
    * actual dedup decision surface: keep `doc_id == cluster`, drop the
    * rest — or sample within big clusters for diversity.
    */
  def nearDupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val pairs = minhashLsh(df, idCol, textCol, shingleN = shingleN,
      threshold = threshold)
    val cc = connectedComponents(pairs.select(col("i"), col("j")))
    labelClusters(df.select(col(idCol).as("doc_id")), "doc_id", cc)
  }

  /** Duplicate-landscape histogram: cluster sizes from
    * [[nearDupClusters]] bucketed into exact INTEGER ranges (1, 2,
    * 3–4, 5–8, 9–16, 17+) with cluster count, doc mass, and doc-mass
    * fraction per bucket — the one-page readout a curation run reads
    * to decide whether its duplication is a long tail of pairs
    * (near-dup noise) or a head of giant boilerplate clusters
    * (template/mirror infestation, a different fix). Integer CASE
    * ranges, not floor(log2(sz)) — ln-ratio floats misbucket exact
    * powers of two in either engine. One k-cluster aggregate over the
    * cluster labels; output is 6-row bounded at any corpus size.
    */
  def clusterSizeHistogram(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val per = nearDupClusters(df, idCol, textCol)
      .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
    val tot = df.agg(count(lit(1)).as("total"))
    val ord = when(col("sz") === 1, 0).when(col("sz") === 2, 1)
      .when(col("sz") <= 4, 2).when(col("sz") <= 8, 3)
      .when(col("sz") <= 16, 4).otherwise(5)
    val label = when(col("sz") === 1, "1").when(col("sz") === 2, "2")
      .when(col("sz") <= 4, "3-4").when(col("sz") <= 8, "5-8")
      .when(col("sz") <= 16, "9-16").otherwise("17+")
    per.withColumn("bucket_ord", ord.cast("long"))
      .withColumn("bucket", label)
      .groupBy(col("bucket_ord"), col("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
      .crossJoin(broadcast(tot))
      .select(col("bucket_ord"), col("bucket"), col("n_clusters"),
        col("n_docs"),
        round(col("n_docs").cast("double") / col("total"), 6)
          .as("doc_frac"))
      .orderBy(col("bucket_ord"))
  }

  /** Label every id with its connected-component representative and
    * component size: ids LEFT JOIN cc (nodes in no edge stay their own
    * singleton cluster), n_members via a cluster-partitioned window
    * count. The one place label/tie/size semantics live — shared by
    * text near-dup clustering above and embedding dedup clustering
    * (`Similarity.embeddingDedupClusters`) so the two cannot diverge.
    */
  def labelClusters(ids: DataFrame, idCol: String, cc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ids.select(col(idCol))
      .join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("rep"), col(idCol)).as("cluster"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster"))))
  }

  /** Boilerplate detector — the corpus-level readout of exact
    * substring-level duplication (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", 2021, which dedups repeated
    * token SPANS rather than whole documents): token n-gram windows
    * with repeats (bag semantics — repeats are the signal), grouped
    * corpus-wide; windows appearing in ≥ minDf distinct documents
    * reported largest-occurrence-first. One exchange keyed by the
    * window (map-side partial agg collapses within-partition repeats)
    * + a TakeOrdered top-k — no full sort, no driver materialization
    * beyond k rows. The group key is the window STRING, same trade as
    * vocabTopK/tfIdfTopK: the readout must carry the text anyway, and
    * ties at the top-k boundary break on it identically in both
    * engines. The per-document removal SIGNAL (repeatedSpanFrac
    * below) is the hash-keyed, string-free variant.
    */
  def repeatedNgrams(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDf: Int = 2, k: Int = 50): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"),
        explode(TextOps.tokenNgramsOfTokens(col("__w"), n)).as("gram"))
    // two-level aggregation instead of countDistinct: the distinct
    // aggregate plans an Expand (2 rows per input) through the gram
    // exchange; grouping (gram, doc_id) first then re-aggregating gets
    // the same n_docs/n_occur with half the shuffled rows
    grams.groupBy(col("gram"), col("doc_id")).agg(count(lit(1)).as("__c"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_occur"))
      .filter(col("n_docs") >= minDf)
      .orderBy(col("n_occur").desc, col("gram"))
      .limit(k)
  }

  /** Per-document repeated-span fraction: of a document's token n-gram
    * windows, the share that also appear in ≥ minDf distinct documents
    * — the document-level removal/trim signal of exact substring dedup
    * (a high fraction means the document is mostly corpus boilerplate
    * even when no whole-document near-dup fires). Documents shorter
    * than n tokens have no windows and drop out, on both sides.
    *
    * Scale shape: windows are hashed map-side (xxhash64 — the window
    * string never rides an exchange, asserted in PlanSpec) and the
    * plan is two hash-keyed exchanges: (hash) for the distinct-doc
    * frequency, (doc_id) for the per-document fraction. Both
    * partial-aggregate; output values are hash-function-independent
    * (grouping by hash ≡ grouping by string up to a ~2⁻⁶⁴ collision,
    * far below the 6-dp rounding — the jaccardHashes argument), which
    * is what lets the string-keyed DuckDB oracle check it exactly.
    */
  def repeatedSpanFrac(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDf: Int = 2): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"),
        explode(TextOps.tokenNgramsOfTokens(col("__w"), n)).as("__g"))
      .select(col("doc_id"), xxhash64(col("__g")).as("gh"))
    // one pass over the gram stream: collapse to (gh, doc_id, count)
    // first — document frequency is then a re-aggregation of that
    // already-shrunk frame and the per-document fraction a count-
    // weighted ratio over it, so the explode output rides exactly one
    // exchange (the uncollapsed two-branch formulation generated the
    // grams twice and shuffled the raw stream for a distinct)
    val perDoc = grams.groupBy(col("gh"), col("doc_id"))
      .agg(count(lit(1)).as("__c"))
    val dfreq = perDoc.groupBy(col("gh")).agg(count(lit(1)).as("__nd"))
    perDoc.join(dfreq, "gh")
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_windows"),
        round(
          sum(when(col("__nd") >= minDf, col("__c")).otherwise(lit(0L)))
            .cast("double") / sum(col("__c")).cast("double"), 6)
          .as("rep_frac"))
  }

  /** Repeated-span REMOVAL — the edit step the q70/q71 readouts exist
    * to drive (the boilerplate-strip half of exact substring dedup,
    * Lee et al. 2021): every token n-gram window appearing in ≥ minDf
    * DISTINCT documents is corpus boilerplate, and every token any
    * such window covers is cut from every document; what remains is
    * re-joined into the cleaned text. Removal is everywhere-at-once
    * (a boilerplate strip), not keep-one-occurrence — deterministic,
    * order-free, and exactly mirrorable in SQL.
    *
    * Scale shape: windows hash map-side (xxhash64 — no window string
    * on an exchange, the q71 discipline); document frequency is the
    * same two-level (gh, doc_id)→gh aggregation as repeatedSpanFrac;
    * hot window POSITIONS come back through one gh-keyed join, expand
    * to covered token indices, and collapse to one int-array row per
    * affected document — the ONLY thing the doc-keyed exchange
    * carries. The cleaned text is rebuilt map-side next to the
    * original text via an index-aware filter over the token array
    * (per-token membership probe against the covered set; O(L·|cov|)
    * per doc, with |cov| ≤ L). Documents with no hot window skip the
    * rebuild entirely via the left join's null arm.
    */
  def removeRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDf: Int = 2): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("__w"))
    val grams = docs
      .select(col("doc_id"),
        posexplode(TextOps.tokenNgramsOfTokens(col("__w"), n)).as(Seq("pos", "__g")))
      .select(col("doc_id"), col("pos"), xxhash64(col("__g")).as("gh"))
    val dfreq = grams.groupBy(col("gh"), col("doc_id"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("gh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDf)
    val cov = grams.join(dfreq, "gh")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("__cov"))
    docs.join(cov, Seq("doc_id"), "left")
      .withColumn("__kept",
        when(col("__cov").isNull, col("__w"))
          .otherwise(filter(col("__w"),
            (t, i) => !exists(col("__cov"), c => c === i))))
      .select(col("doc_id"),
        size(col("__w")).as("n_tokens"),
        (size(col("__w")) - size(col("__kept"))).as("n_removed"),
        concat_ws(" ", col("__kept")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit SimHash from pre-hashed tokens: bit b of the signature is
    * the sign of Σ_tokens (bit b of tokenHash ? +1 : −1). Returned as 4
    * 16-bit chunk values — the natural shape for chunk-bucketed search.
    * Native expression: a 64-wide vote fold per token is exactly the
    * kind of loop interpreted lambdas are worst at.
    */
  def simhashChunksFromHashes(tokenHashes: Column, nChunks: Int = 4): Column =
    org.apache.spark.sql.graft.Signatures.simhash_chunks(tokenHashes, nChunks)

  def simhashChunks(text: Column, nChunks: Int = 4): Column =
    simhashChunksFromHashes(
      org.apache.spark.sql.graft.Signatures.token_hashes(split(text, " ")), nChunks)

  /** Hamming distance between two chunked simhash signatures — the
    * codegen'd native expression (the interpreted
    * aggregate+zip_with+bit_count formulation cost ~µs per candidate
    * pair inside the join condition).
    */
  def hammingChunks(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Signatures.hamming_distance(a, b)

  /** Near-duplicate pairs by SimHash chunk bucketing + exact-Jaccard
    * verification — the canonical Manku/Google configuration: 64-bit
    * signature, 4 chunks of 16 bits, candidate radius hamming ≤ 3.
    * Pigeonhole makes chunk-equality buckets a COMPLETE candidate
    * generator up to hamming nChunks−1, so the defaults give an exact
    * contract: every pair within hamming ≤ 3 is generated, then
    * Jaccard-verified. 16-bit chunk values also keep buckets sparse
    * (measured on the driver corpus: max bucket 179 and 0.24M bucket
    * pairs vs 1,446 and 6.6M for 8-bit chunks — value width, not count,
    * controls the quadratic bucket blowup). Both the hamming prune and
    * the Jaccard verify are native codegen kernels.
    */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7,
      nChunks: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    val base = df.select(
      col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.Signatures
        .shingle_hashes(split(col(textCol), " "), shingleN).as("shh"),
      simhashChunks(col(textCol), nChunks).as("sig"))
      .filter(size(col("shh")) > 0) // multi-branch, uncached on purpose — see minhashLsh
    val buckets = base.select(col("doc_id"), col("sig"),
      posexplode(col("sig")).as(Seq("chunk", "chunkval")))
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunkval") === col("b.chunkval") &&
          col("a.doc_id") < col("b.doc_id") &&
          hammingChunks(col("a.sig"), col("b.sig")) <= maxHamming)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("i"), col("shh").as("sh_i")), "i")
      .join(base.select(col("doc_id").as("j"), col("shh").as("sh_j")), "j")
      .withColumn("jac", jaccardHashes(col("sh_i"), col("sh_j")))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))
  }

  /** md5-derived 64-bit token hash: the first 16 hex chars of md5(token)
    * read big-endian. Built from two 32-bit `conv` halves combined with
    * shift/or (bitwise, so no ANSI overflow on values above
    * Long.MaxValue) — the same engine-portable hashing family as the
    * q86/q93 md5-derived signs/buckets, reproducible verbatim in any
    * SQL engine with md5, unlike xxhash64.
    */
  def md5TokenHash(t: Column): Column =
    shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long"))

  /** Exact SimHash Hamming-pair join: every document pair whose 64-bit
    * SimHash signatures (from md5-derived token hashes, one vote per
    * token OCCURRENCE, bit = votes > 0) differ in at most `maxHamming`
    * bits. With nChunks = 4 and maxHamming = 3 the pigeonhole principle
    * makes the chunk-equality bucket join a COMPLETE candidate
    * generator — so unlike [[simhashNearDup]] (whose Jaccard floor is
    * recall-probabilistic and therefore rows-only at the driver gate)
    * this operator's output is exactly reproducible by a brute-force
    * oracle. At scale the cost profile is the q20 one: 4 postings per
    * doc keyed by 16-bit chunk values, signature-only shuffle (16 bytes
    * + ids per posting, text never leaves the scan), bucket
    * self-join quadratic only in per-bucket occupancy.
    */
  def simhashHammingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nChunks: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < nChunks, "pigeonhole completeness needs maxHamming < nChunks")
    val base = df.select(
      col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.Signatures.simhash_chunks(
        transform(split(col(textCol), " "), md5TokenHash _), nChunks).as("sig"))
    val buckets = base.select(col("doc_id"), col("sig"),
      posexplode(col("sig")).as(Seq("chunk", "chunkval")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunkval") === col("b.chunkval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        hammingChunks(col("a.sig"), col("b.sig")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The billion-document scale swap for [[simhashHammingPairs]]
    * (Manku et al., WWW'07 §3's multi-table scheme): the 4×16-bit
    * single-chunk bucketing grows per-bucket occupancy as N/65k, so at
    * billions of documents each (chunk, value) bucket self-join goes
    * quadratic. Splitting the SAME 64-bit signature into more, smaller
    * chunks and bucketing on every (nChunks − maxHamming)-sized chunk
    * COMBINATION keeps the pigeonhole guarantee — ≤ maxHamming bit
    * errors corrupt ≤ maxHamming chunks, so some keep-subset agrees
    * exactly — while widening the bucket key: with the 8×8-bit default,
    * keys carry 40 signature bits (occupancy N/2⁴⁰) at the price of
    * C(8,5) = 56 postings per document instead of 4. Output is
    * IDENTICAL to simhashHammingPairs — the signature bit vector and
    * the chunk-concatenated hamming are chunking-invariant — so the
    * same brute-force oracle gates both (and the swap is drop-in, the
    * q62→q78 pattern).
    */
  def simhashHammingPairsCombinatorial(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nChunks: Int = 8,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < nChunks, "pigeonhole completeness needs maxHamming < nChunks")
    val keep = nChunks - maxHamming
    val combos = (0 until nChunks).combinations(keep).map(_.toSeq).toSeq
    val base = df.select(
      col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.Signatures.simhash_chunks(
        transform(split(col(textCol), " "), md5TokenHash _), nChunks).as("sig"))
    val keys = base.select(col("doc_id"), col("sig"),
      explode(array(combos.zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("cid"),
          array(c.map(i => element_at(col("sig"), i + 1)): _*).as("vals"))
      }: _*)).as("k"))
    keys.as("a")
      .join(keys.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        hammingChunks(col("a.sig"), col("b.sig")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** MinHash estimator calibration: for every exact near-dup pair
    * (Jaccard ≥ threshold), the k-permutation MinHash ESTIMATE of that
    * Jaccard (fraction of agreeing signature components) next to the
    * exact value and the absolute error — the readout that tells you
    * whether k is large enough before you trust banding at corpus
    * scale.
    *
    * The signature is engine-portable by construction: permutation k of
    * a shingle is the first 16 hex chars of md5(shingle + "#" + k), and
    * the component minimum is taken over the HEX STRINGS — fixed-length
    * lowercase hex compares lexicographically exactly like the unsigned
    * 64-bit value it encodes, so both engines agree without any integer
    * conversion. Estimates are exact multiples of 1/k (exactly
    * representable doubles), so est/err round identically everywhere.
    *
    * Scale shape: signatures are one map-side fold per document (k·|sh|
    * md5 calls, no exchange); the pair set is [[ngramJaccardJoin]]'s
    * (prefix-filtered, recall 1 by the PPJoin theorem — banded LSH
    * would silently drop the boundary pairs a calibration exists to
    * measure), so this adds only a k·16-byte signature join onto the
    * exact pair engine's output.
    */
  def minhashCalibration(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.7,
      numPerms: Int = 16): DataFrame = {
    val shingleStrs = {
      val w = split(col(textCol), " ")
      when(size(w) < shingleN, array().cast("array<string>"))
        .otherwise(array_distinct(transform(sequence(lit(0), size(w) - shingleN),
          i => concat_ws(" ", slice(w, i + 1, lit(shingleN))))))
    }
    val sigs = df.select(col(idCol).as("doc_id"), shingleStrs.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("doc_id"),
        array((0 until numPerms).map { k =>
          array_min(transform(col("__sh"),
            s => substring(md5(concat(s, lit("#" + k))), 1, 16)))
        }: _*).as("sig"))
    // Pair source is the EXACT PPJoin engine, not banded LSH: banding's
    // recall at τ is probabilistic (1−(1−τ^r)^b < 1 on boundary pairs,
    // plus the hot-bucket cap), while the prefix-filter theorem gives
    // recall 1 — so the calibration covers every qualifying pair, which
    // is the whole point of a calibration (and what a brute-force
    // oracle checks). Same jac expression either way.
    val pairs = ngramJaccardJoin(df, idCol, textCol, shingleN,
      threshold = threshold)
    pairs
      .join(sigs.select(col("doc_id").as("i"), col("sig").as("__si")), "i")
      .join(sigs.select(col("doc_id").as("j"), col("sig").as("__sj")), "j")
      .withColumn("__agree",
        size(filter(zip_with(col("__si"), col("__sj"), (a, b) => a === b),
          x => x)))
      .select(col("i"), col("j"),
        round(col("jac"), 6).as("jac"),
        round(col("__agree").cast("double") / numPerms, 6).as("jac_est"),
        round(abs(col("__agree").cast("double") / numPerms - col("jac")), 6)
          .as("abs_err"))
      .orderBy(col("i"), col("j"))
  }

  /** Jaccard threshold sweep — the τ-tuning readout run BEFORE
    * committing a dedup threshold at corpus scale: for each candidate
    * threshold, how many near-dup pairs qualify and how many distinct
    * documents they touch. One pass of the exact PPJoin pair engine at
    * the LOWEST threshold, then a tiny thresholds×pairs re-aggregation —
    * the expensive pair generation is never repeated per τ. Thresholds
    * with no qualifying pairs still emit a zero row (the sweep's whole
    * point is seeing where the curve dies). n_docs avoids any
    * collect_list: pairs explode to (threshold, doc) and count-distinct,
    * so nothing pair-set-sized ever accumulates in one task.
    */
  def jaccardThresholdSweep(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = ngramJaccardJoin(df, idCol, textCol, shingleN,
      threshold = thresholds.min)
    val th = thresholds.toDF("threshold")
    val q = pairs
      .select(col("i"), col("j"), col("jac"),
        explode(typedlit(thresholds)).as("threshold"))
      .filter(col("jac") >= col("threshold"))
    val nPairs = q.groupBy(col("threshold")).agg(count(lit(1)).as("__np"))
    val nDocs = q.select(col("threshold"), explode(array(col("i"), col("j"))).as("__d"))
      .groupBy(col("threshold")).agg(countDistinct(col("__d")).as("__nd"))
    th.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("__np"), lit(0L)).as("n_pairs"),
        coalesce(col("__nd"), lit(0L)).as("n_docs"))
      .orderBy(col("threshold"))
  }

  /** Asymmetric near-containment pairs: ordered (i, j) with
    * |shingles(i) ∩ shingles(j)| / |shingles(i)| ≥ threshold — the
    * near-contained / quotation / superset-dup relation that symmetric
    * Jaccard (q19/q53) misses when one document swallows another.
    *
    * Scale shape: candidates come from a PREFIX-filtered posting join.
    * With overlap requirement t_i = ceil(τ·|sh_i|), a qualifying pair
    * must share a shingle within the first |sh_i| − t_i + 1 elements of
    * i's shingle list under ANY fixed total order (else the overlap is
    * ≤ t_i − 1) — we order by the shingle hash itself, so no global
    * document-frequency exchange is needed and recall stays exact. Only
    * the probe side is prefix-pruned (the containment denominator is
    * |sh_i|); the indexed side posts all shingles up to the
    * `maxPosting` straggler cap. The verify step
    * compares integers (5·inter ≥ 3·|sh_i| for τ = 0.6), so no float
    * threshold hazard. Hash-only shuffles throughout; text stays in the
    * scan. Sibling of the PPJoin Jaccard path (q53), which adds the
    * frequency-ordered prefix as a further (exchange-costing) prune.
    */
  /** @param maxPosting last-resort straggler cap on the INDEX posting
    *   lists (the probe side is already prefix-pruned): a corpus-hot
    *   shingle ("the end of" class) would otherwise make one join
    *   key's posting list corpus-sized — the exact straggler q53's
    *   prefix cap guards against. Dropping a hot index posting loses a
    *   pair only when EVERY probe-prefix shingle it shares is hot
    *   (each pair has prefixLen independent chances to survive), and
    *   the default bound is a no-op on honest data (DedupSpec proves
    *   cap-at-1 ≠ cap-at-default only via hot shingles).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      thresholdNum: Int = 3,
      thresholdDen: Int = 5,
      maxPosting: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(
      col(idCol).as("doc_id"),
      sort_array(array_distinct(org.apache.spark.sql.graft.Signatures
        .shingle_hashes(split(col(textCol), " "), shingleN))).as("sh"))
      .filter(size(col("sh")) > 0)
    val posts = base.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("h"))
    // Probe prefix in (document frequency asc, hash asc) GLOBAL order —
    // the q53 PPJoin discipline. The containment pigeonhole (|A∩B| ≥ t
    // ⇒ A's first n−t+1 elements under ANY fixed total order contain a
    // shared shingle) holds for every global order, so recall stays 1;
    // df-ascending is the order that keeps corpus-hot shingles OUT of
    // prefixes. The original hash-value order put a corpus-hot shingle
    // (present in 30% of a skewed crawl) into ~40% of probe prefixes,
    // each probing the full hot posting — a quadratic candidate blowup
    // the sf1-skew measurement clocked at >300 s; df-order runs it in
    // seconds with an identical verified output.
    val withFreq = posts
      .withColumn("f", count(lit(1)).over(Window.partitionBy(col("h"))))
    // t = ceil(num/den * n) computed in pure integers:
    // (num*n + den - 1) div den — no float threshold anywhere
    val probe = withFreq
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("f"), col("h"))))
      .filter(col("__rn") <= expr(
        s"n - ((n * $thresholdNum + ${thresholdDen - 1}) div $thresholdDen) + 1"))
      .select(col("doc_id"), col("h"))
    // straggler cap: the count window shares the pairing join's hash
    // partitioning (no extra exchange), mirroring the q53 prefix cap
    val index = posts.select(col("doc_id").as("j"), col("h"))
      .withColumn("__pn", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__pn") <= maxPosting)
      .drop("__pn")
    val cand = probe.as("a")
      .join(index, col("a.h") === index("h") && col("a.doc_id") =!= col("j"))
      .select(col("a.doc_id").as("i"), col("j"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("i"), col("sh").as("sh_i")), "i")
      .join(base.select(col("doc_id").as("j"), col("sh").as("sh_j")), "j")
      .select(col("i"), col("j"),
        size(array_intersect(col("sh_i"), col("sh_j"))).as("inter"),
        size(col("sh_i")).as("n_i"))
      .filter(col("inter") * lit(thresholdDen) >= col("n_i") * lit(thresholdNum))
      .select(col("i"), col("j"),
        round(col("inter").cast("double") / col("n_i"), 6).as("containment"))
  }

  /** Source-overlap matrix via k-minimum-values sketches (Bar-Yossef
    * et al. 2002; the KMV/bottom-k distinct sketch): per-source
    * bottom-k md5 shingle hashes estimate pairwise Jaccard between
    * whole SOURCE SHINGLE SETS — "how much of crawl A's content space
    * does crawl B share", the set-level complement of q131's
    * pair-level flows. The estimator is the standard KMV one: merge
    * two signatures, keep the k smallest of the union, and count how
    * many of those sit in both sides. Everything is engine-exact: the
    * signature is the k smallest DISTINCT hex hashes (a
    * source-partitioned window over (source, hash) rows — 16-byte
    * exchanges, shingle text never leaves the scan), and the estimate
    * is integer counting over 2k-bounded arrays, so the oracle
    * hash-matches the ESTIMATE itself.
    *
    * `audit` (default true, the oracle-gate configuration) adds the
    * jac_exact column — a corpus-wide shingle-level self-join that
    * exists to PROVE the estimate (the q95 exact-verify contract). The
    * shipped-pipeline path is `audit = false`: the k-hash signatures
    * alone — mergeable, constant-size, unionable across shards — whose
    * plan carries exactly ONE join (the |sources|²-bounded signature
    * pairing) and no shingle-level self-join anywhere (pinned by
    * PlanSpec).
    */
  def kmvSourceOverlap(
      df: DataFrame, idCol: String, textCol: String, srcCol: String,
      shingleN: Int = 3, k: Int = 128, audit: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh0 = df.select(col(srcCol).as("source"),
        explode(shingles(col(textCol), shingleN)).as("__s"))
      .select(col("source"), md5(col("__s")).as("h"))
      .distinct()
    // The AUDIT path references the distinct shingle-hash set FOUR
    // times (signature, both sides of the exact self-join, per-source
    // counts) — each reference re-ran the explode + md5 + distinct
    // exchange. Materialize it once (guide §3.3 write-and-read-back;
    // intra-invocation temp, no cache left in the session); the
    // estimate-only path references it once and keeps the lazy plan.
    val sh = if (audit) graft.operators.Exec.materializeToTemp(sh0, "kmv")
             else sh0
    val sig = sh
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("__rn") <= k)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("h"))).as("sig"),
        count(lit(1)).as("sig_n"))
    val est = sig.as("a").join(sig.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.sig").as("sa"), col("b.sig").as("sb"),
        least(col("a.sig_n"), col("b.sig_n"), lit(k)).as("__ku"))
      .select(col("src_a"), col("src_b"),
        round(size(filter(
          slice(array_sort(array_union(col("sa"), col("sb"))), lit(1), col("__ku")),
          x => array_contains(col("sa"), x) && array_contains(col("sb"), x)))
          .cast("double") / col("__ku"), 6).as("jac_est"))
    if (!audit) return est
    val cnt = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("__i"))
    est
      .join(inter, Seq("src_a", "src_b"), "left")
      .join(cnt.select(col("source").as("src_a"), col("n").as("__na")), "src_a")
      .join(cnt.select(col("source").as("src_b"), col("n").as("__nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("jac_est"),
        round(coalesce(col("__i"), lit(0L)).cast("double")
          / (col("__na") + col("__nb") - coalesce(col("__i"), lit(0L))), 6)
          .as("jac_exact"))
  }

  /** Corpus snapshot diff — the data-versioning readout between two
    * crawls/releases of the same corpus: per-id status
    * added/removed/changed/unchanged with doc and token counts. One
    * full outer join keyed by id carrying (id, 8-byte content hash,
    * token count) — text never rides the exchange, the exactDedup
    * phase-1 discipline; `changed` compares content hashes under the
    * documented q96/q98 collision envelope. Token counts come from
    * the side that HAS the document (new side for added/changed/
    * unchanged, old side for removed).
    */
  def corpusDiff(
      oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def proj(df: DataFrame, p: String) = df.select(
      col(idCol).as("doc_id"),
      xxhash64(col(textCol)).as(s"__h$p"),
      TextOps.tokenCount(col(textCol)).cast("long").as(s"__nt$p"))
    proj(oldDf, "o").join(proj(newDf, "n"), Seq("doc_id"), "outer")
      .select(col("doc_id"),
        when(col("__ho").isNull, "added")
          .when(col("__hn").isNull, "removed")
          .when(col("__ho") =!= col("__hn"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("__ntn"), col("__nto")).as("n_tok"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Cross-source duplicate-flow matrix: near-dup pairs (exact
    * n-gram-Jaccard join, recall 1 by the PPJoin prefix theorem — no
    * banding caveat in the contract) attributed to their
    * source-pair cell, (src_a ≤ src_b) ordered so within-source
    * duplication sits on the diagonal and mirror/syndication flows
    * off it — "which two crawls are copying each other" as one
    * dimension-bounded matrix. Rides the L4 machinery verbatim, then
    * two id-keyed joins against the (id, source) projection and a
    * sources²-bounded agg; mean jac per cell is a 6-dp
    * ascending-(i,j)-ordered fold so the oracle replays it exactly.
    */
  def dupFlowMatrix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val pairs = ngramJaccardJoin(df, idCol, textCol, shingleN, threshold)
    val srcs = df.select(col(idCol).as("__id"), col(srcCol).as("__src"))
    pairs
      .join(srcs.select(col("__id").as("i"), col("__src").as("__si")), "i")
      .join(srcs.select(col("__id").as("j"), col("__src").as("__sj")), "j")
      .select(least(col("__si"), col("__sj")).as("src_a"),
        greatest(col("__si"), col("__sj")).as("src_b"),
        col("i"), col("j"), col("jac"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        round(aggregate(transform(
          array_sort(collect_list(struct(col("i"), col("j"), col("jac")))),
          s => s.getField("jac")), lit(0.0), (a, x) => a + x)
          / count(lit(1)), 6).as("mean_jac"))
  }

  /** Canonical text form for normalization-insensitive dedup (the
    * C4/RefinedWeb cleanup step): lowercase, every non-alphanumeric
    * run → one space, whitespace collapsed, trimmed. Pure Column
    * expression — scan speed, composes with any dedup path.
    */
  def canonicalText(t: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(t), "[^a-z0-9 ]+", " "), " +", " "))

  /** Normalization-insensitive exact dedup: duplicate groups keyed by
    * the CANONICAL text — catches case/punctuation/whitespace variants
    * that byte-exact dedup (L1) misses, the standard first escalation
    * before paying MinHash. Hash-grouped like exactDedup phase 1: the
    * exchange carries (16 bytes + id) per doc, never text. n_variants
    * counts distinct RAW texts inside each group (variants > 1 ⇔ the
    * normalization did work byte-dedup couldn't), hash-keyed under the
    * documented q96/q98 xxhash64 collision envelope.
    */
  def normalizedDedup(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        xxhash64(canonicalText(col(textCol))).as("__nh"),
        xxhash64(col(textCol)).as("__rh"))
      .groupBy(col("__nh"))
      .agg(min(col("__id")).as("keeper"), count(lit(1)).as("n_copies"),
        countDistinct(col("__rh")).as("n_variants"))
      .select(col("keeper"), col("n_copies"), col("n_variants"))

  /** MOSS containment report — the asymmetric reading of the winnowed
    * overlap: for each qualifying pair, shared / |fp_i| and
    * shared / |fp_j| separately (a short document quoted inside a
    * long one has HIGH containment on the short side and low
    * symmetric overlap — the plagiarism-report number MOSS actually
    * prints). Same join and cap as [[winnowOverlapPairs]]; only the
    * normalization differs.
    */
  def winnowContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxPosting: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = winnowSelectedCol(df, idCol, textCol, k, w)
      .select(col("doc_id"),
        array_distinct(transform(col("__sel"),
          s => substring(s, 1, 12))).as("__hs"))
      .select(col("doc_id"), size(col("__hs")).as("nf"),
        explode(col("__hs")).as("h"))
    val capped = fp
      .withColumn("__pn", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__pn") <= maxPosting)
      .drop("__pn")
    capped.as("a")
      .join(capped.select(col("doc_id").as("j"), col("nf").as("nf_j"),
          col("h").as("hj")).as("b"),
        col("a.h") === col("hj") && col("a.doc_id") < col("j"))
      .groupBy(col("a.doc_id").as("i"), col("j"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("a.nf")).as("__ni"), min(col("nf_j")).as("__nj"))
      .filter(col("n_shared") >= minShared)
      .select(col("i"), col("j"), col("n_shared"),
        round(col("n_shared").cast("double") / col("__ni"), 6).as("cont_i"),
        round(col("n_shared").cast("double") / col("__nj"), 6).as("cont_j"))
  }

  /** Winnowed fingerprint selection (Schleimer, Wilkerson, Aho 2003 —
    * the MOSS algorithm): hash every token k-gram, slide a window of
    * `w` consecutive gram hashes over the document, and in each window
    * select the minimum hash (ties broken to the RIGHTMOST position,
    * the paper's rule). The selected (hash, position) set is the
    * document's fingerprint, with the paper's guarantee: any shared
    * substring of at least w+k-1 tokens produces at least one shared
    * fingerprint — a positional detection floor MinHash cannot offer.
    *
    * Engine-portable ordering trick: each gram carries the fixed-width
    * string key `md5(gram)[1..12] ∥ lpad(32767 − pos, 5)`. All keys
    * share one length, so lexicographic min = (min 48-bit hash,
    * rightmost position) in a plain string min — no struct-ordering
    * dependence, reproducible verbatim in any SQL engine. Only full
    * windows select (a document shorter than w+k−1 tokens has no
    * fingerprint, per the paper).
    *
    * Scale shape: the ENTIRE selection runs inside the scan stage as
    * ONE native kernel call (`Signatures.winnow_keys`, a compiled
    * O(m·(k+w)) loop) — gram keys, window minima, and the per-doc
    * distinct all happen on the document row, so the operator itself
    * contributes ZERO exchanges (a window-function formulation would
    * shuffle every gram key by doc_id for the same compute, and a
    * nested higher-order-Column formulation gets re-inlined by
    * predicate pushdown into an O(m³) interpreted tree — see the
    * kernel's docstring). Downstream shuffles see only the selected
    * ~2m/(w+1) fingerprints per doc. Being per-document and
    * stateless, the operator is streaming-legal (StreamingSpec runs
    * it on a MemoryStream). Envelope: 48-bit hashes ⇒ expected
    * cross-doc collisions V²/2⁴⁹ (V = distinct grams) — below one
    * until V ≈ 2×10⁷; raise to the full 16-hex prefix if a
    * trillion-gram corpus needs it. The 32767 position bound caps
    * documents at 32k grams; longer docs belong to the chunking path
    * first.
    */
  def winnowedFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame =
    winnowSelectedCol(df, idCol, textCol, k, w)
      .select(col("doc_id"), explode(col("__sel")).as("sel"))
      .select(col("doc_id"),
        substring(col("sel"), 1, 12).as("h"),
        (lit(32767) - substring(col("sel"), 13, 5).cast("int")).as("pos"))

  /** (doc_id, __sel) — the distinct selected window-min keys of each
    * document, computed entirely on the document row (no exchange).
    * Each stage (tokens → gram keys → window minima) is bound as its
    * OWN projected column: a multi-referenced higher-order expression
    * inlined into the next stage's lambdas would re-evaluate per
    * element — O(m³) tokenize/md5 work per document interpreted —
    * while staged attributes evaluate once per row, O(m·k + m·w).
    * CollapseProject keeps the stages apart (it never duplicates
    * non-cheap aliases referenced more than once).
    */
  private def winnowSelectedCol(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.Signatures
        .winnow_keys(split(col(textCol), " "), k, w).as("__sel"))

  /** Per-document winnowing readout: gram count, full-window count,
    * selected-fingerprint count, and density = n_fp / n_windows (the
    * paper's expected density is 2/(w+1); a document whose density
    * sits far above it is hash-diverse — far below it, repetitive).
    * Short documents (no full window) report zero fingerprints.
    * Pure projection — selection, counts, and density all on the
    * document row; the whole readout is scan-speed with no exchange.
    */
  def winnowFingerprintStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4): DataFrame =
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).as("__len"),
        size(org.apache.spark.sql.graft.Signatures
          .winnow_keys(split(col(textCol), " "), k, w)).as("__nfp"))
      .select(col("doc_id"),
        greatest(col("__len") - (k - 1), lit(0)).cast("long").as("n_grams"),
        greatest(col("__len") - (k + w - 2), lit(0)).cast("long")
          .as("n_windows"),
        col("__nfp").cast("long").as("n_fp"),
        when(col("__len") - (k + w - 2) > 0,
          round(col("__nfp").cast("double")
            / (col("__len") - (k + w - 2)), 6)).otherwise(lit(0.0))
          .as("density"))

  /** Fingerprint-overlap pairs (the MOSS report): document pairs
    * sharing at least `minShared` distinct winnowed fingerprint
    * hashes, with overlap = shared / min(|fp_i|, |fp_j|). Positional
    * near-dup detection with the winnowing guarantee — every pair
    * sharing a run of ≥ w+k−1 tokens surfaces.
    *
    * The pairing join is keyed by the 12-hex fingerprint hash (12
    * bytes + ids per posting, never text). `maxPosting` is the q53/q97
    * straggler backstop: a corpus-hot fingerprint (boilerplate that
    * winnowing itself selects in thousands of docs) would otherwise
    * make one join key's bucket quadratic; the count window shares the
    * join's hash partitioning, and the cap is a no-op on honest data
    * (spec-asserted) — it exists so one templated shard cannot stall
    * the stage at 100 TB.
    */
  def winnowOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxPosting: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc distinct hashes AND their count computed on the document
    // row (array_distinct + size) — no distinct shuffle, no
    // count-aggregate joins; each posting carries its doc's nf along
    val fp = winnowSelectedCol(df, idCol, textCol, k, w)
      .select(col("doc_id"),
        array_distinct(transform(col("__sel"),
          s => substring(s, 1, 12))).as("__hs"))
      .select(col("doc_id"), size(col("__hs")).as("nf"),
        explode(col("__hs")).as("h"))
    val capped = fp
      .withColumn("__pn", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__pn") <= maxPosting)
      .drop("__pn")
    capped.as("a")
      .join(capped.select(col("doc_id").as("j"), col("nf").as("nf_j"),
          col("h").as("hj")).as("b"),
        col("a.h") === col("hj") && col("a.doc_id") < col("j"))
      .groupBy(col("a.doc_id").as("i"), col("j"))
      .agg(count(lit(1)).as("n_shared"),
        min(col("a.nf")).as("nf_i"), min(col("nf_j")).as("nf_jm"))
      .filter(col("n_shared") >= minShared)
      .select(col("i"), col("j"), col("n_shared"),
        round(col("n_shared").cast("double")
          / least(col("nf_i"), col("nf_jm")), 6).as("overlap"))
  }

  /** Edit-distance verification of near-dup candidates — the
    * character-level second opinion fuzzy-dedup pipelines run on the
    * token-level candidate set (token Jaccard is blind to in-word
    * edits, number substitutions, and whitespace damage; Levenshtein
    * is not): every [[minhashLsh]] pair (Jaccard ≥ threshold, banding-
    * complete) gets its exact edit distance and the normalized
    * similarity 1 − lev/max(|a|, |b|), plus a confirm verdict at
    * `minSim`. Both engines ship the same unit-cost Levenshtein
    * built-in, so the verdict is oracle-exact.
    *
    * Scale: the expensive O(|a|·|b|) DP runs ONLY on the LSH candidate
    * set — candidate-bounded like every verify stage here; document
    * text rides the two id-keyed verify joins and nothing else.
    */
  def editDistanceVerify(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      minSim: Double = 0.6): DataFrame = {
    val pairs = minhashLsh(docs, idCol, textCol, threshold = threshold)
      .select(col("i"), col("j"), round(col("jac"), 6).as("jac"))
    val t = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val sim = round(lit(1.0) - col("__lev").cast("double")
      / greatest(length(col("__ta")), length(col("__tb"))), 6)
    pairs
      .join(t.select(col("__id").as("i"), col("__t").as("__ta")), "i")
      .join(t.select(col("__id").as("j"), col("__t").as("__tb")), "j")
      .withColumn("__lev", levenshtein(col("__ta"), col("__tb")))
      .select(col("i"), col("j"), col("jac"),
        col("__lev").cast("long").as("edit_dist"),
        sim.as("lev_sim"),
        (sim >= minSim).as("confirmed"))
  }
}
