package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators that sit ABOVE the per-document signals
  * (TextOps) and the cross-document dedup machinery (Dedup): dataset
  * mixture accounting, per-source quota capping, and the end-to-end
  * keep/drop pipeline a training corpus actually runs. All
  * deterministic (content-hash keyed, no RNG) so every operator has an
  * exact DuckDB oracle.
  */
object Curation {

  /** Dataset-mixture readout: per-source document count, token count,
    * token share of the corpus, and the up/down-sampling weight that
    * would move the source to a UNIFORM token share (weight > 1 ⇒
    * upsample, < 1 ⇒ downsample) — the accounting every mixture-tuning
    * loop (DoReMi-style or hand-set) starts from.
    *
    * Plan: one partial-aggregated exchange keyed by source (the group
    * count is the number of SOURCES — tiny at any corpus size) and a
    * broadcast 1-row total attached without a driver action. Token
    * counting is scan-speed Column math; text never rides an exchange.
    * Divisions are staged (total/sources, then /tokens) identically in
    * the oracle so the doubles agree bit-for-bit.
    */
  def sourceMixture(
      docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val per = docs
      .groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val tot = per.agg(
      sum(col("n_tokens")).as("__tot_tokens"),
      count(lit(1)).as("__n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("__tot_tokens").cast("double"), 6).as("token_share"),
        round((col("__tot_tokens").cast("double") /
            col("__n_sources").cast("double")) /
          col("n_tokens").cast("double"), 6).as("uniform_weight"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled mixture weights — the multilingual/multi-source
    * upsampling rule (mT5-style p_i ∝ share_i^α): flattening the token
    * distribution so long-tail sources are seen more than their raw
    * share, without the uniform target's full distortion. Fixed
    * α = 0.5 (temperature 2), deliberately: sqrt is bit-exact IEEE in
    * every engine, while a general pow(x, α) may differ between libm
    * implementations and an argmax-free 6-dp rounding cannot always
    * absorb that (the q62 lesson). The normalizer Σ√share is computed
    * as a SORTED sequential fold (collect_list → array_sort →
    * aggregate), pinning the double summation order so the oracle's
    * list_sort + list_reduce reproduces it exactly — the q64
    * technique; a plain sum() over doubles has engine-dependent order.
    * All post-groupBy math runs on a |sources|-row frame: two 1-row
    * broadcast attaches, no second corpus pass.
    */
  def temperatureMixture(
      docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val per = docs
      .groupBy(col(srcCol).as("source"))
      .agg(sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("__tt"))
    val p = per.crossJoin(broadcast(tot))
      .withColumn("__share",
        col("n_tokens").cast("double") / col("__tt").cast("double"))
      .withColumn("__p", sqrt(col("__share")))
    val z = p.agg(aggregate(array_sort(collect_list(col("__p"))),
      lit(0.0), (a, x) => a + x).as("__z"))
    p.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"),
        round(col("__share"), 6).as("token_share"),
        round(col("__p") / col("__z"), 6).as("temp_share"))
      .orderBy(col("source"))
  }

  /** Deterministic per-source quota: keep at most `cap` documents per
    * source, selected by content-hash order (md5 hex asc, doc_id asc on
    * ties) — the domain-cap pass that stops one crawl domain from
    * dominating the mixture. Content-keyed selection is stable under
    * re-sharding and needs no RNG state, the same discipline as
    * TextOps.sampleBucket.
    *
    * Skew-safe exact top-k: a single source-partitioned rank window
    * puts an entire hot domain (the exact thing this operator exists
    * to cap — think a 10⁹-page crawl domain) in ONE task. Instead the
    * rank runs in two phases: (1) rank within (source, salt) — `salts`
    * way parallel per source — keeping ≤ cap per salt group (a row in
    * the source's global top-cap is in its salt group's top-cap a
    * fortiori); (2) re-rank the ≤ salts·cap survivors per source. The
    * second window's partitions are bounded by salts·cap rows
    * regardless of domain size, and only (source, 32-byte key, id)
    * rides either exchange — never text.
    */
  def perSourceCap(
      docs: DataFrame, idCol: String, textCol: String, srcCol: String,
      cap: Int, salts: Int = 16): DataFrame = {
    val keyed = docs.select(col(idCol).as("doc_id"),
      col(srcCol).as("source"), md5(col(textCol)).as("__k"))
    // salt on a hash of the id, not the id itself: works for ANY id type
    // (string keys included) and spreads sequential ids that a plain
    // modulo would stripe; the salt only splits phase 1, so the selected
    // top-cap set is unchanged
    val pre = Window.partitionBy(col("source"),
        pmod(xxhash64(col("doc_id")), lit(salts.toLong)))
      .orderBy(col("__k"), col("doc_id"))
    val fin = Window.partitionBy(col("source"))
      .orderBy(col("__k"), col("doc_id"))
    keyed
      .withColumn("__prk", row_number().over(pre))
      .filter(col("__prk") <= cap)
      .withColumn("rk", row_number().over(fin))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk"))
  }

  /** The full curation decision, end-to-end in one query: per-document
    * quality verdict (TextOps.curationVerdict), exact-dedup canonical
    * flag (Dedup.exactDedup keepers), and benchmark-contamination flag
    * (Dedup.contamination) composed into the final keep/drop a corpus
    * build acts on. A document survives iff it passes quality AND is
    * its text's canonical copy AND is neither benchmark data nor
    * shares an n-gram with the benchmark.
    *
    * Composition order mirrors production: the quality signals are
    * scan-speed per-row math; both cross-document passes reuse their
    * scale-hardened operators (two-phase hash dedup that never
    * shuffles text, broadcast benchmark shingles) and re-attach by
    * doc_id — id-keyed joins, so text rides no exchange here either.
    * Near-dup clustering (q49/q54) deliberately stays OUT of this
    * composition: its pair machinery is corpus-shaped (LSH or blocked
    * N²) and runs as its own downstream pass on the survivors, which
    * this verdict has already shrunk.
    */
  def curationPipeline(
      docs: DataFrame,
      benchPredicate: Column,
      minTokens: Int = 5,
      maxDupWordFrac: Double = 0.9,
      shingleN: Int = 3): DataFrame = {
    val verdict = TextOps
      .curationVerdict(docs, minTokens, maxDupWordFrac)
      .select(col("doc_id"), col("n_tokens"),
        col("keep").as("keep_quality"), benchPredicate.as("__is_bench"))
    val keepers = Dedup.exactDedup(docs, "doc_id", "text")
      .select(col("keeper").as("doc_id"), lit(true).as("__canon"))
    val contaminated = Dedup
      .contamination(docs, "doc_id", "text", benchPredicate, shingleN)
      .select(col("doc_id"), lit(true).as("__cont"))
    verdict
      .join(keepers, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("keep_quality"),
        coalesce(col("__canon"), lit(false)).as("is_canonical"),
        coalesce(col("__cont"), lit(false)).as("is_contaminated"),
        (col("keep_quality") && coalesce(col("__canon"), lit(false)) &&
          !col("__is_bench") && !coalesce(col("__cont"), lit(false)))
          .as("keep_final"))
  }

  /** Global token-budget selection — fill the budget with the best:
    * rank every document by quality (the q15 stopword-ratio signal,
    * rounded to 6 dp so both engines rank identical doubles; ties
    * break by doc_id) and keep the prefix of that ranking whose
    * cumulative token count stays within total·num/den. The keep
    * decision is exact integer arithmetic end to end
    * (cum·den ≤ total·num — no float ever crosses the threshold).
    *
    * The cumulative sum is the classic scale trap: a global
    * `Window.orderBy` with no partition key collapses the corpus into
    * ONE task. This is a distributed prefix sum instead: documents
    * bucket by a MONOTONE function of the score (floor(score·B), so
    * bucket order IS score order and equal scores can never straddle
    * a bucket), per-bucket token sums come back to the driver (≤ B+1
    * rows, corpus-size independent), exclusive higher-bucket offsets
    * go back out as a literal map, and the running sum inside each
    * bucket is a window partitioned by bucket — B-way parallel.
    * Score and count are computed map-side, so only
    * (id, score, count) rides any exchange, never text. Skew caveat:
    * bucket occupancy follows the score distribution — raise
    * `buckets` when a single score value dominates the corpus (the
    * maxBucket/maxPosting sizing discipline).
    */
  def tokenBudgetSelect(
      docs: DataFrame, idCol: String, textCol: String,
      budgetNum: Long = 1L, budgetDen: Long = 2L,
      buckets: Int = 64): DataFrame = {
    require(budgetDen > 0 && budgetNum >= 0, "budget must be a ratio >= 0")
    // materialize the slim (id, score, count) projection ONCE, to a temp
    // parquet because the returned query reads it as well as the
    // bucket-sum collect below: otherwise the full corpus is tokenized
    // and scored twice per invocation
    val slim = Exec.materializeToTemp(docs.select(col(idCol).as("doc_id"),
        round(TextOps.stopwordRatio(col(textCol)), 6).as("q_score"),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__bkt", floor(col("q_score") * buckets).cast("int")),
      "tokbudget")
    val sums = slim.groupBy(col("__bkt"))
      .agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val total = sums.map(_._2).sum
    // exclusive offset: tokens living in strictly better buckets
    val offsets: Map[Int, Long] = sums.map { case (b, _) =>
      b -> sums.filter(_._1 > b).map(_._2).sum
    }.toMap
    val offExpr =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(offsets), col("__bkt")), lit(0L))
    val w = Window.partitionBy(col("__bkt"))
      .orderBy(col("q_score").desc, col("doc_id").asc)
    slim
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w) + offExpr)
      .select(col("doc_id"), col("q_score"), col("n_tokens"),
        col("cum_tokens"),
        (col("cum_tokens") * budgetDen <= total * budgetNum).as("selected"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", deterministic
    * rank variant): score every document by its log-likelihood ratio
    * under an add-one-smoothed unigram LM of the TARGET slice vs the
    * RAW corpus — Σ_w tf_d(w)·(ln p_t(w) − ln p_r(w)) — and keep the
    * topK by rounded score (doc_id breaks ties; the paper's
    * Gumbel-noise sampling is the nondeterministic production knob,
    * rank-by-weight is its ablation form and the only oracle-able
    * one). Both LMs share the full-corpus vocabulary V with add-one
    * smoothing, so unseen-in-target terms score negative instead of
    * −∞.
    *
    * Shape: one token shuffle builds per-term (target, raw) counts —
    * vocab-sized, NEVER collected; totals ride a 1-row broadcast; the
    * per-doc score folds tf·Δ(w) SEQUENTIALLY in term order
    * (collect_list → array_sort → aggregate, the L38-L40 discipline)
    * so the DuckDB list_sort+list_reduce oracle reproduces each
    * double bit-for-bit; the global topK is a TakeOrdered on the
    * ROUNDED score — never a full sort, never a single-task window.
    * At 100 TB everything is two token-keyed aggregations + one
    * vocab join: scan-dominated, skew-free (term counts pre-aggregate
    * map-side).
    */
  def dsirSelect(
      docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, topK: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      isTarget.as("tgt"),
      explode(TextOps.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tc = toks.groupBy(col("term"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val tot = tc.agg(sum(col("ct")).cast("double").as("nt"),
      sum(col("cr")).cast("double").as("nr"),
      count(lit(1)).cast("double").as("v"))
    val delta = tc.crossJoin(broadcast(tot))
      .select(col("term"),
        (log((col("ct") + 1) / (col("nt") + col("v")))
          - log((col("cr") + 1) / (col("nr") + col("v")))).as("dl"))
    val scored = tf.join(delta, "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("dl")).as("x"))
      .groupBy(col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("x")))),
        lit(0.0), (a, e) => a + e.getField("x")).as("s"))
    scored
      .select(col("doc_id"), round(col("s"), 6).as("log_ratio"))
      .orderBy(col("log_ratio").desc, col("doc_id"))
      .limit(topK)
  }

  /** Quality-quantile curriculum binning: score every document
    * (stopword ratio — the L32/L42 quality proxy), cut the corpus into
    * `nBins` EXACT interpolated-quantile bins, and label each document
    * with its bin — the assignment a curriculum schedule (low-quality
    * first / high-quality last, or per-bin mixing weights) consumes.
    *
    * Scale shape: scores are rounded to 6 dp BEFORE the percentile, so
    * the exact-percentile aggregation state is bounded by the number
    * of DISTINCT rounded scores (≤ 10⁶ + 1) no matter the corpus size
    * — rounding is what makes "exact quantiles at 100 TB" a
    * one-aggregation operation instead of a sort. The nBins−1 cut
    * points come back as one driver row and re-enter the plan as
    * LITERALS, so the bin assignment is a map-side fold over a tiny
    * array: scan → agg(1 small group) → scan. Cuts are ALSO rounded to
    * 6 dp (round-before-threshold, the cross-engine argmax
    * discipline), and a document on a cut boundary goes to the LOWER
    * bin (bin = #{cuts strictly below score}) on both engines.
    */
  def qualityBins(docs: DataFrame, idCol: String, textCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be at least 2: $nBins")
    val scored = docs.select(col(idCol).as("doc_id"),
      round(TextOps.stopwordRatio(col(textCol)), 6).as("q_score"))
    val qs = (1 until nBins).map(_.toDouble / nBins)
    val cuts: Seq[Double] = scored
      .agg(percentile(col("q_score"), typedLit(qs)).as("c"))
      .head().getSeq[Double](0)
      // HALF_UP, not rint: DuckDB round() is half-away-from-zero and
      // these scores are non-negative, so the two agree; half-even
      // would diverge on exact .5e-6 boundaries
      .map(c => BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    scored
      .withColumn("bin",
        size(filter(typedLit(cuts), c => col("q_score") > c)))
      .orderBy(col("doc_id"))
  }

  /** Seeded per-source downsampling — the EXECUTION step of a mixture
    * plan (q67 computes the weights, q68 caps the quotas; this
    * materializes the keep/drop decision): document kept iff its
    * 16-bit md5(doc_id:seed) prefix falls under the source's rate,
    * compared in exact integer math (h·den < 65536·num — no float
    * threshold anywhere). Content-independent, seed-keyed, no RNG
    * state — the q104 hashing family — so the sample is reproducible
    * across runs and engines, and changing one source's rate never
    * perturbs another source's sample (per-doc independence). Rates
    * ride a literal map; the whole op is a map-side project, no
    * shuffle, no driver state.
    */
  /** The seeded-sample keep verdict as a bare Column (the splitCol
    * pattern) — [[seededSourceSample]]'s own body, shared with
    * `Ingest.curationChainStream`'s fused projection.
    */
  def sampleKeptCol(idCol: String, sourceCol: String,
      rates: Map[String, (Int, Int)],
      defaultNum: Int = 1, defaultDen: Int = 2,
      seed: Int = 42): Column = {
    require(defaultDen > 0 && rates.values.forall(_._2 > 0), "rates need den > 0")
    val h16 = conv(substring(
      md5(concat(col(idCol).cast("string"), lit(":" + seed))), 1, 4), 16, 10)
      .cast("int")
    val numExpr = coalesce(
      element_at(typedlit(rates.map { case (k, v) => k -> v._1 }), col(sourceCol)),
      lit(defaultNum))
    val denExpr = coalesce(
      element_at(typedlit(rates.map { case (k, v) => k -> v._2 }), col(sourceCol)),
      lit(defaultDen))
    h16 * denExpr < lit(65536) * numExpr
  }

  def seededSourceSample(
      docs: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, (Int, Int)],
      defaultNum: Int = 1, defaultDen: Int = 2,
      seed: Int = 42): DataFrame = {
    // no terminal sort: the body must stay streaming-legal (StreamingSpec
    // runs it on a MemoryStream) — batch callers order at the query
    // level, the gopherRules discipline
    docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"))
      .withColumn("kept",
        sampleKeptCol(idCol, sourceCol, rates, defaultNum, defaultDen, seed))
  }

  /** Per-source document-length drift: the Kolmogorov–Smirnov statistic
    * sup_l |CDF_source(l) − CDF_corpus(l)| over token counts — the
    * standard did-this-crawl-change / is-this-source-an-outlier
    * distribution check, run per source against the whole corpus. All
    * probability mass lives in integer length counts, so both engines
    * compute identical CDF doubles (one division each) and the sup is
    * an exact max; only the output is rounded. The length grid is
    * (distinct sources × distinct lengths) — dimension-bounded, built
    * with an explicitly broadcast nested-loop of two tiny aggregates,
    * never a corpus-sized cartesian; the cumulative sums run on
    * source-partitioned windows over that grid.
    */
  def lengthDriftKS(
      docs: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val lens = docs.select(col(sourceCol).as("source"),
      TextOps.tokenCount(col(textCol)).cast("long").as("len"))
    val perSrcLen = lens.groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("c"))
    val perLen = lens.groupBy(col("len")).agg(count(lit(1)).as("ct"))
    val nSrc = lens.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val nTot = lens.count()
    val grid = nSrc.crossJoin(broadcast(perLen))
      .join(perSrcLen, Seq("source", "len"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("source")).orderBy(col("len"))
    grid
      .withColumn("__cs", sum(col("c")).over(w))
      .withColumn("__ct", sum(col("ct")).over(w))
      .withColumn("__d", abs(col("__cs").cast("double") / col("n_docs")
        - col("__ct").cast("double") / lit(nTot.toDouble)))
      .groupBy(col("source"), col("n_docs"))
      .agg(round(max(col("__d")), 6).as("ks"))
      .orderBy(col("source"))
  }

  /** Split-representativeness check — the KS machinery of
    * [[lengthDriftKS]] applied to the deterministic train/valid/test
    * assignment over the 6-dp quality score: sup |CDF_split −
    * CDF_corpus| per split. A hash split SHOULD be representative;
    * this measures it instead of assuming it (and any later
    * quality-stratified resampling of one split shows up here
    * immediately). The value grid is (3 splits × distinct rounded
    * scores) — dimension-bounded; cumsums on split-partitioned
    * windows; the sup is an exact max of identically-computed CDF
    * doubles.
    */
  def splitQualityKS(
      docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      cut1: Int = 52429, cut2: Int = 58982, seed: Int = 42): DataFrame = {
    val assigned = splitAssignment(docs, idCol, sourceCol, cut1, cut2, seed)
      .select(col("doc_id"), col("split"))
    val scored = docs.select(col(idCol).as("doc_id"),
        round(TextOps.stopwordRatio(col(textCol)), 6).as("q"))
      .join(assigned, "doc_id")
    val perSplitQ = scored.groupBy(col("split"), col("q"))
      .agg(count(lit(1)).as("c"))
    val perQ = scored.groupBy(col("q")).agg(count(lit(1)).as("ct"))
    val nSplit = scored.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
    val nTot = scored.count()
    val grid = nSplit.crossJoin(broadcast(perQ))
      .join(perSplitQ, Seq("split", "q"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("split")).orderBy(col("q"))
    grid
      .withColumn("__cs", sum(col("c")).over(w))
      .withColumn("__ct", sum(col("ct")).over(w))
      .withColumn("__d", abs(col("__cs").cast("double") / col("n_docs")
        - col("__ct").cast("double") / lit(nTot.toDouble)))
      .groupBy(col("split"), col("n_docs"))
      .agg(round(max(col("__d")), 6).as("ks"))
      .orderBy(col("split"))
  }

  /** Per-source chi-square drift of a categorical column (language ID
    * here) against the corpus-wide distribution — the categorical
    * counterpart of [[lengthDriftKS]]: χ²_s = Σ_l (o_sl − e_sl)²/e_sl
    * with e_sl = n_s · n_l / N. A crawl whose language mix diverges
    * from the corpus shows up with a large χ² (compare against the
    * (L−1) degrees of freedom also reported). KS sees ordinal drift;
    * χ² sees categorical drift — pipelines run both.
    *
    * Shape: THREE tiny aggregates — (source, lang) observed counts,
    * per-source totals, per-lang totals — plus a broadcast one-row N.
    * The full source×lang grid (so absent cells contribute their full
    * expected mass) is a broadcast nested-loop of the two marginal
    * aggregates, dimension-bounded like the KS grid, never
    * corpus-sized. The per-source sum folds in ascending-lang order
    * from a 0.0 seed (the L38-L40 fixed-order float discipline), so
    * χ² is bit-identical to the oracle's ordered list_reduce.
    */
  def categoricalChiSquareDrift(
      docs: DataFrame, catCol: String, sourceCol: String): DataFrame = {
    val base = docs.select(col(sourceCol).as("source"),
      col(catCol).as("cat"))
    val obs = base.groupBy(col("source"), col("cat"))
      .agg(count(lit(1)).cast("long").as("o"))
    val srcTot = base.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_src"))
    val catTot = base.groupBy(col("cat"))
      .agg(count(lit(1)).cast("long").as("n_cat"))
    val tot = base.agg(count(lit(1)).cast("long").as("n_tot"))
    val e = col("n_src").cast("double") * col("n_cat") / col("n_tot")
    val cell = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    val grid = srcTot
      .crossJoin(broadcast(catTot))
      .crossJoin(broadcast(tot))
      .join(obs, Seq("source", "cat"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .select(col("source"), col("n_src"), col("cat"), cell.as("__c"))
    grid.groupBy(col("source"), col("n_src"))
      .agg(
        (count(lit(1)) - lit(1L)).as("dof"),
        sort_array(collect_list(struct(col("cat"), col("__c")))).as("__l"))
      .select(col("source"), col("n_src"), col("dof"),
        round(aggregate(transform(col("__l"), s => s.getField("__c")),
          lit(0.0), (a, x) => a + x), 6).as("chi2"))
      .orderBy(col("source"))
  }

  /** Per-source curation funnel over the Gopher rule gate
    * (TextOps.gopherRules): how many documents survive each rule
    * CUMULATIVELY, in the fixed rule order wordcount → mean-length →
    * stopwords → repetition — the executive readout every pipeline
    * report leads with ("rule 2 is where this crawl dies"). Counts are
    * integer sums of the per-document flags; the final keep fraction
    * is the one rounded float.
    *
    * Shape: rides the scan-speed gopherRules signals joined back to
    * the source column on doc_id (hash join on the id, text never
    * re-shuffles), then one source-keyed aggregate — group count =
    * number of sources, tiny at any corpus scale.
    */
  def curationFunnel(
      docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val g = TextOps.gopherRules(docs, idCol, textCol)
    val j = docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"))
      .join(g, "doc_id")
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    j.groupBy(col("source"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        cnt(col("r_wordcount")).as("pass_wordcount"),
        cnt(col("r_wordcount") && col("r_meanlen")).as("pass_meanlen"),
        cnt(col("r_wordcount") && col("r_meanlen") && col("r_stopwords"))
          .as("pass_stopwords"),
        cnt(col("keep")).as("n_keep"))
      .withColumn("keep_frac",
        round(col("n_keep").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  /** Deterministic train/valid/test split assignment: split by the
    * 16-bit md5(doc_id:seed) prefix against two integer cutoffs
    * (h < cut1 → train, h < cut2 → valid, else test) — the q115
    * hash-threshold mechanics applied to the PARTITION question every
    * training run asks first. Properties that matter at 100 TB: the
    * verdict is a pure map-side Column expression (no shuffle, no RNG
    * state, no sort); per-doc independence means growing the corpus
    * never moves an existing document between splits (the leakage
    * property train/test splits exist for); and the same expression
    * is streaming-legal, so an ingest stream can carry its split from
    * the first moment it exists. Defaults 52429/58982 ≈ 80/10/10.
    */
  /** The split verdict as a pure COLUMN of the id — callers that
    * already hold the document row attach it map-side instead of
    * joining the [[splitAssignment]] frame back on doc_id (which
    * would drag full text through an exchange for a value the scan
    * can compute in place).
    */
  def splitCol(idCol: String,
      cut1: Int = 52429, cut2: Int = 58982, seed: Int = 42): Column =
    splitColOf(col(idCol), cut1, cut2, seed)

  /** [[splitCol]] over an arbitrary id EXPRESSION — for call sites
    * where the id is not a top-level named column (e.g. each side of a
    * self-join, where the verdict must be computed on `a.doc_id` /
    * `b.doc_id` in place).
    */
  def splitColOf(id: Column,
      cut1: Int = 52429, cut2: Int = 58982, seed: Int = 42): Column = {
    require(0 < cut1 && cut1 < cut2 && cut2 < 65536,
      s"need 0 < cut1 < cut2 < 65536: $cut1 $cut2")
    val h16 = conv(substring(
      md5(concat(id.cast("string"), lit(":" + seed))), 1, 4), 16, 10)
      .cast("int")
    when(h16 < cut1, "train").when(h16 < cut2, "valid").otherwise("test")
  }

  def splitAssignment(
      docs: DataFrame, idCol: String, sourceCol: String,
      cut1: Int = 52429, cut2: Int = 58982,
      seed: Int = 42): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      splitCol(idCol, cut1, cut2, seed).as("split"))

  /** Per-(source, split) census over [[splitAssignment]] — the
    * stratification check: does every source appear in every split at
    * roughly the target rate. One id-keyed join of the map-side
    * verdicts back to token counts + one dimension-bounded agg.
    */
  def splitCensus(
      docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      cut1: Int = 52429, cut2: Int = 58982, seed: Int = 42): DataFrame = {
    val assigned = splitAssignment(docs, idCol, sourceCol, cut1, cut2, seed)
    val toks = docs.select(col(idCol).as("doc_id"),
      TextOps.tokenCount(col(textCol)).cast("long").as("__nt"))
    assigned.join(toks, "doc_id")
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
  }

  /** Token-weighted curation funnel — L86/q120's doc-count funnel in
    * TOKEN MASS: what fraction of each source's training tokens
    * survives each Gopher rule in order. Doc counts and token mass
    * tell different stories when rules correlate with length (the
    * wordcount rule by construction does); the budget planner needs
    * the token column. Same shape: scan-speed rule signals, one
    * id-keyed join, source-keyed agg, text never re-shuffles.
    */
  def curationFunnelTokens(
      docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val g = TextOps.gopherRules(docs, idCol, textCol)
    val j = docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"),
        TextOps.tokenCount(col(textCol)).cast("long").as("__nt"))
      .join(g, "doc_id")
    def tok(c: Column) = sum(when(c, col("__nt")).otherwise(0L))
    j.groupBy(col("source"))
      .agg(
        sum(col("__nt")).as("n_tokens"),
        tok(col("r_wordcount")).as("tok_wordcount"),
        tok(col("r_wordcount") && col("r_meanlen")).as("tok_meanlen"),
        tok(col("r_wordcount") && col("r_meanlen") && col("r_stopwords"))
          .as("tok_stopwords"),
        tok(col("keep")).as("tok_keep"))
      .withColumn("keep_frac",
        round(col("tok_keep").cast("double") / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  /** Robust (median/MAD) document-length outliers — the
    * heavy-tail-safe counterpart of q102's mean/std z-score: corpus
    * length distributions are Zipf-tailed, so mean/std flags half the
    * corpus while median/MAD stays put. robust_z = (x − med) /
    * (1.4826·MAD), the normal-consistent scaling. Both medians are
    * EXACT percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`,
    * the q05 parity), each attached as a 1-row broadcast — the whole
    * readout is two tiny aggregates plus one map-side projection;
    * MAD = 0 short-circuits z to 0 (the q102 discipline). At 100 TB
    * swap the exact percentile for the q91 bounded-state approximate
    * cuts — the contract (flag |z| > zMax) is unchanged.
    */
  def robustLengthOutliers(
      docs: DataFrame, idCol: String, textCol: String,
      zMax: Double = 3.5): DataFrame = {
    val xs = docs.select(col(idCol).as("doc_id"),
      TextOps.tokenCount(col(textCol)).cast("double").as("__x"))
    val med = xs.agg(expr("percentile(__x, 0.5)").as("__med"))
    val dev = xs.crossJoin(broadcast(med))
      .select(col("doc_id"), col("__x"), col("__med"),
        abs(col("__x") - col("__med")).as("__d"))
    val mad = dev.agg(expr("percentile(__d, 0.5)").as("__mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("doc_id"), col("__x").cast("long").as("n_tokens"),
        when(col("__mad") === 0.0, lit(0.0))
          .otherwise(round((col("__x") - col("__med"))
            / (lit(1.4826) * col("__mad")), 6)).as("robust_z"))
      .withColumn("outlier", abs(col("robust_z")) > zMax)
  }

  /** Neyman-allocation stratified sampler (classic survey statistics
    * applied to eval-set construction): a budget of `budget` documents
    * is allocated across sources proportional to n_s·σ_s — strata
    * that are LARGE and INTERNALLY VARIED get more of the eval budget
    * than small/homogeneous ones, the minimum-variance allocation for
    * estimating a corpus mean. σ is the per-source std of the 6-dp
    * quality score (the q15 stopword signal); the allocation is EXACT
    * INTEGER arithmetic end to end — σ re-enters as round(σ·10⁶) so
    * weights are integers, quotas are w·B div Σw with the largest-
    * remainder method breaking ties by (remainder desc, source asc) —
    * no float division ever decides a quota. Within each source the
    * quota fills in md5(doc_id) order (the q41/q79 sampling
    * discipline): deterministic, reproducible, and independent of
    * input partitioning. Everything after the per-source moment scan
    * runs on a |sources|-row frame; the final pick is one
    * source-partitioned window.
    */
  def neymanSample(
      docs: DataFrame, idCol: String, textCol: String, sourceCol: String,
      budget: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      round(TextOps.stopwordRatio(col(textCol)), 6).as("__q"))
    val mom = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__q")), 6).as("__m1"),
        round(avg(col("__q") * col("__q")), 6).as("__m2"))
      .select(col("source"), col("n"),
        round(sqrt(greatest(col("__m2") - col("__m1") * col("__m1"),
          lit(0.0))), 6).as("sigma"))
      .withColumn("__w0", col("n") * round(col("sigma") * 1e6, 0).cast("long"))
    // Degenerate guard: if every source's sigma rounds to 0 the Neyman
    // weights all vanish; fall back to proportional-to-n allocation so
    // the quota sum still meets the budget.
    val tot0 = mom.agg(sum(col("__w0")).as("__tw0"))
    val momW = mom.crossJoin(broadcast(tot0))
      .withColumn("__w",
        when(col("__tw0") > 0, col("__w0")).otherwise(col("n")))
      .drop("__w0", "__tw0")
    val tot = momW.agg(sum(col("__w")).as("__tw"))
    val alloc = momW.crossJoin(broadcast(tot))
      .select(col("source"), col("n"), col("sigma"), col("__w"),
        when(col("__tw") > 0,
          expr(s"CAST(($budget * __w) DIV __tw AS BIGINT)"))
          .otherwise(lit(0L)).as("__base"),
        when(col("__tw") > 0, expr(s"CAST(($budget * __w) % __tw AS BIGINT)"))
          .otherwise(lit(0L)).as("__rem"),
        col("__tw"))
    val short = alloc.agg((lit(budget) -
      coalesce(sum(col("__base")), lit(0L))).as("__short"))
    val quotas = alloc.crossJoin(broadcast(short))
      .withColumn("__rr", row_number().over(
        Window.orderBy(col("__rem").desc, col("source"))))
      .select(col("source"), col("n"), col("sigma"),
        (col("__base") + when(col("__rr") <= col("__short"), 1L)
          .otherwise(0L)).as("quota"))
    scored
      .withColumn("__rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .join(quotas, "source")
      .filter(col("__rk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("quota"), col("sigma"))
  }

  /** Mixture-epochs planning readout: given target mixture weights and
    * a total token budget, how many PASSES over each source does the
    * plan imply — the Muennighoff et al. 2023 repeated-data question
    * ("is any source asked for more epochs than repetition stays
    * useful?") answered before a single training token is written.
    * target_tokens = weight · budget exactly in integer space
    * (weights as num/den pairs, floor division — no float budget
    * drift); epochs = target/have, 6-dp; over_capacity flags epochs
    * above `maxEpochs`. One corpus scan (token count per source) +
    * a |sources|-row literal join; the weights frame is a broadcast
    * literal like the q115 rate map.
    */
  def mixtureEpochs(
      docs: DataFrame, textCol: String, sourceCol: String,
      weights: Map[String, (Int, Int)], budgetTokens: Long,
      maxEpochs: Double = 4.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.toSeq.map { case (s, (num, den)) => (s, num, den) }
      .toDF("source", "__num", "__den")
    val per = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    per.join(broadcast(w), Seq("source"), "inner")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("__num").cast("double") / col("__den"), 6).as("weight"),
        expr(s"CAST((${budgetTokens}L * __num) DIV __den AS BIGINT)")
          .as("target_tokens"))
      .withColumn("epochs",
        round(col("target_tokens").cast("double") / col("n_tokens"), 6))
      .withColumn("over_capacity", col("epochs") > maxEpochs)
      .orderBy(col("source"))
  }

  /** Temperature-scaled mixture weights — the multilingual/multi-source
    * sampling law (Conneau & Lample 2019; the T-scaling every
    * multi-source pretraining mix starts from): source l with token
    * share p_l is sampled with weight ∝ p_l^α. α = 1 reproduces the
    * natural mix; α → 0 approaches uniform; the effective-epochs
    * column (weight·total/tokens) shows which small sources the
    * temperature OVER-SAMPLES past useful repetition — read next to
    * mixtureEpochs (q127) before committing a budget.
    *
    * Integer-exact where parity is fragile: shares are 6-dp rounded,
    * the α-power re-enters as round(p^α·10⁶) BIGINT so the
    * normalizing sum is an exact integer in both engines and the
    * final weight is one exact-integer division — no float
    * summation-order drift can flip a rounded digit (the q140
    * discipline). One corpus scan; everything after is a |sources|-row
    * frame.
    */
  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions — the source-SIMILARITY companion to the
    * one-vs-corpus drift checks (χ² q119, KS q112): which crawls speak
    * the same language, which one is the odd one out, and (read with
    * the dup-flow matrix q131) whether lexical similarity co-occurs
    * with copying. JS = ½KL(p‖m) + ½KL(q‖m), m = (p+q)/2 — symmetric,
    * bounded by ln 2, defined even where supports differ.
    *
    * Scale shape: distributions are restricted to the corpus-wide
    * top-`maxVocab` tokens (renormalized on that support) so the
    * per-pair work is sources²·maxVocab regardless of open-vocabulary
    * growth; per-pair sums run as order-pinned folds over the sorted
    * token list (collect_list → sort_array → aggregate) so both
    * engines add the same doubles in the same order — no groupBy-sum
    * float drift (the q111 discipline). Probabilities are 6-dp
    * rounded BEFORE the log terms; the result is 6-dp rounded.
    */
  def sourceDivergenceMatrix(
      docs: DataFrame, textCol: String, sourceCol: String,
      maxVocab: Int = 4096): DataFrame = {
    val toks = docs.select(col(sourceCol).as("src"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("__g"))
      .orderBy(col("__g").desc, col("tok")).limit(maxVocab)
      .select(col("tok"))
    val counts = toks.join(broadcast(top), "tok")
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("src")).agg(sum(col("c")).as("t"))
    val p = counts.join(totals, "src")
      .select(col("src"), col("tok"),
        round(col("c").cast("double") / col("t"), 6).as("p"))
    // the (src_a, src_b) × top-vocab grid: sources² · maxVocab rows,
    // built from two broadcast-tiny frames (BNLJ over |sources|² rows,
    // never a corpus-sized cartesian); absent-side probability = 0
    val pr = totals.select(col("src").as("src_a"))
      .crossJoin(broadcast(totals.select(col("src").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
    val grid = pr.crossJoin(broadcast(counts.select(col("tok")).distinct()))
    val contrib = grid
      .join(p.select(col("src").as("src_a"), col("tok"),
        col("p").as("pa")), Seq("src_a", "tok"), "left")
      .join(p.select(col("src").as("src_b"), col("tok"),
        col("p").as("pb")), Seq("src_b", "tok"), "left")
      .withColumn("pa", coalesce(col("pa"), lit(0.0)))
      .withColumn("pb", coalesce(col("pb"), lit(0.0)))
      .filter(col("pa") > 0 || col("pb") > 0)
      .withColumn("m", (col("pa") + col("pb")) / 2)
      .withColumn("j",
        when(col("pa") > 0, col("pa") / 2 * log(col("pa") / col("m")))
          .otherwise(lit(0.0)) +
        when(col("pb") > 0, col("pb") / 2 * log(col("pb") / col("m")))
          .otherwise(lit(0.0)))
    contrib
      .groupBy(col("src_a"), col("src_b"))
      .agg(sort_array(collect_list(struct(col("tok"), col("j")))).as("__s"))
      .select(col("src_a"), col("src_b"),
        round(aggregate(col("__s"), lit(0.0),
          (acc, s) => acc + s.getField("j")), 6).as("js"),
        size(col("__s")).cast("long").as("n_terms"))
  }

  def temperatureMixture(
      docs: DataFrame, textCol: String, sourceCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    val per = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("__tot"))
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("p", round(col("n_tokens").cast("double") / col("__tot"), 6))
      .withColumn("__wi", round(pow(col("p"), lit(alpha)) * 1e6, 0).cast("long"))
    val wTot = scored.agg(sum(col("__wi")).as("__wt"))
    scored.crossJoin(broadcast(wTot))
      .select(col("source"), col("n_tokens"), col("p"),
        round(col("__wi").cast("double") / col("__wt"), 6).as("weight"),
        round(col("__wi").cast("double") / col("__wt")
          * col("__tot") / col("n_tokens"), 6).as("eff_epochs"))
  }

  /** Split-leakage REPAIR — the action q132's diagnostic calls for:
    * for every near-dup pair that crosses a split boundary, drop the
    * member on the LESS protected side (priority train < valid <
    * test — eval sets stay intact, the train copy goes, the standard
    * decontamination direction). Output is a per-doc action frame
    * (keep / drop_leak + the number of cross-split pairs the doc lost
    * to) — filter `action = 'keep'` and the resulting corpus has ZERO
    * cross-split near-dup pairs by construction, because every
    * surviving pair member sits on the protected side of each of its
    * pairs. Rides the exact posting-list pair join (L4/q53 machinery,
    * capped postings); the repair itself is id-keyed joins + one
    * dropped-id aggregation — text never re-shuffles.
    */
  def splitLeakRepair(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      candStage: Option[String] = None): DataFrame = {
    // only CROSS-split pairs can be leaks, and the split verdict is a
    // pure md5 column of the id — push split(i) ≠ split(j) into the
    // candidate join so the ~66% same-split pair bulk (80/10/10
    // splits) is never generated, deduped, or verified. Output is
    // unchanged: the downstream __sa ≠ __sb filter was dropping
    // exactly those pairs (spec-pinned predicate≡post-filter equality).
    // `candStage` forwards the candidate-set job boundary (see
    // ngramJaccardJoin) — the stage this repair runs in is the
    // pipeline's disk high-water mark at 10×-scale skew.
    val pairs = Dedup.ngramJaccardJoin(docs, idCol, textCol,
      threshold = threshold,
      pairPredicate = Some((i, j) => splitColOf(i) =!= splitColOf(j)),
      candStage = candStage)
    leakRepairFromPairs(pairs, docs, idCol)
  }

  /** [[splitLeakRepair]]'s SCALE path — the q62→q78 gated-swap
    * discipline applied to leak repair: pair generation swaps from the
    * exact PPJoin to the portable banded MinHash chain
    * ([[Dedup.minhashLshPortable]] — candidate-bounded, sf1-oracle-
    * verifiable), the repair verdict logic is shared verbatim. The
    * exact path is the AUDIT configuration: at sf10-skew its prefix
    * filter measured 1.38 BILLION candidates (threshold 0.5 prefixes
    * are half of every document, and skewed mid-frequency shingles pair
    * quadratically) — the verify stage alone exceeds a single box's
    * disk. The banded chain's candidates are near-dup-rate-sized at
    * any corpus size (hot buckets capped), at banding's documented
    * recall trade: every VERIFIED pair is a true jac ≥ τ pair (so
    * every drop is justified — spec-pinned subset of the exact path's
    * drops), a banding-missed pair is a missed repair, the same recall
    * argument as q19 vs q53.
    */
  def splitLeakRepairLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7): DataFrame = {
    val pairs = Dedup.minhashLshPortable(docs, idCol, textCol,
      threshold = threshold)
    leakRepairFromPairs(pairs, docs, idCol)
  }

  /** Shared repair tail: cross-split pairs drop their less-protected
    * member (train < valid < test), verdict per doc with leak-pair
    * count. `pairs` must carry (i, j) doc-id columns.
    */
  private def leakRepairFromPairs(pairs: DataFrame, docs: DataFrame,
      idCol: String): DataFrame = {
    val rk = when(col("split") === "train", 0)
      .when(col("split") === "valid", 1).otherwise(2)
    val sp = docs.select(col(idCol).as("doc_id"),
        splitCol(idCol).as("split"))
      .withColumn("rk", rk)
    val dropped = pairs
      .join(sp.select(col("doc_id").as("i"), col("split").as("__sa"),
        col("rk").as("__ra")), "i")
      .join(sp.select(col("doc_id").as("j"), col("split").as("__sb"),
        col("rk").as("__rb")), "j")
      .filter(col("__sa") =!= col("__sb"))
      .select(when(col("__ra") < col("__rb"), col("i")).otherwise(col("j"))
        .as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__n"))
    sp.join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        when(col("__n").isNull, lit("keep")).otherwise(lit("drop_leak"))
          .as("action"),
        coalesce(col("__n"), lit(0L)).as("n_leak_pairs"))
  }

  /** Weighted-priority sample WITHOUT replacement — "pick n documents
    * with probability proportional to token count" (the
    * exposure-weighted subsample a token-budgeted mixture actually
    * wants, where the q115/q140 samplers are per-source-rate /
    * per-stratum-count): each document gets `w` integer TICKETS
    * (w = clamp(n_tokens, 1, maxTickets)), every ticket draws the
    * md5(id#seed#ticket) hash, and the document's PRIORITY is its
    * minimum ticket hash. Ranking by that priority is a weighted
    * random permutation — P(doc i outranks j) = wᵢ/(wᵢ+wⱼ) exactly,
    * the Efraimidis–Spirakis pairwise law — and the top-n prefix is
    * the weighted sample without replacement. All arithmetic is
    * md5-on-integers: no float RNG, no ln/pow whose last-ulp could
    * diverge between engines — the oracle replays every ticket
    * bit-for-bit (the same exact-contract discipline as the q189
    * portable minhash).
    *
    * Scale shape: the ticket explode is corpus×min(w, maxTickets)
    * narrow rows folded by a map-side-partial min per doc — one
    * aggregation exchange of (doc, 32-char hash) rows; `maxTickets`
    * caps both the blowup and the weight RESOLUTION (a 10⁶-token doc
    * counts as maxTickets — the documented trade; raise it when the
    * weight ceiling matters more than the explode factor). The top-n
    * is a TakeOrdered, never a global sort.
    */
  def weightedPrioritySample(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxTickets: Int = 256,
      seed: Int = 7): DataFrame = {
    require(n > 0 && maxTickets > 0,
      s"need n > 0 and maxTickets > 0: $n, $maxTickets")
    val base = docs.select(col(idCol).as("doc_id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("w_tickets",
        greatest(lit(1L), least(col("n_tokens"), lit(maxTickets.toLong))))
    base
      .select(col("doc_id"), col("n_tokens"), col("w_tickets"),
        explode(sequence(lit(0L), col("w_tickets") - 1)).as("t"))
      .select(col("doc_id"), col("n_tokens"), col("w_tickets"),
        md5(concat(col("doc_id").cast("string"), lit(s"#$seed#"),
          col("t").cast("string"))).as("tk"))
      .groupBy(col("doc_id"), col("n_tokens"), col("w_tickets"))
      .agg(min(col("tk")).as("key"))
      .orderBy(col("key"), col("doc_id"))
      .limit(n)
  }

  /** Mixture-rate plan — the bridge from the temperature MIXTURE
    * (L119/q153: what shares the training mix SHOULD have) to the
    * seeded SAMPLER (L81/q115: integer num/den keep rates executed at
    * scan speed): per source, the integer sampling rate
    * (wi/ni)/(wstar/nstar) on a fixed `den` grid — normalized to the
    * MOST-upsampled source (which keeps rate 1), because a sampler can
    * only drop documents, never mint them: scaling the whole plan to
    * the binding source makes the realized token mixture EXACTLY
    * proportional to the temperature weights (up to the den-grid
    * floor), where a min(1, target/current) clip would silently miss
    * the target wherever the target upsamples. Feed the (num, den)
    * pairs straight into `seededSourceSample` (batch or stream) and
    * the persisted corpus lands on the temperature mixture —
    * planning and execution in the same integer arithmetic, so the
    * oracle replays the plan bit-for-bit.
    *
    * The rate fold is exact BIGINT: num = floor(wi·nstar·den / (ni·wstar)) ≤ den.
    * Magnitude envelope: wi ≤ 10⁶, so the numerator tops out near
    * 10⁶·N·den — exact in BIGINT to N ≈ 10¹¹ tokens at den 4096; above
    * that (true 100 TB corpora) run the same fold in DECIMAL(38,0), a
    * one-line swap documented here rather than paid on every small
    * corpus.
    */
  def mixtureRatePlan(
      docs: DataFrame,
      textCol: String,
      sourceCol: String,
      alpha: Double = 0.5,
      den: Int = 4096): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    require(den > 0, s"den must be > 0: $den")
    val per = docs
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("__N"))
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("p", round(col("n_tokens").cast("double") / col("__N"), 6))
      .withColumn("__w",
        round(pow(col("p"), lit(alpha)) * 1e6, 0).cast("long"))
    // normalize rates to the MOST-upsampled source (max wi/ni, ties by
    // source name): a sampler can only drop, never mint, documents —
    // scaling the whole plan so that source keeps rate 1 makes the
    // realized mixture EXACTLY ∝ the temperature weights (up to the
    // den-grid floor), instead of silently missing the target wherever
    // min(1, target/current) would clip
    val best = scored
      .orderBy((col("__w").cast("double") / col("n_tokens")).desc,
        col("source"))
      .limit(1)
      .select(col("__w").as("__wstar"), col("n_tokens").as("__nstar"))
    val planned = scored.crossJoin(broadcast(best))
      .select(col("source"), col("n_tokens"), col("p"),
        col("__w").as("wi"), col("__wstar").as("wstar"),
        col("__nstar").as("nstar"))
      .withColumn("rate_num", least(lit(den.toLong),
        expr(s"(wi * nstar * $den) div (n_tokens * wstar)")))
      .withColumn("projected_tokens",
        expr(s"(n_tokens * rate_num) div $den"))
    val kTot = planned.agg(sum(col("projected_tokens")).as("__ksum"))
    planned.crossJoin(broadcast(kTot))
      .select(col("source"), col("n_tokens"), col("p"),
        col("wi").as("weight_int"),
        col("rate_num"), lit(den).as("rate_den"),
        col("projected_tokens"),
        round(col("projected_tokens").cast("double") / col("__ksum"), 6)
          .as("proj_share"))
  }

  /** Curriculum reshard — training order as data: documents are
    * staged into `phases` curriculum phases by classifier-quality
    * quantile (phase 1 = highest quality, read first — the standard
    * curriculum), then sharded and ordered WITHIN (phase, shard) by
    * md5 — the q104 reshard discipline applied per phase. A trainer
    * reads shards phase-by-phase and gets the curriculum without any
    * global sort: phase assignment compares the 6-dp prob against
    * driver-collected percentile cuts (the q91 bounded-state pattern
    * — never a global rank window), and every rank window is
    * (phase, shard)-partitioned, so partition width is
    * corpus/(phases·shards) at any scale. Deterministic in
    * (doc_id, seed).
    */
  def curriculumReshard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      phases: Int = 4,
      numShards: Int = 8,
      seed: Int = 42): DataFrame = {
    require(phases >= 2 && numShards >= 1,
      s"bad phases=$phases numShards=$numShards")
    val scored = TextOps.hashedLinearQuality(docs, idCol, textCol)
      .select(col("doc_id"), col("prob"))
    val qs = (1 until phases).map(_.toDouble / phases)
    val cuts: Seq[Double] = scored
      .agg(percentile(col("prob"), typedLit(qs)).as("c"))
      .head().getSeq[Double](0)
      .map(c => BigDecimal(c).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // bin counts cuts BELOW the prob (0 = lowest-quality quantile);
    // phase inverts it so phase 1 = the top-quality quantile
    val phased = scored.withColumn("phase",
      lit(phases) - size(filter(typedLit(cuts), c => col("prob") > c)))
    val h16 = conv(substring(
      md5(concat(col("doc_id").cast("string"), lit(":" + seed))), 1, 4),
      16, 10).cast("long")
    val keyed = phased
      .withColumn("shard", pmod(h16, lit(numShards.toLong)))
      .withColumn("__k",
        md5(concat(col("doc_id").cast("string"), lit("#" + seed))))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("phase"), col("shard"))
          .orderBy(col("__k"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("prob"), col("phase"), col("shard"),
        col("pos"))
  }

  /** Corpus datasheet — the one-row dataset card a release ships
    * (Gebru et al. 2021 "Datasheets for Datasets", reduced to the
    * numbers every corpus README quotes): scale (docs / tokens /
    * sources / languages / exact vocabulary), shape (mean doc length),
    * hygiene (exact-duplicate fraction), composition (dominant
    * language + share), and quality distribution (classifier-prob
    * quartiles). Every figure is an already-oracle-gated signal
    * re-aggregated; the row is the executive summary read before any
    * of the per-doc frames.
    *
    * Plan: one corpus scan per signal family — a scalar agg (counts /
    * token mass / 16-byte text hashes), one vocab-keyed distinct, one
    * language-keyed top-1, one percentile agg — then 1-row broadcast
    * joins. Nothing corpus-sized crosses an exchange except hash /
    * token keys.
    */
  def corpusDatasheet(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String = "source",
      langCol: String = "lang"): DataFrame = {
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
      countDistinct(col(sourceCol)).as("n_sources"),
      countDistinct(col(langCol)).as("n_langs"),
      countDistinct(md5(col(textCol))).as("__uniq"))
    val vocab = docs
      .select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab_size"))
    val topLang = docs.groupBy(col(langCol).as("top_lang"))
      .agg(count(lit(1)).as("__lc"))
      .orderBy(col("__lc").desc, col("top_lang"))
      .limit(1)
    val probs = TextOps.hashedLinearQuality(docs, idCol, textCol)
      .agg(percentile(col("prob"),
        typedLit(Seq(0.25, 0.5, 0.75))).as("__q"))
      .select(
        round(element_at(col("__q"), 1), 6).as("prob_p25"),
        round(element_at(col("__q"), 2), 6).as("prob_p50"),
        round(element_at(col("__q"), 3), 6).as("prob_p75"))
    base.crossJoin(broadcast(vocab))
      .crossJoin(broadcast(topLang))
      .crossJoin(broadcast(probs))
      .select(col("n_docs"), col("n_tokens"), col("n_sources"),
        col("n_langs"), col("vocab_size"),
        round(col("n_tokens").cast("double") / col("n_docs"), 6)
          .as("mean_tokens"),
        round(lit(1.0) - col("__uniq").cast("double") / col("n_docs"), 6)
          .as("exact_dup_frac"),
        col("top_lang"),
        round(col("__lc").cast("double") / col("n_docs"), 6)
          .as("top_lang_share"),
        col("prob_p25"), col("prob_p50"), col("prob_p75"))
  }

  /** Classifier calibration / gate-agreement readout — before trusting
    * a learned quality score ([[TextOps.hashedLinearQuality]]) to gate
    * a corpus, check it against an independent signal: bin documents
    * by classifier-probability decile and report how often the
    * token-entropy gate ([[TextOps.tokenEntropyGate]]) agrees per bin.
    * A well-behaved score shows agreement rising with the decile; a
    * flat curve means the classifier ranks noise. Two scan-speed
    * per-doc signals + one 10-row aggregation — nothing corpus-sized
    * on any exchange.
    */
  def classifierCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val prob = TextOps.hashedLinearQuality(docs, idCol, textCol)
      .select(col("doc_id"), col("prob"))
    val ent = TextOps.tokenEntropyGate(docs, idCol, textCol)
      .select(col("doc_id"), col("keep").as("__ek"))
    prob.join(ent, "doc_id")
      .withColumn("bin",
        least(floor(col("prob") * 10), lit(9L)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__ek"), 1L).otherwise(0L)).as("n_entropy_keep"))
      .select(col("bin"), col("n_docs"), col("n_entropy_keep"),
        round(col("n_entropy_keep").cast("double") / col("n_docs"), 6)
          .as("entropy_keep_frac"))
  }

  /** Budget-constrained quality selection — the planner step that turns
    * a per-doc quality score ([[TextOps.hashedLinearQuality]]) into an
    * actual training subset: per source, take documents in quality
    * order (prob desc, doc_id asc — one canonical order) until the
    * per-source TOKEN budget is exhausted (greedy prefix; a document
    * is kept only if it fits entirely). The per-source summary is the
    * budget report a mixture planner reads next to the temperature
    * weights (q153) and the Neyman quotas (q140).
    *
    * Scale: one scan for the scores (map-side), one source-partitioned
    * rank/cumsum window — partition width is per-source doc count, the
    * same envelope every per-source window op here carries; the
    * cumulative sums are exact BIGINTs.
    */
  def budgetQualitySelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      budgetTokens: Long = 2000L): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0: $budgetTokens")
    val scored = TextOps.hashedLinearQuality(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source")), "doc_id")
    val ord = Window.partitionBy(col("source"))
      .orderBy(col("prob").desc, col("doc_id"))
    val cum = scored.withColumn("__cum",
      sum(col("n_tokens")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    cum
      .withColumn("__kept", (col("__cum") <= budgetTokens).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(col("__kept")).as("n_kept"),
        sum(col("n_tokens") * col("__kept")).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_total"), col("tokens_kept"),
        round(col("tokens_kept").cast("double") / col("tokens_total"), 6)
          .as("kept_frac"))
  }
}
