package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Signatures

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language-ID heuristic, and
  * rolling-hash document fingerprinting. All pure Column expressions
  * (whole-stage codegen, no UDFs) so they run at scan speed and scale
  * linearly — no shuffle is introduced by any of them.
  */
object TextOps {

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pretokenizer count: the GPT-2 pretokenizer's shape
    * reduced to three portable alternations — letter runs, digit runs,
    * and punctuation runs, each absorbing one leading space. Counts
    * subword-ish units without a vocabulary (the standard cheap proxy
    * for "how many tokens will the tokenizer emit"), as a single
    * codegen'd regexp_count — scan speed, no shuffle, and the same
    * pattern runs verbatim in the DuckDB oracle.
    */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern))

  /** Distinct-token ratio — low values indicate repetitive/spammy text. */
  def distinctTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Mean token length in characters. */
  def avgTokenLength(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))
      .cast("double") / size(tokens(text))

  /** Count of tokens that appear in a fixed marker list. */
  def markerCount(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  val EnStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

  /** Stopword ratio against a fixed English stopword list — a standard
    * quality-scoring feature (natural prose has ratio ≫ 0).
    */
  def stopwordRatio(text: Column): Column =
    markerCount(tokens(text), EnStopwords).cast("double") / size(tokens(text))

  /** Punctuation character ratio over total characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,!?;:]", "")).cast("double") / length(text)

  // language-ID marker sets (tiny n-gram/stopword heuristic; the point is
  // the operator shape — swap in real profiles for production use)
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "y", "que"),
    "de" -> Seq("der", "die", "und", "das"),
  )

  /** Heuristic language ID: CJK characters ⇒ zh; else the marker set
    * with the highest hit count, ties broken in fixed priority order
    * (en > fr > es > de); no hits ⇒ unknown. Deterministic by
    * construction so it can be mirrored 1:1 in oracle SQL.
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val counts = LangMarkers.map { case (l, m) => l -> markerCount(toks, m) }
    val cjk = length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))
    val Seq(en, fr, es, de) = counts.map(_._2)
    when(cjk > 0, "zh")
      .when(en >= fr && en >= es && en >= de && en > 0, "en")
      .when(fr >= es && fr >= de && fr > 0, "fr")
      .when(es >= de && es > 0, "es")
      .when(de > 0, "de")
      .otherwise("unknown")
  }

  /** Rolling polynomial hash over tokens — a content fingerprint that is
    * stable under identical token sequences (left fold, mod 1e9+7).
    * h_0 = 7; h_{i+1} = (31·h_i + 17·len(t) + ascii(t[0])) mod p.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(7L),
      (h, t) => pmod(h * lit(31L) + length(t).cast("long") * lit(17L) + ascii(t).cast("long"),
        lit(1000000007L)))

  /** Deterministic content-keyed sampling bucket in [0, 100): the first
    * four hex digits of md5(text) as an integer mod 100. Content-keyed
    * (not id-keyed) so resampled corpora stay consistent across
    * re-shards, and md5 exists verbatim in every engine — the oracle
    * reproduces the bucket bit-for-bit. Keep-if `bucket < rate`
    * implements per-stratum downsampling without a shuffle or RNG
    * state (the standard rehash-based sampling for training corpora).
    */
  def sampleBucket(text: Column): Column =
    conv(substring(md5(text), 1, 4), 16, 10).cast("long") % 100

  /** Stratified sampling filter: per-stratum keep-rates (percent),
    * default rate for unlisted strata. Pure map-side predicate.
    */
  def stratifiedKeep(
      stratum: Column, text: Column,
      rates: Seq[(String, Int)], defaultRate: Int): Column = {
    val b = sampleBucket(text)
    rates.foldRight(b < defaultRate) { case ((s, r), acc) =>
      when(stratum === s, b < r).otherwise(acc)
    }
  }

  /** The curation pipeline's keep/drop verdict: token count, language
    * ID, and word-repetition fraction scored per document, plus a
    * `keep` boolean from the thresholds. Every signal is a per-row
    * Column expression, so the plan is scan-speed with NO shuffle —
    * which is also why it is streaming-legal: stateless per-document
    * math runs unchanged on a micro-batch (StreamingSpec runs it on a
    * MemoryStream against the batch result). Filter-first
    * ordering is deliberate — cross-document work (dedup) runs AFTER
    * this verdict has shrunk the corpus, never before.
    */
  def curationVerdict(
      docs: DataFrame,
      minTokens: Int = 5,
      maxDupWordFrac: Double = 0.9): DataFrame =
    docs
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("pred_lang", langId(col("text")))
      .withColumn("dup_word_frac", dupWordFrac(col("text")))
      .withColumn("keep",
        col("n_tokens") >= minTokens &&
          col("dup_word_frac") <= maxDupWordFrac)

  /** Conservative PII patterns shared verbatim with the DuckDB oracle:
    * kept inside the Java∩RE2 regex subset (no lookarounds, no
    * backrefs) so the SAME source string drives both engines.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrub — the redaction pass a training corpus runs before
    * anything is retained: emails and phone-shaped numbers replaced
    * with typed placeholders, per-document match counts reported for
    * the scrub-rate readout. Pure per-row regex Column math (codegen,
    * scan-speed, no shuffle); email redaction runs FIRST so the phone
    * pattern can't match digit runs inside an address, and n_phones is
    * counted on the email-redacted intermediate — counting the raw
    * text would report phone "redactions" for digit runs the email
    * pass already consumed (e.g. a phone-shaped local part), making
    * the counts disagree with what the output actually replaced.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        regexp_count(col(textCol), lit(EmailRe)).as("n_emails"),
        regexp_replace(col(textCol), EmailRe, "<EMAIL>").as("__t1"))
      .select(col("doc_id"), col("n_emails"),
        regexp_count(col("__t1"), lit(PhoneRe)).as("n_phones"),
        regexp_replace(col("__t1"), PhoneRe, "<PHONE>").as("text_redacted"))

  /** Token n-grams WITH repeats (bag semantics) over an
    * already-materialized token-array column — the unit for repetition
    * measurement and substring dedup, where repeats are exactly the
    * signal (contrast shingle_hashes, which dedupes for Jaccard).
    *
    * Each window is ONE slice of the array (not n element_at calls):
    * a lambda body re-evaluates every expression subtree it references
    * per element, so when the caller passes a raw `split(text)`
    * expression instead of a projected attribute, per-window work must
    * stay O(1) references or window explosion goes quadratic in
    * document length (measured: 5 element_at references made the
    * corpus-wide gram explode ~8× slower). Callers that explode
    * corpus-wide (repeatedNgrams/repeatedSpanFrac) project the token
    * array to an attribute first, making the tokenize cost
    * once-per-document.
    */
  def tokenNgramsOfTokens(w: Column, n: Int): Column =
    // guard the short-document case: sequence(0, size-n) with size < n
    // would DESCEND (Spark defaults step to -1 when start > stop) and
    // slice would then throw under ANSI mode
    when(size(w) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n)))))

  def tokenNgrams(text: Column, n: Int): Column =
    tokenNgramsOfTokens(tokens(text), n)

  /** Gopher-style within-document repetition signals (Rae et al. 2021
    * §A1.1 use duplicate-line and duplicate-n-gram fractions as removal
    * filters):
    *   dup_word_frac  — fraction of token occurrences that are repeats
    *   top_token_frac — share of the single most frequent token
    *   dup_3gram_frac — fraction of token 3-gram occurrences that are
    *                    repeats (boilerplate/spam detector)
    * Pure Column expressions, scan speed, no shuffle. The per-token
    * frequency scan is O(tokens·distinct) per document — bounded by
    * document length, not corpus size, so it stays map-side at any SF.
    */
  def dupWordFrac(text: Column): Column = {
    val w = tokens(text)
    (size(w) - size(array_distinct(w))).cast("double") / size(w)
  }

  def topTokenFrac(text: Column): Column = {
    val w = tokens(text)
    array_max(transform(array_distinct(w),
      t => size(filter(w, x => x === t)))).cast("double") / size(w)
  }

  def dupNgramFrac(text: Column, n: Int): Column = {
    val g = tokenNgrams(text, n)
    when(size(g) <= 0, lit(0.0))
      .otherwise((size(g) - size(array_distinct(g))).cast("double") / size(g))
  }

  /** TF-IDF top-k terms per document. Plan shape (linear in corpus,
    * ONE pass over the token stream):
    *   1. explode tokens → (doc, term) partial-agg counts (map-side
    *      combine before the shuffle: the exchange carries one row per
    *      distinct (doc, term), not one per token)
    *   2. document frequency = count over a term-partitioned window ON
    *      the tf frame (tf has one row per (doc, term), so the count IS
    *      df). A broadcast-back of a separately aggregated df table
    *      would (a) re-run the corpus scan + token explode as a second
    *      job — broadcast sides share no exchange reuse — and (b)
    *      broadcast an open-ended web VOCABULARY, which at 100 TB is
    *      billions of terms and not broadcastable; the window is one
    *      extra exchange of the already-aggregated tf rows instead
    *   3. corpus size joined as a broadcast 1-row frame — no driver
    *      action, the count stays inside the lazy plan (a count-only
    *      parquet scan, not a second token pass)
    *   4. top-k per doc via row_number over the doc-partitioned window
    *      (ties broken by term so the result is deterministic and
    *      oracle-comparable)
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rnk"))
  }

  /** Sparse TF-IDF cosine similarity join — the lexical counterpart to
    * the embedding near-dup path (Similarity.nearDupPairs*): document
    * pairs whose TF-IDF-weighted term vectors have cosine ≥ τ. The
    * classic pre-embedding dedup/near-dup signal, still the standard
    * cross-check when embedding similarity is suspected of semantic
    * over-merge (paraphrase vs boilerplate).
    *
    * Shape: per-(doc, term) weights tf·ln(N/df) (the q50 formula)
    * collapse to ONE term-sorted sparse vector row per document, then
    * pairs come from the nearDupPairsBlocked cell scheme — a shuffled
    * equi-join over B(B+1)/2 uniformly-sized cells, so a hot term
    * cannot serialize the join the way a posting-list (term-keyed)
    * pairing would: on a boilerplate-heavy corpus a term in 80% of
    * documents puts ~N²/2 candidate rows on ONE key, while the cell
    * scheme's per-task work is |cell|² regardless of term skew.
    * Per-pair dots are a native sorted-merge kernel
    * (Signatures.sparse_dot): products of shared terms accumulate
    * SEQUENTIALLY in ascending binary term order (the L38-L40
    * discipline) — symmetric in its arguments and bit-identical to
    * the DuckDB oracle's list_sort + list_reduce fold over the
    * shared-term products. A parallel `sum()` of doubles would be
    * summation-order-nondeterministic across engines AND across
    * Spark runs. Norms fold the same way per document.
    *
    * `maxDf` drops terms present in more than that many documents
    * BEFORE vectorization (mirrored exactly in the oracle):
    * stopword-class terms carry near-zero idf weight yet dominate
    * vector width — df-capped TF-IDF is standard practice, not an
    * approximation knob. Requires τ > 0 (pairs sharing no surviving
    * term have cosine exactly 0 and are never emitted). Exact and
    * quadratic in candidate pairs by design — the audit-class exact
    * path; at corpus scale the gated approximate routes are MinHash
    * (q19) / SimHash (q20). Returns (i, j, cos) for pairs ≥ τ.
    */
  def tfIdfCosineJoin(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Int = 10000, numBlocks: Int = 16): DataFrame = {
    require(threshold > 0, "threshold must be > 0: no-shared-term pairs are never emitted")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val weighted = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("w"))
    // one row per doc: term-sorted sparse vector (as PARALLEL arrays —
    // see SparseDot's scaladoc for why not array<struct>) +
    // order-pinned norm
    // materialized, unlike minhashLsh's deliberately-lazy shingle frame:
    // this one sits 4 shuffles deep (tokenize → tf → df join → vectorize)
    // and feeds BOTH sides of the self-join. The returned join reads it,
    // so it is a temp parquet, not a scope frame; the read-back's real
    // stats let a small vectorized corpus broadcast instead of
    // sort-merging per cell.
    val vecs = Exec.materializeToTemp(weighted.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("term"), col("w")))).as("vec"))
      .select(col("doc_id"),
        transform(col("vec"), e => e.getField("term")).as("terms"),
        transform(col("vec"), e => e.getField("w")).as("ws"),
        sqrt(aggregate(col("vec"), lit(0.0),
          (a, x) => a + x.getField("w") * x.getField("w"))).as("nrm"))
      .filter(col("nrm") > 0), "tfidf")
    // cell scheme as in Similarity.nearDupPairsBlocked: doc → block by
    // id hash; cell (bi,bj), bi ≤ bj, holds every cross-block pair once
    val b = numBlocks
    val blocked = vecs.withColumn("blk",
      pmod(xxhash64(col("doc_id")), lit(b.toLong)).cast("int"))
    val left = blocked.select(col("doc_id").as("i"), col("terms").as("ta"),
        col("ws").as("wa"), col("nrm").as("ni"), col("blk").as("bi"))
      .withColumn("cell", explode(transform(
        sequence(col("bi"), lit(b - 1)), x => col("bi") * b + x)))
    val right = blocked.select(col("doc_id").as("j"), col("terms").as("tb"),
        col("ws").as("wb"), col("nrm").as("nj"), col("blk").as("bj"))
      .withColumn("cell", explode(transform(
        sequence(lit(0), col("bj")), y => y * b + col("bj"))))
    left.join(right, left("cell") === right("cell") &&
        (col("bi") =!= col("bj") || col("i") < col("j")))
      .select(
        least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"),
        round(Signatures.sparse_dot(col("ta"), col("wa"), col("tb"), col("wb"))
          / (col("ni") * col("nj")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Global vocabulary top-k: occurrence count + document frequency per
    * term, largest first. Two partial-aggregated shuffles over (term)
    * and a TakeOrdered top-k — no full sort, no driver materialization
    * beyond the k rows.
    */
  def vocabTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    toks.groupBy(col("term"))
      .agg(count(lit(1)).as("n_occur"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occur").desc, col("term"))
      .limit(k)
  }

  /** Unigram negative-log-likelihood per document — the in-repo
    * equivalent of the LM-perplexity quality filter (CCNet scores
    * documents with an external KenLM; with zero egress the corpus's
    * OWN unigram distribution is the honest stand-in, and the operator
    * shape — score each doc against a global token distribution — is
    * identical). High NLL = improbable token mix (gibberish, rare-token
    * spam); low = common-word boilerplate. Every token's probability
    * is count(term)/total over the whole corpus, so smoothing is
    * unnecessary — a token always has its own count ≥ 1.
    *
    * Plan: one term-keyed exchange for the frequencies, one term-keyed
    * join to attach them to the positioned token stream (vocabulary
    * sized — NOT broadcast, the q50 argument), one doc-keyed exchange
    * for the per-document fold. The per-doc sum of logs is folded in
    * POSITION order (collect_list → array_sort by pos → sequential
    * aggregate) because a plain sum() over doubles has
    * engine-dependent order; the oracle's list(... ORDER BY pos) +
    * list_reduce replays the identical fold. log itself is shared with
    * q50's tfidf (both engines' libm agree on these values — the
    * precedented risk class).
    */
  def unigramNll(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
    val freq = toks.groupBy(col("term")).agg(count(lit(1)).as("__cnt"))
    val total = freq.agg(sum(col("__cnt")).as("__tot"))
    toks.join(freq, "term")
      .crossJoin(broadcast(total))
      .withColumn("__logp",
        log(col("__cnt").cast("double") / col("__tot").cast("double")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("__logp")))),
            s => s.getField("__logp")),
          lit(0.0), (a, x) => a + x).as("__sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(-col("__sum") / col("n_tokens").cast("double"), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** Out-of-vocabulary rate per document against the corpus's own
    * top-K vocabulary — the tokenizer-coverage readout run before
    * committing to a vocab size. Composition of vocabTopK (a k-row
    * frame, broadcast) with a map-side left join over exploded tokens:
    * the corpus shuffles once for the per-doc aggregation, never for
    * the vocabulary membership test.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
      vocabK: Int): DataFrame = {
    val vocab = vocabTopK(docs, idCol, textCol, vocabK)
      .select(col("term")).withColumn("__in", lit(1))
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        avg(when(col("__in").isNull, 1.0).otherwise(0.0)).as("oov_rate"))
  }

  /** Interpolated-bigram LM quality score — [[unigramNll]]'s contextful
    * big sibling, the KenLM-shaped perplexity filter (CCNet, Wenzek et
    * al. 2020) corpus builds run where unigram statistics are too
    * coarse: per document, the mean negative log of
    * λ·p(w|prev) + (1−λ)·p(w) over its token transitions, with both
    * models estimated from the corpus itself (MLE; the interpolation
    * with the unigram floor is what keeps unseen-context transitions
    * finite, so no extra smoothing knob is needed). Low nll = fluent
    * under the corpus's own statistics; high = boilerplate soup.
    *
    * Shape: the bigram table is ONE extra token-keyed aggregation over
    * [[unigramNll]]'s plan — (prev,cur) counts and their prev-marginal
    * both pre-aggregate map-side, stay vocabulary²-bounded in the
    * worst case and transition-distinct-bounded in practice, and are
    * NEVER collected; the positioned transition stream joins them by
    * key (vocabulary-sized — NOT broadcast, the q50/q75 argument) and
    * folds per document in POSITION order (collect_list → array_sort →
    * sequential aggregate, the L38-L40 discipline) so the oracle's
    * list_sort + list_reduce replays every double bit-for-bit. At
    * 100 TB: three token-keyed exchanges + one doc-keyed fold,
    * scan-dominated, skew-free.
    */
  def bigramNll(docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.7): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda out of [0,1]: $lambda")
    val w = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
    val toks = w.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos", "term")))
    // unigram model: the q75 frequency table
    val uni = toks.groupBy(col("term")).agg(count(lit(1)).as("__cu"))
    val tot = uni.agg(sum(col("__cu")).as("__tot"))
    // transitions: (pos, prev, cur) from the two shifted slices of the
    // token array — no self-join, the pairing happens inside the scan
    val bi = w.filter(size(col("w")) >= 2)
      .select(col("doc_id"), posexplode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1))).as(Seq("pos", "pc")))
      .select(col("doc_id"), col("pos"),
        col("pc").getField("0").as("prev"), col("pc").getField("1").as("cur"))
    val cb = bi.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("__cb"))
    val cc = cb.groupBy(col("prev")).agg(sum(col("__cb")).as("__cc"))
    bi.join(cb, Seq("prev", "cur"))
      .join(cc, Seq("prev"))
      .join(uni, col("cur") === uni("term"))
      .crossJoin(broadcast(tot))
      .withColumn("__logp", log(
        lit(lambda) * (col("__cb").cast("double") / col("__cc").cast("double"))
          + lit(1.0 - lambda) *
            (col("__cu").cast("double") / col("__tot").cast("double"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_transitions"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("__logp")))),
            s => s.getField("__logp")),
          lit(0.0), (a, x) => a + x).as("__sum"))
      .select(col("doc_id"), col("n_transitions"),
        round(-col("__sum") / col("n_transitions").cast("double"), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge statistics — the first step of byte-pair-encoding
    * tokenizer TRAINING (Sennrich et al. 2016): corpus-wide counts of
    * adjacent character pairs inside words, the quantity whose argmax
    * is the next merge. One round is the expensive, data-sized part
    * of BPE training (the merge loop itself runs over the vocab-sized
    * pair table); shipping it as a corpus operator is what lets a
    * tokenizer be trained ON the 100 TB corpus instead of a sample.
    *
    * Shape: the corpus collapses to its word-frequency table FIRST
    * (one token-keyed exchange, vocabulary-sized — the Zipf collapse:
    * every later step is weighted by `cnt` instead of re-touching
    * each occurrence), pairs then explode from the VOCAB (tiny) via a
    * codegen'd in-scan `transform`+`substr`, and one pair-keyed
    * aggregation with map-side partial sums yields the counts. The
    * topK is a TakeOrdered on (count desc, pair asc) — never a full
    * sort. Nothing here is corpus-sized after the first exchange.
    */
  def bpePairStats(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val wordFreq = docs
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    wordFreq.filter(length(col("word")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** Feature-hashing text vectorizer (the hashing trick, Weinberger et
    * al. 2009): each token hashes to one of `dims` buckets with a ±1
    * sign, and a document's vector is the signed bucket counts,
    * L2-normalized — the model-free featurization that gives every
    * similarity/clustering operator (L7-L12, L41, L47) a vector to
    * run on when no trained embedding exists. Bucket and sign derive
    * from md5(token) hex digits (the q86 derived-randomness trick:
    * both engines regenerate the "random" projection, nothing is
    * shipped), so the operator is fully deterministic and exactly
    * oracle-able.
    *
    * Float discipline: bucket weights are INTEGER sums of ±1 — order-
    * free by construction — and the squared norm is an integer sum of
    * squares; the only floating-point step is the final normalize, so
    * no fold-order pinning is needed anywhere. Shape: one map-side
    * projection + one (doc, dim)-keyed aggregation + one doc-keyed
    * norm join — scan-dominated, dims ≤ 16 per doc on the exchanges.
    * Emits nonzero dims only (sparse long form: doc_id, dim, w,
    * weight).
    */
  /** Count-min-sketch heavy hitters: all bigrams with exact count ≥
    * max(minAbs, ceil(total/minDen)), found WITHOUT shuffling the
    * vocabulary. Two phases:
    *
    *   1. CMS build — each gram occurrence votes into `depth` hashed
    *      buckets (md5-substring hashes, width divides 16^5 so the mod
    *      is unbiased); the groupBy key space is depth·width (= 3072
    *      cells by default) regardless of vocabulary size, so the
    *      shuffle after map-side partial aggregation is O(cells ·
    *      partitions), not O(vocab). The sketch (and the total, read
    *      off row 0) collects to the driver — a few KB.
    *   2. Exact verify — a second scan keeps only occurrences whose
    *      sketch estimate (min over rows, a broadcast-literal lookup)
    *      clears the threshold, then exact-counts just those. CMS
    *      estimates never undercount, so phase 2's candidate set is a
    *      superset of the true heavy hitters and the output is EXACT —
    *      probabilistic work, deterministic answer (the q19 contract).
    *
    * At 100 TB the vocabulary of a bigram groupBy is billions of keys;
    * here only genuinely heavy candidates (bounded by total/T per row
    * of the sketch) ever reach a shuffle with their string key.
    */
  /** Bigram occurrences with their `depth` md5-derived CMS bucket ids —
    * the shared front half of the batch heavy-hitter op and the
    * streaming sketch twin. Width must divide 16^5 so the mod over a
    * 5-hex-char hash is unbiased.
    */
  def cmsBucketed(
      docs: DataFrame, textCol: String, depth: Int, width: Int): DataFrame = {
    require((16L * 16 * 16 * 16 * 16) % width == 0, "width must divide 16^5")
    docs
      .select(tokens(col(textCol)).as("__w"))
      .select(explode(tokenNgramsOfTokens(col("__w"), 2)).as("gram"))
      .select(col("gram") +:
        (0 until depth).map { r =>
          (conv(substring(md5(col("gram")), 1 + 5 * r, 5), 16, 10)
            .cast("long") % width).as(s"__b$r")
        }: _*)
  }

  /** Bucketed grams → (r, b, c) sketch cells. The groupBy key space is
    * depth·width regardless of vocabulary, which is the whole point —
    * and also why this works UNCHANGED as a streaming aggregation with
    * permanently bounded state (StreamingSpec pins the running sketch
    * to the batch sketch).
    */
  def cmsCellsOf(bucketed: DataFrame, depth: Int): DataFrame =
    bucketed
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), col(s"__b$r").as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))

  def cmsHeavyHitters(
      docs: DataFrame,
      textCol: String,
      depth: Int = 3,
      width: Int = 1024,
      minAbs: Long = 5L,
      minDen: Long = 2000L): DataFrame = {
    val bucketed = cmsBucketed(docs, textCol, depth, width)
    val cells = cmsCellsOf(bucketed, depth).collect()
    val cms = Array.fill(depth * width)(0L)
    cells.foreach(row => cms(row.getInt(0) * width + row.getLong(1).toInt) = row.getLong(2))
    val total = (0 until width).map(b => cms(b)).sum // row 0 sums to the gram count
    val threshold = math.max(minAbs, (total + minDen - 1) / minDen)
    val cmsLit = typedlit(cms.toSeq)
    val est = (0 until depth).map { r =>
      element_at(cmsLit, (lit(r * width) + col(s"__b$r") + 1).cast("int"))
    }.reduce(least(_, _))
    bucketed
      .filter(est >= threshold)
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
      .orderBy(col("cnt").desc, col("gram"))
  }

  /** HyperLogLog (Flajolet et al. 2007) over per-group token streams —
    * the CMS sibling for COUNT DISTINCT: per-source vocabulary size
    * from 256 fixed registers instead of a vocabulary-sized
    * count-distinct shuffle. Shared front half of the batch estimate
    * and the streaming sketch twin (the cmsBucketed discipline): one
    * row per token occurrence carrying its register index and rank,
    * all md5-derived so any SQL engine reproduces the registers
    * verbatim.
    *
    *   bucket — first 2 hex chars of md5(token): 8 bits, m = 256;
    *   rho    — leading-zero count of the NEXT 52 bits + 1 (53 when
    *            all zero), computed on the hex string itself (ltrim
    *            of '0's + one CASE over the first surviving digit's
    *            4-bit class) — no floating log, no libm, no
    *            bit-twiddling an engine could round differently.
    */
  def hllBucketed(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val hx = md5(col("__tok"))
    val t = ltrim(substring(hx, 3, 13), "0")
    val d = substring(t, 1, 1)
    val clz4 = when(d.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
      .when(d.isin("4", "5", "6", "7"), 1)
      .when(d.isin("2", "3"), 2)
      .otherwise(3)
    docs
      .select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("__tok"))
      .select(col("grp"),
        conv(substring(hx, 1, 2), 16, 10).cast("int").as("bucket"),
        when(length(t) === 0, 53)
          .otherwise((lit(13) - length(t)) * 4 + clz4 + 1).as("rho"))
  }

  /** Bucketed occurrences → (grp, bucket, rho) registers: max(rho) per
    * register, the HLL state. The groupBy key space is 256·groups
    * regardless of vocabulary — and, like the CMS cells, max is an
    * idempotent monoid, so the SAME body is a streaming aggregation
    * with permanently bounded state (StreamingSpec pins it to the
    * batch registers), and region-sharded register sets union by max
    * before estimating.
    */
  def hllRegisters(bucketed: DataFrame): DataFrame =
    bucketed.groupBy("grp", "bucket").agg(max("rho").as("rho"))

  /** Log₂-bucketed sequence-length histogram — the packing/curriculum
    * planning readout (which length buckets hold the token mass drives
    * maxLen/stride for Packing.chunk and bin sizes for Packing.pack).
    * The bucket is integer-exact in both engines: floor(log₂ n) =
    * length(bin(n)) − 1 — no floating log to straddle an exact power
    * of two. One map-side projection + a buckets-sized agg + a 1-row
    * broadcast total; shares 6-dp rounded.
    */
  def lengthHistogram(docs: DataFrame, textCol: String): DataFrame = {
    val n = tokenCount(col(textCol)).cast("long")
    val per = docs
      .select((length(bin(n)) - 1).cast("int").as("bucket"), n.as("__nt"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"),
        min(col("__nt")).as("min_len"), max(col("__nt")).as("max_len"))
    val tot = per.agg(sum(col("n_docs")).as("__td"),
      sum(col("n_tokens")).as("__tt"))
    per.crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr("CAST(shiftleft(1L, bucket) AS BIGINT)").as("lo"),
        expr("CAST(shiftleft(1L, bucket + 1) - 1 AS BIGINT)").as("hi"),
        col("n_docs"), col("n_tokens"), col("min_len"), col("max_len"),
        round(col("n_docs").cast("double") / col("__td"), 6).as("doc_share"),
        round(col("n_tokens").cast("double") / col("__tt"), 6)
          .as("token_share"))
  }

  /** Per-group HLL vocabulary estimate next to its exact audit column.
    *
    * Estimator kept oracle-exact: empty registers contribute 2⁰ via
    * the closed form m − n_present (no 256-cell grid join needed);
    * present registers fold 1/(1<<ρ) in ascending-bucket order from a
    * 0.0 seed (the L38-L40 float discipline — no libm pow, the shift
    * is integer); α_256 is spelled as 0.7213/(1 + 1.079/256) in BOTH
    * engines so the constant itself carries no rounding choice; the
    * small-range linear-counting branch (raw ≤ 2.5m ∧ V>0 →
    * m·ln(m/V)) compares and corrects on identically-computed doubles.
    *
    * n_exact is the AUDIT column (`audit = true`, the oracle-gate
    * configuration) — a real vocabulary-sized distinct shuffle that
    * exists to prove the sketch (the q95 exact-verify contract). The
    * shipped-pipeline path is `audit = false`: the register path alone
    * (256 rows per group on the exchange, mergeable across shards/
    * streams), whose plan carries NO join and no corpus-wide exact
    * distinct (pinned by PlanSpec); the gate runs both so rel_err is a
    * measured fact, not a claim.
    */
  def hllVocabulary(
      docs: DataFrame, textCol: String, groupCol: String,
      audit: Boolean = true): DataFrame = {
    val regs = hllRegisters(hllBucketed(docs, textCol, groupCol))
      .withColumn("inv", expr("1.0 / cast(shiftleft(1L, rho) as double)"))
    val est = regs.groupBy("grp").agg(
      count(lit(1)).as("n_present"),
      aggregate(
        sort_array(collect_list(struct(col("bucket"), col("inv")))),
        lit(0.0), (a, x) => a + x.getField("inv")).as("s_present"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val m = lit(256.0)
    val v = lit(256) - col("n_present")
    val raw = alpha * m * m / (col("s_present") + v.cast("double"))
    val corrected = when(raw <= lit(2.5) * m && v > 0,
      m * log(m / v.cast("double"))).otherwise(raw)
    if (!audit)
      return est.select(col("grp").as(groupCol),
        round(corrected, 6).as("hll_est"))
    val exact = docs
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("t"))
      .groupBy("grp").agg(countDistinct(col("t")).as("n_exact"))
    est.join(exact, "grp")
      .select(col("grp").as(groupCol), col("n_exact"),
        round(corrected, 6).as("hll_est"),
        round(abs(corrected - col("n_exact")) / col("n_exact"), 6)
          .as("rel_err"))
  }

  /** Per-document n-gram novelty: the fraction of a document's n-gram
    * occurrences whose FIRST corpus appearance (minimum doc_id) is this
    * document — the standard train-order memorization/novelty readout
    * (documents contributing mostly already-seen n-grams add little).
    * Gram-hash keyed throughout: the min-doc groupBy and the join back
    * move 8-byte hashes, never gram text, so the shuffle is bounded by
    * occurrence count × 16 bytes at any corpus size. Documented risk
    * (shared with every hashed-shingle path in this repo): a 64-bit
    * xxhash64 collision would silently merge two distinct grams;
    * expected collisions ≈ V²/2⁶⁵ stay below one until the distinct
    * gram count V reaches ~6×10⁹ — an accepted envelope, chosen over
    * putting gram text on the exchanges.
    */
  def ngramNovelty(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val d = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__w"))
    val grams = d
      .select(col("doc_id"), explode(tokenNgramsOfTokens(col("__w"), n)).as("__g"))
      .select(col("doc_id"), xxhash64(col("__g")).as("__gh"))
    val first = grams.groupBy(col("__gh")).agg(min(col("doc_id")).as("__fd"))
    val nov = grams.join(first, "__gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(when(col("__fd") === col("doc_id"), 1.0).otherwise(0.0)), 6)
          .as("novel_frac"))
    d.select(col("doc_id")).join(nov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("novel_frac"))
      .orderBy(col("doc_id"))
  }

  /** Per-source exact-duplicate rate: for each source, how many of its
    * documents are verbatim copies of an EARLIER document (min doc_id
    * anywhere in the corpus keeps; later copies count as dups, wherever
    * the keeper lives) — the standard which-crawl-is-dirty curation
    * readout. Text-hash keyed like L1: the groupBy and join-back move
    * (hash, id) pairs, never text. Documented risk (the L1 envelope):
    * a 64-bit collision would merge two distinct texts into one dup
    * group; expected collisions ≈ N²/2⁶⁵ stay below one until ~6×10⁹
    * documents — accepted over shuffling document text.
    */
  def dupRateBySource(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String): DataFrame = {
    val h = docs.select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
      xxhash64(col(textCol)).as("__h"))
    val keepers = h.groupBy(col("__h")).agg(min(col("doc_id")).as("__keeper"))
    h.join(keepers, "__h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("__keeper"), 1L).otherwise(0L)).as("n_dups"),
        round(avg(when(col("doc_id") =!= col("__keeper"), 1.0).otherwise(0.0)), 6)
          .as("dup_rate"))
      .orderBy(col("source"))
  }

  /** Top-k PMI collocations: bigrams with count ≥ minCount ranked by
    * pointwise mutual information ln(p(ab)/(p(a)·p(b))) — the
    * collocation/tokenizer-vocabulary diagnostic. Corpus totals are two
    * bounded driver scalars; unigram counts join onto the
    * vocabulary-sized bigram-count frame (counts, not occurrences, so
    * both sides shrink with vocabulary, not corpus). Ranking is on the
    * ROUNDED pmi with a gram tie-break (the q62 lesson: never rank on
    * an unrounded float you then round), and the float expression shape
    * — (c_ab/N_bi)·(N_uni/c_a)·(N_uni/c_b), left-associated — is
    * mirrored verbatim in the oracle so both engines round the same
    * doubles.
    */
  def pmiCollocations(
      docs: DataFrame,
      textCol: String,
      minCount: Long = 5L,
      topK: Int = 25): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("__w"))
    val uni = toks.select(explode(col("__w")).as("tok"))
    val bi = toks.select(explode(tokenNgramsOfTokens(col("__w"), 2)).as("gram"))
    val uc = uni.groupBy(col("tok")).agg(count(lit(1)).as("__c"))
    val gc = bi.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("__a", split(col("gram"), " ").getItem(0))
      .withColumn("__b", split(col("gram"), " ").getItem(1))
    // Broadcast BOUND (the round-5 q50 lesson): the raw unigram count
    // frame is open-vocabulary — corpus-sized on a web crawl — so it
    // must never carry a broadcast hint. Semi-joining it down to the
    // terms that actually appear in the minCount-filtered bigram frame
    // bounds the broadcast side by 2·|gc| regardless of corpus size,
    // and cannot change the result: the subsequent equi-joins only ever
    // look up those same terms.
    val cand = gc.select(col("__a").as("tok"))
      .union(gc.select(col("__b").as("tok"))).distinct()
    val ucB = uc.join(cand, Seq("tok"), "left_semi")
    val nUni = uni.count()
    val nBi = bi.count()
    gc.join(broadcast(ucB.withColumnRenamed("tok", "__a").withColumnRenamed("__c", "__ca")), "__a")
      .join(broadcast(ucB.withColumnRenamed("tok", "__b").withColumnRenamed("__c", "__cb")), "__b")
      .select(col("gram"), col("cnt"),
        round(log(col("cnt").cast("double") / lit(nBi.toDouble)
          * (lit(nUni.toDouble) / col("__ca"))
          * (lit(nUni.toDouble) / col("__cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("gram"))
      .limit(topK)
  }

  /** Deterministic training-order resharding: every document gets a
    * shard (16-bit md5(doc_id:seed) prefix mod `numShards` — uniform
    * for any shard count up to 65536) and a position within its shard
    * (hex-hash order, doc_id tie-break). This is the global-shuffle
    * step a training run needs to be reproducible across re-runs and
    * re-shards: content-independent, seed-keyed, no RNG state. Raise
    * `numShards` to match writer parallelism at scale — membership of
    * the corpus and determinism of the order are invariant under the
    * shard count (ShardSpec proves it); only the (shard, pos)
    * labelling permutes.
    *
    * The within-shard rank is NEVER one task's sort: each shard is
    * sub-bucketed by the hash's most-significant hex digit (which is
    * order-aligned with the `__h` sort, so ranks compose), local
    * row_numbers run over (shard, subbucket) windows — 16·numShards
    * independent sorts — and the cross-bucket offsets are a bounded
    * 16·numShards-row driver prefix sum (one sorted pass) re-entering
    * as a literal map below 2048 groups, or as a broadcast offsets
    * frame above that so a 65536-shard run never inlines a ~1M-entry
    * plan literal (the q77 distributed-prefix-sum discipline,
    * Curation.tokenBudgetSelect).
    */
  def shardAssignment(
      docs: DataFrame,
      idCol: String,
      seed: Int = 42,
      numShards: Int = 16): DataFrame = {
    require(numShards > 0 && numShards <= 65536,
      "numShards must be in [1, 65536] (16-bit hash prefix)")
    val h = md5(concat(col(idCol).cast("string"), lit(":" + seed)))
    // materialized once: the offsets collect below and the returned
    // query both read it
    val base = Exec.materializeToTemp(docs
      .select(col(idCol).as("doc_id"), h.as("__h"))
      .withColumn("shard",
        pmod(conv(substring(col("__h"), 1, 4), 16, 10).cast("int"),
          lit(numShards)).cast("int"))
      .withColumn("__sub", conv(substring(col("__h"), 1, 1), 16, 10).cast("int")),
      "shard")
    // exclusive prefix offsets: rows in the same shard living in a
    // strictly smaller sub-bucket; 16·numShards rows, driver-bounded.
    // One sorted pass (O(G log G) for G groups, not the G² re-filter
    // this used to do), so the full numShards = 65536 range the
    // signature advertises is actually serveable.
    val counts = base.groupBy(col("shard"), col("__sub"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
      .sortBy { case ((sh, sb), _) => (sh, sb) }
    val offsets = new scala.collection.mutable.ArrayBuffer[(Int, Long)](counts.length)
    var runShard = -1
    var runSum = 0L
    for (((sh, sb), c) <- counts) {
      if (sh != runShard) { runShard = sh; runSum = 0L }
      offsets += ((sh * 16 + sb) -> runSum)
      runSum += c
    }
    val ranked =
      if (offsets.size <= 2048) {
        // small group count: literal map, zero extra exchange
        val offExpr =
          if (offsets.isEmpty) lit(0L)
          else coalesce(
            element_at(typedlit(offsets.toMap),
              col("shard") * 16 + col("__sub")), lit(0L))
        base.withColumn("__off", offExpr)
      } else {
        // many shards: the offsets re-enter as a broadcast frame, not a
        // million-entry plan literal
        val s = docs.sparkSession
        import s.implicits._
        val offDf = offsets.toSeq.map { case (k, v) => (k / 16, k % 16, v) }
          .toDF("shard", "__sub", "__off")
        base.join(broadcast(offDf), Seq("shard", "__sub"), "left")
          .withColumn("__off", coalesce(col("__off"), lit(0L)))
      }
    ranked
      .withColumn("pos", (row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard"), col("__sub"))
          .orderBy(col("__h"), col("doc_id"))) + col("__off")).cast("int"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, the
    * standard pre-training keep/drop gate), as a per-rule readout: word
    * count inside [minWords, maxWords], mean word length inside
    * [minMeanLen, maxMeanLen], at least `minStopHits` DISTINCT
    * stopwords present (the "real prose" check), and the most frequent
    * token's share at most `maxTopFrac` (the repetition check q51
    * exposes raw). Every float is rounded to 6 dp BEFORE its threshold
    * compare — both engines then compare identical doubles — and `keep`
    * is the conjunction, so the whole verdict is oracle-exact. Pure
    * Column expressions over the token array: scan speed, no shuffle,
    * per-doc cost bounded by document length at any corpus size.
    */
  def gopherRules(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 30,
      maxWords: Int = 80,
      minMeanLen: Double = 4.0,
      maxMeanLen: Double = 5.0,
      minStopHits: Int = 2,
      maxTopFrac: Double = 0.10): DataFrame = {
    val w = tokens(col(textCol))
    val nWords = size(w).cast("long")
    val meanLen = round(
      aggregate(w, lit(0L), (a, t) => a + length(t)).cast("double") / size(w), 6)
    val stopHits = size(array_intersect(array_distinct(w),
      typedlit(EnStopwords))).cast("long")
    val topFrac = round(topTokenFrac(col(textCol)), 6)
    val rWc = nWords >= minWords && nWords <= maxWords
    val rMl = meanLen >= minMeanLen && meanLen <= maxMeanLen
    val rSt = stopHits >= minStopHits
    val rRep = topFrac <= maxTopFrac
    // no terminal sort: the body must stay streaming-legal (StreamingSpec
    // runs it on a MemoryStream) — batch callers order at the query level
    docs.select(col(idCol).as("doc_id"),
        nWords.as("n_words"), meanLen.as("mean_word_len"),
        stopHits.as("n_stop_distinct"), topFrac.as("top_frac"),
        rWc.as("r_wordcount"), rMl.as("r_meanlen"),
        rSt.as("r_stopwords"), rRep.as("r_repetition"),
        (rWc && rMl && rSt && rRep).as("keep"))
  }

  /** [[gopherRules]]' keep verdict as a bare Column (the splitCol
    * pattern), for fusing many gates into ONE streaming projection —
    * a self-join of a stream on doc_id would be a stateful
    * stream-stream join, so the chain needs column-level cores. The
    * Round11 stream≡batch spec pins this Column to the frame op's
    * verdict row-for-row; a drift between the two fails that spec.
    */
  def gopherKeepCol(text: Column,
      minWords: Int = 30, maxWords: Int = 80,
      minMeanLen: Double = 4.0, maxMeanLen: Double = 5.0,
      minStopHits: Int = 2, maxTopFrac: Double = 0.10): Column = {
    val w = tokens(text)
    val nWords = size(w).cast("long")
    val meanLen = round(
      aggregate(w, lit(0L), (a, t) => a + length(t)).cast("double") / size(w), 6)
    val stopHits = size(array_intersect(array_distinct(w),
      typedlit(EnStopwords))).cast("long")
    val topFrac = round(topTokenFrac(text), 6)
    nWords >= minWords && nWords <= maxWords &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      stopHits >= minStopHits && topFrac <= maxTopFrac
  }

  /** Per-source distinct-n-gram diversity for n = 1..maxN — the
    * template/boilerplate detector at source granularity (a crawl
    * whose bigram diversity is far below its peers is generating from
    * templates; also the standard distinct-n generation-diversity
    * metric applied to training data). Gram-hash keyed: the
    * count-distinct shuffles (source, n, 8-byte hash), never gram text
    * — the q96/q98 collision envelope (≈ V²/2⁶⁵ expected collisions)
    * applies and is accepted for the same reason. One corpus scan per
    * n, unioned — MEASURED faster than the obvious single-scan fusion:
    * flattening per-n (n, hash) structs inside one scan benched 2.2×
    * SLOWER at sf0.1 (5.4 s vs 2.5 s) because higher-order lambdas are
    * interpreted and the struct allocation dominates the cheap scan.
    *
    * The token array is PROJECTED to an attribute before the window
    * lambda — [[tokenNgramsOfTokens]]'s own discipline. The original
    * passed the raw `split(text)` expression, whose re-evaluation per
    * window element (interpreted higher-order eval re-runs the whole
    * `slice` subtree, `StringSplit` included) made the explode
    * O(len²) per document WITH an O(len) UTF8String allocation storm
    * per window: the sf1 scout bench read 110–235 s for a query whose
    * healthy shape is seconds, swinging with accumulated heap state.
    * Projected, the lambda slices a bound array — O(len) windows ×
    * O(n) work, allocation proportional to output.
    */
  def distinctNgramDiversity(
      docs: DataFrame,
      textCol: String,
      sourceCol: String,
      maxN: Int = 3): DataFrame = {
    val tok = docs.select(col(sourceCol).as("source"),
      tokens(col(textCol)).as("__w"))
    val perN = (1 to maxN).map { n =>
      tok.select(col("source"),
          explode(tokenNgramsOfTokens(col("__w"), n)).as("__g"))
        .select(col("source"), lit(n).as("n"), xxhash64(col("__g")).as("__gh"))
    }.reduce(_ unionByName _)
    perN.groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col("__gh")).as("n_distinct"))
      .select(col("source"), col("n"), col("n_total"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_total"), 6)
          .as("diversity"))
      .orderBy(col("source"), col("n"))
  }

  /** Per-source shared-prefix boilerplate rate: the fraction of a
    * source's documents whose first-k-token prefix is shared by at
    * least `minDf` documents ANYWHERE in the corpus — the
    * crawl-boilerplate head detector (mirror pages, scraper banners,
    * and truncation dups share heads long before they share full
    * texts; q18/q98 catch only verbatim full-document copies).
    * Prefix-hash keyed like q98: the df groupBy and join-back move
    * (hash, source) pairs, never text; same 64-bit collision envelope.
    */
  def sharedPrefixBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      k: Int = 8,
      minDf: Int = 2): DataFrame = {
    val p = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      xxhash64(concat_ws(" ", slice(tokens(col(textCol)), 1, k))).as("__p"))
    val dfreq = p.groupBy(col("__p")).agg(count(lit(1)).as("__df"))
    p.join(dfreq, "__p")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__df") >= minDf, 1L).otherwise(0L)).as("n_shared_prefix"),
        round(avg(when(col("__df") >= minDf, 1.0).otherwise(0.0)), 6)
          .as("shared_frac"))
      .orderBy(col("source"))
  }

  /** Zipf rank-frequency slope over the top-K unigrams: least-squares
    * fit of ln(freq) on ln(rank) — the one-number corpus-health readout
    * (natural language sits near −1; templated/generated corpora
    * flatten, token-salad steepens). The global rank is computed on the
    * TakeOrdered top-K only (K rows, bounded — never a vocab-wide
    * single-task window), and all four regression sums are order-pinned
    * sequential folds over rank-sorted lists (the L38–L40 discipline)
    * so the DuckDB list_reduce oracle reproduces each double
    * bit-for-bit.
    */
  def zipfSlope(docs: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uc = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // TakeOrdered K rows first; the unpartitioned window then ranks a
    // K-row frame — bounded by construction, not by data
    val top = uc.orderBy(col("cnt").desc, col("tok")).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
      .select(col("rank"),
        log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val lists = top.agg(
      count(lit(1)).as("k"),
      sort_array(collect_list(struct(col("rank"), col("x")))).as("lx"),
      sort_array(collect_list(struct(col("rank"), col("y")))).as("ly"),
      sort_array(collect_list(struct(col("rank"),
        (col("x") * col("y")).as("v")))).as("lxy"),
      sort_array(collect_list(struct(col("rank"),
        (col("x") * col("x")).as("v")))).as("lxx"))
    def foldSum(c: Column, field: String) =
      aggregate(transform(c, s => s.getField(field)), lit(0.0), (a, b) => a + b)
    lists
      .select(col("k"),
        foldSum(col("lx"), "x").as("__sx"), foldSum(col("ly"), "y").as("__sy"),
        foldSum(col("lxy"), "v").as("__sxy"), foldSum(col("lxx"), "v").as("__sxx"))
      .select(col("k"),
        round((col("k") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("k") * col("__sxx") - col("__sx") * col("__sx")), 6).as("slope"),
        round((col("__sy") - ((col("k") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("k") * col("__sxx") - col("__sx") * col("__sx"))) * col("__sx")) /
          col("k"), 6).as("intercept"))
  }

  /** Greedy BPE merge TRAINING over the word stream (Sennrich et al.
    * 2016 applied at word granularity — learned merges are frequent
    * phrases; [[bpePairStats]]/q87 is this op's single-step readout).
    * Driver-iterative like the Lloyd paths: each step applies the
    * merges learned so far (the [[org.apache.spark.sql.graft.BpeApplyMerges]]
    * kernel — one compiled pass per doc), counts adjacent symbol
    * pairs (map-side combined; the pair key space is vocab²-bounded,
    * the q85 accepted envelope), and takes the argmax by
    * (count desc, left asc, right asc) — a 1-row driver collect per
    * step, the kmeansCentroidSeq discipline. Deterministic end to
    * end; the SQL oracle re-derives the same merge sequence with a
    * left-fold application, so training is oracle-gated, not just
    * spec'd.
    */
  def bpeTrainMerges(
      docs: DataFrame, textCol: String,
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    var merges = Seq.empty[(String, String)]
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to numMerges) {
      val applied = docs.select(org.apache.spark.sql.graft.Signatures
        .bpe_apply(tokens(col(textCol)), merges).as("w"))
      val top = applied
        .select(explode(when(size(col("w")) < 2,
            array().cast("array<struct<l:string,r:string>>"))
          .otherwise(transform(sequence(lit(0), size(col("w")) - 2),
            i => struct(element_at(col("w"), i + 1).as("l"),
              element_at(col("w"), i + 2).as("r"))))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val r0 = top(0)
        merges = merges :+ ((r0.getString(0), r0.getString(1)))
        learned += ((step, r0.getString(0), r0.getString(1), r0.getLong(2)))
      }
    }
    learned.toSeq
  }

  def bpeTrain(
      docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spark.createDataset(bpeTrainMerges(docs, textCol, numMerges))
      .toDF("step", "lhs", "rhs", "cnt")
  }

  /** Merge-count → corpus-compression curve: total symbol count after
    * applying the first m learned merges, for m = 0..numMerges — the
    * tokenizer-training diagnostic that says where merge returns
    * diminish (each row's drop vs the previous is exactly the
    * non-overlapping occurrence count the merge collapsed). One
    * kernel scan per point; the merge table is learned once.
    */
  def bpeCompressionCurve(
      docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = bpeTrainMerges(docs, textCol, numMerges)
      .map(t => (t._2, t._3))
    val rows = (0 to merges.size).map { m =>
      val n = docs.select(sum(size(org.apache.spark.sql.graft.Signatures
        .bpe_apply(tokens(col(textCol)), merges.take(m))).cast("long")))
        .collect()(0).getLong(0)
      (m, n)
    }
    val total = rows.head._2.toDouble
    spark.createDataset(rows.map { case (m, n) =>
      (m, n, BigDecimal(n / total).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).toDF("n_merges", "n_symbols", "compression")
  }

  /** Encode with a learned merge table: per-doc word count, symbol
    * count after greedy application, and the compression ratio — the
    * readout that says what the learned vocabulary buys. Map-only
    * given the literal merge list.
    */
  def bpeEncode(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_words"),
        size(org.apache.spark.sql.graft.Signatures
          .bpe_apply(tokens(col(textCol)), merges)).cast("long")
          .as("n_symbols"))
      .withColumn("compression",
        round(col("n_symbols").cast("double") / col("n_words"), 6))

  /** Tokenizer fit by language — the fertility table a tokenizer team
    * reads before shipping a vocab: apply the trained merges to every
    * document and aggregate symbols-per-word per language. A language
    * the merge table serves well compresses hard (low ratio); a
    * language the vocab under-serves stays near 1.0 symbols/word —
    * the signal that its share of the training mix needs revisiting.
    * One scan (the `bpe_apply` kernel inside the projection), one
    * lang-keyed narrow aggregate; the merge table is a driver literal
    * (the L70 BPE-train bound), so cost is corpus-linear.
    */
  def bpeFertilityByLang(docs: DataFrame, textCol: String,
      langCol: String, merges: Seq[(String, String)]): DataFrame =
    docs.select(col(langCol).as("lang"),
        size(tokens(col(textCol))).cast("long").as("nw"),
        size(org.apache.spark.sql.graft.Signatures
          .bpe_apply(tokens(col(textCol)), merges)).cast("long").as("ns"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_words"),
        sum(col("ns")).as("n_symbols"),
        round(sum(col("ns")).cast("double") / sum(col("nw")), 6)
          .as("fertility"))
      .orderBy(col("lang"))

  /** Reciprocal-rank fusion (Cormack, Clarke, Buettcher 2009) of two
    * rank lists — THE standard hybrid-retrieval combiner (sparse BM25
    * ⊕ dense ANN): score(d) = Σ_lists 1/(kRrf + rank_d), absent from a
    * list contributes 0. Rank-only fusion keeps the arithmetic
    * engine-exact (integer denominators — no score normalization, no
    * libm); both inputs are top-k lists, so everything here is
    * k-bounded regardless of corpus size. Output keeps each source
    * rank (nullable) next to the fused score for auditability.
    */
  def rrfFuse(
      a: DataFrame, b: DataFrame,
      idA: String, rankA: String, idB: String, rankB: String,
      kRrf: Int = 60, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fused = a.select(col(idA).as("id"), col(rankA).as("rank_a"))
      .join(b.select(col(idB).as("id"), col(rankB).as("rank_b")),
        Seq("id"), "outer")
      .select(col("id"), col("rank_a"), col("rank_b"),
        round(
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)), 6)
          .as("rrf"))
    // the fused frame is (|a| + |b|)-bounded, so the unpartitioned
    // ranking window ranks a 2k-row frame — bounded by construction
    fused
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("id"))))
      .filter(col("rank") <= topK)
      .orderBy(col("rank"))
  }

  /** Heaps'-law fit over per-source (token count, vocabulary size)
    * points: V ≈ K·N^β, estimated as the least-squares line of ln V on
    * ln N across sources — the vocabulary-GROWTH corpus-health readout
    * that pairs with [[zipfSlope]]'s frequency decay (natural text
    * sits near β ≈ 0.5-0.8; templated corpora flatten toward 0, and a
    * source far off the corpus line has an anomalous vocabulary for
    * its size). Per-source aggregates are the only corpus-scale work
    * (the exact-distinct shuffle is vocabulary-bounded per source);
    * the regression runs on a |sources|-row frame with all four sums
    * as source-ordered sequential folds (the zipfSlope/L38-L40 float
    * discipline), so both engines produce bit-identical doubles.
    * Output: one row (n_sources, beta, ln_k) — ln K rather than K so
    * no exp() crosses the engine boundary.
    */
  def heapsLaw(docs: DataFrame, textCol: String, srcCol: String): DataFrame = {
    val per = docs
      .select(col(srcCol).as("src"), explode(tokens(col(textCol))).as("t"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("t")).as("n_voc"))
      .select(col("src"),
        log(col("n_tok").cast("double")).as("x"),
        log(col("n_voc").cast("double")).as("y"))
    val lists = per.agg(
      count(lit(1)).as("k"),
      sort_array(collect_list(struct(col("src"), col("x")))).as("lx"),
      sort_array(collect_list(struct(col("src"), col("y")))).as("ly"),
      sort_array(collect_list(struct(col("src"),
        (col("x") * col("y")).as("v")))).as("lxy"),
      sort_array(collect_list(struct(col("src"),
        (col("x") * col("x")).as("v")))).as("lxx"))
    def foldSum(c: Column, field: String) =
      aggregate(transform(c, s => s.getField(field)), lit(0.0), (a, b) => a + b)
    lists
      .select(col("k"),
        foldSum(col("lx"), "x").as("__sx"), foldSum(col("ly"), "y").as("__sy"),
        foldSum(col("lxy"), "v").as("__sxy"), foldSum(col("lxx"), "v").as("__sxx"))
      .select(col("k").as("n_sources"),
        round((col("k") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("k") * col("__sxx") - col("__sx") * col("__sx")), 6).as("beta"),
        round((col("__sy") - ((col("k") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("k") * col("__sxx") - col("__sx") * col("__sx"))) * col("__sx")) /
          col("k"), 6).as("ln_k"))
  }

  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("__t"))
      .select(col("doc_id"), md5(col("__t")).as("__h"))
      .select(col("doc_id"),
        conv(substring(col("__h"), 1, 1), 16, 10).cast("int").as("dim"),
        when(substring(col("__h"), 2, 1) <= "7", 1L).otherwise(-1L).as("__sg"))
    val a = toks.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("__sg")).as("w"))
      .filter(col("w") =!= 0L)
    val n = a.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("__ss"))
    a.join(n, "doc_id")
      .select(col("doc_id"), col("dim"), col("w"),
        round(col("w").cast("double") / sqrt(col("__ss").cast("double")), 6)
          .as("weight"))
      .orderBy(col("doc_id"), col("dim"))
  }

  /** BM25 top-k retrieval for a FIXED small query-term set (Robertson/
    * Lucene formula: idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf
    * saturation k1, length normalization b) — the standard lexical
    * retrieval op a curation pipeline uses to pull task-relevant
    * documents out of a crawl (targeted-subset mining, dedup-audit
    * spot checks, contamination triage).
    *
    * Shape built for 100 TB: corpus statistics collapse to ONE row —
    * N, total token count (avgdl enters as an exact integer sum over
    * doc lengths divided once; integer-valued doubles below 2⁵³ make
    * the sum order-independent across engines), and one df column per
    * query term (|Q| conditional counts in the same single aggregate).
    * That row re-enters the scan as a broadcast, each document is
    * scored at scan speed with |Q| codegen'd array scans (no explode,
    * no posting-list shuffle — for a handful of query terms the
    * explode+join inverted-index plan moves strictly more data), and
    * the global top-k is TakeOrderedAndProject (per-partition partial
    * top-k, k rows to the driver) — never an unpartitioned window.
    * Per-term contributions sum LEFT-TO-RIGHT in the caller's query
    * order (the L38-L40 fixed-order float discipline), so the score is
    * bit-identical to the oracle's explicit c0 + c1 + … chain; ties
    * after 6-dp rounding break by doc_id.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = tokens(col(textCol))
    val statAggs =
      count(lit(1)).cast("long").as("n_docs") +:
      (sum(size(toks).cast("long")).cast("double") / count(lit(1)))
        .as("avgdl") +:
      queryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(toks, lit(t)), 1L).otherwise(0L))
          .as(s"df_$i")
      }
    val stats = docs.agg(statAggs.head, statAggs.tail: _*)
    val dl = size(toks).cast("double")
    val contribs = queryTerms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(toks, x => x === lit(t))).cast("double")
      val idf = log((col("n_docs").cast("double") - col(s"df_$i") + 0.5) /
        (col(s"df_$i").cast("double") + 0.5) + 1.0)
      when(tf > 0,
        idf * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    val score = contribs.reduceLeft(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col(idCol).as("doc_id"), round(score, 6).as("bm25"))
      .filter(col("bm25") > 0.0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Blocklist gate — per-document hit statistics against a fixed term
    * list (the bad-words/NSFW/PII-keyword filter every production
    * pretraining pipeline runs first; Raffel et al. 2020's C4 "List of
    * Dirty, Naughty …" step is the canonical instance). Reports total
    * hits, distinct terms hit, hit fraction, and the keep verdict
    * (hits ≤ maxHits — a tolerance threshold rather than zero because
    * single incidental matches on polysemous terms are the documented
    * C4 false-positive mode).
    *
    * Pure Column expressions over the token array — scan speed, zero
    * shuffle, blocklist enters as a literal array (real lists are
    * O(10³) terms: still a literal/broadcast, never a join side). All
    * counts are integers; the one float is rounded to 6 dp, so the
    * verdict is oracle-exact.
    */
  def blocklistFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blocklist: Seq[String],
      maxHits: Int = 0): DataFrame = {
    require(blocklist.nonEmpty, "blocklistFilter needs a non-empty list")
    val toks = tokens(col(textCol))
    val hits = size(filter(toks, t => t.isInCollection(blocklist)))
      .cast("long")
    val distinctHits = size(array_intersect(array_distinct(toks),
      typedlit(blocklist))).cast("long")
    docs.select(col(idCol).as("doc_id"),
      hits.as("n_hits"),
      distinctHits.as("n_distinct_hits"),
      round(hits.cast("double") / size(toks), 6).as("hit_frac"),
      (hits <= maxHits).as("keep"))
  }

  /** Gopher repetition metrics beyond the top-token share (Rae et al.
    * 2021 §A1.1's duplicate-n-gram family): per document, the fraction
    * of n-gram INSTANCES that repeat an earlier occurrence inside the
    * same document, for n = 2 and n = 3 — the within-doc loop/spam
    * detector that the single-token share (q51/gopherRules) cannot
    * see (a doc cycling "buy now click here" has a low top-TOKEN share
    * but a duplicate-bigram fraction near 1). Entirely map-side column
    * algebra (sequence → transform → array_distinct), scan speed,
    * zero shuffle — streaming-legal like the other per-doc gates.
    * Thresholds follow the Gopher appendix shape; `keep` is the
    * conjunction, computed on the 6-dp ROUNDED fractions (the q62
    * lesson).
    */
  def duplicateNgramFraction(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDupFrac2: Double = 0.20,
      maxDupFrac3: Double = 0.18): DataFrame = {
    val w = tokens(col(textCol))
    def grams(n: Int): Column = when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(w, i + j + 1)): _*)))
      .otherwise(typedlit(Seq.empty[String]))
    def dupFrac(g: Column): Column = when(size(g) > 0,
      round((size(g) - size(array_distinct(g))).cast("double") / size(g), 6))
      .otherwise(lit(0.0))
    val d2 = dupFrac(grams(2))
    val d3 = dupFrac(grams(3))
    docs.select(col(idCol).as("doc_id"),
      size(grams(2)).cast("long").as("n_grams_2"),
      d2.as("dup_frac_2"),
      d3.as("dup_frac_3"),
      (d2 <= maxDupFrac2 && d3 <= maxDupFrac3).as("keep"))
  }

  /** Column cores of the per-doc gates (the [[gopherKeepCol]] family):
    * the same expressions as the frame ops, exposed as bare Columns so
    * `Ingest.curationChainStream` fuses every stateless gate into ONE
    * streaming projection. The chain's stream≡batch spec pins each
    * core to its frame op row-for-row.
    */
  def blocklistKeepCol(text: Column, blocklist: Seq[String],
      maxHits: Int = 0): Column = {
    require(blocklist.nonEmpty, "blocklistKeepCol needs a non-empty list")
    size(filter(tokens(text), t => t.isInCollection(blocklist)))
      .cast("long") <= maxHits
  }

  def dupNgramKeepCol(text: Column,
      maxDupFrac2: Double = 0.20, maxDupFrac3: Double = 0.18): Column = {
    val w = tokens(text)
    def grams(n: Int): Column = when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(w, i + j + 1)): _*)))
      .otherwise(typedlit(Seq.empty[String]))
    def dupFrac(g: Column): Column = when(size(g) > 0,
      round((size(g) - size(array_distinct(g))).cast("double") / size(g), 6))
      .otherwise(lit(0.0))
    dupFrac(grams(2)) <= maxDupFrac2 && dupFrac(grams(3)) <= maxDupFrac3
  }

  def entropyKeepCol(text: Column, minNormEntropy: Double = 0.5): Column = {
    val w = tokens(text)
    val n = size(w)
    val d = array_sort(array_distinct(w))
    val h = aggregate(d, lit(0.0), (acc, t) => {
      val c = size(filter(w, x => x === t)).cast("double")
      acc - (c / n) * log(c / n)
    })
    when(n > 1, round(h / log(n.cast("double")), 6))
      .otherwise(lit(0.0)) >= minNormEntropy
  }

  def classifierProbCol(text: Column): Column = {
    val w = tokens(text)
    def weightOf(t: Column): Column =
      (conv(substring(md5(concat(lit("qw:"), t)), 1, 4), 16, 10)
        .cast("long") % 201L) - 100L
    val scoreInt = aggregate(w, lit(0L), (acc, t) => acc + weightOf(t))
    val logit = scoreInt.cast("double") / (size(w).cast("double") * lit(25.0))
    round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
  }

  def piiRedactedCol(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, PiiEmail, "<EMAIL>"),
          PiiSsn, "<SSN>"),
        PiiPhone, "<PHONE>"),
      PiiIp, "<IP>")

  def piiKeepCol(text: Column): Column =
    (regexp_count(text, lit(PiiEmail)) + regexp_count(text, lit(PiiSsn))
      + regexp_count(text, lit(PiiPhone))
      + regexp_count(text, lit(PiiIp))).cast("long") === 0L

  /** Per-document token-entropy gate — the information-density quality
    * signal that catches what the duplicate-n-gram and top-token
    * checks individually miss: H = −Σ p·ln p over the doc's own token
    * distribution, normalized by ln(n_tokens) to [0, 1] (1 = every
    * token distinct, 0 = one token repeated). Low normalized entropy =
    * template/keyword-stuffing text. Entirely map-side: the per-doc
    * distinct-token fold runs over the SORTED distinct array so the
    * float summation order is pinned and the oracle replays the exact
    * double (the q111 order-pinned-fold discipline). Zero shuffle,
    * streaming-legal.
    */
  def tokenEntropyGate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minNormEntropy: Double = 0.5): DataFrame = {
    val w = tokens(col(textCol))
    val n = size(w)
    val d = array_sort(array_distinct(w))
    val h = aggregate(d, lit(0.0), (acc, t) => {
      val c = size(filter(w, x => x === t)).cast("double")
      acc - (c / n) * log(c / n)
    })
    val norm = when(n > 1, round(h / log(n.cast("double")), 6))
      .otherwise(lit(0.0))
    docs.select(col(idCol).as("doc_id"),
      n.cast("long").as("n_tokens"),
      size(d).cast("long").as("n_types"),
      round(h, 6).as("entropy_nats"),
      norm.as("norm_entropy"),
      (norm >= minNormEntropy).as("keep"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing readout: for
    * each candidate vocabulary size k, the fraction of corpus token
    * OCCURRENCES covered by the k most frequent types (ties broken by
    * token text, one canonical order). Where the curve flattens is
    * where additional vocab entries stop paying for themselves — read
    * it next to the Zipf slope (q111) and Heaps curve (q133) before
    * training the tokenizer (q138). One corpus scan → vocab-sized
    * agg; the rank window and the k-explode run on the VOCAB frame
    * (|V| rows), never on the corpus; coverage divides exact integer
    * counts so both engines round the same double.
    */
  def vocabCoverage(
      docs: DataFrame,
      textCol: String,
      ks: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"bad ks: $ks")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("__tot"))
    // |V|-row frame: the single-partition rank window is bounded by
    // vocabulary size, not corpus size (the q77/q111 discipline)
    val ranked = counts.withColumn("rk",
      row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
    ranked
      .select(col("cnt"), col("rk"),
        explode(typedlit(ks.distinct.sorted)).as("k"))
      .filter(col("rk") <= col("k"))
      .groupBy(col("k"))
      .agg(sum(col("cnt")).as("__cov"), count(lit(1)).as("n_vocab_used"))
      .crossJoin(broadcast(tot))
      .select(col("k"),
        col("n_vocab_used"),
        round(col("__cov").cast("double") / col("__tot"), 6).as("coverage"))
  }

  /** Hashed linear quality classifier — the fastText shape (Joulin et
    * al. 2017, "Bag of Tricks for Efficient Text Classification")
    * reduced to its deployable inference form: each token hashes into
    * a weight, the doc logit is the mean weight, the score is a
    * sigmoid. Weights here are md5-derived integers in [−100, 100]
    * (a stand-in for a trained table — swap [[weightOf]] for a lookup
    * against broadcast learned weights in production; the PLUMBING is
    * what scales: per-doc integer fold, zero shuffle, scan speed,
    * streaming-legal). The accumulated score is an exact BIGINT so the
    * oracle replays it bit-for-bit; only the final sigmoid touches
    * floats, rounded to 6 dp on both sides.
    */
  def hashedLinearQuality(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minProb: Double = 0.5): DataFrame = {
    val w = tokens(col(textCol))
    val n = size(w)
    // 16-bit md5 prefix of "qw:"+token → integer weight in [−100, 100]
    def weightOf(t: Column): Column =
      (conv(substring(md5(concat(lit("qw:"), t)), 1, 4), 16, 10)
        .cast("long") % 201L) - 100L
    val scoreInt = aggregate(w, lit(0L), (acc, t) => acc + weightOf(t))
    // mean weight scaled into a usable logit range (mean ∈ [−100,100])
    val logit = scoreInt.cast("double") / (n.cast("double") * lit(25.0))
    val prob = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
    docs.select(col(idCol).as("doc_id"),
      n.cast("long").as("n_tokens"),
      scoreInt.as("score_int"),
      prob.as("prob"),
      (prob >= minProb).as("keep"))
  }

  /** Exact-substring duplicate coverage — Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * re-expressed for a distributed engine: their suffix-array
    * ExactSubstr finds spans of ≥ k tokens repeated across documents;
    * here every stride-1 window of `winLen` tokens is hashed
    * (12-hex-char md5 prefix, the winnow-key precedent), a window is
    * duplicated when it occurs in ≥ 2 DISTINCT documents, and the
    * per-doc duplicated-token fraction is the size of the UNION of
    * flagged [i, i+winLen−1] intervals — the exact char-coverage
    * number their dedup would delete, not the double-counting window
    * fraction. Within-doc repetition is q151's gate; this one is the
    * cross-doc span detector.
    *
    * Scale: exchanges carry (doc_id, 12-char hash) pairs only — text
    * never shuffles; the duplicated-hash set is corpus-boilerplate
    * sized, and the coverage explode is bounded by winLen × flagged
    * windows. This windowed-hash formulation (not a suffix array) is
    * how ExactSubstr is actually run distributed.
    */
  def exactSubstrDupCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      winLen: Int = 8,
      maxDupFrac: Double = 0.5): DataFrame = {
    require(winLen >= 2, s"winLen must be >= 2, got $winLen")
    val w = tokens(col(textCol))
    val n = size(w)
    val starts = when(n >= winLen, sequence(lit(1), n - (winLen - 1)))
      .otherwise(array().cast("array<int>"))
    val wins = docs.select(col(idCol).as("doc_id"),
        explode(transform(starts, i => struct(i.as("i"),
          substring(md5(array_join(slice(w, i, lit(winLen)), " ")), 1, 12)
            .as("h")))).as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.h").as("h"))
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= 2).select(col("h"))
    val flagged = wins.join(dup, "h").select(col("doc_id"), col("i")).distinct()
    val covered = flagged
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (winLen - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__cov"))
    val nDup = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__ndw"))
    val base = docs.select(col(idCol).as("doc_id"),
      n.cast("long").as("n_tokens"),
      greatest(n - (winLen - 1), lit(0)).cast("long").as("n_windows"))
    val frac = round(coalesce(col("__cov"), lit(0L)).cast("double")
      / col("n_tokens"), 6)
    base
      .join(nDup, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("__ndw"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(col("__cov"), lit(0L)).cast("long").as("covered_tokens"),
        frac.as("dup_frac"),
        (frac <= maxDupFrac).as("keep"))
  }

  /** Bigram-LM perplexity gate — the CCNet filter (Wenzek et al. 2020:
    * KenLM perplexity against a reference corpus ranks web text for
    * quality) scaled down to a self-trained add-one bigram model: vocab
    * = top-`maxVocab` types (+ `<unk>` absorbing the tail, so the model
    * is total over open vocabulary), p(b|a) = (c(a,b)+1)/(c(a·)+V), doc
    * perplexity = exp(NLL / (n−1)). High perplexity = text unlike the
    * corpus (mojibake, wrong language, word salad); the canonical
    * learned quality signal next to the rule gates (q106) and the
    * classifier (q156).
    *
    * Scale: the model is vocab-bounded (≤ (V+1)² bigram rows + V+1
    * history rows) and BROADCAST to every per-bigram lookup — the big
    * side never shuffles for the joins; the only corpus-sized exchanges
    * carry (doc_id, pos, token) rows. Per-doc NLL folds over the
    * position-sorted (pos, ln p) list so both engines add identical
    * doubles in identical order (the q154 discipline); all model counts
    * are exact BIGINTs.
    */
  def bigramPerplexityGate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxVocab: Int = 25,
      maxPpl: Double = 25.0): DataFrame = {
    require(maxVocab >= 1, s"maxVocab must be >= 1, got $maxVocab")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol)))).toDF("doc_id", "pos", "tok")
    // |V|-row frame: the rank window is vocabulary-bounded (q152)
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
      .select(col("tok"), (col("rk") <= maxVocab).as("kept"))
    val mapped = toks.join(broadcast(vocab), Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("kept"), col("tok")).otherwise(lit("<unk>")).as("tk"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = mapped.withColumn("prev", lag(col("tk"), 1).over(byDoc))
      .filter(col("prev").isNotNull)
    val chist = bi.groupBy(col("prev")).agg(count(lit(1)).as("ch"))
    val cbi = bi.groupBy(col("prev"), col("tk")).agg(count(lit(1)).as("cb"))
    val vsize = vocab
      .agg((sum(when(col("kept"), 1L).otherwise(0L)) + 1L).as("v"))
    val lnp = bi
      .join(broadcast(cbi), Seq("prev", "tk"))
      .join(broadcast(chist), Seq("prev"))
      .crossJoin(broadcast(vsize))
      .select(col("doc_id"), col("pos"),
        log((col("cb") + 1L).cast("double")
          / (col("ch") + col("v")).cast("double")).as("lp"))
    val nll = lnp.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lp")))).as("__s"))
      .select(col("doc_id"),
        aggregate(col("__s"), lit(0.0),
          (a, x) => a - x.getField("lp")).as("__nll"))
    val base = docs.select(col(idCol).as("doc_id"),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val joined = base.join(nll, Seq("doc_id"), "left")
      .withColumn("__nll", coalesce(col("__nll"), lit(0.0)))
    val ppl = when(col("n_tokens") >= 2,
      round(exp(col("__nll") / (col("n_tokens") - 1).cast("double")), 6))
      .otherwise(lit(1.0))
    joined.select(col("doc_id"), col("n_tokens"),
      round(col("__nll"), 6).as("nll"),
      ppl.as("ppl"),
      (ppl <= maxPpl).as("keep"))
  }

  /** PII patterns shared by [[piiRedactGate]] and its oracle — written
    * in the portable intersection of Java regex (Spark) and RE2
    * (DuckDB): character classes, bounded repetition, non-capturing
    * groups, and `\b` only. Replacement order is fixed (email, SSN,
    * phone, IP) so overlapping matches redact identically everywhere.
    */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiSsn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val PiiPhone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val PiiIp = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII detection + redaction gate — the anonymization step every
    * released corpus runs (C4 removed pages with detected PII; Dolma
    * and BigScience ROOTS redact emails/phones/IPs in place): per doc,
    * match counts for email / SSN / phone / IPv4, the redacted text's
    * md5 (placeholders `<EMAIL>` `<SSN>` `<PHONE>` `<IP>`, applied in
    * that fixed order), and a keep verdict (= no PII found — the
    * drop-mode gate; production pipelines usually persist the redacted
    * column instead). Pure per-row regex at scan speed, zero shuffle,
    * streaming-legal (Round11OpsSpec runs it on a MemoryStream).
    *
    * The synthetic fixture corpus contains no PII, so the oracle gate
    * verifies the all-zero profile plus md5(redacted) == md5(text);
    * the planted-PII spec carries the positive-match behavior.
    */
  def piiRedactGate(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, PiiEmail, "<EMAIL>"),
          PiiSsn, "<SSN>"),
        PiiPhone, "<PHONE>"),
      PiiIp, "<IP>")
    val ne = regexp_count(t, lit(PiiEmail))
    val ns = regexp_count(t, lit(PiiSsn))
    val np = regexp_count(t, lit(PiiPhone))
    val ni = regexp_count(t, lit(PiiIp))
    val tot = (ne + ns + np + ni).cast("long")
    docs.select(col(idCol).as("doc_id"),
      ne.cast("long").as("n_email"),
      ns.cast("long").as("n_ssn"),
      np.cast("long").as("n_phone"),
      ni.cast("long").as("n_ip"),
      tot.as("pii_total"),
      md5(red).as("redacted_md5"),
      (tot === 0L).as("keep"))
  }
}
