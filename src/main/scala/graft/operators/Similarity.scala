package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DotProduct.dot_product
import org.apache.spark.sql.graft.NearestCodes
import org.apache.spark.sql.graft.NearestCodes.nearest_codes
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Vector-similarity operators over an `array<float>` embedding column.
  *
  * All arithmetic is promoted to double *per element* before any
  * accumulation (float accumulation drifts and breaks cross-engine
  * parity). The per-pair kernel is the codegen'd DotProduct expression
  * (org.apache.spark.sql.graft), and every vector's norm is computed
  * once up front — the
  * pairwise stage does exactly one primitive loop per pair.
  *
  * Scale path: brute force is the correctness baseline (O(Q·N) with Q
  * broadcast); IVF coarse quantization keeps the same top-k API but
  * probes only the query's cell — the shuffle is keyed by centroid id,
  * so a 1000-executor cluster partitions the index naturally.
  */
object Similarity {

  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  def dot(a: Column, b: Column): Column = dot_product(a, b)

  def l2norm(a: Column): Column = sqrt(dot_product(a, a))

  def cosine(a: Column, b: Column): Column =
    dot_product(a, b) / (l2norm(a) * l2norm(b))

  /** (id, vec, nrm) projection with the norm evaluated once per vector. */
  private def normed(df: DataFrame, idOut: String, vecOut: String): DataFrame =
    df.select(col("vec_id").as(idOut), asDouble(col("embedding")).as(vecOut))
      .withColumn(vecOut + "_nrm", l2norm(col(vecOut)))

  /** Brute-force cosine top-k: for each query vector (a small broadcast
    * side), the k nearest neighbors among all vectors (excluding self).
    * One broadcast join + one shuffle for the per-query top-k window.
    */
  def bruteForceTopK(
      vectors: DataFrame, // (vec_id, embedding)
      queries: DataFrame, // (vec_id, embedding) — small
      k: Int): DataFrame = {
    val v = normed(vectors, "nid", "nv")
    val q = normed(queries, "qid", "qv")
    val scored = v.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot_product(col("qv"), col("nv")) / (col("qv_nrm") * col("nv_nrm"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Late-interaction (MaxSim) retrieval over multi-vector
    * representations — the ColBERT scoring shape (Khattab & Zaharia
    * 2020 §3.1): score(q, d) = Σ over query sub-vectors of the MAX
    * cosine against any document sub-vector. Single-vector retrieval
    * collapses a document to one point; late interaction keeps `parts`
    * sub-vectors per side (here: contiguous `subDim`-wide slices of
    * the embedding — the fixture stand-in for per-token vectors) and
    * matches each query facet to its best document facet.
    *
    * Shape at scale: documents explode to `parts` skinny rows, the
    * query side (nQueries·parts rows) broadcasts, cosines are map-side,
    * and the two aggregations (max per query-part, sum per pair) are
    * narrow shuffles on (qid, doc) keys — corpus-linear, never
    * pairwise. Cosines round to 6 decimals before the max/sum so both
    * engines run the identical recurrence; final rank is
    * (score desc, doc asc), row_number ≤ k per query.
    */
  def maxSimTopK(vectors: DataFrame, nQueries: Int, parts: Int,
      subDim: Int, k: Int): DataFrame = {
    require(nQueries >= 1 && parts >= 1 && subDim >= 1 && k >= 1,
      s"bad config ($nQueries, $parts, $subDim, $k)")
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    def sliced(df: DataFrame, idOut: String, pOut: String,
        vOut: String): DataFrame =
      df.select(col("vec_id").as(idOut),
        posexplode(array((0 until parts).map(p =>
          slice(col("v"), p * subDim + 1, subDim)): _*)).as(Seq(pOut, vOut)))
    val dp = sliced(v, "doc_id", "dpart", "dv")
      .withColumn("dnrm", l2norm(col("dv")))
    val qp = sliced(v.filter(col("vec_id") < nQueries), "qid", "qpart", "qv")
      .withColumn("qnrm", l2norm(col("qv")))
    val cos = dp.join(broadcast(qp), col("qid") =!= col("doc_id"))
      .select(col("qid"), col("doc_id"), col("qpart"),
        round(when(col("qnrm") > 0 && col("dnrm") > 0,
          dot_product(col("qv"), col("dv")) / (col("qnrm") * col("dnrm")))
          .otherwise(lit(0.0)), 6).as("c"))
    val best = cos.groupBy(col("qid"), col("doc_id"), col("qpart"))
      .agg(max(col("c")).as("mx"))
    val score = best.groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("mx")), 6).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    score.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** All vector pairs with cosine ≥ threshold (embedding near-dup).
    * Brute force O(N²) via theta join — the exactness baseline used by
    * specs/oracles only; queries use [[nearDupPairsBlocked]] (same
    * output, scale-safe plan) or [[lshNearDupPairs]] (approximate
    * candidates, for data with a similarity margin).
    */
  def nearDupPairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val a = normed(vectors, "i", "va")
    val b = normed(vectors, "j", "vb")
    a.join(b, col("i") < col("j"))
      .select(col("i"), col("j"),
        (dot_product(col("va"), col("vb")) / (col("va_nrm") * col("vb_nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact all-pairs cosine ≥ threshold as a block-partitioned
    * EQUI-join — the scale-safe exact plan.
    *
    * Why not LSH here: for dense random embeddings whose pair-cosine
    * distribution is a smooth continuum through the threshold (this
    * testdata: no margin at 0.4), any probabilistic candidate scheme
    * misses near-threshold pairs, and no sub-quadratic exact method
    * exists. The irreducible O(N²) work is instead distributed evenly:
    * each vector is hashed to one of B blocks; the left side replicates
    * to cells (blk, x≥blk), the right to cells (y≤blk, blk), and the
    * join on the cell id gives every unordered pair exactly once. The
    * plan is a shuffled equi-join over B(B+1)/2 uniformly-sized cells —
    * no broadcast of the full set, no BroadcastNestedLoopJoin, no
    * driver bottleneck; B scales with cluster size. When the data DOES
    * have a margin (real near-dup corpora), use [[lshNearDupPairs]].
    */
  def nearDupPairsBlocked(
      vectors: DataFrame, threshold: Double, numBlocks: Int = 16): DataFrame = {
    val b = numBlocks
    val v = normed(vectors, "id", "v")
      .withColumn("blk", pmod(xxhash64(col("id")), lit(b.toLong)).cast("int"))
    val left = v.select(col("id").as("i"), col("v").as("va"),
        col("v_nrm").as("va_nrm"), col("blk").as("bi"))
      .withColumn("cell", explode(transform(
        sequence(col("bi"), lit(b - 1)), x => col("bi") * b + x)))
    val right = v.select(col("id").as("j"), col("v").as("vb"),
        col("v_nrm").as("vb_nrm"), col("blk").as("bj"))
      .withColumn("cell", explode(transform(
        sequence(lit(0), col("bj")), y => y * b + col("bj"))))
    left.join(right, left("cell") === right("cell") &&
        (col("bi") =!= col("bj") || col("i") < col("j")))
      // zero-norm vectors have no direction: their cosine is 0/0 = NaN,
      // and Spark sorts NaN ABOVE every real number, so without this
      // guard one degenerate vector passes every threshold and wins
      // every argmax (DuckDB's 0/0 is NULL and drops out — the guard
      // keeps both engines on the same semantics: excluded)
      .filter(col("va_nrm") > 0 && col("vb_nrm") > 0)
      .select(
        least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"),
        (dot_product(col("va"), col("vb")) / (col("va_nrm") * col("vb_nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cosine-threshold sweep for embedding dedup tuning — the L68/q101
    * pattern on the embedding side: ONE blocked exact all-pairs pass
    * at the loosest threshold, then per-τ pair/doc counts so the
    * SemDeDup/near-dup threshold is chosen from measured attrition,
    * not guessed. The sweep re-aggregation is pairs-sized; thresholds
    * ride as a literal explode.
    */
  def cosineThresholdSweep(
      vectors: DataFrame,
      thresholds: Seq[Double] = Seq(0.40, 0.45, 0.50),
      numBlocks: Int = 16): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val pairs = nearDupPairsBlocked(vectors, thresholds.min, numBlocks)
    val th = thresholds.toDF("threshold")
    val q = pairs
      .select(col("i"), col("j"), col("cos"),
        explode(typedlit(thresholds)).as("threshold"))
      .filter(col("cos") >= col("threshold"))
    val nPairs = q.groupBy(col("threshold")).agg(count(lit(1)).as("__np"))
    val nDocs = q
      .select(col("threshold"), explode(array(col("i"), col("j"))).as("__d"))
      .groupBy(col("threshold")).agg(countDistinct(col("__d")).as("__nd"))
    th.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("__np"), lit(0L)).as("n_pairs"),
        coalesce(col("__nd"), lit(0L)).as("n_docs"))
      .orderBy(col("threshold"))
  }

  /** Approximate near-dup pairs: random-hyperplane LSH candidates +
    * exact cosine verification (probabilistic WORK, verified OUTPUT —
    * every returned pair truly has cos ≥ threshold; recall follows the
    * Charikar bound P[bit agree] = 1 − θ/π, amplified by banding:
    * miss ≈ (1 − p^rowsPerBand)^bands). The scale path for corpora
    * with genuine near-dup structure, where candidate misses
    * concentrate far below any sensible threshold.
    */
  def lshNearDupPairs(
      vectors: DataFrame,
      threshold: Double,
      bands: Int = 32,
      rowsPerBand: Int = 8,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.graft.Signatures.hyperplane_bands
    // uncached multi-branch plan on purpose — see Dedup.minhashLsh
    val v = normed(vectors, "id", "v")
    val banded = v.select(col("id"),
      posexplode(hyperplane_bands(col("v"), bands, rowsPerBand, seed))
        .as(Seq("band", "bandval")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bandval") === col("b.bandval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    val out = cand
      .join(v.select(col("id").as("i"), col("v").as("va"), col("v_nrm").as("va_nrm")), "i")
      .join(v.select(col("id").as("j"), col("v").as("vb"), col("v_nrm").as("vb_nrm")), "j")
      .select(col("i"), col("j"),
        (dot_product(col("va"), col("vb")) / (col("va_nrm") * col("vb_nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
    out
  }

  /** md5-derived hyperplane components for [[hyperplaneLshDeterministic]]:
    * component (band, row, dim) = u16(first 4 hex chars of
    * md5("hp:seed:band:row:dim")) − 32768, an integer in
    * [−32768, 32767]. Same engine-portability trick as the q94 simhash
    * token hashes — any engine with md5 replays the exact hyperplanes,
    * no RNG state involved.
    */
  private[graft] def hyperplaneInts(
      bands: Int, rowsPerBand: Int, dims: Int, seed: Int): Array[Array[Array[Long]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bands, rowsPerBand, dims) { (b, r, d) =>
      md.reset()
      val hex = md.digest(s"hp:$seed:$b:$r:$d"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(2).map(x => f"${x & 0xff}%02x").mkString
      java.lang.Integer.parseInt(hex, 16).toLong - 32768L
    }
  }

  /** EXACT-CONTRACT hyperplane LSH (the q94 pattern applied to L9):
    * same candidate scheme as [[lshNearDupPairs]] — random-hyperplane
    * sign bands + exact cosine verification — but every source of
    * engine-private nondeterminism is removed so a SQL oracle can
    * replay the run bit-for-bit:
    *
    *   - hyperplanes come from md5 ([[hyperplaneInts]]), not a seeded
    *     JVM RNG;
    *   - the sign test is INTEGER: vector elements re-enter as
    *     round(x·10⁶) BIGINTs, components are 16-bit ints, so each
    *     band-row dot is an order-independent exact integer — no
    *     float summation-order sign flips at the decision boundary
    *     (|dot| ≤ 64·10⁷·2¹⁵ ≈ 2·10¹³, comfortably in BIGINT);
    *   - the verify step compares the ROUNDED cosine (the q62 lesson).
    *
    * Recall follows the same Charikar banding bound as the RNG
    * variant; the plan is identical (banded self-equi-join on
    * (band, bandval), signature-only shuffles, text/vector payloads
    * joined back only for the verify step). Zero-norm vectors are
    * excluded on both sides (no direction ⇒ no cosine), mirroring
    * [[nearDupPairsBlocked]].
    */
  def hyperplaneLshDeterministic(
      vectors: DataFrame,
      threshold: Double,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      dims: Int = 64,
      seed: Int = 42): DataFrame = {
    val comps = hyperplaneInts(bands, rowsPerBand, dims, seed)
    val v = vectors
      .select(col("vec_id").as("id"), asDouble(col("embedding")).as("v"))
      .withColumn("n",
        transform(col("v"), x => round(x * 1e6, 0).cast("long")))
    def bitCol(b: Int, r: Int): Column = {
      val dotI = aggregate(
        zip_with(col("n"), typedlit(comps(b)(r).toSeq), (a, x) => a * x),
        lit(0L), (acc, x) => acc + x)
      when(dotI > 0, lit("1")).otherwise(lit("0"))
    }
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until rowsPerBand).map(bitCol(b, _)): _*).as("bv"))
    }
    val banded = v
      .select(col("id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bv").as("bv"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    val vn = v.select(col("id"), col("v"), l2norm(col("v")).as("nrm"))
    cand
      .join(vn.select(col("id").as("i"), col("v").as("va"),
        col("nrm").as("na")), "i")
      .join(vn.select(col("id").as("j"), col("v").as("vb"),
        col("nrm").as("nb")), "j")
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("i"), col("j"),
        round(dot_product(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Deterministic Lloyd k-means over the embedding column: seed
    * centroids = the first `numCells` vectors by id, then a FIXED number
    * of assign/mean iterations (no convergence test — determinism and
    * an exact SQL mirror beat adaptive stopping here). Assignment is by
    * max cosine with (cos desc, cid asc) tie order; new centroids are
    * the elementwise means ROUNDED to 6 decimals so the Spark and
    * oracle recurrences stay bit-identical despite summation-order
    * float drift. This is one full-width book of [[lloydBooks]]: the
    * centroids ride a broadcast relation, so the per-iteration plan is
    * the same size at any cell count, and every iteration is one
    * driver action.
    *
    * `trainSampleMod = m > 1` trains on the deterministic 1/m sample
    * `vec_id % m = 0` (the FAISS discipline: Lloyd needs tens of points
    * per cell, not the corpus — training cost drops m× while every
    * DOWNSTREAM assignment still covers the full corpus; the id-mod
    * predicate is exact integer arithmetic, so an oracle replays the
    * identical sample). Seeds stay `vec_id < numCells` over the FULL
    * corpus — the same deterministic init at any m. A cell no sample
    * point lands in drops out of that iteration's centroid set, exactly
    * as an empty cell already does at m = 1.
    */
  def kmeansCentroidSeq(
      vectors: DataFrame, numCells: Int, iters: Int,
      trainSampleMod: Int = 1): Seq[(Long, Seq[Double])] =
    lloydBooks(vectors, Seq(LloydBook(0, 0, 1, numCells, iters)),
      trainSampleMod)._2(0)

  /** One codebook [[lloydBooks]] trains: `k` centroids over slice
    * `part` of the vector cut into `parts` equal slices, for `iters`
    * Lloyd iterations. The coarse quantizer is part 0 of 1 (full
    * width); PQ subspace s is part s of numSub.
    */
  final case class LloydBook(id: Int, part: Int, parts: Int, k: Int,
      iters: Int)

  // the driver-side left fold every codeword relation carries (the
  // centroidRelation discipline), so the kernel reproduces it bit-for-bit
  private def foldNorm(cv: Seq[Double]): Double =
    math.sqrt(cv.foldLeft(0.0)((a, x) => a + x * x))

  /** THE Lloyd trainer: every book of `books` trains in the same jobs
    * (an IVF-PQ index is one call of `1 + numSub` books).
    *
    *  - Seeds: one collect of the FULL corpus' `vec_id < max k` rows;
    *    book b's seeds are the ids below its own k, sliced driver-side.
    *  - The training rows (the `trainSampleMod` sample) are decoded and
    *    sliced once per call, one row per (vector, book), materialized
    *    in an [[Exec.scoped]] block when more than one iteration reads
    *    them.
    *  - Each iteration is one action ([[lloydStep]]): every slice finds
    *    its nearest codeword with the [[NearestCodes]] kernel against
    *    its book's broadcast codeword array, map-side, and the
    *    centroids are the `round(avg, 6)` means per (book, cell, d).
    *  - A book takes part in iterations 1..iters only, so books with
    *    different iteration counts share one call. An empty cell drops
    *    out of its book's set.
    *
    * Nothing index-sized is an expression, so the per-iteration plan has
    * the same size at any geometry (the literal PQ argmax this replaced
    * passed Janino's 64 KB method limit at 8×32). Returns the vector
    * width d and each book's centroids, sorted by cell, by book id.
    */
  def lloydBooks(vectors: DataFrame, books: Seq[LloydBook],
      trainSampleMod: Int = 1): (Int, Map[Int, Seq[(Long, Seq[Double])]]) = {
    require(trainSampleMod >= 1,
      s"trainSampleMod must be >= 1, got $trainSampleMod")
    val spark = vectors.sparkSession
    import spark.implicits._
    val vAll = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val seeds = vAll.filter(col("vec_id") < books.map(_.k).max)
      .select(col("vec_id").cast("long"), col("v"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    // with no seed at all every book trains to the empty set, whatever d
    val d = seeds.headOption.map(_._2.size).getOrElse(0)
    val span = books.map { b =>
      require(d % b.parts == 0, s"dims $d not divisible by ${b.parts}")
      b.id -> (b.part * (d / b.parts), d / b.parts)
    }.toMap
    var cent = books.map { b =>
      val (s, w) = span(b.id)
      b.id -> seeds.filter(_._1 < b.k).map { case (id, x) =>
        (id, x.slice(s, s + w)) }
    }.toMap
    val maxIters = books.map(_.iters).max
    if (maxIters > 0) {
      val train =
        if (trainSampleMod == 1) vAll
        else vAll.filter(pmod(col("vec_id"), lit(trainSampleMod)) === 0)
      Exec.scoped { s =>
        // materialized only when a second iteration reads it again
        val sliced =
          if (maxIters > 1) s.rebind(lloydSlices(train, span.toSeq))
          else lloydSlices(train, span.toSeq)
        for (i <- 1 to maxIters) {
          val active = books.filter(_.iters >= i).map(_.id)
          val means = lloydStep(sliced, active.map(id => id -> cent(id)))
            .as[(Int, Long, Seq[Double])].collect().groupBy(_._1)
          cent = cent ++ active.map { id =>
            id -> means.getOrElse(id, Array.empty[(Int, Long, Seq[Double])])
              .map { case (_, cid, cv) => (cid, cv) }.toSeq.sortBy(_._1)
          }
        }
      }
    }
    (d, cent)
  }

  /** [[lloydBooks]]' training rows: one (vec_id, book, sv, _svnrm) row
    * per vector and book, the slice layout a broadcast (book, start,
    * width) relation rather than one expression per book.
    */
  private[graft] def lloydSlices(v: DataFrame,
      span: Seq[(Int, (Int, Int))]): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val layout = span.map { case (id, (s, w)) => (id, s + 1, w) }
      .toDF("book", "_start", "_width")
    v.crossJoin(broadcast(layout))
      .select(col("vec_id"), col("book"),
        slice(col("v"), col("_start"), col("_width")).as("sv"))
      .withColumn("_svnrm", l2norm(col("sv")))
  }

  /** One [[lloydBooks]] iteration over [[lloydSlices]] rows: each
    * slice's nearest codeword among its book's current centroids
    * ([[NearestCodes]] against a broadcast (book, codeword array) row —
    * map-only, the slices never shuffle), then the rounded means as
    * (book, cell, cv) — one row per centroid, so the driver fold is k
    * rows per book, not k·d. The two exchanges are the (book, cell, d)
    * means and the (book, cell) vector assembly. Books absent from
    * `books`, or left with no centroid, take no part (their rows find no
    * join partner).
    */
  private[graft] def lloydStep(sliced: DataFrame,
      books: Seq[(Int, Seq[(Long, Seq[Double])])]): DataFrame = {
    val spark = sliced.sparkSession
    val rel = codewordArrays(spark, books.filter(_._2.nonEmpty).map {
      case (b, cent) =>
        b -> cent.map { case (code, cv) => (code, cv, foldNorm(cv)) }
    }).withColumnRenamed("_key", "book")
    sliced.join(broadcast(rel), "book")
      .select(col("book"), col("sv"),
        nearestCode(col("sv"), col("_svnrm"), col("_cw")).as("cell"))
      .select(col("book"), col("cell"), posexplode(col("sv")).as(Seq("d", "x")))
      .groupBy(col("book"), col("cell"), col("d"))
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("book"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        s => s.getField("m")).as("cv"))
  }

  /** [[NearestCodes]]' codeword input: one `(_key, _cw)` row per key,
    * `_cw` the key's array<struct<code, cv, cnrm>>. A LOCAL relation,
    * so the plan that reads it gains no aggregate and no shuffle; its
    * rows are data, never expressions, so the plan has the same size at
    * any index geometry.
    */
  private def codewordArrays(spark: org.apache.spark.sql.SparkSession,
      keyed: Seq[(Int, Seq[(Long, Seq[Double], Double)])]): DataFrame = {
    val rows = keyed.map { case (k, cws) =>
      Row(k, cws.map { case (code, cv, cnrm) => Row(code, cv, cnrm) }) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("_key", IntegerType, nullable = false),
        StructField("_cw", NearestCodes.codewordsType, nullable = false))))
  }

  /** [[codewordArrays]] of a stored relation's (key, code, cv, cnrm)
    * rows: one collect of the k·d index (the bytes a broadcast of the
    * row relation moves anyway; free for a local relation). */
  private def collectCodewords(rel: DataFrame, key: Column,
      code: String): DataFrame =
    codewordArrays(rel.sparkSession,
      rel.select(key, col(code), col("cv"), col("cnrm")).collect().toSeq
        .groupBy(_.getInt(0)).toSeq.map { case (k, rs) =>
          k -> rs.map(r => (r.getLong(1), r.getSeq[Double](2), r.getDouble(3)))
        })

  /** The code of the one nearest codeword (`_cw` must be non-empty). */
  private def nearestCode(v: Column, vnrm: Column, cw: Column): Column =
    nearest_codes(v, vnrm, cw, 1).getItem(0).getField("code")

  /** A trained centroid set materialized as a RELATION — (cid, cv,
    * cnrm, cn2) rows, one per centroid — never plan literals. cnrm/cn2
    * are driver-side left folds (`math.sqrt(Σx²)` / `Σx²`) over the
    * 6-dp-rounded centroid, the same folds every oracle mirror runs.
    * In production the same schema is simply READ from the index's
    * parquet — every search op accepts any DataFrame with these
    * columns; the assignment collects it once into [[NearestCodes]]'
    * codeword array (k·d doubles, the bytes a broadcast moves anyway).
    */
  def centroidRelation(spark: org.apache.spark.sql.SparkSession,
      cent: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cent.map { case (cid, cv) =>
      val cn2 = cv.foldLeft(0.0)((a, x) => a + x * x)
      (cid, cv, math.sqrt(cn2), cn2)
    }.toDF("cid", "cv", "cnrm", "cn2")
  }

  /** [[pqCodebooks]]' output as a RELATION — (sub, start, code, cv,
    * cnrm, cn2) rows, `start` the 1-based slice offset of the
    * subspace — the same precomputed-fold discipline as
    * [[centroidRelation]] (and the same production note: read this
    * schema from the index store at scale).
    */
  def codebookRelation(spark: org.apache.spark.sql.SparkSession,
      w: Int, books: Seq[(Int, Seq[(Long, Seq[Double])])]): DataFrame = {
    import spark.implicits._
    books.flatMap { case (sub, cent) =>
      cent.map { case (code, cv) =>
        val cn2 = cv.foldLeft(0.0)((a, x) => a + x * x)
        (sub, sub * w + 1, code, cv, math.sqrt(cn2), cn2)
      }
    }.toDF("sub", "start", "code", "cv", "cnrm", "cn2")
  }

  /** Assign each (vec_id, v) row to its `probes` highest-cosine
    * centroids, carrying the cosine as `sim` and the rank as `probe`,
    * with the index as a BROADCAST RELATION (nothing index-sized is an
    * expression, so the plan has the same size at any cell count). A
    * zero-norm centroid or vector pins the cosine to 0.0 (NaN sort order
    * is engine-dependent) and exactly-equal cosines break toward the
    * LOWER cid — the `ORDER BY cos DESC, cid` every DuckDB oracle mirror
    * encodes; both are pinned against the driver replay in the specs
    * (LloydReplay.assign). Shape: the centroids ride ONE broadcast row
    * holding their codeword array, and the [[NearestCodes]] kernel
    * returns each vector's `probes` best cells inside the scan, which
    * `posexplode` turns into rows — map-only, no exchange, no aggregate.
    *
    * `centroids` must have [[centroidRelation]]'s (cid, cv, cnrm)
    * columns; they are collected once to build the array (k·d doubles).
    * An EMPTY relation yields an empty result.
    */
  def assignCellsRelation(v: DataFrame, centroids: DataFrame,
      probes: Int): DataFrame =
    v.withColumn("_vnrm", l2norm(col("v")))
      .crossJoin(broadcast(
        collectCodewords(centroids, lit(0), "cid").select(col("_cw"))))
      .select(col("vec_id"), col("v"),
        posexplode(nearest_codes(col("v"), col("_vnrm"), col("_cw"), probes))
          .as(Seq("_p", "_c")))
      .select(col("vec_id"), col("v"), col("_c.code").as("cell"),
        col("_c.sim").as("sim"), (col("_p") + 1).as("probe"))

  /** Corpus-clustering readout over the embedding column: the k-means
    * index (same deterministic Lloyd recurrence the IVF search builds)
    * summarized per cluster — member count, mean and minimum cosine to
    * the centroid. The standard curation view for a training corpus:
    * undersized cells flag modality gaps, low min-cosine flags
    * outliers/noise documents. Assignment is against the broadcast
    * centroid relation ([[assignCellsRelation]]); the summary is one
    * narrow aggregation keyed by cell, so the readout scales with the
    * vector count at any corpus size.
    */
  def clusterSummary(
      vectors: DataFrame, numCells: Int = 8, iters: Int = 2): DataFrame = {
    val cent = kmeansCentroidSeq(vectors, numCells, iters)
    // the assignment already carries each vector's cosine to its
    // winning centroid — the summary is a pure groupBy, no second
    // kernel pass over the embeddings
    assignCellsRelation(
        vectors.select(col("vec_id"), asDouble(col("embedding")).as("v")),
        centroidRelation(vectors.sparkSession, cent), probes = 1)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("sim")), 6).as("avg_cos"),
        round(min(col("sim")), 6).as("min_cos"))
  }

  /** Incremental-index maintenance readout: when a new ingest batch
    * lands on an existing IVF index, how stale does the index get and
    * what does one refresh step move? The corpus is split by id into
    * the INDEXED base (vec_id % deltaMod ≠ deltaMod−1) and the new
    * BATCH; centroids are trained on the base only (the index that
    * existed before the batch), everything is assigned to those stale
    * centroids (how a real system appends — new vectors go to their
    * nearest existing cell), then ONE Lloyd refresh over the merged
    * corpus recomputes the centroids and everything is reassigned.
    *
    * Output, one row per original cell: member count before/after the
    * refresh, vectors moved in/out, and the churn fraction — the
    * number an index operator reads to decide between cheap periodic
    * refreshes and a full rebuild. Both centroid sets are k×d driver
    * folds (the kmeansCentroidSeq bound) that ride broadcast centroid
    * relations, so the whole readout is three corpus scans + narrow
    * aggregations at any corpus size.
    */
  def ivfReassignDrift(vectors: DataFrame, numCells: Int, iters: Int,
      deltaMod: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val (moves, cent0, _) = driftMoves(vectors, numCells, iters, deltaMod)
    val cells = cent0.map(_._1).toDF("cell")
    val n0 = moves.groupBy(col("cell0").as("cell"))
      .agg(count(lit(1)).as("n_before"))
    val n1 = moves.groupBy(col("cell1").as("cell"))
      .agg(count(lit(1)).as("n_after"))
    val out = moves.filter(col("cell0") =!= col("cell1"))
      .groupBy(col("cell0").as("cell")).agg(count(lit(1)).as("moved_out"))
    val in = moves.filter(col("cell0") =!= col("cell1"))
      .groupBy(col("cell1").as("cell")).agg(count(lit(1)).as("moved_in"))
    // hint the RIGHT sides (k-row aggregates): a broadcast hint on the
    // left of a left-outer join is unsupported and Spark warns per join
    cells
      .join(broadcast(n0), Seq("cell"), "left")
      .join(broadcast(n1), Seq("cell"), "left")
      .join(broadcast(out), Seq("cell"), "left")
      .join(broadcast(in), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("moved_in"), lit(0L)).as("moved_in"),
        coalesce(col("moved_out"), lit(0L)).as("moved_out"))
      .withColumn("churn_frac",
        when(col("n_before") + col("n_after") === 0, lit(0.0))
          .otherwise(round((col("moved_in") + col("moved_out"))
            .cast("double") / (col("n_before") + col("n_after")), 6)))
      .orderBy(col("cell"))
  }

  /** The shared half of [[ivfReassignDrift]] / [[ivfIndexMaintain]]:
    * stale-index assignment of the merged corpus (a0), one Lloyd
    * refresh, reassignment (a1), joined into the per-vector move
    * frame. Returns (moves = (vec_id, cell0, cell1), cent0, cent1) —
    * both centroid sets are the documented k×d driver folds.
    */
  private def driftMoves(vectors: DataFrame, numCells: Int, iters: Int,
      deltaMod: Int): (DataFrame, Seq[(Long, Seq[Double])],
        Seq[(Long, Seq[Double])]) = {
    require(deltaMod >= 2, s"deltaMod must be >= 2, got $deltaMod")
    val isBatch = col("vec_id") % deltaMod === (deltaMod - 1)
    val cent0 = kmeansCentroidSeq(vectors.filter(!isBatch), numCells,
      iters)
    val spark0 = vectors.sparkSession
    val all = vectors.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val a0 = assignCellsRelation(all, centroidRelation(spark0, cent0),
      probes = 1)
      .select(col("vec_id"), col("v"), col("cell").as("cell0"))
    // one Lloyd refresh over the merged corpus: means of the stale
    // assignment, rounded to 6 decimals (the kmeansCentroidSeq
    // recurrence), collected as the next k×d centroid set
    val spark = vectors.sparkSession
    import spark.implicits._
    val cent1: Seq[(Long, Seq[Double])] = a0
      .select(col("cell0").as("cell"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        s => s.getField("m")).as("cv"))
      .select(col("cell").cast("long"), col("cv"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    val a1 = assignCellsRelation(all, centroidRelation(spark0, cent1),
      probes = 1)
      .select(col("vec_id"), col("cell").as("cell1"))
    (a0.select(col("vec_id"), col("cell0")).join(a1, "vec_id"),
      cent0, cent1)
  }

  /** Index MAINTENANCE action on the [[ivfReassignDrift]] readout
    * (round-14 item 6) — the operator loop a production IVF index runs
    * on every ingest batch: append the batch to the stale index, read
    * the drift, then DECIDE — `churn ≤ threshold` keeps the cheap path
    * (adopt the one-step REFRESHED centroids, cent1) while
    * `churn > threshold` declares the index geometry stale and
    * RETRAINS from scratch on the merged corpus (the full Lloyd
    * recurrence, new seeds). Returns the decision readout (one row:
    * corpus/batch sizes, moved count, churn, decision — oracle-gated
    * as q186) together with the MAINTAINED centroid set the decision
    * selected, which the caller persists ([[centroidRelation]] →
    * parquet is the round-trip the spec pins) and serves until the
    * next batch.
    *
    * The decision itself is a 1-row driver read (the readout frame's
    * head) — the chain executes once; everything corpus-sized stays in
    * the drift machinery's assignments.
    */
  def ivfIndexMaintain(vectors: DataFrame, numCells: Int, iters: Int,
      deltaMod: Int, churnThreshold: Double):
      (DataFrame, Seq[(Long, Seq[Double])]) = {
    require(churnThreshold >= 0.0 && churnThreshold <= 1.0,
      s"churnThreshold must be in [0, 1], got $churnThreshold")
    val (moves, _, cent1) = driftMoves(vectors, numCells, iters, deltaMod)
    val isBatch = col("vec_id") % deltaMod === (deltaMod - 1)
    val readout = moves.agg(
      count(lit(1)).as("n_total"),
      sum(when(isBatch, 1L).otherwise(0L)).as("n_batch"),
      sum(when(col("cell0") =!= col("cell1"), 1L).otherwise(0L))
        .as("n_moved"))
      .withColumn("churn",
        round(col("n_moved").cast("double") / col("n_total"), 6))
      .withColumn("decision",
        when(col("churn") > churnThreshold, lit("rebuild"))
          .otherwise(lit("refresh")))
    val decision = readout.select(col("decision")).head().getString(0)
    val maintained =
      if (decision == "rebuild")
        kmeansCentroidSeq(vectors, numCells, iters)
      else cent1
    (readout, maintained)
  }

  /** ANN recall@k readout: per query, how much of the exact brute-force
    * top-k the IVF multiprobe search actually returned — the
    * measure-before-you-trust audit every approximate index needs
    * before it replaces the exact path at corpus scale (the same
    * discipline as the q62→q78 gated swap, made a first-class,
    * oracle-gated readout instead of a one-off BASELINE probe). Runs
    * the two searches the library already ships and joins their
    * (qid, nid) sets; cost is one brute-force pass over the QUERY set
    * (small by contract — this is an audit run on a sample, not the
    * production search) plus the IVF search being audited.
    */
  def ivfRecallReadout(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      numCells: Int = 8,
      iters: Int = 2,
      probes: Int = 2): DataFrame = {
    val ivf = ivfTopKMultiprobe(vectors, queries, k, numCells, iters, probes)
      .select(col("qid"), col("nid"))
    val bf = bruteForceTopK(vectors, queries, k)
      .select(col("qid").as("__q"), col("nid").as("__n"))
    val overlap = ivf
      .join(bf, col("qid") === col("__q") && col("nid") === col("__n"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    queries.select(col("vec_id").as("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), lit(k).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
      .orderBy(col("qid"))
  }

  /** Label-centroid similarity matrix: the pairwise cosine between
    * per-label mean embeddings — the embedding-space drift/separation
    * readout (two labels whose centroids sit at cosine ≈ 1 are
    * indistinguishable to a linear probe; a label whose centroid
    * drifts between corpus versions flags a pipeline change). Means
    * are 6-dp rounded elementwise BEFORE the cosine (the q47
    * discipline — rounding absorbs cross-engine summation-order
    * drift), and the pairwise join runs over #labels rows — a
    * dimension-bounded frame, never the corpus.
    */
  def labelCentroidSimilarity(
      vectors: DataFrame, labelCol: String = "label"): DataFrame = {
    val e = vectors.select(col(labelCol).as("lbl"),
        posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
    val cent = e.groupBy(col("lbl"), col("i"))
      .agg(round(avg(col("x")), 6).as("m"))
    val v = cent.groupBy(col("lbl"))
      .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("cv"))
    v.as("a").join(v.as("b"), col("a.lbl") < col("b.lbl"))
      .select(col("a.lbl").as("label_a"), col("b.lbl").as("label_b"),
        round(cosine(col("a.cv"), col("b.cv")), 6).as("cos"))
      .orderBy(col("label_a"), col("label_b"))
  }

  /** Per-vector distance to its OWN label centroid — the
    * mislabeled-data detector (confident-learning-lite): a vector far
    * from its class centroid is a labeling-error / outlier candidate
    * to re-annotate or drop before the embedding table trains a
    * classifier head. Centroids are the q113 6-dp-rounded elementwise
    * means (label-bounded frame, broadcast back onto one corpus
    * scan); cos is the exact codegen dot; flag compares the ROUNDED
    * cosine (the q62 lesson). One exchange total (the label-keyed
    * centroid agg); the scoring join is broadcast, map-side.
    */
  def labelOutliers(
      vectors: DataFrame, labelCol: String = "label",
      minCos: Double = 0.0): DataFrame = {
    val e = vectors.select(col(labelCol).as("lbl"),
        posexplode(asDouble(col("embedding"))).as(Seq("i", "x")))
    val cent = e.groupBy(col("lbl"), col("i"))
      .agg(round(avg(col("x")), 6).as("m"))
      .groupBy(col("lbl"))
      .agg(transform(sort_array(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("cv"))
    vectors.select(col("vec_id"), col(labelCol).as("lbl"),
        asDouble(col("embedding")).as("v"))
      .join(broadcast(cent), "lbl")
      .select(col("vec_id"), col("lbl").as("label"),
        round(when(dot(col("v"), col("v")) === 0.0 ||
                   dot(col("cv"), col("cv")) === 0.0, 0.0)
          .otherwise(cosine(col("v"), col("cv"))), 6).as("cos_centroid"))
      .withColumn("outlier", col("cos_centroid") < minCos)
  }

  /** IVF top-k with a real k-means index and query-side multiprobe:
    * vectors live in their single nearest cell; each query probes its
    * `probes` nearest cells and ranks exact cosine within them. The
    * search shuffle is keyed by cell id, so a cluster partitions the
    * index naturally; probes trades recall for scanned fraction
    * (probes/numCells of the data per query in expectation).
    * Deterministic end-to-end — the DuckDB oracle replays the identical
    * recurrence.
    */
  def ivfTopKMultiprobe(
      vectors: DataFrame,
      queries: DataFrame,
      k: Int,
      numCells: Int = 8,
      iters: Int = 2,
      probes: Int = 2): DataFrame = {
    val cent = centroidRelation(vectors.sparkSession,
      kmeansCentroidSeq(vectors, numCells, iters))
    val members = assignCellsRelation(
      vectors.select(col("vec_id"), asDouble(col("embedding")).as("v")), cent,
      probes = 1)
      .withColumn("vnrm", l2norm(col("v")))
      .select(col("vec_id").as("nid"), col("v").as("nv"),
        col("vnrm").as("nv_nrm"), col("cell"))
    val probed = assignCellsRelation(
      queries.select(col("vec_id"), asDouble(col("embedding")).as("v")), cent,
      probes)
      .withColumn("vnrm", l2norm(col("v")))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("vnrm").as("qv_nrm"), col("cell"))
    val scored = members.join(broadcast(probed),
      members("cell") === probed("cell") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot_product(col("qv"), col("nv")) / (col("qv_nrm") * col("nv_nrm"))).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Corpus-wide approximate k-NN graph from the IVF index — the
    * documented scale swap for the exact O(N²) 1-NN scan behind q62
    * (L29): every vector is a query against its own `probes` nearest
    * cells, so per-query work is the probed cells' population
    * (≈ probes/numCells of the corpus in expectation), not N.
    * Unlike [[ivfTopKMultiprobe]] — built for small query batches,
    * which it broadcasts — BOTH sides here are corpus-sized, so the
    * candidate join is a SHUFFLED equi-join keyed by cell id
    * (a cluster partitions it; nothing corpus-sized is broadcast or
    * collected). The argmax follows the q62 lesson: the cosine is
    * rounded to 6 dp BEFORE ranking, with the nid ascending
    * tie-break, so cross-engine 1-ulp summation drift cannot flip a
    * neighbor choice. Zero-norm vectors have no direction: excluded
    * from both sides (the [[nearDupPairsBlocked]] guard class).
    * Output: (qid, nid, cos, rank) for rank ≤ k — top-k in-probe
    * neighbors per vector, self excluded.
    *
    * Geometry IS the scale contract here: per-query candidates are
    * ≈ probes·N/numCells, so a FIXED cell count makes the candidate
    * join quadratic in N (measured: 200k vectors at numCells = 8 is
    * ~10¹⁰ scored pairs — the round-14 sf10 wall). Callers scaling the
    * corpus must scale the geometry with it — [[autoCells]] encodes
    * the √N rule as exact integer arithmetic.
    *
    * `salt` replicates the member side `salt`× and routes each query
    * row to `hash(qid) mod salt`, widening the candidate join's key
    * space from numCells to numCells·salt — output-identical (each
    * qid probes exactly one replica of every member row), it exists
    * because a small-nlist join otherwise runs on ≤ numCells cores
    * (jstack at sf10: 7 of 32 busy). Both assignments run against the
    * broadcast centroid relation ([[assignCellsRelation]]), so the
    * plan has the same size at any nlist.
    */
  def ivfKnnGraph(
      vectors: DataFrame, k: Int = 1,
      numCells: Int = 8, iters: Int = 2, probes: Int = 2,
      salt: Int = 1, trainSampleMod: Int = 1): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val spark = vectors.sparkSession
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cent = centroidRelation(spark,
      kmeansCentroidSeq(vectors, numCells, iters, trainSampleMod))
    val members = assignCellsRelation(v, cent, probes = 1)
      .withColumn("nv_nrm", l2norm(col("v")))
      .select(col("vec_id").as("nid"), col("v").as("nv"),
        col("nv_nrm"), col("cell"))
    val probed = assignCellsRelation(v, cent, probes)
      .withColumn("qv_nrm", l2norm(col("v")))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("qv_nrm"), col("cell"))
    val scored0 =
      if (salt == 1) members.join(probed, Seq("cell"))
      else {
        // member rows are replicated per salt bucket (broadcast of a
        // salt-row range — config-sized); each query row lands in ONE
        // bucket, so the candidate PAIR set is exactly the unsalted
        // join's — only the task fan-out changes
        val saltRange = broadcast(
          spark.range(0, salt).select(col("id").cast("int").as("_salt")))
        members.crossJoin(saltRange)
          .join(probed.withColumn("_salt", pmod(hash(col("qid")), lit(salt))),
            Seq("cell", "_salt"))
      }
    val scored = scored0
      .filter(col("qid") =!= col("nid") &&
        col("qv_nrm") > 0 && col("nv_nrm") > 0)
      .select(col("qid"), col("nid"),
        round(dot_product(col("qv"), col("nv")) /
          (col("qv_nrm") * col("nv_nrm")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The √N IVF geometry rule as EXACT integer arithmetic: the
    * smallest power of two p ≥ 8 with p·p ≥ n, capped at 65536 (the
    * FAISS nlist guidance — cells ∝ √corpus keeps per-query candidate
    * work ≈ probes·√N instead of the fixed-nlist quadratic). Integer
    * comparison only — no sqrt/log2 doubles whose libm rounding could
    * disagree with the oracle engine's — so a DuckDB mirror
    * (`min(p) FROM (VALUES ...) WHERE p*p >= n`) picks the identical
    * geometry on any engine.
    */
  def autoCells(n: Long): Int = {
    var p = 8L
    while (p * p < n && p < 65536L) p *= 2L
    p.toInt
  }

  /** PageRank centrality over the IVF kNN graph — exemplar selection
    * for a training corpus: a vector many other vectors point AT
    * (high in-link mass through the kNN edges) is a representative of
    * a dense region; the top-`top` list is the "medoid sample" a
    * curation pass keeps when it wants diversity-weighted exemplars
    * rather than random docs.
    *
    * The recurrence is INTEGER fixed-point (micros): pr₀ = 10⁶;
    * prᵢ₊₁ = 150000 + (17 · (Σ_in ⌊pr_src / outdeg⌋ + ⌊dangling / N⌋))
    * div 20 — damping 0.85 as the exact rational 17/20, every division
    * a floor over BIGINTs, so the whole recurrence is engine-exact
    * with no float summation order anywhere (the oracle replays it
    * with `//`). Remainder mass shed by the floors is the documented
    * cost of exactness (bounded by in-degree + 1 micro per node·iter).
    *
    * Scale shape: edges = the L43 kNN graph (cell-partitioned
    * equi-join); each iteration is one (src)-keyed broadcast-free
    * equi-join + a (dst)-keyed narrow aggregation — the sparse matvec.
    * Iteration frames are materialized in an [[Exec.scoped]] block
    * (N-row, two longs) so the unrolled lineage doesn't re-execute the
    * graph build per reference, and each is released as soon as the
    * next iteration lands, so a long-lived session (Bench runs each
    * query 3×) accumulates zero cached blocks across invocations. The
    * final top list (≤ `top` rows — driver-bounded by contract;
    * exemplar selection asks for tens, never a corpus) is collected
    * inside the scope; the returned frame is a local relation with no
    * block dependency (the shared-session contract).
    */
  def knnPageRank(vectors: DataFrame, k: Int, numCells: Int, iters: Int,
      probes: Int, prIters: Int, top: Int, salt: Int = 1,
      trainSampleMod: Int = 1): DataFrame = {
    require(prIters >= 1 && top >= 1, s"bad config ($prIters, $top)")
    val spark = vectors.sparkSession
    import spark.implicits._
    val nodes = vectors.select(col("vec_id").as("id"))
    val out = Exec.scoped { s =>
      val edges = ivfKnnGraph(vectors, k, numCells, iters, probes,
        salt, trainSampleMod)
        .select(col("qid").as("src"), col("nid").as("dst"))
      val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // Every frame the recurrence reads is a scope rebind: the PR step
      // references pr twice (contrib + dangling mass), so a chained
      // logical plan DOUBLES per iteration and Catalyst/AQE re-analysis
      // — not execution — dominated the round-18 profile (q191: 67 s
      // isolated, executors idle). Rebound, every iteration's plan is
      // constant-size over leaf relations.
      val edgesR = s.rebind(edges.join(outdeg, "src"))
      // the dangling-node set is STATIC (nodes with no out-edge), so
      // it is computed ONCE into a flag column instead of a per-
      // iteration left_anti join; n is the same 1-row count scalar the
      // old per-iteration broadcast frame carried (DriverBoundsSpec
      // class: 1-row)
      val nodesR = s.rebind(nodes
        .join(outdeg.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("deg").isNull.as("dang")))
      val nTotal = nodesR.count()
      var prR = s.rebind(nodesR.withColumn("pr", lit(1000000L)))
      for (_ <- 1 to prIters) {
        val contrib = edgesR.join(prR, edgesR("src") === prR("id"))
          .select(col("dst"), expr("pr div deg").as("ct"))
          .groupBy(col("dst")).agg(sum(col("ct")).as("csum"))
        val dang = prR.filter(col("dang"))
          .agg(coalesce(sum(col("pr")), lit(0L)).as("dsum"))
          .select(expr(s"dsum div ${nTotal}L").as("dshare"))
        // materialized BEFORE the previous round is released
        val next = s.rebind(nodesR
          .join(contrib, nodesR("id") === contrib("dst"), "left")
          .crossJoin(broadcast(dang))
          .select(col("id"), col("dang"),
            (lit(150000L) + expr(
              "(17 * (coalesce(csum, 0) + dshare)) div 20")).as("pr")))
        s.release(prR)
        prR = next
      }
      // top-bounded collect (rank, id, pr) — the q183 DriverBoundsSpec
      // ceiling; collecting here is what lets the last iteration frame
      // be released instead of riding the returned plan
      prR.orderBy(col("pr").desc, col("id").asc).limit(top)
        .select(col("id"), col("pr"))
        .as[(Long, Long)].collect()
    }
    out.zipWithIndex.map { case ((id, p), i) => (i + 1L, id, p) }
      .toSeq.toDF("rank", "vec_id", "pr_micro")
      .orderBy(col("rank"))
  }

  /** Embedding-space dedup clusters: exact cosine near-dup pairs
    * (nearDupPairsBlocked) closed under transitivity with the same
    * alternating-star connected components the text path uses
    * (Dedup.connectedComponents) — A≈B and B≈C collapse to one keep
    * decision even when cos(A,C) itself misses the threshold. Every
    * vector is labeled with its cluster representative (min vec_id;
    * singletons label themselves) and cluster size.
    *
    * Scale honesty: CC cost is rounds × shuffles of the PAIR set, and
    * the pair set is bounded by the near-dup rate ONLY when the
    * threshold sits in a margin of the cosine distribution. On
    * continuum-shaped data (e.g. τ=0.4 over random dense embeddings)
    * the pair count grows ~quadratically with the corpus and CC
    * inherits that blowup — which is why the pair count is guarded by
    * `maxEdges` (fail fast, loudly, before shuffling a quadratic edge
    * set ~3× per round). At scale, either raise τ out of the continuum
    * or source pairs from LSH candidates
    * ([[embeddingDedupClustersLsh]]) — margin data is the regime where
    * near-dup CLUSTERS are meaningful anyway.
    *
    * AUDIT-ONLY at corpus scale (the q62→q78 gating pattern): the
    * default embedding-dedup path for a full corpus is
    * [[semanticDedup]] (SemDeDup, cell-bounded pair work, no CC
    * rounds); run THIS operator on samples/subsets when the exact
    * transitive closure itself is the deliverable — its CC loop is
    * rounds × pair-set shuffles with a data-dependent round count,
    * bounded only by `maxEdges` and `connectedComponents`' round cap.
    */
  def embeddingDedupClusters(
      vectors: DataFrame, threshold: Double,
      maxEdges: Long = 10000000L): DataFrame = {
    val pairs = nearDupPairsBlocked(vectors, threshold).select(col("i"), col("j"))
    val cc = Dedup.connectedComponents(pairs, maxEdges = maxEdges)
    Dedup.labelClusters(vectors.select(col("vec_id")), "vec_id", cc)
  }

  /** [[embeddingDedupClusters]] with the pair set sourced from
    * hyperplane-LSH candidates instead of the exact O(N²) blocked join
    * — the 100 TB path for margin-bearing corpora: pair generation is
    * linear-ish in the corpus (banded candidates, exact cosine
    * verification), recall follows the Charikar banding bound (≈ total
    * at real near-dup cosines), and the same `maxEdges` guard protects
    * the CC rounds. Output schema and label/tie semantics are
    * identical to the exact variant (shared labelClusters kernel).
    */
  def embeddingDedupClustersLsh(
      vectors: DataFrame, threshold: Double,
      bands: Int = 32, rowsPerBand: Int = 8, seed: Long = 42L,
      maxEdges: Long = 10000000L): DataFrame = {
    val pairs = lshNearDupPairs(vectors, threshold, bands, rowsPerBand, seed)
      .select(col("i"), col("j"))
    val cc = Dedup.connectedComponents(pairs, maxEdges = maxEdges)
    Dedup.labelClusters(vectors.select(col("vec_id")), "vec_id", cc)
  }

  /** [[embeddingDedupClustersLsh]] with the pair set from the
    * EXACT-CONTRACT hyperplane chain ([[hyperplaneLshDeterministic]] —
    * md5 hyperplanes, integer sign test, rounded-cosine verify) — the
    * q189/q190 discipline applied to the q54 family: the LSH-sourced
    * sibling whose oracle replays the WHOLE chain (banding, candidate
    * join, verify, transitive closure) candidate-bounded, so the
    * embedding-dedup family is verifiable at sf1 where q54's
    * brute-force O(N²) oracle times out. Pair recall vs the exact
    * variant follows the Charikar banding bound; cluster labels and
    * tie semantics are the shared [[Dedup.labelClusters]] kernel's.
    */
  def embeddingDedupClustersLshExact(
      vectors: DataFrame, threshold: Double,
      bands: Int = 8, rowsPerBand: Int = 4, dims: Int = 64,
      seed: Int = 42, maxEdges: Long = 10000000L): DataFrame = {
    val pairs = hyperplaneLshDeterministic(vectors, threshold, bands,
      rowsPerBand, dims, seed).select(col("i"), col("j"))
    val cc = Dedup.connectedComponents(pairs, maxEdges = maxEdges)
    Dedup.labelClusters(vectors.select(col("vec_id")), "vec_id", cc)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the deterministic
    * Lloyd index (the q23/q47 recurrence — seeded centroids, fixed
    * iterations, 6-dp rounded means), then search for near-duplicates
    * ONLY within each cluster and greedily drop every vector that has
    * an earlier (lower-id) same-cell neighbor with cosine ≥ τ. The
    * paper's point, preserved here: restricting the pair search to
    * cells turns the global O(N²) scan into O(Σ|cell|²) — with k
    * grown proportionally to the corpus (the paper's regime,
    * k ≈ N/⟨cell⟩), expected per-cell size is constant and total
    * pair work is LINEAR in N. The pair join is keyed by cell id, so
    * a cluster partitions it naturally; assignment is against the
    * broadcast centroid relation. The greedy earlier-id rule is the
    * paper's one-survivor-per-ε-ball policy made deterministic and
    * order-free (a chain i~j~k with cos(i,k) < τ drops BOTH j and k —
    * documented over-drop, identical in both engines, no iteration).
    * Zero-norm vectors have no direction and are never dup-paired
    * (same guard class as [[nearDupPairsBlocked]]). Trade-off vs
    * [[embeddingDedupClusters]]: no transitive closure across cell
    * boundaries (a cross-cell near-dup pair is invisible by design —
    * that is what bounds the work), no CC rounds, no pair-set
    * materialization; the standard curation choice at 100 TB.
    * Output: one row per vector — (vec_id, cell, keep).
    */
  def semanticDedup(
      vectors: DataFrame, threshold: Double,
      numCells: Int = 8, iters: Int = 2): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cent = kmeansCentroidSeq(vectors, numCells, iters)
    val asn = assignCellsRelation(v,
        centroidRelation(vectors.sparkSession, cent), probes = 1)
      .select(col("vec_id"), col("v"), col("cell"))
      .withColumn("nrm", l2norm(col("v")))
    val a = asn.select(col("cell"), col("vec_id").as("i"),
      col("v").as("va"), col("nrm").as("na"))
    val b = asn.select(col("cell"), col("vec_id").as("j"),
      col("v").as("vb"), col("nrm").as("nb"))
    // dup candidates never leave their cell: an equi-join on the cell
    // id (shuffle keyed by cell), i<j once per unordered pair, raw
    // cosine vs τ exactly as q22's proven cross-engine comparison
    val dropped = a.join(b, Seq("cell"))
      .filter(col("i") < col("j") && col("na") > 0 && col("nb") > 0)
      .filter(dot_product(col("va"), col("vb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("j").as("vec_id")).distinct()
    asn.select(col("vec_id"), col("cell"))
      .join(dropped.withColumn("_d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("_d"), lit(false)).unary_!.as("keep"))
  }

  /** Cluster-balanced downsampling — the diversity-sampling companion
    * to [[semanticDedup]] in a curation pipeline (the SemDeDup /
    * data-mixture recipe: after dedup, cap each semantic cluster so no
    * single mode dominates the training mixture). Every vector is
    * assigned to its k-means cell (the q23/q47 deterministic Lloyd
    * index), ranked within the cell by a content-independent
    * deterministic hash order (md5 of the id — the
    * TextOps.sampleBucket discipline: stable under re-sharding, no RNG
    * state, identical in any engine), and kept iff its rank is within
    * `perCellCap`. Oversized cells are truncated to the cap; small
    * cells pass through whole — the output mixture is cluster-balanced
    * by construction. Scale shape: assignment is against the broadcast
    * centroid relation and the rank is ONE window partitioned by cell
    * (numCells-way parallel, each partition bounded by its cell size);
    * only (vec_id, cell) rides the exchange — never the embedding.
    * Output: (vec_id, cell, rk, keep), one row per vector.
    */
  def clusterBalancedSample(
      vectors: DataFrame, perCellCap: Int,
      numCells: Int = 8, iters: Int = 2): DataFrame = {
    require(perCellCap > 0, "perCellCap must be positive")
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cent = kmeansCentroidSeq(vectors, numCells, iters)
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    assignCellsRelation(v, centroidRelation(vectors.sparkSession, cent),
        probes = 1)
      .select(col("vec_id"), col("cell"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("keep", col("rk") <= perCellCap)
  }

  /** k-center greedy coreset (farthest-point sampling, the Sener &
    * Savarese 2018 data-selection pass): seed with the lowest vec_id,
    * then k−1 times pick the point with the LARGEST min squared
    * distance to the already-selected set — the classic
    * diversity-maximizing subset whose cover radius 2-approximates the
    * optimal k-center cover. Returns (ord, vec_id, radius): radius is
    * the 6-dp min-d² at selection — the running cover radius the
    * curation loop watches to decide when the coreset is "diverse
    * enough" — 0 for the seed.
    *
    * Execution is the kmeansCentroidSeq shape: the selected set lives
    * on the driver (≤ k×d doubles, independent of corpus size); each
    * round is ONE cached full scan computing min over per-center
    * squared-distance folds (index-order zip_with + aggregate,
    * rounded to 6 dp BEFORE the min and the argmax — the q62
    * discipline: a raw-double argmax amplifies 1-ulp cross-engine
    * summation drift into a different selection), then a single
    * max(struct) reduce and a 1-row collect. Stateless recompute
    * costs O(k²·n) distance evals; the 100 TB swap carries a
    * persisted running-min column per point (O(k·n)) at the price of
    * a checkpoint chain per round.
    */
  def kCenterCoreset(vectors: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = vectors.sparkSession
    import spark.implicits._
    // Running-min formulation (round-18 optimization): the greedy
    // recurrence needs each point's distance to the NEAREST picked
    // center, and min is associative — so each round folds ONE new
    // rounded distance into a carried `mind` column instead of
    // re-computing distances to every picked center (the original
    // shape was O(k²·N·d) work with a plan that grew a `least` arm per
    // round; this is O(k·N·d) with a constant-size per-round plan).
    // `mind` values are bit-identical: least over rounds of
    // round(dist², 6) = least over all rounded distances, and the
    // argmax struct (mind, -vec_id) tie order is unchanged.
    def dist2(c: Seq[Double]): Column =
      round(aggregate(
        zip_with(col("v"), lit(c.toArray), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x), 6)
    val picked = Exec.scoped { s =>
      val v = s.rebind(
        vectors.select(col("vec_id"), asDouble(col("embedding")).as("v")))
      val seed = v.agg(min(col("vec_id"))).as[Long].head()
      val seedVec =
        v.filter(col("vec_id") === seed).select(col("v")).as[Seq[Double]].head()
      val acc =
        scala.collection.mutable.ArrayBuffer((1L, seed, 0.0, seedVec))
      // carried state: (vec_id, v, mind), one scope rebind per round so
      // round R's plan doesn't chain R histories
      var st = s.rebind(
        v.select(col("vec_id"), col("v"), dist2(seedVec).as("mind")))
      s.release(v)
      var exhausted = false
      while (acc.size < k && !exhausted) {
        val next = st.filter(!col("vec_id").isInCollection(acc.map(_._2)))
          .agg(max(struct(col("mind"),
            (-col("vec_id")).as("negid"), col("v"))).as("m"))
          .select(col("m.mind"), (-col("m.negid")).as("vec_id"), col("m.v"))
          .as[(Option[Double], Option[Long], Seq[Double])].head()
        next match {
          case (Some(r), Some(id), cv) =>
            acc += ((acc.size + 1L, id, r, cv))
            if (acc.size < k) {
              // materialized BEFORE the previous round is released
              val nst = s.rebind(st.select(col("vec_id"), col("v"),
                least(col("mind"), dist2(cv)).as("mind")))
              s.release(st)
              st = nst
            }
          case _ => exhausted = true // fewer than k points in the corpus
        }
      }
      acc
    }
    picked.toSeq.map { case (ord, id, r, _) => (ord, id, r) }
      .toDF("ord", "vec_id", "radius")
  }

  /** Symmetric int8 scalar quantization readout — the storage-path
    * decision data for an embedding corpus (4× smaller vectors, how
    * much cosine fidelity is lost?). Per vector: scale = max|x|/127,
    * q_i = round(x_i/scale) ∈ [−127, 127], reported as the 6-dp scale,
    * an L1 checksum of the quantized codes, and the relative L2
    * reconstruction error ‖x − q·scale‖/‖x‖. All per-row array Column
    * math — scan-speed, no shuffle — and every fold is a SEQUENTIAL
    * left fold (`aggregate`), so the DuckDB oracle's `list_reduce`
    * reproduces the float summation order bit-for-bit. All-zero
    * vectors quantize to all zeros (scale 0 guard), error 0.
    */
  def quantizeInt8(vectors: DataFrame): DataFrame = {
    val sumD = (arr: Column) => aggregate(arr, lit(0.0), (a, x) => a + x)
    vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / lit(127.0))
      .withColumn("q",
        when(col("scale") === 0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => round(x / col("scale"), 0).cast("long"))))
      .withColumn("err2", sumD(zip_with(col("v"), col("q"),
        (x, q) => pow(x - q.cast("double") * col("scale"), 2))))
      .withColumn("nrm2", sumD(transform(col("v"), x => x * x)))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale"),
        aggregate(col("q"), lit(0L), (a, q) => a + abs(q)).as("q_l1"),
        when(col("nrm2") === 0, lit(0.0))
          .otherwise(round(sqrt(col("err2")) / sqrt(col("nrm2")), 6))
          .as("rel_err"))
  }

  /** Corpus mean-centering readout — the preprocessing QA run before
    * trusting retrieval/clustering geometry on an anisotropic corpus
    * (embedding sets typically share a dominant mean direction;
    * centering is the standard fix): the per-dimension corpus mean
    * (rounded to 6 dp — the q47 Lloyd discipline, so both engines see
    * the identical center), then per vector the original norm, the
    * centered norm, and the cosine between original and centered
    * vector — how much centering actually moved each point's
    * direction. The mean is a 1×d driver literal (the MLlib centroid
    * pattern, corpus-size independent); everything downstream is
    * map-only SEQUENTIAL folds (`aggregate`), mirrored by the
    * oracle's list_reduce so the double summation order is
    * bit-identical. A vector equal to the mean centers to zero and
    * carries no direction — its cos_shift is defined 0 (same guard
    * class as nearDupPairsBlocked's zero-norm exclusion).
    */
  /** Embedding outlier flags: per-vector L2 norm plus the PEAK
    * component (max |x_i|) z-scored against the corpus — the broken-row
    * detector (truncated writes, scale bugs, spike corruption) run
    * before any similarity op trusts the column. Peak is the scored
    * statistic because production embeddings are typically
    * unit-normalized (this corpus included), which makes the norm
    * degenerate — it is still reported, since norm ≠ 1 IS the anomaly
    * on such a corpus. Stats round to 6 dp BEFORE the corpus moments
    * (the q74 pattern: rounding bounds summation-order drift), the
    * mean and population std re-enter as two bounded driver scalars, a
    * zero std short-circuits z to 0 on both engines, and the outlier
    * flag compares the ROUNDED z so both engines flag identical rows.
    */
  def normOutliers(vectors: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    val sumD = (arr: Column) => aggregate(arr, lit(0.0), (a, x) => a + x)
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("norm", round(sqrt(sumD(transform(col("v"), x => x * x))), 6))
      .withColumn("peak", round(array_max(transform(col("v"), x => abs(x))), 6))
    val m = v.select(round(avg(col("peak")), 6)).head().getDouble(0)
    val s = v.select(round(sqrt(avg((col("peak") - m) * (col("peak") - m))), 6))
      .head().getDouble(0)
    val z = if (s == 0.0) lit(0.0) else round((col("peak") - m) / s, 6)
    v.select(col("vec_id"), col("norm"), col("peak"), z.as("z"))
      .withColumn("outlier", abs(col("z")) > zThreshold)
      .orderBy(col("vec_id"))
  }

  /** Matryoshka truncation fidelity: the fraction of each vector's
    * energy (squared L2 norm) captured by its first 16 and 32
    * dimensions — the keep-how-many-dims readout before committing to
    * MRL-style truncation (Kusupati et al. 2022). Pure per-row
    * index-order folds and one division each: no corpus-wide float
    * state at all, so parity is exact.
    */
  def matryoshkaEnergy(vectors: DataFrame): DataFrame = {
    val sumD = (arr: Column) => aggregate(arr, lit(0.0), (a, x) => a + x)
    vectors
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("__n2", sumD(transform(col("v"), x => x * x)))
      .select(col("vec_id"), col("label"),
        round(sumD(transform(slice(col("v"), 1, 16), x => x * x)) / col("__n2"), 6)
          .as("energy_16"),
        round(sumD(transform(slice(col("v"), 1, 32), x => x * x)) / col("__n2"), 6)
          .as("energy_32"))
      .orderBy(col("vec_id"))
  }

  def centeringReadout(vectors: DataFrame): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val mean: Seq[Double] = v
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(round(avg(col("x")), 6).as("m"))
      .orderBy(col("d"))
      .as[(Int, Double)].collect().map(_._2).toSeq
    val sumD = (arr: Column) => aggregate(arr, lit(0.0), (a, x) => a + x)
    v.withColumn("c", zip_with(col("v"), typedLit(mean), (x, m) => x - m))
      .withColumn("__n2o", sumD(transform(col("v"), x => x * x)))
      .withColumn("__n2c", sumD(transform(col("c"), x => x * x)))
      .withColumn("__dot", sumD(zip_with(col("v"), col("c"), (x, y) => x * y)))
      .select(col("vec_id"),
        round(sqrt(col("__n2o")), 6).as("orig_norm"),
        round(sqrt(col("__n2c")), 6).as("centered_norm"),
        when(col("__n2o") === 0 || col("__n2c") === 0, lit(0.0))
          .otherwise(round(
            col("__dot") / (sqrt(col("__n2o")) * sqrt(col("__n2c"))), 6))
          .as("cos_shift"))
      .orderBy(col("vec_id"))
  }

  /** Exact leave-one-out 1-NN label accuracy per class — the embedding
    * QA readout run before trusting vectors for retrieval or
    * clustering ("do nearest neighbors share a label?"). Exact is the
    * auditable baseline; at corpus scale swap the pair source for the
    * IVF index (`ivfTopKMultiprobe` with k=1), same downstream shape.
    *
    * Plan: the block-partitioned all-pairs join (the irreducible O(N²)
    * evenly sharded, same machinery as near-dup) streamed into an
    * orientation explode and a map-side-combinable argmax —
    * `max(struct(cos, -nid))` aggregates instead of a per-qid sort
    * window, so the N² candidate stream collapses inside each scan
    * partition before the one (qid)-keyed exchange. Two id-keyed joins
    * attach true/predicted labels; ties break to the lowest neighbor
    * id so the result is deterministic and oracle-comparable.
    * Zero-norm vectors carry no direction and are excluded from both
    * sides (see the NaN guard in nearDupPairsBlocked); the threshold
    * is −∞, not −1.0, because a computed cosine can round a few ulps
    * below −1 and must still count.
    */
  def oneNnLabelAccuracy(
      vectors: DataFrame, // (vec_id, embedding, label)
      numBlocks: Int = 16): DataFrame = {
    val pairs = nearDupPairsBlocked(
      vectors.select(col("vec_id"), col("embedding")),
      threshold = Double.NegativeInfinity, numBlocks = numBlocks)
    val oriented = pairs.select(explode(array(
        struct(col("i").as("qid"), col("j").as("nid"), col("cos")),
        struct(col("j").as("qid"), col("i").as("nid"), col("cos")))).as("e"))
      .select(col("e.qid"), col("e.nid"), col("e.cos"))
    // The argmax compares cosines ROUNDED to 6 dp: a raw-double argmax
    // amplifies 1-ulp cross-engine summation drift into a different
    // neighbor id (the rounding every other query applies AFTER its
    // aggregate cannot help here). At 6 dp near-ties collapse and the
    // -nid field breaks them identically in both engines.
    val nn = oriented.groupBy(col("qid"))
      .agg(max(struct(round(col("cos"), 6).as("cos"),
        (-col("nid")).as("negnid"))).as("m"))
      .select(col("qid"), (-col("m.negnid")).as("nid"))
    val labels = vectors.select(col("vec_id"), col("label"))
    nn
      .join(labels.select(col("vec_id").as("qid"), col("label").as("true_label")), "qid")
      .join(labels.select(col("vec_id").as("nid"), col("label").as("pred_label")), "nid")
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n"), 6))
      .orderBy(col("true_label"))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003 ±1
    * variant) — the embedding-compression step a 100 TB pipeline runs
    * before the quadratic-ish stages (q22/q54's pair scans, q82's
    * coreset rounds cost O(d) per comparison: an 8× narrower vector is
    * an 8× cheaper sweep, with the JL lemma bounding the distance
    * distortion). Projects every vector to `outDims` components:
    * p_i = Σ_j v_j·s(i,j) / √outDims with s(i,j) ∈ {±1}.
    *
    * The sign matrix is DERIVED, not sampled: s(i,j) = +1 iff the
    * first hex digit of md5("i_j") is 0–7 — the same bytes DuckDB's
    * `md5()` hashes, so the oracle regenerates the identical matrix
    * instead of shipping one (the q79 md5-order trick, applied to
    * matrix generation). It lives driver-side as outDims×d literals —
    * independent of the vector count — and the projection evaluates
    * INSIDE the scan as a codegen'd zip_with fold in fixed j order
    * (bit-identical to the oracle's list_reduce): map-only, no
    * shuffle, no join, scan-speed at any corpus size.
    */
  def randomProjection(vectors: DataFrame, outDims: Int): DataFrame = {
    require(outDims > 0, s"outDims must be positive: $outDims")
    // one 1-row action to learn d — the fixture's width, not assumed
    val d = vectors.select(size(col("embedding")).as("d")).head().getInt(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val firstByte = md.digest(s"${i}_${j}".getBytes("UTF-8"))(0)
      if (((firstByte >> 4) & 0xF) < 8) 1.0 else -1.0
    }
    val rows = (0 until outDims).map { i =>
      val s: Seq[Double] = (0 until d).map(j => sign(i, j))
      struct(lit(i).as("dim"),
        (aggregate(zip_with(col("v"), typedLit(s), (x, sg) => x * sg),
          lit(0.0), (a, x) => a + x)
          / lit(math.sqrt(outDims.toDouble))).as("value"))
    }
    vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), explode(array(rows: _*)).as("p"))
      .select(col("vec_id"), col("p.dim").as("dim"),
        round(col("p.value"), 6).as("value"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Product-quantization codebook training + encoding (Jégou et al.
    * 2011) for cosine-metric ANN — the compression that makes a
    * 100 TB embedding column SEARCHABLE in memory: the d dims split
    * into `numSub` contiguous subspaces, each subspace gets its own
    * `codebookK`-centroid codebook ([[kmeansCentroidSeq]]'s exact
    * Lloyd recurrence on the sliced vectors — deterministic seeds,
    * 6-dp-rounded means, the oracle-replayable q47/q79 loop), and
    * every vector is encoded as its per-subspace nearest-centroid ids:
    * numSub·log₂(codebookK) bits instead of d floats (64 dims × f32 →
    * 4 bytes at 4×8: a 64× shrink). The encode is [[encodeViaRelation]]
    * against the broadcast [[codebookRelation]] (numSub·k·(d/numSub)
    * = k·d doubles TOTAL, independent of the corpus): one broadcast
    * hash join on the subspace and one map-side nearest-codeword
    * kernel per (vector, sub), with nothing index-sized in the plan.
    * Returns (vec_id, sub, code)
    * long-form — one downstream `groupBy(vec_id)` packs codes into a
    * row when a packed layout is wanted.
    */
  def pqCodes(vectors: DataFrame, numSub: Int, codebookK: Int,
      iters: Int): DataFrame = {
    val (w, books) = pqCodebooks(vectors, numSub, codebookK, iters)
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    encodeViaRelation(subSliced(v, numSub, w),
      codebookRelation(vectors.sparkSession, w, books))
      .orderBy(col("vec_id"), col("sub"))
  }

  /** The PQ training half of [[pqCodes]], exposed because every
    * consumer of the codes needs the codebooks too (decode,
    * [[pqAdcTopK]]'s distance tables): per contiguous subspace, the
    * deterministic [[kmeansCentroidSeq]] Lloyd codebook over the
    * sliced vectors — `numSub` books of one [[lloydBooks]] call, so all
    * subspaces share one seed collect, one cached slice decode and one
    * action per iteration, with the codebooks in a broadcast relation
    * (never plan literals). Returns (subspaceWidth, per-sub centroid
    * seqs) — numSub·codebookK·width doubles total, driver-sized by
    * construction (k·d overall, independent of the corpus).
    */
  def pqCodebooks(vectors: DataFrame, numSub: Int, codebookK: Int,
      iters: Int): (Int, Seq[(Int, Seq[(Long, Seq[Double])])]) = {
    require(numSub > 0 && codebookK > 0 && iters >= 0,
      s"bad PQ config: numSub=$numSub codebookK=$codebookK iters=$iters")
    val (d, books) = lloydBooks(vectors, pqBooks(numSub, codebookK, iters))
    (d / numSub, (0 until numSub).map(sub => sub -> books(sub)))
  }

  /** PQ's books for [[lloydBooks]]: subspace s is book `firstId + s`. */
  private def pqBooks(numSub: Int, codebookK: Int, iters: Int,
      firstId: Int = 0): Seq[LloydBook] =
    (0 until numSub).map(sub =>
      LloydBook(firstId + sub, sub, numSub, codebookK, iters))

  /** The coarse cells AND the PQ codebooks of an IVF-PQ index over the
    * same vectors, trained as the `1 + numSub` books of ONE
    * [[lloydBooks]] call (book 0 is the coarse quantizer). Returns
    * [[kmeansCentroidSeq]]'s and [[pqCodebooks]]' exact results:
    * (coarse centroids, subspace width, per-sub codebooks).
    */
  def ivfPqBooks(vectors: DataFrame, numCells: Int, cellIters: Int,
      numSub: Int, codebookK: Int, pqIters: Int):
      (Seq[(Long, Seq[Double])], Int, Seq[(Int, Seq[(Long, Seq[Double])])]) = {
    require(numSub > 0 && codebookK > 0 && pqIters >= 0,
      s"bad PQ config: numSub=$numSub codebookK=$codebookK iters=$pqIters")
    val (d, books) = lloydBooks(vectors,
      LloydBook(0, 0, 1, numCells, cellIters) +:
        pqBooks(numSub, codebookK, pqIters, firstId = 1))
    (books(0), d / numSub,
      (0 until numSub).map(sub => sub -> books(1 + sub)))
  }

  /** PQ asymmetric-distance top-k search (the ADC half of Jégou et
    * al. 2011) — the query path the [[pqCodes]] compression exists
    * for: each query's per-(subspace, centroid) partial dot products
    * form its distance TABLE (numSub·codebookK doubles), and a
    * vector's approximate cosine is the table-lookup sum over its
    * codes against the reconstructed-centroid norm — the query never
    * touches the original d-dim corpus vectors.
    *
    * Exhaustive PQ is IVF-PQ with ONE cell, so the scoring is
    * [[ivfPqServe]]'s: every code goes in cell 0, whose centroid is the
    * zero vector — a zero-norm centroid pins every probe cosine to 0.0,
    * so each query probes it — and the distance tables ride a
    * BROADCAST (queries × numSub·codebookK rows — query-sized,
    * corpus-independent) onto the (vec_id, sub, code) code stream, a
    * map-side equi-join with no corpus exchange. The per-(query,
    * vector) sum folds in SUB order, ranking compares the ROUNDED
    * cosine with nid breaking ties (see [[ivfPqServe]]). At 100 TB the
    * scored frame is codes-sized (two ints + a double per row), never
    * embedding-sized.
    */
  def pqAdcTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      numSub: Int, codebookK: Int, iters: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val spark = vectors.sparkSession
    val (w, books) = pqCodebooks(vectors, numSub, codebookK, iters)
    val bookRel = codebookRelation(spark, w, books)
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val codes = encodeViaRelation(subSliced(v, numSub, w), bookRel)
      .withColumn("cell", lit(0L))
    val oneCell = centroidRelation(spark, Seq(0L -> Seq.fill(numSub * w)(0.0)))
    ivfPqServe(codes, oneCell, bookRel, queries, k, probes = 1, numSub, w)
  }

  /** IVF-PQ fused top-k search — the configuration a billion-vector
    * index actually runs (Jégou et al. 2011 §V; every FAISS
    * `IVFx,PQy` deployment): the coarse IVF quantizer restricts each
    * query to its `probes` nearest cells, and ONLY the codes inside
    * those cells are ADC-scored. q23 alone scans full vectors in the
    * probed cells (memory-bound at scale); q89 alone ADC-scans the
    * WHOLE corpus (compute light but still corpus-sized per query).
    * The fusion does neither: per query, work = codes in the probed
    * cells only — corpus fraction ≈ probes/numCells — against
    * table-lookup sums, which is why the pairing is the standard.
    *
    * The chain is the one [[IndexStore.buildIvfPq]] persists and
    * [[IndexStore.serveIvfPq]] reads back, run in memory:
    * [[ivfPqTrain]] (the coarse cells and the codebooks as the books
    * of one [[lloydBooks]] call), [[ivfPqEncode]] (member cells + the
    * per-subspace encode) and [[ivfPqServe]] (query probing + ADC
    * scoring). PQ over RAW vectors, not residuals (that is
    * [[ivfPqResidualTopK]]). Every index term — centroids, codebooks,
    * distance-table constants — rides a broadcast relation joined on
    * (cell)/(sub, code), so the plan has the same size at any index
    * geometry (BASELINE.md round 14 measured this form 1.3–1.9× faster
    * than plan literals at nlist 8→128); the big side carries
    * (vec_id, cell, sub, code) ints only.
    */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      numCells: Int, cellIters: Int, probes: Int,
      numSub: Int, codebookK: Int, pqIters: Int): DataFrame = {
    require(k > 0 && probes > 0, s"bad search config: k=$k probes=$probes")
    val (centRel, bookRel, w) = ivfPqTrain(vectors, IndexStore.KindPq,
      numCells, cellIters, numSub, codebookK, pqIters)
    ivfPqServe(ivfPqEncode(vectors, centRel, bookRel, IndexStore.KindPq,
      numSub, w), centRel, bookRel, queries, k, probes, numSub, w)
  }

  /** Explode (vec_id, v, …) into one row per PQ subspace slice, norm
    * attached, every column but `v` carried along — the shared front of
    * every encode and distance-table build. The unrolled array is numSub
    * entries (config-sized, not index-sized).
    */
  private[graft] def subSliced(df: DataFrame, numSub: Int, w: Int): DataFrame = {
    val carried = df.columns.toSeq.filter(_ != "v").map(col)
    df.select(carried :+ explode(array((0 until numSub).map(sub =>
        struct(lit(sub).as("sub"), slice(col("v"), sub * w + 1, w).as("sv"))
      ): _*)).as("e"): _*)
      .select(carried ++ Seq(col("e.sub").as("sub"), col("e.sv").as("sv")): _*)
      .withColumn("_svnrm", l2norm(col("sv")))
  }

  /** Per-subspace nearest-codeword encode against a codebook relation:
    * a broadcast hash join on `sub` against ONE codeword-array row per
    * subspace, then the [[NearestCodes]] kernel per (vector, sub) —
    * map-only, no exchange, no aggregate. Emits (vec_id, sub, code) —
    * [[pqCodes]]' exact rows — followed by any other column `vSub`
    * carries.
    */
  private[graft] def encodeViaRelation(vSub: DataFrame, bookRel: DataFrame): DataFrame = {
    val carried = vSub.columns.toSeq
      .filterNot(Set("vec_id", "sub", "sv", "_svnrm")).map(col)
    vSub.join(broadcast(collectCodewords(bookRel, col("sub"), "code")
        .withColumnRenamed("_key", "sub")), "sub")
      .select(Seq(col("vec_id"), col("sub"),
        nearestCode(col("sv"), col("_svnrm"), col("_cw")).as("code")) ++
        carried: _*)
  }

  /** Train an IVF-PQ index of `kind` ([[IndexStore.KindPq]] or
    * [[IndexStore.KindPqResidual]]) over `vectors` (vec_id, embedding):
    * returns (centroid relation, codebook relation, subspace width w).
    * Plain PQ trains the coarse cells and the codebooks as the books of
    * one [[lloydBooks]] call ([[ivfPqBooks]]); residual codebooks train
    * on the offsets x − c(x) from the FINAL cells, so that kind takes
    * two calls. The one trainer behind [[ivfPqTopK]],
    * [[ivfPqResidualTopK]] and [[IndexStore]]'s build.
    */
  private[graft] def ivfPqTrain(vectors: DataFrame, kind: String,
      numCells: Int, cellIters: Int, numSub: Int, codebookK: Int,
      pqIters: Int): (DataFrame, DataFrame, Int) = {
    val spark = vectors.sparkSession
    if (kind == IndexStore.KindPq) {
      val (coarse, w, books) = ivfPqBooks(vectors, numCells, cellIters,
        numSub, codebookK, pqIters)
      (centroidRelation(spark, coarse), codebookRelation(spark, w, books), w)
    } else {
      val centRel = centroidRelation(spark,
        kmeansCentroidSeq(vectors, numCells, cellIters))
      val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val (w, books) = pqCodebooks(
        residuals(memberCells(v, centRel), centRel)
          .select(col("vec_id"), col("v").as("embedding")),
        numSub, codebookK, pqIters)
      (centRel, codebookRelation(spark, w, books), w)
    }
  }

  /** THE IVF-PQ encode: the (vec_id, sub, code, cell) code stream of a
    * (vec_id, embedding) batch against a trained index, in ONE map-only
    * pass over each vector row: its member cell ([[assignCellsRelation]],
    * probes = 1), then the per-subspace [[encodeViaRelation]] of x itself
    * (kind pq) or of the residual x − c(x) (kind pq_residual), the cell
    * riding along — no exchange, no aggregate, no join back on vec_id.
    * [[ivfPqTopK]], [[ivfPqResidualTopK]] and [[IndexStore]]'s build,
    * append and refresh all encode through it, so the in-memory search
    * and the persisted store carry the same codes.
    */
  private[graft] def ivfPqEncode(vectors: DataFrame, centRel: DataFrame,
      bookRel: DataFrame, kind: String, numSub: Int, w: Int): DataFrame = {
    val v = vectors.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val asn = memberCells(v, centRel)
    val toEncode = if (kind == IndexStore.KindPq) asn else residuals(asn, centRel)
    encodeViaRelation(subSliced(toEncode, numSub, w), bookRel)
  }

  /** (vec_id, v, cell): each vector's nearest cell. */
  private def memberCells(v: DataFrame, centRel: DataFrame): DataFrame =
    assignCellsRelation(v, centRel, probes = 1)
      .select(col("vec_id"), col("v"), col("cell"))

  /** (vec_id, v = x − c(cell), cell) over [[memberCells]] rows: one
    * broadcast join on cell, exact elementwise IEEE subtraction. */
  private def residuals(asn: DataFrame, centRel: DataFrame): DataFrame =
    asn.join(broadcast(centRel.select(col("cid").as("cell"), col("cv"))),
        "cell")
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("v"), col("cell"))

  /** The ADC SERVING stage of the IVF-PQ search — the query-time half
    * with training and corpus encoding amortized away. Everything
    * corpus-sized arrives ALREADY ENCODED: `codes` is the
    * (vec_id, cell, sub, code) int stream ([[ivfPqEncode]]),
    * `centRel`/`bookRel` are [[centroidRelation]]/[[codebookRelation]]
    * -schema frames — in production all three are simply READ from the
    * index store's parquet ([[IndexStore]]), so a query batch costs one
    * probe assignment over the QUERIES ([[assignCellsRelation]]), one
    * broadcast of the query-sized distance tables, and one scan of the
    * probed code stream; the index is never retrained and the d-dim
    * corpus vectors are never touched. [[ivfPqTopK]] is train + encode
    * + this, so a store round-trip serves its result bit-for-bit
    * (spec-pinned).
    *
    * The per-(query, vector) sum folds in SUB order (collect_list →
    * array_sort → sequential aggregate, the L38-L40 discipline) so the
    * oracle replays each double exactly; ranking compares the ROUNDED
    * cosine (the q62 lesson: a raw-double argmax amplifies ulp drift
    * into a different neighbor) with nid breaking ties.
    *
    * `allowed` is the METADATA FILTER of filtered ANN search: an
    * optional (vec_id)-keyed allow-list semi-joined onto the code
    * stream BEFORE scoring — pre-filtering, so the top-k ranks over
    * exactly the allowed members (post-filtering a fixed-k result
    * would under-fill; at high selectivity a caller widens `probes`,
    * the standard recall/selectivity trade). The allow-list join is
    * corpus-shaped and columnar (two ints), and a parquet-backed
    * allow-list predicate pushes down to the scan.
    */
  def ivfPqServe(codes: DataFrame, centRel: DataFrame, bookRel: DataFrame,
      queries: DataFrame, k: Int, probes: Int, numSub: Int, w: Int,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && probes > 0, s"bad serve config: k=$k probes=$probes")
    val qv = queries.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val probeCells = assignCellsRelation(qv, centRel, probes)
      .select(col("vec_id").as("qid"), col("cell"))
    val served = allowed match {
      case Some(a) =>
        codes.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi")
      case None => codes
    }
    val q = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", l2norm(col("qv")))
    // distance tables: the same sub-sliced broadcast join, one row per
    // (query, sub, code) with pd = q_sub·c and cn2 the codeword's
    // stored fold
    val qSub = subSliced(
      q.select(col("qid").as("vec_id"), col("qv").as("v")), numSub, w)
    val tables = qSub
      .join(broadcast(bookRel.select(col("sub"), col("code"), col("cv"),
        col("cn2"))), "sub")
      .select(col("vec_id").as("qid"), col("sub"), col("code"),
        dot_product(col("sv"), col("cv")).as("pd"), col("cn2"))
      .join(q.select(col("qid"), col("qnrm")), "qid")
      .join(probeCells, "qid")
    val scored = served.join(broadcast(tables), Seq("cell", "sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(min(col("qnrm")).as("qnrm"),
        aggregate(transform(
          array_sort(collect_list(struct(col("sub"), col("pd")))),
          s => s.getField("pd")), lit(0.0), (a, x) => a + x).as("adot"),
        aggregate(transform(
          array_sort(collect_list(struct(col("sub"), col("cn2")))),
          s => s.getField("cn2")), lit(0.0), (a, x) => a + x).as("rec2"))
      .withColumn("cos_adc",
        when(col("qnrm") > 0 && col("rec2") > 0,
          round(col("adot") / (col("qnrm") * sqrt(col("rec2"))), 6))
          .otherwise(lit(0.0)))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("cos_adc").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("cos_adc"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-PQ with RESIDUAL encoding — the production refinement
    * (Jégou et al. 2011 §V.A: encode r = x − c(x), the vector's offset
    * from its coarse centroid, instead of x itself; residuals
    * concentrate near the origin, so the same codebook budget spends
    * its resolution on the part of the vector the coarse quantizer
    * didn't already explain).
    *
    * The chain is [[ivfPqTopK]]'s with kind pq_residual — the one
    * [[IndexStore.buildIvfPqResidual]] persists: [[ivfPqTrain]] (the
    * cells, then codebooks trained on the residuals of the final
    * cells), [[ivfPqEncode]] (residual codes) and
    * [[ivfPqResidualServe]], which extends the ADC algebra for the
    * reconstruction x̂ = c + r̂:
    *
    *   q·x̂   = q·c  + Σ_sub q_sub·r̂_sub
    *   ‖x̂‖² = ‖c‖² + Σ_sub (2·c_sub·r̂_sub + ‖r̂_sub‖²)
    *
    * Every index term, the cr/rn2/cn2 constants included, is a
    * broadcast relation joined on (cell)/(sub, code)/(cell, sub, code);
    * the corpus side still carries (vec_id, cell, sub, code) ints only.
    */
  def ivfPqResidualTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      numCells: Int, cellIters: Int, probes: Int,
      numSub: Int, codebookK: Int, pqIters: Int): DataFrame = {
    require(k > 0 && probes > 0, s"bad search config: k=$k probes=$probes")
    val (centRel, bookRel, w) = ivfPqTrain(vectors, IndexStore.KindPqResidual,
      numCells, cellIters, numSub, codebookK, pqIters)
    ivfPqResidualServe(ivfPqEncode(vectors, centRel, bookRel,
      IndexStore.KindPqResidual, numSub, w),
      centRel, bookRel, queries, k, probes, numSub, w)
  }

  /** The ADC serving stage of the RESIDUAL search — the residual twin
    * of [[ivfPqServe]], with the same contract: every corpus-sized
    * input arrives already encoded (`codes` = (vec_id, sub, code,
    * cell) ints over residuals r = x − c(x)), `centRel`/`bookRel` are
    * [[centroidRelation]]/[[codebookRelation]] frames (the codebooks
    * trained on residuals), and in production all three are READ from
    * the index store's parquet. The cr/rn2/cn2 correction relation is
    * derived distributively per query batch (centroid relation ×
    * codebook relation — index-sized, both broadcastable): rn2/cn2 are
    * the stored folds, and cr(cell, sub, code) = c_sub·r̂ is one
    * codegen'd dot over the centroid slice, the same left-to-right
    * accumulation a driver fold runs. Serving costs one probe
    * assignment over the QUERIES, one broadcast of the query-sized
    * tables, and one scan of the probed code stream; fold order,
    * rounding and tie-breaks are [[ivfPqServe]]'s (the store
    * round-trip spec pins serve-from-parquet ≡ [[ivfPqResidualTopK]]
    * bit-for-bit).
    *
    * `allowed` is the same filtered-ANN pre-scoring allow-list as
    * [[ivfPqServe]]'s: semi-joined onto the code stream BEFORE the
    * scoring join so the top-k ranks over exactly the allowed members.
    */
  def ivfPqResidualServe(codes: DataFrame, centRel: DataFrame,
      bookRel: DataFrame, queries: DataFrame, k: Int, probes: Int,
      numSub: Int, w: Int, allowed: Option[DataFrame] = None): DataFrame = {
    require(k > 0 && probes > 0, s"bad serve config: k=$k probes=$probes")
    val served = allowed match {
      case Some(a) =>
        codes.join(a.select(col("vec_id")), Seq("vec_id"), "left_semi")
      case None => codes
    }
    val qv0 = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", l2norm(col("qv")))
    val probeCells = assignCellsRelation(
        queries.select(col("vec_id"), asDouble(col("embedding")).as("v")),
        centRel, probes)
      .select(col("vec_id").as("qid"), col("cell"))
    // cr(cell, sub, code) = c_sub·r̂ — computed WHERE the data is:
    // centroid relation × codebook relation (index-sized output, both
    // inputs broadcastable), one codegen'd dot per row
    val crRel = centRel.select(col("cid").as("cell"), col("cv"), col("cn2"))
      .crossJoin(broadcast(bookRel.select(col("sub"), col("start"),
        col("code"), col("cv").as("rv"), col("cn2").as("rn2"))))
      .select(col("cell"), col("sub"), col("code"),
        dot_product(slice(col("cv"), col("start"), lit(w)), col("rv"))
          .as("cr"),
        col("rn2"), col("cn2"))
    // per-query (sub, code) partial dots q_sub·r̂ — cell-independent
    val qSub = subSliced(
      qv0.select(col("qid").as("vec_id"), col("qv").as("v")), numSub, w)
    val qpd = qSub
      .join(broadcast(bookRel.select(col("sub"), col("code"),
        col("cv").as("rv"))), "sub")
      .select(col("vec_id").as("qid"), col("sub"), col("code"),
        dot_product(col("sv"), col("rv")).as("qpd"))
    val tables = qpd
      .join(qv0.select(col("qid"), col("qnrm"), col("qv")), "qid")
      .join(probeCells, "qid")
      .join(broadcast(crRel), Seq("cell", "sub", "code"))
      .join(broadcast(centRel.select(col("cid").as("cell"),
        col("cv").as("ccv"))), "cell")
      .select(col("qid"), col("qnrm"), col("cell"), col("sub"), col("code"),
        // pd = (q − c)_sub · r̂ = q_sub·r̂ − c_sub·r̂
        (col("qpd") - col("cr")).as("pd"),
        // rc2 = 2·c_sub·r̂ + ‖r̂_sub‖², the per-sub ‖x̂‖² increment
        (lit(2.0) * col("cr") + col("rn2")).as("rc2"),
        dot_product(col("qv"), col("ccv")).as("qc"),
        col("cn2"))
    val scored = served.join(broadcast(tables), Seq("cell", "sub", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(min(col("qnrm")).as("qnrm"),
        min(col("qc")).as("qc"), min(col("cn2")).as("cn2"),
        aggregate(transform(
          array_sort(collect_list(struct(col("sub"), col("pd")))),
          s => s.getField("pd")), lit(0.0), (a, x) => a + x).as("rdot"),
        aggregate(transform(
          array_sort(collect_list(struct(col("sub"), col("rc2")))),
          s => s.getField("rc2")), lit(0.0), (a, x) => a + x).as("rrec"))
      .withColumn("adot", col("qc") + col("rdot"))
      .withColumn("rec2", col("cn2") + col("rrec"))
      .withColumn("cos_adc",
        when(col("qnrm") > 0 && col("rec2") > 0,
          round(col("adot") / (col("qnrm") * sqrt(col("rec2"))), 6))
          .otherwise(lit(0.0)))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("cos_adc").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("cos_adc"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact re-rank of an ANN shortlist — the refine stage every
    * production two-stage retrieval runs (FAISS `IndexRefineFlat`;
    * Jégou et al. 2011 §V.C re-rank): the compressed index (IVF-PQ,
    * SQ8, binary) proposes `kShort` candidates per query, then the
    * TRUE cosine is computed against the full-precision vectors of
    * only those candidates and the final top-k keeps the exact order.
    * Composes over ANY shortlist-producing op — the `shortlist` input
    * is just (qid, nid) rows.
    *
    * Plan: the candidate set is queries × kShort rows — query-bounded,
    * corpus-independent — so it broadcasts (carrying each query's full
    * vector with it), and the refine is ONE map-side broadcast-hash
    * join against the corpus scan: each corpus partition looks up its
    * own vec_ids in the broadcast set and scores the hits. No corpus
    * shuffle; the final top-k window runs on query × kShort rows. At
    * 100 TB this costs one corpus scan regardless of index type —
    * which is why refine is how compressed indexes buy back exactness.
    */
  def refineTopK(shortlist: DataFrame, vectors: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val qv = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", l2norm(col("qv")))
    val cand = shortlist.select(col("qid"), col("nid")).join(qv, "qid")
    val v = vectors.select(col("vec_id").as("nid"),
      asDouble(col("embedding")).as("nv"))
      .withColumn("nnrm", l2norm(col("nv")))
    val scored = v.join(broadcast(cand), "nid")
      .withColumn("cos_exact",
        when(col("qnrm") > 0 && col("nnrm") > 0,
          round(dot_product(col("qv"), col("nv")) /
            (col("qnrm") * col("nnrm")), 6))
          .otherwise(lit(0.0)))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("cos_exact").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("cos_exact"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Hard-negative mining for contrastive training (Schroff et al.
    * 2015 §3.2; the retrieval-training staple): for each query vector,
    * the k highest-cosine corpus vectors with a DIFFERENT label (the
    * hard negatives), each tagged with the query's hardest same-label
    * cosine (`pos_cos`) and the semi-hard flag `neg_cos < pos_cos` —
    * the band FaceNet trains on (negatives inside the margin but not
    * closer than the positive).
    *
    * Plan: queries broadcast (label + vector + norm); two passes over
    * the corpus — one filtered to same-label rows folding straight
    * into a per-query MAX (map-side partial agg, no window), one
    * filtered to different-label rows ranked per query. This is the
    * exact audit shape (q21's discipline); at corpus scale the
    * shortlist pass is replaced by any ANN op + [[refineTopK]], and
    * `pos_cos` stays the same single-scan aggregate.
    */
  def hardNegatives(vectors: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val qv = queries.select(col("vec_id").as("qid"),
      col("label").as("qlabel"), asDouble(col("embedding")).as("qv"))
      .withColumn("qnrm", l2norm(col("qv")))
    val v = vectors.select(col("vec_id").as("nid"),
      col("label").as("nlabel"), asDouble(col("embedding")).as("nv"))
      .withColumn("nnrm", l2norm(col("nv")))
    val scored = v.crossJoin(broadcast(qv))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos",
        when(col("qnrm") > 0 && col("nnrm") > 0,
          round(dot_product(col("qv"), col("nv")) /
            (col("qnrm") * col("nnrm")), 6))
          .otherwise(lit(0.0)))
    val pos = scored.filter(col("nlabel") === col("qlabel"))
      .groupBy(col("qid")).agg(max(col("cos")).as("pos_cos"))
    val win = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    scored.filter(col("nlabel") =!= col("qlabel"))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .join(broadcast(pos), Seq("qid"), "left")
      .select(col("qid"), col("nid"), col("cos").as("neg_cos"), col("rank"),
        col("pos_cos"), (col("cos") < col("pos_cos")).as("semi_hard"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Round-half-away-from-zero to 6 dp on the driver — the exact
    * semantics of Spark's `round` and DuckDB's `round(DOUBLE)`, so
    * driver-side recurrence steps stay bit-identical to both engines.
    */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Top principal component of the embedding corpus by power
    * iteration — the anisotropy readout (Mu & Viswanath 2018's
    * "all-but-the-top": contextual/static embedding spaces concentrate
    * mass in a few directions; pc1_share tells you whether cosine
    * similarity is being dominated by one common direction before you
    * trust any of the ANN/dedup ops that consume it).
    *
    * Never materializes the d×d covariance: each iteration is ONE
    * corpus scan computing w = Σ_x ((x−μ)·v)(x−μ) — a per-row dot
    * against the broadcast-literal v plus a d-dim aggregate — the
    * kmeansCentroidSeq discipline (driver holds d doubles, iterations
    * are literal-fed scans, no lineage growth). Determinism and the
    * exact SQL mirror: fixed iteration count, every per-dim sum
    * rounded to 6 dp before the driver-side normalization, the norm
    * folded in ascending-dim order, and the normalized loadings
    * re-rounded — each iteration's vector is reproducible verbatim
    * from any engine's rounded aggregates. λ₁ is the Rayleigh
    * quotient of the FINAL rounded vector and the share is computed
    * from the rounded λ₁ and trace, so the one-row summary is
    * oracle-exact too.
    *
    * Output: one row per dimension (dim, loading) with the corpus
    * summary (lambda1, trace, pc1_share) replicated — dimension-
    * bounded (d rows) at any corpus size.
    */
  /** The shared driver recurrence behind [[powerIterationPC1]] and
    * [[allButTopTransform]]: 6-dp-rounded mean vector and the
    * power-iterated, per-step-rounded top principal direction. The
    * decoded vectors are a scope frame: they serve only this recurrence
    * (each caller re-projects the source for its returned frame).
    */
  private def pc1Recurrence(vectors: DataFrame,
      iters: Int): (Seq[Double], Seq[Double]) = Exec.scoped { s =>
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = s.rebind(
      vectors.select(col("vec_id"), asDouble(col("embedding")).as("v")))
    val mu: Seq[Double] = v
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy("d").agg(round(avg(col("x")), 6).as("m"))
      .orderBy("d").select(col("m")).as[Double].collect().toSeq
    val d = mu.size
    val muLit = typedlit(mu)
    var pc: Seq[Double] = Seq.fill(d)(round6(1.0 / math.sqrt(d.toDouble)))
    for (_ <- 1 to iters) {
      val vLit = typedlit(pc)
      val centered = zip_with(col("v"), muLit, (a, b) => a - b)
      val w: Seq[Double] = v
        .select(centered.as("c"))
        .select(col("c"), dot_product(col("c"), vLit).as("p"))
        .select(posexplode(col("c")).as(Seq("d", "ci")), col("p"))
        .groupBy("d").agg(round(sum(col("ci") * col("p")), 6).as("w"))
        .orderBy("d").select(col("w")).as[Double].collect().toSeq
      val nrm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
      pc = if (nrm == 0.0) pc else w.map(x => round6(x / nrm))
    }
    (mu, pc)
  }

  def powerIterationPC1(vectors: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val spark = vectors.sparkSession
    import spark.implicits._
    val (mu, pc) = pc1Recurrence(vectors, iters)
    val muLit = typedlit(mu)
    val vLit = typedlit(pc)
    val centered = zip_with(col("v"), muLit, (a, b) => a - b)
    val summary = vectors
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(centered.as("c"))
      .select(dot_product(col("c"), vLit).as("p"),
        dot_product(col("c"), col("c")).as("n2"))
      .agg(round(avg(col("p") * col("p")), 6).as("lambda1"),
        round(avg(col("n2")), 6).as("trace"))
      .withColumn("pc1_share", round(col("lambda1") / col("trace"), 6))
    spark.createDataset(pc.zipWithIndex.map { case (l, i) => (i.toLong, l) })
      .toDF("dim", "loading")
      .crossJoin(summary)
      .select(col("dim"), col("loading"), col("lambda1"), col("trace"),
        col("pc1_share"))
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath 2018):
    * x′ = (x − μ) − ((x − μ)·v₁)v₁ — subtract the common mean and
    * project out the dominant direction the [[powerIterationPC1]]
    * readout measures. The standard cheap fix when pc1_share says one
    * direction is drowning cosine similarity; run it BEFORE the
    * ANN/SemDeDup/clustering ops when the readout warrants.
    *
    * μ and v₁ come from the same rounded driver recurrence as the
    * readout (so readout and transform agree exactly); the transform
    * itself is map-only — two broadcast-literal vectors, one scan, no
    * exchange — and emits (vec_id, dim, value) rows, 6-dp rounded so
    * the oracle replays each double. d rows per vector at any corpus
    * size.
    */
  def allButTopTransform(vectors: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val (mu, pc) = pc1Recurrence(vectors, iters)
    val muLit = typedlit(mu)
    val pcLit = typedlit(pc)
    val out = vectors
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"),
        zip_with(col("v"), muLit, (a, b) => a - b).as("c"))
      .select(col("vec_id"), col("c"),
        dot_product(col("c"), pcLit).as("p"))
      .select(col("vec_id"), posexplode(col("c")).as(Seq("d", "ci")),
        col("p"))
      .select(col("vec_id"), col("d").cast("long").as("dim"),
        round(col("ci") - col("p") * element_at(pcLit, col("d") + 1), 6)
          .as("value"))
    out
  }

  /** SQ8 scalar quantization recall readout — the FAISS
    * ScalarQuantizer(QT_8bit) shape (per-dimension min/max train, one
    * byte per dim — 4× smaller than float32, the cheapest index
    * compression before PQ codebooks, q89/q121): codes c_d =
    * ⌊255·(x_d−min_d)/(max_d−min_d)⌋, neighbors ranked by L2 in code
    * space, and the readout is top-k recall against the exact ranking
    * for an md5-seeded query sample — the commit check before routing
    * search through the compressed index.
    *
    * Determinism: vectors re-enter as round(x·10³) BIGINTs; min/max,
    * codes, and BOTH distance rankings are exact integer arithmetic
    * end to end (code-space distances are computed on 255·value-scaled
    * integers, ranking-invariant), ties break by neighbor id — no
    * float enters either rank, so the oracle replays both orders
    * bit-for-bit. The only double is the final recall division.
    *
    * Scale: the train stage is one d-bounded min/max aggregation
    * (driver-collects 2·d longs, the kmeans-literal pattern); coding
    * is map-only against plan literals; the recall readout is the
    * sample-bounded brute-force baseline, same envelope as q109.
    */
  def sq8RecallReadout(
      vectors: DataFrame,
      k: Int = 10,
      sampleN: Int = 8): DataFrame = {
    require(k >= 1 && sampleN >= 1, s"bad k=$k sampleN=$sampleN")
    val nv = vectors.select(col("vec_id").as("id"),
      transform(asDouble(col("embedding")),
        x => round(x * 1e3, 0).cast("long")).as("nv"))
    val mmRows = nv.select(posexplode(col("nv")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
    val dims = mmRows.size
    val mnL = typedlit((0 until dims).map(mmRows(_)._1))
    val mxL = typedlit((0 until dims).map(mmRows(_)._2))
    // dh = 255·min + c·(max−min) = 255·(decoded value): exact BIGINT,
    // ranking-equivalent to decoded L2
    val coded = nv.withColumn("dh",
      zip_with(col("nv"), sequence(lit(0), lit(dims - 1)), (x, d) => {
        val mn = element_at(mnL, d + 1)
        val mx = element_at(mxL, d + 1)
        val c = when(mx > mn,
          floor((x - mn).cast("double") * 255.0 / (mx - mn).cast("double"))
            .cast("long")).otherwise(lit(0L))
        mn * 255L + c * (mx - mn)
      }))
    val q = coded.orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN)
      .select(col("id").as("qid"), col("nv").as("qnv"), col("dh").as("qdh"))
    val d2t = aggregate(zip_with(col("nv"), col("qnv"),
      (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    val d2q = aggregate(zip_with(col("dh"), col("qdh"),
      (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    val scored = coded.join(broadcast(q), col("qid") =!= col("id"))
      .select(col("qid"), col("id"), d2t.as("__dt"), d2q.as("__dq"))
    val wt = Window.partitionBy(col("qid")).orderBy(col("__dt"), col("id"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("__dq"), col("id"))
    val overlap = scored
      .withColumn("rt", row_number().over(wt))
      .withColumn("rq", row_number().over(wq))
      .filter(col("rt") <= k && col("rq") <= k)
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    q.select(col("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), lit(k).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998)
    * — the diversity-aware subset picker: greedily select k items
    * maximizing λ·rel(d) − (1−λ)·max_{s∈picked} sim(d, s), the
    * standard way to build an eval/annotation set that COVERS the
    * corpus instead of sampling its densest mode. Relevance here is
    * cosine to the candidate-set centroid (swap in a query vector or a
    * quality score without changing the plan).
    *
    * Architecture (the kmeans-literal pattern): candidate generation
    * is the distributed part — an md5-seeded sample stands in for
    * "top-N by relevance" at scale — and the rel vector + candN²
    * similarity matrix are computed as DataFrames (rounded to 6 dp,
    * zero-norm-guarded, so both engines hold identical doubles); the
    * inherently sequential greedy loop then runs on the DRIVER over
    * the collected candN²-bounded matrix (k·candN ops — bounded state,
    * never corpus-sized). λ defaults to 0.5 so the marginal score
    * 0.5·rel − 0.5·maxsim is exact double arithmetic on 6-dp inputs —
    * the oracle's recursive replay cannot drift. The output score is
    * rounded at SEVEN decimals: with λ = 0.5 every true score is a
    * multiple of 5·10⁻⁷, so a 6-dp round would sit exactly on the
    * half-way boundary where engine round() implementations disagree
    * (measured at sf0.1); the 7-dp grid contains the scores exactly.
    */
  def mmrSelect(
      vectors: DataFrame,
      k: Int = 16,
      candN: Int = 64,
      lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && candN >= k, s"bad k=$k candN=$candN")
    val spark = vectors.sparkSession
    import spark.implicits._
    def safeCos(a: Column, b: Column): Column =
      when(dot_product(a, a) === 0 || dot_product(b, b) === 0, lit(0.0))
        .otherwise(cosine(a, b))
    val (rel, sims) = Exec.scoped { s =>
      val cand = s.rebind(vectors
        .select(col("vec_id").as("id"), asDouble(col("embedding")).as("v"))
        .orderBy(md5(col("id").cast("string")), col("id"))
        .limit(candN))
      // 6-dp rounded elementwise centroid (q113 discipline), d-bounded
      val cent = cand.select(posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("d")).agg(round(avg(col("x")), 6).as("m"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
      val centLit = typedlit((0 until cent.size).map(cent(_)))
      val rel = cand
        .select(col("id"), round(safeCos(col("v"), centLit), 6).as("rel"))
        .as[(Long, Double)].collect().toMap
      val sims = cand.as("a").join(cand.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("i"), col("b.id").as("j"),
          round(safeCos(col("a.v"), col("b.v")), 6).as("s"))
        .as[(Long, Long, Double)].collect()
        .flatMap { case (i, j, sim) => Seq((i, j) -> sim, (j, i) -> sim) }
        .toMap
      (rel, sims)
    }
    val ids = rel.keys.toSeq.sorted
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val chosen = scala.collection.mutable.Set.empty[Long]
    // limit(candN) can return fewer than k rows on a small corpus;
    // clamp so the greedy loop never minBy's an empty candidate list
    for (step <- 1 to math.min(k, ids.size)) {
      val best = ids.filterNot(chosen)
        .map { id =>
          val maxSim =
            if (chosen.isEmpty) 0.0
            else chosen.map(s => sims((id, s))).max
          (id, lambda * rel(id) - (1.0 - lambda) * maxSim)
        }
        .minBy { case (id, sc) => (-sc, id) } // score desc, id asc
      picked += ((step.toLong, best._1,
        BigDecimal(best._2).setScale(7, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      chosen += best._1
    }
    picked.toSeq.toDF("rank", "vec_id", "mmr_score")
  }

  /** Binary (1-bit) sign-quantization recall readout — the most
    * aggressive embedding compression in the SQ8→PQ family (q161/q89):
    * one SIGN BIT per dimension (Charikar 2002 sign-random-projection
    * with the identity rotation; "binary embeddings" in retrieval
    * practice — 32× smaller than float32), neighbors ranked by Hamming
    * distance, readout = top-k recall vs the exact ranking over the
    * same md5-seeded query sample as q161. Read the three readouts
    * together to pick the compression point: 1-bit Hamming (cheapest,
    * lossiest) vs SQ8 (4×) vs PQ (codebooks).
    *
    * Determinism: bits are signs of round(x·10³) BIGINTs, Hamming and
    * exact L2 are integer arithmetic with id tie-break — no float in
    * either rank.
    */
  def binaryHammingRecall(
      vectors: DataFrame,
      k: Int = 10,
      sampleN: Int = 8): DataFrame = {
    require(k >= 1 && sampleN >= 1, s"bad k=$k sampleN=$sampleN")
    val nv = vectors.select(col("vec_id").as("id"),
      transform(asDouble(col("embedding")),
        x => round(x * 1e3, 0).cast("long")).as("nv"))
    val coded = nv.withColumn("bits",
      transform(col("nv"), x => when(x > 0, lit(1L)).otherwise(lit(0L))))
    val q = coded.orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN)
      .select(col("id").as("qid"), col("nv").as("qnv"),
        col("bits").as("qbits"))
    val d2t = aggregate(zip_with(col("nv"), col("qnv"),
      (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
    val ham = aggregate(zip_with(col("bits"), col("qbits"),
      (a, b) => abs(a - b)), lit(0L), (acc, x) => acc + x)
    val scored = coded.join(broadcast(q), col("qid") =!= col("id"))
      .select(col("qid"), col("id"), d2t.as("__dt"), ham.as("__dh"))
    val wt = Window.partitionBy(col("qid")).orderBy(col("__dt"), col("id"))
    val wh = Window.partitionBy(col("qid")).orderBy(col("__dh"), col("id"))
    val overlap = scored
      .withColumn("rt", row_number().over(wt))
      .withColumn("rh", row_number().over(wh))
      .filter(col("rt") <= k && col("rh") <= k)
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    q.select(col("qid"))
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), lit(k).as("k"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
  }

  /** md5-derived ±1 signs for [[jlProjectionDistortion]]: sign (j, d)
    * = +1 if the first hex nibble of md5("jl:seed:j:d") is even, else
    * −1 — the Achlioptas 2003 database-friendly projection entries,
    * engine-portable (no RNG state), same trick as [[hyperplaneInts]].
    */
  private[graft] def jlSigns(k: Int, dims: Int, seed: Int): Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(k, dims) { (j, d) =>
      md.reset()
      val b = md.digest(s"jl:$seed:$j:$d"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))(0)
      if (((b >> 4) & 0x1) == 0) 1L else -1L
    }
  }

  /** Johnson–Lindenstrauss projection distortion readout — measures
    * what a ±1 random projection (Achlioptas 2003) to `k` dims does to
    * pairwise distances before you commit the cheap-ANN path to it:
    * for every pair in an md5-seeded `sampleN` sample, the ratio
    * ‖R(a−b)‖/√k ÷ ‖a−b‖ (expected 1, spread ~1/√k). Everything up to
    * the final two sqrt calls is EXACT integer arithmetic — vectors
    * re-enter as round(x·10⁶) BIGINTs, signs are ±1, so projections,
    * squared distances, and the oracle replay are bit-identical; sqrt
    * and one division are IEEE-correctly-rounded, so the 6-dp ratio
    * matches too.
    *
    * Scale: the projection itself is map-only with a k×d literal sign
    * matrix (broadcast-free — it lives in the plan); the distortion
    * readout is sample-bounded (sampleN² pairs), the same envelope as
    * the ANN recall readout (q109). At 100 TB you project everything
    * map-side and read distortion off this sample.
    */
  def jlProjectionDistortion(
      vectors: DataFrame,
      k: Int = 16,
      dims: Int = 64,
      sampleN: Int = 40,
      seed: Int = 42): DataFrame = {
    require(k >= 1 && sampleN >= 2, s"bad k=$k sampleN=$sampleN")
    val signs = jlSigns(k, dims, seed)
    val nv = vectors
      .select(col("vec_id").as("id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv",
        transform(col("v"), x => round(x * 1e6, 0).cast("long")))
    // md5-ordered deterministic sample (the q79 idiom)
    val sample = nv
      .orderBy(md5(col("id").cast("string")), col("id"))
      .limit(sampleN)
    val projCols = (0 until k).map { j =>
      aggregate(
        zip_with(col("nv"), typedlit(signs(j).toSeq), (a, s) => a * s),
        lit(0L), (acc, x) => acc + x)
    }
    val proj = sample.select(col("id"), col("nv"),
      array(projCols: _*).as("p"))
    val d2o = aggregate(
      zip_with(col("na"), col("nb"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    val d2p = aggregate(
      zip_with(col("pa"), col("pb"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)
    proj.select(col("id").as("vec_a"), col("nv").as("na"), col("p").as("pa"))
      .crossJoin(proj.select(col("id").as("vec_b"), col("nv").as("nb"),
        col("p").as("pb")))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        d2o.as("d2_orig"), d2p.as("d2_proj"))
      .select(col("vec_a"), col("vec_b"), col("d2_orig"), col("d2_proj"),
        when(col("d2_orig") > 0,
          round(sqrt(col("d2_proj").cast("double") / k)
            / sqrt(col("d2_orig").cast("double")), 6))
          .otherwise(lit(0.0)).as("distortion"))
  }
}
