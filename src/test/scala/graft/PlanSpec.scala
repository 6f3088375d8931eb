package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape regression net: the properties that make the flagship
  * queries scale-safe at 100 TB are asserted on the EXECUTED plan, so
  * a refactor that silently de-optimizes (drops a pushed filter, turns
  * a broadcast join into a shuffle, or introduces a cartesian) fails
  * here rather than in production.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q31 readings scan pushes meter/series/range predicates into parquet") {
    val df = SparkEntry.queries("q31_readings_dsl")(spark, sf)
    df.collect() // finalize the AQE plan so codegen spans materialize
    val p = df.queryExecution.executedPlan.toString
    // the filters must reach the scan, not evaluate post-read
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"), p.take(2000))
    // "*(n)" node prefixes mark whole-stage-codegen'd spans
    assert(p.contains("*("), p.take(2000))
  }

  test("doc ⋈ TS joins broadcast the meters dimension (q36, q44)") {
    val p36 = plan("q36_doc_ts_join")
    assert(p36.contains("BroadcastHashJoin"), p36.take(2000))
    assert(!p36.contains("SortMergeJoin"), p36.take(2000))
    val p44 = plan("q44_mac_discovery")
    assert(p44.contains("BroadcastHashJoin") && p44.contains("LeftSemi"),
      p44.take(3000))
    assert(p44.contains("LeftAnti"), p44.take(3000))
    assert(!p44.contains("SortMergeJoin"), p44.take(3000))
  }

  test("layout readouts prune the lineitem scan to the two key columns (q173/q176)") {
    for (q <- Seq("q173_zorder_layout", "q176_zorder_pruning",
        "q178_curve_pruning", "q179_eqdepth_pruning")) {
      val p = plan(q)
      // every lineitem scan must read ONLY (l_partkey, l_suppkey) — a
      // layout pass over a 16-column 100 TB table that drags the other
      // 14 columns through memory is wrong
      val reads = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq
      assert(reads.nonEmpty, s"$q: no parquet scan found\n${p.take(2000)}")
      // every scan reads a SUBSET of the keys (the scalar-bounds scans
      // legitimately prune down to one column) and none drags extras
      for (r <- reads) {
        assert(!r.contains("l_extendedprice") && !r.contains("l_comment") &&
          !r.contains("l_quantity") && !r.contains("l_orderkey"),
          s"$q scan reads extra columns: $r")
      }
      assert(reads.exists(r =>
        r.contains("l_partkey") && r.contains("l_suppkey")),
        s"$q: no scan reads both key columns: ${reads.mkString("; ")}")
      // file assignment is a map-side expression: no window anywhere
      assert(!p.contains("Window"), s"$q plans a Window:\n${p.take(2000)}")
    }
  }

  test("aggregations combine map-side before the exchange (q01)") {
    val p = plan("q01_hourly_avg")
    // partial + final HashAggregate pair around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("Exchange"), p.take(2000))
  }

  test("scan-speed text ops introduce no data shuffle (q14/q46/q56/q60/q63/q64)") {
    for (q <- Seq("q14_token_stats", "q46_subword_tokens", "q56_frame_sample",
        "q60_curation_verdict", "q63_pii_scrub", "q64_quantize_int8")) {
      val p = plan(q)
      // the only exchange is the final presentation sort
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q has $exchanges exchanges:\n${p.take(2000)}")
    }
  }

  test("driver smoke contract: entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("TF-IDF explodes the token stream exactly once (q50)") {
    // document frequency must come from a window over the aggregated
    // (doc, term) frame, NOT a broadcast-back of a separately
    // aggregated df table: broadcast sides share no exchange reuse, so
    // that shape re-runs the corpus scan + token explode as a second
    // job — and an open-ended web vocabulary isn't broadcastable at
    // 100 TB anyway. One Generate (the explode) and no sort-merge join.
    val p50 = plan("q50_tfidf_topk")
    val generates = "Generate".r.findAllIn(p50).size
    assert(generates == 1, s"token stream exploded $generates times:\n${p50.take(3000)}")
    assert(!p50.contains("SortMergeJoin"), p50.take(3000))
  }

  test("OOV broadcasts its vocabulary-sized side (q55)") {
    // the top-K vocab is k rows — it must come back as a broadcast,
    // never a sort-merge join re-shuffling the exploded token stream
    val p55 = plan("q55_oov_rate")
    assert(p55.contains("BroadcastHashJoin"), p55.take(3000))
    assert(!p55.contains("SortMergeJoin"), p55.take(3000))
  }

  test("range join is a bucketed equi-join, not a nested-loop scan (q57)") {
    val p = plan("q57_range_join")
    // the bare BETWEEN formulation plans BroadcastNestedLoopJoin —
    // O(events × windows) comparisons; the bucketed strategy must keep
    // it an equi-join with the range refinement inside
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("posting-list join shuffles hashes and ids, never document text (q53)") {
    // checked on the exchange nodes' OUTPUT SCHEMAS, not the plan
    // string — Exchange lines print only the partitioning expression,
    // so text riding a shuffle as a non-key payload column would never
    // show there. The invariant: no shuffle in the posting-list join
    // carries ANY character/binary data (hashes, ids and scores only);
    // the text feeding shingle_hashes is consumed map-side.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types._
    def hasChars(dt: DataType): Boolean = dt match {
      case _: StringType | _: BinaryType => true
      case ArrayType(et, _)              => hasChars(et)
      case StructType(fields)            => fields.exists(f => hasChars(f.dataType))
      case MapType(k, v, _)              => hasChars(k) || hasChars(v)
      case _                             => false
    }
    // AQE hides the exchanges (sparkPlan predates EnsureRequirements;
    // AdaptiveSparkPlanExec is an opaque leaf whose exchange insertion
    // happens inside its own replanning) — plan once with AQE off to
    // get a plain physical tree whose shuffles are inspectable
    val root = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try SparkEntry.queries("q53_ngram_jaccard")(spark, sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val exchanges = root.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, "expected shuffles in the posting-list join")
    val offending = for {
      e <- exchanges; a <- e.output if hasChars(a.dataType)
    } yield s"${a.name}: ${a.dataType.simpleString}"
    assert(offending.isEmpty,
      s"character data rides an exchange: ${offending.mkString(", ")}")
  }

  test("(series, date) layout prunes partitions at file-listing time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("readings_layout")
      .toFile.getAbsolutePath
    ReadingsLayout.write(Tables.readings(spark, sf), dir)
    val totalFiles = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    assert(totalFiles > 2, s"layout produced only $totalFiles files")
    // one series + one date ⇒ the scan must OPEN exactly the files of
    // that single directory, not filter post-read
    val oneDay = ReadingsLayout.read(spark, dir)
      .groupBy(col("series"), col("date")).count()
      .orderBy(col("series"), col("date")).head()
    val q = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val df = ReadingsLayout.read(spark, dir)
          .filter(col("series") === oneDay.getString(0) &&
            col("date") === oneDay.getDate(1))
        df.collect()
        df
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val scan = q.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }.head
    val pruned = scan.metrics("numFiles").value
    assert(pruned >= 1 && pruned < totalFiles,
      s"scan opened $pruned of $totalFiles files — no partition pruning")
    // and the plan carries real partition filters (directory-level),
    // not just data filters
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") &&
      !p.matches("(?s).*PartitionFilters: \\[\\].*"), p.take(2000))
  }

  test("curation ops shuffle ids/hashes/counts, never document text (q67-q69)") {
    // same rationale as the q53 check: text must be consumed map-side
    // (token counting, md5 keying, shingle hashing) and never ride an
    // exchange as a payload column. Checked by column name on the
    // exchange output schemas — q68's 32-char md5 key and q67's tiny
    // source strings legitimately shuffle, the document body must not.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (q <- Seq("q67_source_mixture", "q68_source_cap",
        "q69_curation_pipeline", "q70_repeated_ngrams",
        "q71_repeated_span_frac", "q77_token_budget")) {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val root =
        try SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      val exchanges = root.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, s"$q: expected at least one exchange")
      val offending = for {
        e <- exchanges; a <- e.output if a.name == "text"
      } yield a.name
      assert(offending.isEmpty, s"$q: document text rides an exchange")
      if (q == "q71_repeated_span_frac") {
        // the stronger claim this plan makes: NO character data at all
        // on any exchange — windows are xxhash64'd map-side
        import org.apache.spark.sql.types._
        def hasChars(dt: DataType): Boolean = dt match {
          case _: StringType | _: BinaryType => true
          case ArrayType(et, _)              => hasChars(et)
          case StructType(fs)                => fs.exists(f => hasChars(f.dataType))
          case MapType(k, v, _)              => hasChars(k) || hasChars(v)
          case _                             => false
        }
        val chars = for {
          e <- exchanges; a <- e.output if hasChars(a.dataType)
        } yield s"${a.name}: ${a.dataType.simpleString}"
        assert(chars.isEmpty,
          s"$q: character data rides an exchange: ${chars.mkString(", ")}")
      }
    }
  }

  test("bucketed documents layout makes id-keyed joins and aggs exchange-free") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("docs_bucketed")
      .toFile.getAbsolutePath
    DocumentsLayout.write(Tables.documents(spark, sf), dir, "docs_bkt_spec")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val t = DocumentsLayout.read(spark, "docs_bkt_spec")
      // the shape of every curation re-attach: corpus ⋈ per-doc result
      // on doc_id — with both sides bucketed, NO exchange at all
      val join = t.as("a").join(t.as("b"), "doc_id")
        .select(col("doc_id"), col("a.n_chars"))
      assert(join.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bucketed self-join still shuffles")
      // id-keyed aggregation consumes the bucketing the same way
      val agg = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      assert(agg.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bucketed aggregation still shuffles")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS docs_bkt_spec")
    }
  }

  test("q77's running sum is bucket-partitioned — never a single-task global window") {
    import org.apache.spark.sql.execution.window.WindowExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root =
      try SparkEntry.queries("q77_token_budget")(spark, sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val wins = root.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected a window for the running sum")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "running sum planned an un-partitioned window (all rows → one task):\n" +
        root.toString.take(2000))
  }

  test("q79's quota rank is cell-partitioned and embeddings ride no exchange") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val root =
      try SparkEntry.queries("q79_cluster_sample")(spark, sf)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val wins = root.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the per-cell quota window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "quota rank planned an un-partitioned window (all rows → one task):\n" +
        root.toString.take(2000))
    // only (vec_id, cell)-shaped rows may shuffle — the embedding
    // array itself must be projected away before any exchange
    val shuffles = root.collect { case e: ShuffleExchangeLike => e }
    for (e <- shuffles; attr <- e.child.output)
      assert(!attr.dataType.typeName.startsWith("array"),
        s"embedding array rides an exchange: ${e.child.output.mkString(", ")}")
  }

  test("no unbounded cartesian anywhere in the query surface") {
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n${p.take(2000)}")
    }
  }

  test("round-7 additions keep their scale claims: literal-driven maps, no chars on exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // q86: the projection matrix is a driver-side LITERAL — the
      // distributed plan must contain NO join at all (projection happens
      // inside the scan)
      val p86 = SparkEntry.queries("q86_random_projection")(spark, sf)
        .queryExecution.executedPlan
      val joins86 = p86.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("CartesianProduct"))
        .toSeq
      assert(joins86.isEmpty, s"q86 plans a join: ${joins86.mkString("; ")}")
      // q88: the codebooks ride a broadcast RELATION — every join is a
      // broadcast hash join whose build side is that local relation,
      // never a corpus scan, and no shuffle carries the vector or its
      // slices (only ids, codes and cosines are exchanged)
      import org.apache.spark.sql.catalyst.optimizer.BuildRight
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
      val p88 = SparkEntry.queries("q88_pq_codes")(spark, sf)
        .queryExecution.executedPlan
      val joins88 = p88.collect { case j: BaseJoinExec => j }
      assert(joins88.nonEmpty && joins88.forall {
        case b: BroadcastHashJoinExec =>
          val built = if (b.buildSide == BuildRight) b.right else b.left
          built.collect { case f: FileSourceScanExec => f }.isEmpty
        case _ => false
      }, s"q88 joins more than the broadcast codebooks: ${joins88.mkString("; ")}")
      val arrays88 = for {
        e <- p88.collect { case e: ShuffleExchangeExec => e }
        a <- e.output if a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
      } yield a.name
      assert(arrays88.isEmpty, s"q88: vectors ride an exchange: ${arrays88.mkString(", ")}")
      // q93: tokens hash to (dim, sign) INSIDE the scan — no character
      // data may ride any exchange (the q71-strength claim)
      import org.apache.spark.sql.types._
      def hasChars(dt: DataType): Boolean = dt match {
        case _: StringType | _: BinaryType => true
        case ArrayType(et, _)              => hasChars(et)
        case StructType(fs)                => fs.exists(f => hasChars(f.dataType))
        case MapType(k, v, _)              => hasChars(k) || hasChars(v)
        case _                             => false
      }
      val root = SparkEntry.queries("q93_hashed_features")(spark, sf)
        .queryExecution.executedPlan
      val chars = for {
        e <- root.collect { case e: ShuffleExchangeExec => e }
        a <- e.output if hasChars(a.dataType)
      } yield s"${a.name}: ${a.dataType.simpleString}"
      assert(chars.isEmpty,
        s"q93: character data rides an exchange: ${chars.mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("round-9 additions: hash-only exchanges (q94/q96/q97), CMS plan joins nothing (q95)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def hasChars(dt: DataType): Boolean = dt match {
        case _: StringType | _: BinaryType => true
        case ArrayType(et, _)              => hasChars(et)
        case StructType(fs)                => fs.exists(f => hasChars(f.dataType))
        case MapType(k, v, _)              => hasChars(k) || hasChars(v)
        case _                             => false
      }
      // q94 (simhash pairs), q96 (novelty), q97 (containment): document
      // text reduces to longs inside the scan; every exchange must carry
      // only ids / hashes / signatures
      for (q <- Seq("q94_simhash_hamming_pairs", "q96_ngram_novelty",
          "q97_containment_pairs", "q105_simhash_pairs_combinatorial")) {
        val root = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val chars = for {
          e <- root.collect { case e: ShuffleExchangeExec => e }
          a <- e.output if hasChars(a.dataType)
        } yield s"${a.name}: ${a.dataType.simpleString}"
        assert(chars.isEmpty,
          s"$q: character data rides an exchange: ${chars.mkString(", ")}")
      }
      // q95: the sketch is a driver-side LITERAL by the time the
      // returned plan runs — no join anywhere; the candidate Filter must
      // sit below the exact-count aggregate so only heavy candidates
      // reach the (gram-keyed, by design) exchange
      val p = SparkEntry.queries("q95_cms_heavy_hitters")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        p.take(2000))
      // deepest Filter (the candidate prune) must sit below the deepest
      // Exchange (the exact-count shuffle) — i.e. later in the printout
      val filterAt = p.lastIndexOf("Filter")
      val exchangeAt = p.lastIndexOf("Exchange")
      assert(exchangeAt >= 0 && filterAt > exchangeAt,
        s"q95: candidate filter must be below the count exchange\n${p.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("round-10 additions: gram/prefix text is hashed in the scan, never exchanged (q107/q108)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // q107's count-distinct and q108's df groupBy must key on the
      // 8-byte hash — the only string allowed on an exchange is the
      // bounded `source` dimension; raw grams (`__g`) or prefixes
      // would make the shuffle corpus-text-sized
      for (q <- Seq("q107_ngram_diversity", "q108_prefix_boilerplate")) {
        val root = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val leaked = for {
          e <- root.collect { case e: ShuffleExchangeExec => e }
          a <- e.output
          if a.dataType.simpleString.contains("string") && a.name != "source"
        } yield s"${a.name}: ${a.dataType.simpleString}"
        assert(leaked.isEmpty,
          s"$q: raw text rides an exchange: ${leaked.mkString(", ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("session additions: winnow selection and split verdicts are exchange-free; HLL exchanges registers, not tokens") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, sf)
      // q122 stats and the split assignment are pure scans: their
      // plans must contain NO shuffle exchange at all
      for ((name, df) <- Seq(
        "winnowFingerprintStats" ->
          graft.operators.Dedup.winnowFingerprintStats(docs, "doc_id", "text"),
        "splitAssignment" ->
          graft.operators.Curation.splitAssignment(docs, "doc_id", "source"))) {
        val ex = df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty, s"$name: expected a map-only plan, found shuffle")
      }
      // the HLL register path must exchange only (grp, bucket, rho) —
      // the 256-per-group register grid — never token strings
      val regs = graft.operators.TextOps.hllRegisters(
        graft.operators.TextOps.hllBucketed(docs, "text", "source"))
      val leaked = for {
        e <- regs.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        a <- e.output
        if a.dataType.simpleString.contains("string") && a.name != "grp"
      } yield a.name
      assert(leaked.isEmpty, s"HLL exchange carries strings: $leaked")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("chunk dup rate and BPE pair counting keep token arrays off the exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, sf)
      // q145: the window hash-count join exchanges (source, 8-byte
      // hash) — the window TEXT and the token array stay in the scan
      val dupRate = graft.operators.Packing
        .chunkDupRate(docs, "doc_id", "text", "source")
      val leakedArrays = for {
        e <- dupRate.queryExecution.executedPlan
          .collect { case ex: ShuffleExchangeExec => ex }
        a <- e.output
        if a.dataType.simpleString.startsWith("array")
      } yield a.name
      assert(leakedArrays.isEmpty,
        s"q145 exchanges carry arrays: $leakedArrays")
      val leakedText = for {
        e <- dupRate.queryExecution.executedPlan
          .collect { case ex: ShuffleExchangeExec => ex }
        a <- e.output
        if a.dataType.simpleString.contains("string") && a.name != "source"
      } yield a.name
      assert(leakedText.isEmpty,
        s"q145 exchanges carry window text: $leakedText")
      // the BPE pair-count stage exchanges (l, r, partial count) —
      // vocab-bounded pair keys, never the per-doc symbol arrays
      val applied = docs.select(org.apache.spark.sql.graft.Signatures
        .bpe_apply(org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " "), Nil).as("w"))
      val pairs = applied
        .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.transform(
            org.apache.spark.sql.functions.sequence(
              org.apache.spark.sql.functions.lit(0),
              org.apache.spark.sql.functions.size(
                org.apache.spark.sql.functions.col("w")) - 2),
            i => org.apache.spark.sql.functions.struct(
              org.apache.spark.sql.functions.element_at(
                org.apache.spark.sql.functions.col("w"), i + 1).as("l"),
              org.apache.spark.sql.functions.element_at(
                org.apache.spark.sql.functions.col("w"), i + 2).as("r"))))
          .as("p"))
        .groupBy("p.l", "p.r").count()
      val bpeArrays = for {
        e <- pairs.queryExecution.executedPlan
          .collect { case ex: ShuffleExchangeExec => ex }
        a <- e.output
        if a.dataType.simpleString.startsWith("array")
      } yield a.name
      assert(bpeArrays.isEmpty, s"BPE pair exchange carries arrays: $bpeArrays")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q99's broadcast side is candidate-bounded, never the open vocabulary") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the unigram count frame is open-vocabulary (corpus-scaling on a
    // web crawl — the round-5 q50 lesson); before it may carry a
    // broadcast hint it must be semi-joined down to the bigram
    // candidate terms, which are bounded by the minCount filter. The
    // executed plan therefore must (a) keep the PMI lookups broadcast
    // and (b) show a LeftSemi join INSIDE at least one broadcast
    // exchange subtree — proof the broadcast input is the bounded
    // frame, not the raw vocabulary
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = SparkEntry.queries("q99_pmi_collocations")(spark, sf)
        .queryExecution.executedPlan
      val bes = root.collect { case b: BroadcastExchangeExec => b }
      assert(bes.nonEmpty, root.toString.take(3000))
      val bounded = bes.exists { b =>
        b.collect {
          case j: BaseJoinExec if j.joinType.toString == "LeftSemi" => j
        }.nonEmpty
      }
      assert(bounded,
        s"no broadcast subtree contains the candidate semi-join\n${root.toString.take(3000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("round-11 additions: q151 is a pure scan; q150/q132 keep text/vectors off wide exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, sf)
      // the duplicate-n-gram gate is per-doc column algebra: no shuffle
      val gate = graft.operators.TextOps
        .duplicateNgramFraction(docs, "doc_id", "text")
      assert(gate.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "q151 must be a map-only scan")
      // q150's banded candidate join shuffles (id, band, bv) — the
      // double vectors must ride only the verify joins' id-keyed
      // exchanges, never the banded pairing exchange
      val lsh = graft.operators.Similarity.hyperplaneLshDeterministic(
        Tables.embeddings(spark, sf), 0.4)
      val bandedLeaks = for {
        e <- lsh.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        a <- e.output
        if a.name == "bv" // the banded pairing exchange
        v <- e.output if v.dataType.simpleString.contains("array")
      } yield v.name
      assert(bandedLeaks.isEmpty,
        s"q150 banded exchange carries vectors: $bandedLeaks")
      // q132 after the splitCol fix: no exchange in its plan may carry
      // the raw text column (the split verdict rides the scan)
      val leak = for {
        e <- SparkEntry.queries("q132_split_leakage")(spark, sf)
          .queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        a <- e.output if a.name == "text"
      } yield a.name
      assert(leak.isEmpty, "q132 exchanges document text")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q156-q163 wave: gates are pure scans, models broadcast, arrays stay off exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, sf)
      // classifier + PII gate: per-row column algebra, zero shuffle
      for ((nm, df) <- Seq(
        "q156" -> graft.operators.TextOps
          .hashedLinearQuality(docs, "doc_id", "text"),
        "q163" -> graft.operators.TextOps
          .piiRedactGate(docs, "doc_id", "text"))) {
        assert(df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"$nm must be a map-only scan")
      }
      // ExactSubstr coverage: exchanges carry (doc_id, i, 12-char h) —
      // never the document text or the token array
      val cov = graft.operators.TextOps
        .exactSubstrDupCoverage(docs, "doc_id", "text")
      val covLeaks = for {
        e <- cov.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        a <- e.output
        if a.name == "text" || a.dataType.simpleString.contains("array")
      } yield a.name
      assert(covLeaks.isEmpty, s"q157 exchanges text/arrays: $covLeaks")
      // perplexity gate: the vocab-bounded model sides are BROADCAST —
      // the corpus token stream must never sort-merge against them
      val ppl = graft.operators.TextOps
        .bigramPerplexityGate(docs, "doc_id", "text")
      val pplPlan = ppl.queryExecution.executedPlan.toString
      assert(pplPlan.contains("BroadcastHashJoin"), pplPlan.take(3000))
      assert(!pplPlan.contains("SortMergeJoin"), pplPlan.take(3000))
      // SQ8: both rank windows run on (qid, id, two longs) — the code
      // and int arrays ride no exchange
      val sq8 = graft.operators.Similarity
        .sq8RecallReadout(Tables.embeddings(spark, sf))
      val sq8Leaks = for {
        e <- sq8.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        a <- e.output if a.dataType.simpleString.contains("array")
      } yield a.name
      assert(sq8Leaks.isEmpty, s"q161 exchanges arrays: $sq8Leaks")
      // binary recall: same contract as q161 — bit/int arrays stay off
      // the rank-window exchanges
      val bin = graft.operators.Similarity
        .binaryHammingRecall(Tables.embeddings(spark, sf))
      val binLeaks = for {
        e <- bin.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        a <- e.output if a.dataType.simpleString.contains("array")
      } yield a.name
      assert(binLeaks.isEmpty, s"q165 exchanges arrays: $binLeaks")
      // calibration: the per-doc signal join exchanges (doc_id, prob,
      // bool) — document text never shuffles
      val cal = graft.operators.Curation
        .classifierCalibration(Tables.documents(spark, sf), "doc_id", "text")
      val calLeaks = for {
        e <- cal.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        a <- e.output if a.name == "text"
      } yield a.name
      assert(calLeaks.isEmpty, s"q166 exchanges text: $calLeaks")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sketch ops' estimate-only paths carry no exact audit twin (q146/q124)") {
    import org.apache.spark.sql.execution.SparkPlan
    // BroadcastNestedLoopJoinExec doesn't extend BaseJoinExec, so the
    // net is node-name-based: anything whose nodeName says Join
    def joins(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n if n.nodeName.contains("Join") => n }
    // AdaptiveSparkPlanExec hides its inner tree from collect()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val docs = Tables.documents(spark, sf)
    // KMV estimate-only: exactly ONE join — the |sources|²-bounded
    // signature pairing — and no shingle-level self-join; the audit
    // path (the q146 oracle configuration) adds the exact twin
    val est = graft.operators.Dedup
      .kmvSourceOverlap(docs, "doc_id", "text", "source", audit = false)
    assert(est.columns.toSeq == Seq("src_a", "src_b", "jac_est"))
    val estJoins = joins(est.queryExecution.executedPlan)
    assert(estJoins.size == 1,
      s"estimate-only KMV must join signatures once, found ${estJoins.size}:\n" +
        est.queryExecution.executedPlan.toString.take(3000))
    // ...and the one join's inputs are k-bounded signature rows (the
    // `sig` array column), not per-shingle hash rows
    assert(estJoins.head.output.exists(_.name == "sig"),
      estJoins.head.output.map(_.name).mkString(","))
    val audit = graft.operators.Dedup
      .kmvSourceOverlap(docs, "doc_id", "text", "source", audit = true)
    assert(audit.columns.contains("jac_exact"))
    assert(joins(audit.queryExecution.executedPlan).size > 1)
    // HLL estimate-only: aggregation only — no join, no exact distinct
    val hEst = graft.operators.TextOps
      .hllVocabulary(docs, "text", "lang", audit = false)
    assert(hEst.columns.toSeq == Seq("lang", "hll_est"))
    assert(joins(hEst.queryExecution.executedPlan).isEmpty,
      "estimate-only HLL must not join an exact-distinct twin")
    assert(!hEst.queryExecution.optimizedPlan.toString.contains("distinct"),
      hEst.queryExecution.optimizedPlan.toString.take(2000))
    // the two paths agree on the estimate itself
    val hAudit = graft.operators.TextOps
      .hllVocabulary(docs, "text", "lang", audit = true)
      .select("lang", "hll_est").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val hOnly = hEst.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(hOnly == hAudit, s"estimate drifted: $hOnly vs $hAudit")
    val kAudit = audit.select("src_a", "src_b", "jac_est").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val kOnly = est.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(kOnly == kAudit, s"estimate drifted: $kOnly vs $kAudit")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("store serving broadcasts query-sized sides and prunes the code scan (q193/q194)") {
    import graft.operators.IndexStore
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planspec-store").toString
    val e = Tables.embeddings(spark, sf)
    IndexStore.buildIvfPq(e, dir, numCells = 6, cellIters = 2,
      numSub = 4, codebookK = 6, pqIters = 2)
    val served = IndexStore.serveIvfPq(spark, dir,
      e.filter(col("vec_id") < 3), k = 4, probes = 2)
    served.collect() // finalize AQE
    val p = served.queryExecution.executedPlan.toString
    // the distance tables (query-sized) broadcast onto the code stream
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the corpus-sized side (the codes scan) reads ONLY index ints —
    // a serve must never rehydrate anything embedding-sized; the
    // QUERY-side scans read embeddings legitimately (query-bounded)
    val codesScan = p.linesIterator.filter(_.contains("/codes"))
      .mkString("\n")
    assert(codesScan.nonEmpty, "no codes scan found: " + p.take(3000))
    assert(!codesScan.contains("embedding"),
      "codes scan rehydrates embeddings: " + codesScan.take(2000))
    // filtered serve: the allow-list rides a broadcast semi join
    val filt = IndexStore.serveIvfPq(spark, dir,
      e.filter(col("vec_id") < 3), k = 4, probes = 2,
      allowed = Some(e.filter(col("label") === 3).select(col("vec_id"))))
    filt.collect()
    val pf = filt.queryExecution.executedPlan.toString
    assert(pf.contains("LeftSemi"), pf.take(3000))
    assert(pf.contains("BroadcastHashJoin"), pf.take(3000))
  }
}
