package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorOps

/** Physical-plan audit (SURVEY.md §5): these assertions pin the *plan shape*
  * that makes each operator viable at 100 TB — filters pushed to the parquet
  * scan, projections pruned, dimension joins broadcast, and no accidental
  * cartesian products in the LSH candidate generation. A regression here can
  * pass every correctness oracle and still be catastrophic at scale, so the
  * plan itself is under test.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private def plan(name: String): String =
    QueryRegistry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString()

  /** Untruncated PushedFilters metadata of every parquet scan in the plan. */
  private def pushedFilters(name: String): Seq[String] =
    QueryRegistry
      .queries(name)(spark, sfDir)
      .queryExecution
      .executedPlan
      .collectWithSubqueries { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
      }

  test("q_filter_project: predicate and projection reach the parquet scan") {
    val pf = pushedFilters("q_filter_project").mkString("; ")
    assert(
      pf.contains("GreaterThanOrEqual(l_shipdate") && pf.contains("GreaterThan(l_discount"),
      s"both predicates must be pushed to the scan, got: $pf"
    )
    val p = plan("q_filter_project")
    assert(!p.contains("l_comment"), "untouched wide columns must be pruned from ReadSchema")
  }

  test("q_regex_prune: dropped columns never leave the scan") {
    val p = plan("q_regex_prune")
    assert(!p.contains("l_tax") && !p.contains("l_discount"), s"pruned columns still read:\n$p")
  }

  test("q_dim_join: dimension joins broadcast; the fact side never shuffles") {
    val p = plan("q_dim_join")
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 2)
    assert(!p.contains("SortMergeJoin"), s"dim join must not sort-merge:\n$p")
  }

  test("q_revenue_by_nation: one fact-fact shuffle join, all dims broadcast") {
    val p = plan("q_revenue_by_nation")
    val bhj = p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
    assert(bhj >= 3, s"customer/nation/region must broadcast (saw $bhj):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_shipping_priority: selective dim filter stays on the broadcast side") {
    val p = plan("q_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-N must not global-sort the agg output")
  }

  test("LSH pipelines generate candidates by equi-join only — no cross join") {
    for (name <- Seq("q_ngram_jaccard",
        "q_dedup_embedding", "q_decontaminate", "q_range_join",
        "q_dedup_substrings", "q_dedup_containment", "q_dedup_incremental_ngram")) {
      val p = plan(name)
      assert(
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must pair via banded equi-join, got:\n$p"
      )
    }
    // The ANN registered queries are banded reports whose exact brute-force
    // twin is deliberately a broadcast nested-loop (it IS the all-pairs
    // baseline, the gate's price); the no-cross-join pin holds on the
    // PRODUCTION candidate pipelines.
    val annPipelines = Seq(
      "annLshNeighbors" -> VectorOps.annLshNeighbors(spark, sfDir),
      "annIvfNeighbors" -> VectorOps.annIvfNeighbors(spark, sfDir),
      "annIvfPqNeighbors" -> VectorOps.annIvfPqNeighbors(spark, sfDir),
      // The registered q_dedup_images / q_dedup_simhash reports
      // deliberately cross-join a ~2% signature sample for their
      // brute-force ball checks, and q_dedup_minhash cross-joins its
      // 1-row extras count; the production pair tables must stay
      // banded-equi-join only.
      "imageDedupPairs" -> SimilarityQueries.imageDedupPairs(spark, sfDir),
      "phashDedupPairs" -> SimilarityQueries.phashDedupPairs(spark, sfDir),
      "simhashPairs" -> SimilarityQueries.simhashPairs(spark, sfDir),
      "minhashPairs" -> SimilarityQueries.minhashPairs(spark, sfDir)
    )
    for ((name, df) <- annPipelines) {
      val p = df.queryExecution.executedPlan.toString
      assert(
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must find candidates via bucket/cell equi-join, got:\n$p"
      )
    }
  }

  test("q_dedup_substrings: the window df-cap's sorted exchange feeds the merge join — no second pass") {
    // Measured r9 (exclusive, sf0.1): window cap 1.06s vs agg+semi-join
    // 1.89s (SMJ) / 2.42s (SHJ) — the window's shuffle+sort on `win` IS
    // the ordering the downstream sort-merge pair join needs, so the cap
    // costs no extra pass. Pin the shape that makes that true: the cap
    // runs as a Window (not an aggregate+join pair), the pair join is a
    // merge join, and the window's exchange is reused across join sides
    // (the LSH stage-reuse test covers reuse; here we pin no agg-form
    // regression).
    val df = QueryRegistry.queries("q_dedup_substrings")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), s"df-cap must stay the window form (measured fastest):\n$p")
    assert(p.contains("SortMergeJoin"), s"pair join must sort-merge on the window's ordering:\n$p")
    assert(!p.contains("LeftSemi"), s"agg+semi-join cap form crept back (measured 1.8x slower):\n$p")
  }

  test("LSH self-joins reuse their shuffle subtree (sketch computed once, not per side)") {
    // The merge hints force identical shuffle subtrees on both sides of
    // each banded self-join; AQE's stage reuse then computes the
    // sketch+explode pipeline once (measured ~2x on simhash at sf0.1). The
    // marker only appears in the FINAL adaptive plan, so execute first.
    // q_dedup_minhash and q_dedup_images pin their PRODUCTION pair tables
    // (the registered queries are banded-report wrappers).
    val pinned: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "simhashPairs" -> SimilarityQueries.simhashPairs(spark, sfDir),
      "minhashPairs" -> SimilarityQueries.minhashPairs(spark, sfDir),
      "q_ngram_jaccard" -> QueryRegistry.queries("q_ngram_jaccard")(spark, sfDir),
      "q_dedup_embedding" -> QueryRegistry.queries("q_dedup_embedding")(spark, sfDir),
      "q_dedup_substrings" -> QueryRegistry.queries("q_dedup_substrings")(spark, sfDir),
      "imageDedupPairs" -> SimilarityQueries.imageDedupPairs(spark, sfDir),
      "phashDedupPairs" -> SimilarityQueries.phashDedupPairs(spark, sfDir),
      "audioDedupPairs" -> SimilarityQueries.audioDedupPairs(spark, sfDir)
    )
    for ((name, df) <- pinned) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // Match exchange/stage reuse specifically — a ReusedSubquery node
      // would NOT prove the sketch pipeline is shared across join sides.
      assert(p.linesIterator.exists(l => l.contains("ReusedExchange") || l.contains("ReusedQueryStage")),
        s"$name lost exchange/stage reuse — the sketch pipeline now runs per join side:\n$p")
    }
  }

  test("bloom decontamination probe is map-side — no join in the production plan") {
    // The broadcast-membership decontamination must not shuffle corpus
    // grams into any join: the bloom filter is a plan literal and the
    // probe is a local filter; only the per-doc aggregate may exchange.
    // Pinned on the production probe (TextQueries.bloomFlaggedGrams) —
    // the REGISTERED q_decontaminate_bloom is the banded report, whose
    // exact-overlap join exists only to feed the hash gate.
    val p = TextQueries.bloomFlaggedGrams(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"bloom membership must not plan a join:\n$p")
    assert(p.contains("might_contain") || p.contains("BloomFilterMightContain") || p.contains("bloom"),
      s"bloom probe missing from plan:\n$p")
  }

  test("q_snapshot_diff reconciles two snapshots in one scan — no self-join") {
    // The full-outer self-join form reads the fact twice and shuffles
    // both sides into a join; the conditional-aggregate form must keep
    // reconciliation at one scan + one partial-agg shuffle.
    val p = plan("q_snapshot_diff")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"snapshot diff must read lineitem once:\n$p")
    assert(!p.contains("Join"), s"same-table snapshot diff must not join:\n$p")
  }

  test("q_funnel is a single-shuffle window funnel (one exchange, one scan)") {
    val p = plan("q_funnel")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"funnel must read events once:\n$p")
  }

  test("q_profile reads the table exactly once for all column stats") {
    val p = plan("q_profile")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"profile must be a single-pass aggregate, not one scan per column:\n$p")
  }

  test("q_repetition_filter is a zero-shuffle projection (row-local kernel, no explode)") {
    val p = plan("q_repetition_filter")
    assert(!p.contains("Exchange") && !p.contains("Generate"),
      s"repetition stats must not shuffle or explode:\n$p")
  }

  /** A fixed sample over every argument type the native kernels take,
    * read back from Parquet so projections over it run in whole-stage
    * codegen (a local relation would be folded at optimization time).
    * Row 4 is NULL in every column but `id`.
    */
  private lazy val kernelSample: DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType),
      StructField("url", StringType),
      StructField("vec", ArrayType(FloatType)),
      StructField("dvec", ArrayType(DoubleType)),
      StructField("hs", ArrayType(LongType)),
      StructField("code", LongType),
      StructField("rules", ArrayType(StructType(Seq(
        StructField("prefix", StringType), StructField("allow", BooleanType), StructField("rx", StringType))))),
      StructField("path", StringType),
      StructField("bad", IntegerType)))
    def vec(seed: Int): Seq[Float] = Seq.tabulate(8)(j => ((seed * 7 + j * 3) % 11 - 5) / 4.0f)
    val rules = Seq(Row("/private", false, "^/private"), Row("/private/ok", true, "^/private/ok"))
    val rows = Seq(
      Row(1L, "The quick brown fox jumps over the lazy dog and the cat sat on the mat",
        "HTTP://WWW.Example.COM:80/a/./b/../c?utm_source=x&q=1#frag", vec(1), vec(2).map(_.toDouble),
        Seq(3L, 17L, 99L, 123456789L), 0L, rules, "/private/ok/page", 1),
      Row(2L, "data data data table scan fast slow key row data the end",
        "https://x.org/~u/%7Ep?ref=y&a=b", vec(3), vec(4).map(_.toDouble), Seq(5L, 8L), 5L, rules, "/private/x", 2),
      Row(3L, "Cafe\u0301  na\u00efve\ttext  \u00fcber", "relative/path", vec(5), vec(6).map(_.toDouble),
        Seq.empty[Long], 10L, Seq.empty[Row], "/public", 3),
      Row(4L, null, null, null, null, null, null, null, null, null))
    val dir = java.nio.file.Files.createTempDirectory("kernel_sample").resolve("t").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** One native kernel: its SQL name, a call over [[kernelSample]], the
    * same kernel over a wrong-typed argument, and the analysis message
    * that argument must fail with.
    */
  private case class KernelCase(fn: String, call: Column, wrongTyped: Column, message: String)

  /** All 24 native kernels of graft.functions.NativeExpressions. */
  private lazy val kernelCases: Seq[KernelCase] = {
    import graft.functions.SimilarityFunctions._
    import graft.functions.TextFunctions._
    import graft.functions.UrlFunctions.canonicalizeUrl
    val (text, vec, bad) = (col("text"), col("vec"), col("bad"))
    val books = Seq.tabulate(2 * 4 * 4)(i => (i % 7).toDouble / 7.0)
    val coarse = Seq.tabulate(2, 8)((c, j) => if (j % 2 == c) 1.0 else 0.1)
    val fine = coarse.map(c => Seq(c, c.map(_ * 0.5 + 0.2)))
    val basis = Seq.tabulate(3, 8)((k, j) => if (j == k) 1.0 else 0.0)
    def str(fn: String, f: Column => Column) = KernelCase(fn, f(text), f(bad), s"$fn requires STRING, got INT")
    def longs(fn: String, f: Column => Column) =
      KernelCase(fn, f(col("hs")), f(bad), s"$fn requires ARRAY<BIGINT>, got INT")
    def vector(fn: String, f: Column => Column) =
      KernelCase(fn, f(vec), f(bad), s"$fn requires ARRAY<FLOAT|DOUBLE>, got INT")
    Seq(
      str("simhash64", simhash64),
      str("shingles", shingles(_)),
      str("hashed_shingles", hashedShingles(_)),
      str("hashed_shingles64", hashedShingles64(_)),
      str("char_window_hashes64", charWindowHashes64(_, 4)),
      longs("minhash_signature", minhashSignature(_)),
      longs("minhash_bands", minhashBands(_)),
      str("marker_counts", markerCounts(_, langMarkers.map(_._2))),
      str("word_rep_stats", wordRepStats),
      str("bpe_token_count", bpeTokenCount(_)),
      str("bpe_segments", bpeSegments(_)),
      str("bpe_words", bpeWords),
      str("char_entropy", charEntropy),
      str("normalize_text", normalizeText),
      KernelCase("canonicalize_url", canonicalizeUrl(col("url")), canonicalizeUrl(bad),
        "canonicalize_url requires STRING, got INT"),
      KernelCase("cosine_sim", cosine(vec, col("dvec")), cosine(bad, vec),
        "cosine_sim requires ARRAY<FLOAT|DOUBLE>, got INT, ARRAY<FLOAT>"),
      vector("pq_encode", pqEncode(_, books, 2, 4, 4)),
      KernelCase("pq_cosine", pqCosine(vec, col("code"), books, 2, 4, 4), pqCosine(vec, bad, books, 2, 4, 4),
        "pq_cosine requires (ARRAY<FLOAT|DOUBLE>, BIGINT), got ARRAY<FLOAT>, INT"),
      vector("lsh_bucket", lshBucket(_, hyperplanes(6, 8))),
      vector("ivf_assign", ivfAssign(_, coarse, fine)),
      vector("pca_project", pcaProject(_, Seq.fill(8)(0.1), basis)),
      str("deflate_ratio", deflateRatio),
      str("linear_text_score", linearTextScore(_, Seq.tabulate(16)(i => (i - 8) / 10.0), -0.5)),
      KernelCase("robots_match", robotsMatch(col("rules"), col("path")), robotsMatch(col("rules"), bad),
        "robots_match requires (ARRAY<STRUCT<STRING, BOOLEAN, STRING>>, STRING), " +
          "got (ARRAY<STRUCT<prefix: STRING, allow: BOOLEAN, rx: STRING>>, INT)")
    )
  }

  test("sketch expressions stay inside whole-stage codegen (no Janino fallback)") {
    // A shuffle-free projection is not AQE-wrapped, so the "*(n)" codegen
    // markers are visible in the plan string; disabling codegen fallback
    // makes a Janino compile error of the generated kernel calls fatal
    // instead of silently interpreting. Each kernel must then return the
    // same values as interpreted evaluation, and NULL for the NULL row.
    assert(kernelCases.map(_.fn).distinct.size == 24)
    for (k <- kernelCases) {
      val compiled = Engine.withConf(spark, "spark.sql.codegen.fallback" -> "false") {
        val df = kernelSample.select(col("id"), k.call.as("out"))
        assert(df.queryExecution.executedPlan.toString.contains("*("), s"${k.fn}: projection not codegen'd")
        df.collect().sortBy(_.getLong(0)).map(_.toString).toSeq
      }
      val interpreted = Engine.withConf(spark,
        "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        kernelSample.select(col("id"), k.call.as("out")).collect().sortBy(_.getLong(0)).map(_.toString).toSeq
      }
      assert(compiled == interpreted, s"${k.fn}: codegen and interpreted evaluation differ")
      assert(compiled.size == 4 && compiled.last == "[4,null]", s"${k.fn}: NULL in must give NULL out: $compiled")
    }
  }

  test("every native kernel rejects a wrong-typed argument at analysis with its message") {
    for (k <- kernelCases) {
      val e = intercept[org.apache.spark.sql.AnalysisException](kernelSample.select(k.wrongTyped).schema)
      assert(e.getMessage.contains(k.message), s"${k.fn}: expected '${k.message}' in: ${e.getMessage}")
    }
  }

  test("NativeExpressions states the null policy and each argument check once") {
    val src = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/functions/NativeExpressions.scala"))
    def count(needle: String): Int = src.sliding(needle.length).count(_ == needle)
    assert(count("override def nullIntolerant") == 1)
    // The shared kernel check, plus robots_match's struct-argument check.
    assert(count("override def checkInputDataTypes") == 2)
    assert(count("TypeCheckResult.TypeCheckFailure(") == 2)
    assert(count("case ArrayType(FloatType | DoubleType") == 1)
    assert(count("case ArrayType(LongType") == 1)
    assert(count("isInstanceOf[StringType]") == 3) // isStr, and robots_match's two struct fields
    assert(count("lazy val ranks") == 1)
    assert(count("require(merges.length") == 1)
  }

  test("q_cap_per_source: two-stage cap — map-side pre-cap before the one hot-key shuffle") {
    // A mega-domain must shuffle ≤ N rows per input partition, not its
    // whole corpus: stage 1 is a shuffle-free mapPartitions top-N, so the
    // plan has the object pipeline BELOW its single window exchange and no
    // second exchange anywhere.
    val p = plan("q_cap_per_source")
    assert(p.contains("MapPartitions"), s"map-side pre-cap missing:\n$p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"expected exactly one (window) exchange, saw $exchanges:\n$p")
    val lines = p.linesIterator.toSeq
    val exIdx = lines.indexWhere(_.contains("Exchange"))
    val mpIdx = lines.indexWhere(_.contains("MapPartitions"))
    assert(mpIdx > exIdx, s"pre-cap must run below (before) the shuffle:\n$p")
  }

  test("q_rollup_sales: one scan, one shuffle — ROLLUP levels share partial-agg state") {
    val p = plan("q_rollup_sales")
    assert(p.contains("Expand"), s"rollup must use Expand, not per-level re-scans:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, s"rollup must read orders once:\n$p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"rollup needs exactly one exchange, saw $exchanges:\n$p")
  }

  test("q_grouping_sets: one scan, one shuffle, Expand replicates x3 — not CUBE's x8") {
    val p = plan("q_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets must use Expand:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, s"must read orders once:\n$p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"needs exactly one exchange, saw $exchanges:\n$p")
    // The Expand's projection list carries one entry per grouping set. An
    // explicit 3-set list must NOT expand to the 2^3 = 8 projections a
    // CUBE over the same columns would — at 100 TB that is the shuffle
    // volume the explicit form exists to avoid.
    // Counted on the optimized LOGICAL plan: the physical Expand hides
    // inside AdaptiveSparkPlanExec, which collect() does not descend.
    val expand = QueryRegistry
      .queries("q_grouping_sets")(spark, sfDir)
      .queryExecution.optimizedPlan
      .collect { case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e.projections.length }
    assert(expand == Seq(3), s"Expand must carry exactly the 3 requested sets, saw $expand")
  }

  test("q_embed_outliers: centroids broadcast onto a map-only fact scan; top-k pre-capped") {
    val p = plan("q_embed_outliers")
    assert(p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
    assert(p.contains("MapPartitions"), s"per-partition top-k pre-cap missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // Exactly three data shuffles, none carrying the fact table: the
    // (label, pos) centroid aggregate (K·dim fixed-width rows after
    // partial agg), the K-row centroid array assembly feeding the
    // broadcast, and the final window exchange, which the MapPartitions
    // pre-cap bounds to ≤ k rows per label per input partition. The fact
    // side flows scan → broadcast join → fold with no exchange.
    val exchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(exchanges == 3, s"expected 3 bounded shuffles, saw $exchanges:\n$p")
    // The fact scan is the FIRST scan below the join (the left `:-` child
    // prints before the broadcast side); nothing between them may shuffle.
    val lines = p.linesIterator.toVector
    val bhj = lines.indexWhere(_.contains("BroadcastHashJoin"))
    val factScan = lines.indexWhere(_.contains("Scan parquet"), bhj)
    assert(bhj >= 0 && factScan > bhj)
    assert(
      !lines.slice(bhj, factScan).exists(l =>
        l.contains("Exchange hashpartitioning") && !l.contains("Broadcast")),
      s"fact side must reach the broadcast join unshuffled:\n$p")
  }

  test("q_train_test_split is a zero-shuffle deterministic projection") {
    val p = plan("q_train_test_split")
    assert(!p.contains("Exchange"), s"split assignment must not shuffle:\n$p")
  }

  test("q_vocab_build: one token-bounded shuffle, top-V via heap — no global sort") {
    val p = plan("q_vocab_build")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V must be per-partition heaps, not a global sort:\n$p")
    val exchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"only the distinct-token count may shuffle, saw $exchanges:\n$p")
    // The V-row rank window partitions on the non-foldable zero
    // (EtlOps.boundedWindowKey) — the optimizer hoists it into a project
    // alias rather than folding it away (a plain literal IS folded out,
    // reopening WindowExec's warn-and-move-everything path). A non-empty
    // partition spec renders with a bare attribute before the first comma;
    // the empty form starts directly with "<col> DESC/ASC …".
    assert("windowspecdefinition\\(\\S+, ".r.findFirstIn(p).isDefined,
      s"bounded window key folded away (empty partition spec):\n$p")
    assert(p.contains("ReadSchema: struct<text:string>"), s"only text may be read:\n$p")
  }

  test("q_chunk_docs: chunking is a zero-shuffle generate+project") {
    val p = plan("q_chunk_docs")
    assert(!p.contains("Exchange"), s"chunking 100 TB must stay map-only:\n$p")
    assert(p.contains("Generate posexplode"), s"chunk fan-out must be a Generate:\n$p")
  }

  test("q_chunk_tokens: token-budget chunking is a zero-shuffle generate+project") {
    val p = plan("q_chunk_tokens")
    assert(!p.contains("Exchange"), s"chunking 100 TB must stay map-only:\n$p")
    assert(p.contains("Generate posexplode"), s"chunk fan-out must be a Generate:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"only doc_id+text may be read:\n$p")
  }

  test("q_token_ids: vocab is a plan literal — corpus scan has no join and no exchange") {
    // The V-entry vocabulary must ride into the plan as one map literal
    // looked up inside a single transform over the unexploded token
    // array: the corpus side of the trainer-input stream never joins,
    // never explodes, never shuffles (the vocab training agg is a
    // separate bounded job, not part of this plan).
    val p = plan("q_token_ids")
    assert(!p.contains("Exchange"), s"token-id lookup must stay map-only:\n$p")
    assert(!p.contains("Join"), s"vocab must be a plan literal, not a join:\n$p")
    assert(!p.contains("Generate"), s"the token array must not explode:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"only doc_id+text may be read:\n$p")
  }

  test("q_html_extract: main-content extraction is a zero-shuffle per-page map") {
    val p = plan("q_html_extract")
    assert(!p.contains("Exchange"), s"HTML extraction at 100 TB must stay map-only:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"only doc_id+text may be read:\n$p")
  }

  test("q_url_canonical: canonicalization is a zero-shuffle map over codegen regexp builtins") {
    val p = plan("q_url_canonical")
    assert(!p.contains("Exchange"), s"URL canonicalization at 100 TB must stay map-only:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"only doc_id+source may be read:\n$p")
  }

  test("q_url_dedup: ONE partial-agg'd exchange on the canonical key, no window") {
    // min(doc_id)/count combine map-side, so a mega-duplicated URL
    // collapses to one row per input partition BEFORE the shuffle; a
    // window (rank-then-filter) would send the hot URL's whole row set to
    // one reducer instead.
    val p = plan("q_url_dedup")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges <= 2, s"canonical-URL dedup must be one agg shuffle (+driver sort):\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"the survivor agg must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no rank window on the URL key:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"only doc_id+source may be read:\n$p")
  }

  test("q_bpe_train: the corpus-scale pieces are partial-agg'd; no join, no window") {
    // Training's only corpus-scale work is (a) the word-frequency groupBy
    // feeding the bounded dictionary and (b) the token-total agg through
    // the native apply kernel; both must combine map-side. The merge loop
    // itself is bounded driver state and never appears in the plan.
    val p = plan("q_bpe_train")
    assert(!p.contains("Join"), s"training must not join the corpus:\n$p")
    assert(!p.contains("Window"), s"no window in the training plan:\n$p")
    assert(p.contains("ReadSchema: struct<text:string>"),
      s"only text may be read for the token totals:\n$p")
  }

  test("q_pack_context: hierarchical prefix sum — no full-stream window, offsets broadcast") {
    // (lang, source) cardinality is O(100) at any corpus size; a window
    // partitioned on it alone would force ~1 TB through one reducer at
    // 100 TB (AQE cannot split a window partition). The hierarchical plan
    // must (a) run every window with the bounded __blk sub-key in scope,
    // (b) partition the heavy doc_id-ordered window by (lang, source,
    // __blk), and (c) re-base via a broadcast join — never a sort-merge
    // join or a global range sort.
    val p = plan("q_pack_context")
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, s"expected window operators:\n$p")
    windowLines.foreach { l =>
      assert(l.contains("__blk"), s"window without the block sub-key (hot-stream hazard):\n$l\n$p")
    }
    val heavy = windowLines.filter(_.contains("doc_id"))
    assert(heavy.nonEmpty, s"missing the doc_id-ordered local-prefix window:\n$p")
    heavy.foreach { l =>
      assert(
        l.indexOf("__blk") < l.indexOf("doc_id"),
        s"local-prefix window must PARTITION by __blk (not just order near it):\n$l"
      )
    }
    assert(p.contains("BroadcastHashJoin"), s"block offsets must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"offset re-base must not sort-merge:\n$p")
    assert(!p.contains("rangepartitioning"), s"packing must not global-sort:\n$p")
  }

  test("q_weighted_sample: hierarchical prefix — blocked windows, broadcast re-base, no global sort") {
    // Same contract as the q_pack_context pin: the heavy weight-prefix
    // window must carry the bounded __blk sub-key (blocks come from the
    // md5 order key's high bits, balanced at any corpus size), offsets and
    // the 1-row total re-base via broadcast, and nothing range-sorts the
    // corpus.
    val p = plan("q_weighted_sample")
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, s"expected window operators:\n$p")
    windowLines.foreach { l =>
      assert(l.contains("__blk"), s"window without the block sub-key (hot-partition hazard):\n$l\n$p")
    }
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"offsets/total must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"re-base must not sort-merge:\n$p")
    assert(!p.contains("rangepartitioning"), s"sampling must not global-sort:\n$p")
  }

  test("q_compaction_plan: planner reads only the inventory columns, never range-sorts") {
    val p = plan("q_compaction_plan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"),
      s"inventory derivation must prune the text column:\n$p")
    assert(!p.contains("rangepartitioning"), s"planning must not global-sort:\n$p")
  }

  test("q_zorder_layout: one partial-agg shuffle over a pruned two-column scan") {
    val p = plan("q_zorder_layout")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"),
      s"only the two morton dims may be read:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one hash exchange (partial-agg'd z_bucket rollup), got $exchanges:\n$p")
    assert(!p.contains("windowspecdefinition"), s"report must be pure aggregation:\n$p")
  }

  test("q_percentile_normalize: CDF broadcast back onto an unshuffled fact scan — no hot-key window") {
    // The textbook percent_rank() PARTITION BY lang is an O(100)-key
    // window — a full language through one reducer at 100 TB. The plan of
    // record: counts collapse to the bounded (lang, value) domain FIRST,
    // the cumulative window runs over that aggregate, and the fact side
    // meets the CDF through a broadcast join (never a shuffle or a sort
    // of the corpus).
    val p = plan("q_percentile_normalize")
    assert(p.contains("BroadcastHashJoin"), s"CDF must broadcast onto the fact scan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side must not shuffle for the join:\n$p")
    assert(!p.contains("rangepartitioning"), s"no global sort:\n$p")
    // The only window runs post-aggregation: its input carries the count
    // column, not raw doc_ids.
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(!_.contains("doc_id")),
      s"window must run over the aggregated CDF, not the corpus:\n$p")
  }

  test("q_top_n_per_group: two-stage — map-side pre-cap before the 5-key rank window") {
    // Same contract as the q_cap_per_source pin: the SerializeFromObject
    // of the mapPartitions pre-cap must sit BELOW the window's exchange,
    // so each input partition ships <= 3 rows per priority instead of the
    // priority's whole row set into one reducer.
    val p = plan("q_top_n_per_group")
    assert(p.contains("MapPartitions"), s"map-side pre-cap missing:\n$p")
    val exchanges = p.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
    assert(exchanges == 1, s"expected exactly one (window) exchange, saw $exchanges:\n$p")
    val lines = p.linesIterator.toSeq
    val exIdx = lines.indexWhere(_.contains("Exchange"))
    val mpIdx = lines.indexWhere(_.contains("MapPartitions"))
    assert(mpIdx > exIdx, s"pre-cap must run below (before) the shuffle:\n$p")
  }

  test("q_dedup_paragraphs dedups through partial-agg groupBys — never a chunk-key window") {
    // First-occurrence selection must be min(struct) through a hash
    // aggregate (map-side combine collapses a boilerplate chunk repeated
    // in millions of docs BEFORE the exchange). A row_number window on the
    // chunk key would pull a hot chunk's every occurrence into one window
    // partition — the exact hazard the two-stage cap fixed.
    val p = plan("q_dedup_paragraphs")
    assert(!p.contains("windowspecdefinition"), s"no window on the chunk key:\n$p")
    assert(p.contains("HashAggregate"), s"expected hash aggregates:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_lm_quality and q_decontaminate_chars join on equi keys only — no cross join") {
    for (name <- Seq("q_lm_quality", "q_decontaminate_chars")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name candidate/count joins must be equi-joins:\n$p")
    }
  }

  test("q_embed_quantize and the kmeans/pca production tables never hash-shuffle (map-only plus output sort)") {
    val p0 = plan("q_embed_quantize")
    assert(!p0.contains("hashpartitioning"),
      s"q_embed_quantize is a pure per-row map; only the output orderBy may range-partition:\n$p0")
    // The registered q_embed_pca and q_kmeans_clusters are banded audit
    // reports (they aggregate); the map-only pin holds on the production
    // tables.
    for ((label, df) <- Seq(
        "pcaProjections" -> SimilarityQueries.pcaProjections(spark, sfDir),
        "kmeansAssignments" -> VectorOps.kmeansAssignments(spark, sfDir))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("hashpartitioning"),
        s"$label is a pure per-row map; only the output orderBy may range-partition:\n$p")
    }
  }

  test("q_semdedup's within-cluster self-join reuses one assignment exchange") {
    // Reuse markers only appear in the FINAL adaptive plan — execute first
    // (same device as the LSH reuse audit above). Pin the PRODUCTION drop
    // table (the registered query is its banded report wrapper, whose
    // 1-row broadcast crossJoin would trip the no-BNLJ assertion).
    val df = VectorOps.semdedupProduction(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("ReusedExchange") || l.contains("ReusedQueryStage")),
      s"cluster assignment must compute once, not once per join side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // Scale pin: assignment is the single two-level ivf_assign kernel —
    // O(2√k·dim) per row — never a flat array of O(k) cosine kernels.
    assert(p.toLowerCase.contains("ivfassign"),
      s"q_semdedup must assign through the two-level ivf_assign kernel:\n${p.take(2000)}")
    assert("cosinesim\\(".r.findAllIn(p.toLowerCase).length <= 32,
      "q_semdedup per-row assignment must not carry O(k) compiled cosine kernels")
  }

  test("q_mix_report and q_sampling_weights join their 1-row totals by broadcast") {
    for (name <- Seq("q_mix_report", "q_sampling_weights")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin"), s"$name must broadcast the total, not sort-merge:\n$p")
      assert(p.contains("Broadcast"), s"$name total must broadcast:\n$p")
    }
  }

  test("q_incremental_watermark: watermark predicate is pushed (partition-prunable at scale)") {
    val pf = pushedFilters("q_incremental_watermark").mkString("; ")
    assert(pf.contains("GreaterThan(ts"), s"watermark not pushed, got: $pf")
  }

  test("q_anomaly_zscore: K-row stats broadcast onto an unshuffled fact scan") {
    val p = plan("q_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"), s"stats must broadcast:\n$p")
    // The only shuffle is the fixed-width stats aggregate — the fact side
    // reaches the join straight from its scan.
    val ex = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(ex == 1, s"expected exactly the stats-agg shuffle, saw $ex:\n$p")
  }

  test("q_corr_stats: one partial-agg shuffle carries all five moments") {
    val p = plan("q_corr_stats")
    val ex = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(ex == 1, s"five moments must ride ONE fixed-width aggregate shuffle, saw $ex:\n$p")
    assert(p.contains("partial_count"), "moment aggregation must be map-side partial")
  }

  test("q_dedup_incremental: batch probes the index through an anti-join") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftAnti"), s"index membership must be an anti-join probe:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_entity_match: candidates come from the blocking key, never all-pairs") {
    val p = plan("q_entity_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"entity matching must join on the blocking key:\n$p")
  }

  test("q_resample_interpolate: one window shuffle, running frames only") {
    val p = plan("q_resample_interpolate")
    // Two hash shuffles total: the per-user grid-bounds aggregate and the
    // window partition (both window sorts ride the same exchange).
    val ex = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(ex == 2, s"expected bounds-agg + window shuffles only, saw $ex:\n$p")
    // Scale pin: every frame is a RUNNING frame (O(n) per partition).
    // A CurrentRow..UnboundedFollowing frame is recomputed per row —
    // O(n²) per partition, measured 2× the query's cost at sf0.1.
    assert(!p.toLowerCase.contains("unboundedfollowing"),
      s"the next-reading frame must run over the reversed sort, not a following frame:\n$p")
  }

  test("q_inverted_index: two partial-agg'd shuffles, best-doc inside the agg — no window, no join") {
    // (term, doc) tf combines map-side, the term rollup combines again,
    // and the per-term top doc rides the SAME aggregate as a
    // lexicographic max(struct) — a row_number window (the oracle's
    // formulation) would send each term's whole posting list to one
    // reducer; a join back against the tf table would shuffle it twice.
    val p = plan("q_inverted_index")
    assert(!p.contains("Window"), s"no rank window over posting lists:\n$p")
    assert(!p.contains("Join"), s"best-doc must ride the aggregate, not a join:\n$p")
    val ex = p.linesIterator.count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(ex == 2, s"expected exactly the two agg shuffles, saw $ex:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"only doc_id+text may be read:\n$p")
  }

  test("q_bm25: corpus never explodes or shuffles; stats broadcast back; top-k never global-sorts") {
    // The fixed query makes tf a row-local size(filter(tokens)) — no
    // Generate, no exchange on the corpus scan (the only exchange is the
    // 1-row stats aggregate); ranking is a TakeOrderedAndProject.
    val p = plan("q_bm25")
    assert(!p.contains("Generate"), s"the token array must not explode:\n$p")
    assert(!p.contains("Window"), s"no window in the scoring plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    val ex = p.linesIterator.count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(ex == 0, s"the corpus scan must not shuffle (stats agg is single-partition):\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"only doc_id+text may be read:\n$p")
  }

  test("q_dq_checks: six checks, two lineitem scans — conditional sums share one, no window") {
    // Five constraints must ride ONE conditional-sum scan (a per-check
    // scan burns 6× the I/O at 100 TB); only the referential anti-join
    // legitimately reads lineitem a second time. The distinct for
    // uniqueness shares the base-aggregate scan via expand.
    val p = plan("q_dq_checks")
    assert(!p.contains("Window"), s"no window in a constraint report:\n$p")
    val liScans = p.linesIterator.count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 2, s"expected <= 2 lineitem scans (metrics + anti-join), saw $liScans:\n$p")
    assert(p.contains("LeftAnti"), s"referential check must be an anti-join:\n$p")
  }

  test("q_dq_freshness: one partial-agg'd feed rollup + a broadcast watermark; integer time math") {
    val p = plan("q_dq_freshness")
    assert(!p.contains("Window"), s"no window in the freshness report:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 1-row watermark must broadcast:\n$p")
    // The footer flavor varies (timestamp vs timestamp_ntz vs legacy
    // int64), so match the full two-column ReadSchema structurally rather
    // than a substring a wider scan would also contain.
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    // (The 1-row watermark aggregate scans ts alone — a scan may prune
    // FURTHER, never wider.)
    assert(readSchemas.nonEmpty && readSchemas.forall { s =>
      val cols = s.split(",").map(_.takeWhile(_ != ':')).toSet
      cols.subsetOf(Set("ts", "event_type"))
    }, s"only ts+event_type may be read, got $readSchemas:\n$p")
  }

  test("q_link_extract: extract+resolve+canonicalize is one Generate, zero exchanges") {
    // A million cached pages must harvest their frontier candidates
    // map-only: regexp_extract_all + posexplode + string builtins, no
    // shuffle anywhere (the driver-side orderBy in the registered query
    // sorts the bounded verify output, not the extraction).
    val p = plan("q_link_extract")
    assert(p.contains("Generate posexplode"), s"href fan-out must be a Generate:\n$p")
    val ex = p.linesIterator.count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(ex == 0, s"extraction must not shuffle:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"only doc_id+source may be read:\n$p")
  }

  test("q_url_frontier: one partial-agg'd URL rollup, pre-capped host window, no cartesian") {
    // The URL rollup combines map-side; the per-host cap follows the
    // q_cap_per_source two-stage shape (mapPartitions bounded-heap
    // pre-cap, then the window over <= 10 rows per host per partition) so
    // a mega-host never funnels its full URL set through one reducer.
    val p = plan("q_url_frontier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"), s"final per-host rank must be windowed:\n$p")
    assert(p.contains("MapPartitions") || p.contains("SerializeFromObject"),
      s"the bounded-heap pre-cap must precede the window:\n$p")
  }

  test("q_frontier_politeness: the politeness plan costs the frontier plus a projection — no added exchange") {
    // delay/offset/wave are pure arithmetic over the already-capped
    // frontier candidates, so the plan must carry EXACTLY the exchanges
    // q_url_frontier carries — an extra shuffle here means the projection
    // accidentally re-partitioned the capped set.
    def exchanges(name: String): Int =
      plan(name).linesIterator.count(l => l.contains("Exchange") && !l.contains("Reused"))
    val frontier = exchanges("q_url_frontier")
    val polite = exchanges("q_frontier_politeness")
    assert(polite == frontier,
      s"politeness added exchanges: frontier=$frontier politeness=$polite")
    assert(!plan("q_frontier_politeness").contains("CartesianProduct"))
  }

  test("q_time_travel: inventory-only as-of read — one broadcast, pick inside the aggregate, no window") {
    // The as-of day broadcasts as a 1-row join; the per-slot pick rides
    // the groupBy as max(struct(...)) — a Window or a second join over
    // the inventory would re-shuffle what the aggregate already ordered.
    val p = plan("q_time_travel")
    assert(!p.contains("Window"), s"pick must ride the aggregate, not a window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row as-of side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no inventory-sized join may appear:\n$p")
  }

  test("q_decontaminate_semantic: bounded eval set broadcast onto an unshuffled corpus scan") {
    // The eval benchmark collapses to ONE collect_list row and broadcasts;
    // the corpus-side scoring is a single map (array_max over K cosine
    // kernels) — no hash exchange may touch the corpus, no explode may
    // multiply it.
    val p = plan("q_decontaminate_semantic")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row eval side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus-sized join may appear:\n$p")
    assert(!p.contains("Generate"), s"the eval array must not explode against the corpus:\n$p")
    // The only hash exchanges allowed are the 1-row eval aggregation's —
    // nothing partitioned by corpus columns.
    val corpusExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("vec_id") && !l.contains("Reused"))
    assert(corpusExchanges == 0, s"corpus must not shuffle:\n$p")
  }

  test("q_embed_truncate: one map pass + one 3-key partial agg; embedding-only scan") {
    // Per-row energy folds are row-local; the only exchange is the
    // partial-agg'd rollup on the 3-value trunc_dim key. vec_id is unused
    // and must be pruned from the scan.
    val p = plan("q_embed_truncate")
    assert(!p.contains("Join") && !p.contains("Window"))
    val ex = p.linesIterator.count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(ex <= 1, s"expected only the trunc_dim rollup exchange, saw $ex:\n$p")
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"),
      s"only the embedding column may be read:\n$p")
  }

  test("q_graph_triangles: oriented-edge joins, no cartesian, pair pipeline runs once") {
    // The audit references the edge list four times; the scratch-parquet
    // barrier (derive once into EtlQueries.scratchDir, read back — chosen
    // over localCheckpoint, which measured 4x slower by materializing the
    // non-adaptive plan) must make the pair pipeline run ONCE, and
    // triangle closure must be equi-joins on the oriented edge list.
    val df = QueryRegistry.queries("q_graph_triangles")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"triangle closure must be equi-joins:\n$p")
    // The only nested-loop join allowed is the report assembly's 1-row
    // aggregate crossJoin — every edge-closure join must be a hash or
    // sort-merge equi-join. (The adaptive plan string prints Final AND
    // Initial sections; count only the final one.)
    val finalSection = p.split("== Initial Plan ==").head
    val bnlj = finalSection.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row report crossJoin may nested-loop, saw $bnlj:\n$p")
    assert(
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"),
      s"edge closure must be an equi-join:\n$p")
    // Every edge reference must consume the materialized scratch edges —
    // the corpus-scale shingle pipeline must not appear in this plan.
    assert(p.contains("graft_tri"),
      s"edge list must scan the scratch materialization (graft_tri dir):\n$p")
    assert(!p.contains("documents.parquet"),
      s"the report must not re-derive pairs from the corpus:\n$p")
  }

  test("q_late_arrival_profile: every event-scale window carries the __blk sub-key") {
    // The oracle's formulation — one global ORDER BY arrival running max —
    // is the banned single-reducer window; the plan must run every
    // event-scale window partitioned by the balanced __blk blocks, with
    // the only unblocked window the bounded (<= 4096-row) block-table
    // prefix (which rides the boundedWindowKey literal partition).
    val p = plan("q_late_arrival_profile")
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty, s"expected window operators:\n$p")
    windowLines.foreach { l =>
      assert(l.contains("__blk") || l.contains("coalesce"),
        s"unblocked event-scale window crept in:\n$l")
    }
    assert(!p.contains("CartesianProduct"))
  }

  test("q_phrase_search: postings filter before the intersection; equi-join only") {
    // The term filter must cut the exploded token stream BEFORE the
    // positional join, and the (doc, pos) intersection must be an
    // equi-join — a theta/cartesian form would pair every posting of
    // term1 with every posting of term2 per doc.
    val p = plan("q_phrase_search")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"positional intersection must be an equi-join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"only doc_id+text may be read:\n$p")
  }

  test("q_sessionize_batch: lag, running sum, and session agg ride ONE user_id exchange") {
    // Both window passes (the gap lag and the running is_new sum) share the
    // (user_id | ts, event_id) spec, and the closing groupBy's keys
    // (user_id, session_id) are a refinement of HashPartitioning(user_id),
    // so the whole sessionization must cost exactly one hash shuffle; the
    // only other exchange is the output ORDER BY's range partitioning.
    val p = plan("q_sessionize_batch")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Reused")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 1,
      s"windows + aggregate must share one user_id shuffle:\n$p")
    assert(exchanges.count(_.contains("rangepartitioning")) == 1,
      s"only the output sort may range-shuffle:\n$p")
    assert(p.contains("windowspecdefinition"), s"expected window operators:\n$p")
  }

  test("q_survivorship: keeper election is a partial-agg'd max(struct) — no per-cluster window") {
    // The election must combine map-side (one max(len, -doc_id) struct per
    // cluster per partition) — a row_number window over cluster_id would
    // sort every cluster's full membership through a single pass instead.
    val p = plan("q_survivorship")
    assert(p.contains("partial_max"),
      s"keeper election must be a partial-agg'd max(struct):\n$p")
    val clusterWindows = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") &&
        (l.contains("cluster_id") || l.contains("comp#"))).toSeq
    assert(clusterWindows.isEmpty,
      s"per-cluster window crept into the election:\n${clusterWindows.mkString("\n")}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_rerank: candidate set broadcasts onto the feature scan; arms stay TakeOrdered") {
    // The fused RRF top-k must reach the documents scan as a BROADCAST
    // (k rows — a shuffle join would repartition the corpus to fetch 10
    // docs), and both retrieval arms must end in TakeOrderedAndProject
    // (top-k heap), never a global sort of scores.
    val p = plan("q_rerank")
    assert(p.contains("BroadcastHashJoin"), s"candidate fetch must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"arms must stay top-k heaps:\n$p")
    // (the 1-row query-vector broadcast is a legitimate BroadcastNestedLoop;
    // an unbounded CartesianProduct is not)
    assert(!p.contains("CartesianProduct"), s"no unbounded cartesian:\n$p")
  }

  test("q_robots_filter: rules broadcast; the decision adds no window over the frontier's") {
    // The host-rules table (distinct hosts × a row-local rule array) must
    // BROADCAST back onto the candidates, and the longest-match election is
    // a row-local array_max — the plan may contain only the windows the
    // frontier itself already pays (the per-host rank).
    val p = plan("q_robots_filter")
    assert(p.contains("BroadcastHashJoin"), s"rules join must broadcast:\n$p")
    val frontierWindows = plan("q_url_frontier").linesIterator.count(_.contains("windowspecdefinition"))
    val robotsWindows = p.linesIterator.count(_.contains("windowspecdefinition"))
    assert(robotsWindows <= frontierWindows,
      s"robots decision added a window beyond the frontier's ($robotsWindows > $frontierWindows):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_gopher_quality: all rules in one zero-shuffle codegen pass over the scan") {
    // Every Gopher rule is row-local — the only exchange allowed is the
    // presentation ORDER BY's range partitioning; no join, no window, no
    // hash shuffle may appear.
    val p = plan("q_gopher_quality")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Reused")).toSeq
    assert(exchanges.count(_.contains("hashpartitioning")) == 0,
      s"row-local rules must not shuffle:\n$p")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"), s"no window/join:\n$p")
  }

  test("q_interval_concurrency: one scan, sweep-line shuffles — never an interval self-join") {
    // The sweep must read lineitem ONCE (boundary rows via Generate, not a
    // two-scan union), collapse deltas in a partial-agg'd groupBy, and pay
    // exactly two hash exchanges (the (supp, day) collapse + the supp
    // window); the peak election rides the window's partitioning. Any join
    // here means the quadratic interval self-join crept back.
    val p = plan("q_interval_concurrency")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"boundary rows must come from ONE scan:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"sweep-line must not join:\n$p")
    val hash = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused") && l.contains("hashpartitioning"))
    assert(hash == 2, s"expected the collapse + window exchanges only (got $hash):\n$p")
    assert(p.contains("partial_sum"), s"delta collapse must partial-agg:\n$p")
  }

  test("q_anchor_text: one scan, two partial-agg rollups, election inside the agg") {
    // The dominant-anchor election must ride max(struct) in the second
    // rollup — a per-url rank window (the oracle's relational form) or a
    // join back would add a corpus-scale sort/shuffle.
    val p = plan("q_anchor_text")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"anchors must come from ONE page scan:\n$p")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"no window/join in the rollup:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"pair counts must partial-agg:\n$p")
  }

  test("q_drift_psi: cuts broadcast back; bounded-domain rollups; no window") {
    // The reference deciles and the 1-row median must come back as
    // broadcasts; binning + counting is a partial-agg'd rollup; nothing
    // here may windows-sort the event stream, and the only nested-loop is
    // the 1-row median broadcast.
    val p = plan("q_drift_psi")
    assert(!p.contains("windowspecdefinition"), s"no window in the drift monitor:\n$p")
    assert(p.contains("BroadcastExchange"), s"cuts/median must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbounded cartesian:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"bin counts must partial-agg:\n$p")
  }

  test("q_robots_parse: parsed rules broadcast; decision adds no window over the frontier's") {
    // Same contract as q_robots_filter with the parser in front: the
    // host-keyed parsed-rule table (host-cardinality typed map) must
    // BROADCAST onto the candidates and the regexp election stays
    // row-local — only the frontier's own per-host rank window may appear.
    val p = plan("q_robots_parse")
    assert(p.contains("BroadcastHashJoin"), s"parsed rules join must broadcast:\n$p")
    val frontierWindows = plan("q_url_frontier").linesIterator.count(_.contains("windowspecdefinition"))
    val robotsWindows = p.linesIterator.count(_.contains("windowspecdefinition"))
    assert(robotsWindows <= frontierWindows,
      s"parsed-robots decision added a window beyond the frontier's ($robotsWindows > $frontierWindows):\n$p")
    assert(p.contains("MapElements") || p.contains("SerializeFromObject"),
      s"the real parser must run as the host-table typed map:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_drift_psi_approx: one dual-bin rollup bins both cut sets; no window") {
    // The exact and sketch cut arrays must come back as broadcasts and the
    // corpus must be binned ONCE for both cut sets: the static plan
    // duplicates the (type, bin_e, bin_a) rollup subtree under each of its
    // consumers (exact/sketch byBin, totals, term join), but the subtrees
    // are identical so AQE stage reuse collapses them — assert on the
    // EXECUTED plan (the q_oov_rate device), where the dedup is visible.
    val df = QueryRegistry.queries("q_drift_psi_approx")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition"), s"no window in the sketch twin:\n$p")
    assert(p.contains("BroadcastExchange"), s"cuts/median must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbounded cartesian:\n$p")
    assert(p.linesIterator.exists(l => l.contains("ReusedExchange") || l.contains("ReusedQueryStage")),
      s"the dual-bin rollup must compute once and be stage-reused by its consumers:\n$p")
  }

  test("q_rerank_learned: candidates broadcast; arms stay TakeOrdered; no cartesian") {
    // The learned head must not change the serve-side plan shape: the same
    // ≤k-row broadcast feature join and top-k heap arms as q_rerank — the
    // model rides as plan constants, invisible to the physical plan.
    val p = plan("q_rerank_learned")
    assert(p.contains("BroadcastHashJoin"), s"candidate fetch must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"arms must stay top-k heaps:\n$p")
    assert(!p.contains("CartesianProduct"), s"no unbounded cartesian:\n$p")
  }

  test("q_politeness_parsed: parsed delays broadcast; schedule adds no window over the frontier's") {
    // Crawl-delays come off the host-cardinality parse and must BROADCAST
    // onto the capped frontier; the schedule is projection arithmetic —
    // only the frontier's own per-host rank window may appear.
    val p = plan("q_politeness_parsed")
    assert(p.contains("BroadcastHashJoin"), s"delay table must broadcast:\n$p")
    val frontierWindows = plan("q_url_frontier").linesIterator.count(_.contains("windowspecdefinition"))
    val politeWindows = p.linesIterator.count(_.contains("windowspecdefinition"))
    assert(politeWindows <= frontierWindows,
      s"politeness added a window beyond the frontier's ($politeWindows > $frontierWindows):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_nearest_station: station dimension broadcasts; argmin is a partial-agg'd min(struct)") {
    // The 25-row station table must reach the points as a BROADCAST
    // (nested-loop over a bounded dimension is the honest plan; a shuffled
    // cartesian is not), and the nearest election must combine map-side —
    // no per-point window/sort.
    val p = plan("q_nearest_station")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"station dimension must broadcast:\n$p")
    assert(!p.contains("windowspecdefinition"), s"argmin must not window:\n$p")
    assert(p.contains("partial_min"), s"nearest election must partial-agg:\n$p")
    assert(!p.contains("CartesianProduct"), s"no shuffled cartesian:\n$p")
  }

  test("q_anonymity_audit: one partial-agg'd rollup over the quasi tuple, no join/window") {
    val p = plan("q_anonymity_audit")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"the audit is one rollup:\n$p")
    assert(p.contains("partial_count"), s"class sizes must partial-agg:\n$p")
  }

  test("q_recrawl_schedule: row-local ledger decision — no join/window beyond the parse") {
    // The classification is md5 arithmetic per advertised URL; the only
    // non-map work is the host-bounded sitemap parse and the presentation
    // sort.
    val p = plan("q_recrawl_schedule")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"recrawl decision must stay row-local:\n$p")
    assert(p.contains("MapElements") || p.contains("SerializeFromObject"),
      s"the real sitemap parser must run as the host-table typed map:\n$p")
  }

  test("q_nearest_station_cells: cell join replaces the cross — equi-join on cells, no cartesian") {
    // The scale twin's reason to exist: the candidate step must be an
    // EQUI-join on the (cx, cy) cell key (broadcast here; shuffled on the
    // same key at 10⁶ stations), never a cross/nested-loop over the full
    // station set, and the election stays the partial-agg'd min(struct).
    val p = plan("q_nearest_station_cells")
    assert(p.contains("BroadcastHashJoin"), s"cell candidate join must be an equi hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the cell path must not cross-join the station set:\n$p")
    assert(p.contains("partial_min"), s"nearest election must partial-agg:\n$p")
    assert(!p.contains("windowspecdefinition"), s"argmin must not window:\n$p")
  }

  test("q_skew_salted: two-stage salted aggregation — salt keys the first exchange only") {
    // The whole point of saltedAggregate is the plan shape: stage 1
    // shuffles on (key, __salt) so the hot key spreads over saltFactor
    // reducers (with map-side partial aggregation), stage 2 re-aggregates
    // the bounded partials on the true key. Exactly two hash exchanges
    // (the third is the presentation sort's range exchange), the first
    // carrying the salt, the second not.
    val p = plan("q_skew_salted")
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
      .toSeq
    assert(hashEx.size == 2, s"expected exactly two aggregation exchanges:\n$p")
    // Printed top-down the stage-2 (de-salted) exchange comes first; assert
    // membership rather than order so a formatting change can't flake it.
    assert(hashEx.count(_.contains("__salt")) == 1,
      s"exactly one exchange (stage 1) must key on the salt:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"both stages must partial-agg:\n$p")
    assert(!p.contains("windowspecdefinition") && !p.contains("Join"),
      s"salting is pure aggregation — no join/window:\n$p")
  }

  test("q_semi_join_bloom: might_contain prunes the probe scan below the semi join") {
    // The device's whole point: the bloom predicate must sit on the
    // lineitem side BEFORE the join (rows drop at the scan, never
    // crossing the shuffle), with the exact LeftSemi join above it
    // removing false positives.
    val p = plan("q_semi_join_bloom")
    assert(p.contains("might_contain"), s"bloom predicate missing from the plan:\n$p")
    assert(p.contains("LeftSemi"), s"the exact semi join must decide membership:\n$p")
    assert(!p.contains("CartesianProduct"), s"bloom pruning must stay an equi-join:\n$p")
    // The predicate belongs to the probe side: it must appear AFTER (i.e.
    // deeper than) the join operator in the printed tree.
    val joinAt = p.indexOf("LeftSemi")
    val bloomAt = p.indexOf("might_contain")
    assert(bloomAt > joinAt, s"might_contain must be below the join (probe side):\n$p")
  }

  test("q_crawl_e2e: composition adds no shuffle beyond its parts — broadcast rules, row-local redirects, one rollup") {
    // The composed crawl chain may contain ONLY the frontier's own windows
    // (per-host rank), ONE broadcast for the robots rules, and the final
    // dedup rollup's aggregation — the redirect hops and canonicalization
    // are row-local expressions, so no extra window, no cartesian, and no
    // join beyond the frontier's + the broadcast may appear.
    val p = plan("q_crawl_e2e")
    assert(p.contains("BroadcastHashJoin"), s"rules join must broadcast:\n$p")
    val frontierWindows = plan("q_url_frontier").linesIterator.count(_.contains("windowspecdefinition"))
    val crawlWindows = p.linesIterator.count(_.contains("windowspecdefinition"))
    assert(crawlWindows <= frontierWindows,
      s"crawl composition added a window beyond the frontier's ($crawlWindows > $frontierWindows):\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere in the chain:\n$p")
    assert(!p.contains("SortMergeJoin"), s"the only join beyond the frontier's must broadcast:\n$p")
  }

  test("charset detect/decode: one codegen map pass over the scan — no join, no aggregation shuffle") {
    // The bytes→text chain must stay embarrassingly parallel: synthesis,
    // cascade, and decode are all builtins in one projection; the only
    // exchange is the presentation sort's range partitioning.
    for (q <- Seq("q_charset_detect", "q_charset_decode")) {
      // Execute first: codegen spans only appear in the FINAL adaptive
      // plan (the q_oov_rate device).
      val df = QueryRegistry.queries(q)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
        s"$q must not shuffle or join:\n$p")
      // The simple plan string marks codegen stages as `*(n)`.
      assert(p.contains("*("), s"$q must stay inside codegen:\n$p")
    }
  }

  test("q_skew_salted_join: the join keys on (key, salt); the dimension explodes, the fact never does") {
    // The playbook's join half: the fact side gains only a salt column
    // (never replicates), the DIMENSION side explodes across the salt
    // range, and the merge-hinted join condition carries __salt — so one
    // hot key lands on saltFactor reducers.
    val p = plan("q_skew_salted_join")
    assert(p.contains("SortMergeJoin"), s"merge hint must pin the shuffle-join regime:\n$p")
    assert(p.contains("__salt"), s"join must key on the salt:\n$p")
    assert(p.contains("Generate explode") || p.contains("Generate"),
      s"the dimension side must explode across salts:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salting must stay an equi-join:\n$p")
  }

  test("q_oov_rate: the word-count shuffle computes once (stage reuse for the max)") {
    // The corpus-max threshold re-aggregates the SAME word-count exchange
    // the vocab join consumes — reuse markers only appear in the final
    // adaptive plan, so execute first.
    val df = QueryRegistry.queries("q_oov_rate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("ReusedExchange") || l.contains("ReusedQueryStage")),
      s"threshold side must reuse the word-count exchange:\n$p")
  }
}
