package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query executes and returns rows at sf0.001.
  * (Value-level correctness is the driver's DuckDB oracle gate; see
  * tools/check_oracle.py for the local mimic.)
  */
class QueryRegistrySpec extends AnyFunSuite with SparkSpec {

  QueryRegistry.all.foreach { q =>
    test(s"${q.name} returns rows at sf0.001") {
      assert(q.build(spark, sfDir).count() > 0)
    }
  }

  test("every oracle key has a matching query and names are unique") {
    assert(QueryRegistry.oracleSql.keySet.subsetOf(QueryRegistry.queries.keySet))
    val names = QueryRegistry.all.map(_.name)
    assert(names.distinct.length == names.length)
  }

  test("SparkEntry.entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query appears in SURVEY.md §2 (the coverage contract)") {
    // SURVEY.md §2 is what gets reviewed line by line — a query registered
    // but absent from it is invisible to review (exactly how r13's broken
    // q_sessionize_batch shipped). Make the sync structural: registering a
    // query REQUIRES documenting it.
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val missing = QueryRegistry.queries.keySet.filterNot(n => survey.contains(s"`$n`"))
    assert(missing.isEmpty,
      s"registered but undocumented in SURVEY.md §2: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("bloom decontamination flags a superset of the exact overlap, with few false positives") {
    import org.apache.spark.sql.functions.col
    def byDoc(name: String, cnt: String): Map[Long, Long] =
      QueryRegistry.queries(name)(spark, sfDir)
        .select(col("doc_id"), col(cnt))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .toMap
    val exact = byDoc("q_decontaminate", "n_contaminated_grams")
    // The registered bloom query now reports the exact rows + a caught
    // flag; the raw per-doc bloom counts come from the shared production
    // probe directly (deterministic — Spark's bloomFilter has no random
    // seed).
    val bloom = TextQueries.bloomFlaggedGrams(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Zero false negatives: every contaminated doc is flagged, with at
    // least as many flagged grams as truly contaminated ones.
    for ((doc, n) <- exact) {
      assert(bloom.contains(doc), s"doc $doc contaminated but not bloom-flagged")
      assert(bloom(doc) >= n, s"doc $doc: bloom ${bloom(doc)} < exact $n grams")
    }
    // And the report itself must carry bloom_caught = true on every row.
    val report = QueryRegistry.queries("q_decontaminate_bloom")(spark, sfDir).collect()
    assert(report.nonEmpty && report.forall(_.getBoolean(2)),
      "every exact-contaminated doc must report bloom_caught")
    // Few false positives: the filter's contract is fpp ≤ 0.1% PER GRAM
    // (it holds whenever ≤ expectedNumItems grams were inserted), and a
    // doc is FP-flagged if ANY of its probed grams false-positives — so
    // the contract-faithful per-DOC bound is
    // 1 − (1 − fpp)^gramsPerDoc ≈ 6% at this corpus's ≤64 grams/doc,
    // regardless of how oversized the filter happens to be for the
    // actual benchmark gram count.
    val corpus = Tables.documents(spark, sfDir).count() * 2 // base + planted
    val perDocFp = 1.0 - math.pow(1.0 - 0.001, 64)
    val fpDocs = (bloom.keySet -- exact.keySet).size
    assert(fpDocs <= math.max(2L, math.ceil(corpus * perDocFp * 1.5).toLong),
      s"$fpDocs of $corpus docs false-positive flagged (bound ${corpus * perDocFp})")
  }

  test("approx profile matches the exact profile within HLL tolerance") {
    import org.apache.spark.sql.functions.col
    def profile(name: String): Map[String, (Long, Long, Long, String, String)] =
      QueryRegistry.queries(name)(spark, sfDir)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
        .toMap
    val exact = profile("q_profile")
    val approxRows = QueryRegistry.queries("q_profile_approx")(spark, sfDir).collect()
    val approx = approxRows
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(exact.keySet == approx.keySet)
    for ((c, (n, nNull, dist, minV, maxV)) <- exact) {
      val (an, aNull, aDist, aMin, aMax) = approx(c)
      // The report's exact columns (including n_distinct, now the exact
      // value) must equal the exact twin's.
      assert((an, aNull, aDist, aMin, aMax) == (n, nNull, dist, minV, maxV),
        s"$c exact fields differ from the exact twin")
    }
    // The HLL estimate itself is pinned by the in-band flag: rsd 0.02
    // sketch within ±10% (5 sigma) of exact, deterministic on fixed data.
    assert(approxRows.forall(_.getBoolean(6)), "every column must report ndv_in_band")
  }

  test("approx quantiles hit the requested rank within tolerance per group") {
    // approx_percentile's guarantee is on RANK, not value (it returns an
    // actual element, no interpolation — in a sparse tail the nearest
    // element can sit a few percent away in value while being rank-exact).
    // So the gate checks rank: the fraction of each group's values at or
    // below the returned quantile must bracket the requested percentile.
    // Computed inline (the registered query now reports band FLAGS, not
    // raw sketch values) — this keeps an independent rank gate on the
    // sketch itself, not just the band claim.
    import org.apache.spark.sql.functions._
    val approx = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, 0.5, 10000)").as("p50"),
        expr("approx_percentile(value, 0.95, 10000)").as("p95"))
      .select("event_type", "p50", "p95")
    val ranks = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"))
      .join(broadcast(approx), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        avg((col("value") <= col("p50")).cast("double")).as("r50"),
        avg((col("value") <= col("p95")).cast("double")).as("r95")
      )
      .collect()
    assert(ranks.length == 5)
    for (r <- ranks) {
      val (g, r50, r95) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      assert(r50 >= 0.47 && r50 <= 0.53, s"$g p50 rank $r50")
      assert(r95 >= 0.93 && r95 <= 0.97, s"$g p95 rank $r95")
    }
  }

  test("drift sketch deciles hit their ranks on the reference half (q_drift_psi_approx)") {
    // The registered twin reports band FLAGS; this is the independent rank
    // gate on the sketch itself, restating q_drift_psi_approx's setup: the
    // exact-median time split, then each approx decile cut's achieved rank
    // among the REFERENCE half's values must sit within ±0.02 of 0.1·k —
    // the same ±2%-rank band the in-query bracketing claims.
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
    val med = ev.agg(expr("percentile(us, 0.5)").as("med"))
    val ref = ev.crossJoin(broadcast(med)).filter(col("us") <= col("med"))
      .select("event_type", "value")
    val decs = (1 to 9).map(k => s"${k / 10.0}D").mkString(",")
    val cuts = ref.groupBy("event_type")
      .agg(expr(s"approx_percentile(value, array($decs), 10000)").as("qa"))
    val rankAggs = (1 to 9).map(k =>
      avg((col("value") <= element_at(col("qa"), k)).cast("double")).as(s"r$k"))
    val ranks = ref
      .join(broadcast(cuts), Seq("event_type"))
      .groupBy("event_type")
      .agg(rankAggs.head, rankAggs.tail: _*)
      .collect()
    assert(ranks.length == 5)
    for (r <- ranks; k <- 1 to 9) {
      val rank = r.getDouble(k)
      assert(math.abs(rank - k / 10.0) <= 0.02,
        s"${r.getString(0)} decile $k achieved rank $rank")
    }
  }

  test("q_drift_ks hand case: overlap gives D=0.5 below threshold, disjoint gives D=1 alert") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // Type 'a': ref {1,2,3,4} vs cur {3,4,5,6} → sup|F_ref−F_cur| = 0.5 at
    // v∈[2,4), under the n=4+4 critical value 1.358·√(8/16) ≈ 0.96.
    // Type 'b': disjoint halves → D = 1.0 → alert. The median time split
    // puts ts 1-4 in the reference half (median of us 1..8 is 4.5).
    val rows = for {
      (t, refVals, curVals) <- Seq(
        ("a", Seq(1.0, 2.0, 3.0, 4.0), Seq(3.0, 4.0, 5.0, 6.0)),
        ("b", Seq(1.0, 2.0, 3.0, 4.0), Seq(11.0, 12.0, 13.0, 14.0)))
      (v, i) <- (refVals ++ curVals).zipWithIndex
    } yield (i.toLong + (if (t == "a") 0L else 100L),
      new java.sql.Timestamp(1700000000000L + (i + 1) * 1000L), i.toLong, t, v)
    val dir = java.nio.file.Files.createTempDirectory("ks_hand").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = QueryRegistry.queries("q_drift_ks")(spark, dir).orderBy("event_type").collect()
    assert(out.length == 2)
    assert(math.abs(out(0).getAs[Double]("ks") - 0.5) < 1e-9)
    assert(!out(0).getAs[Boolean]("drift_alert"))
    assert(math.abs(out(1).getAs[Double]("ks") - 1.0) < 1e-9)
    assert(out(1).getAs[Boolean]("drift_alert"))
  }

  test("KS hand case: a type with an empty half gets NULL ks and alert in all three KS rows") {
    import spark.implicits._
    // Median of us over ts 1..8 (type 'a'), 1,2 ('r') and 7,8 ('c') is
    // 4.5: 'r' lies wholly in the reference half (n_cur = 0) and 'c'
    // wholly in the current half (n_ref = 0). 'a' is the overlap case of
    // the hand case above, D = 0.5.
    val rows = Seq(
      ("a", (1 to 8).map(_.toLong), Seq(1.0, 2.0, 3.0, 4.0, 3.0, 4.0, 5.0, 6.0)),
      ("r", Seq(1L, 2L), Seq(1.0, 2.0)),
      ("c", Seq(7L, 8L), Seq(1.0, 2.0)))
      .flatMap { case (t, secs, vals) => secs.zip(vals).map { case (sec, v) => (t, sec, v) } }
      .zipWithIndex
      .map { case ((t, sec, v), i) =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + sec * 1000L), i.toLong, t, v)
      }
    // One file named events.parquet: the event stream's glob reads only it.
    val dir = java.nio.file.Files.createTempDirectory("ks_empty_half")
    val tmp = dir.resolve("tmp").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, dir.resolve("events.parquet"))
    def byType(name: String, ks: String, alert: String): Map[String, (Long, Long, Any, Any)] =
      QueryRegistry.queries(name)(spark, dir.toString).collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"), r.getAs[Any](ks), r.getAs[Any](alert))))
        .toMap
    val exact = byType("q_drift_ks", "ks", "drift_alert")
    assert(exact("a") == ((4L, 4L, 0.5, false)))
    assert(exact("r") == ((2L, 0L, null, null)))
    assert(exact("c") == ((0L, 2L, null, null)))
    // q_drift_ks_approx keeps every type of its exact arm, as its oracle
    // does; the stream row's binned report keeps only types with
    // reference deciles, so 'c' drops there.
    val approx = byType("q_drift_ks_approx", "ks", "drift_alert")
    assert(approx.keySet == Set("a", "c", "r"))
    assert(approx("r") == ((2L, 0L, null, null)))
    assert(approx("c") == ((0L, 2L, null, null)))
    assert(approx("a")._4 == false)
    val stream = byType("q_stream_drift_ks", "ks_binned", "ks_alert")
    assert(stream.keySet == Set("a", "r"))
    assert(stream("r") == ((2L, 0L, null, null)))
    assert(stream("a")._4 == false)
    // q_drift_ks_approx's band flags follow KS: NULL on an empty half.
    val flags = QueryRegistry.queries("q_drift_ks_approx")(spark, dir.toString).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Any]("binned_le_exact"), r.getAs[Any]("gap_in_band"))))
      .toMap
    assert(flags == Map("a" -> ((true, true)), "c" -> ((null, null)), "r" -> ((null, null))))
    // PSI and its alert follow the same rule: smoothing alone would give
    // 'r' a large PSI with no current data at all.
    for ((name, alert) <- Seq(
        ("q_drift_psi", "drift_alert"),
        ("q_drift_psi_approx", "drift_alert"),
        ("q_stream_drift", "drift_alert"),
        ("q_stream_drift_ks", "psi_alert"))) {
      val got = byType(name, "psi", alert)
      assert(got.keySet == Set("a", "r"), name)
      assert(got("r") == ((2L, 0L, null, null)), name)
      assert(got("a")._3 != null && got("a")._4 != null, name)
    }
  }

  test("pack_context shards respect the budget and are contiguous per stream") {
    // Greedy exclusive-prefix packing invariants: within every (lang,
    // source) stream, shard ids start at 0 and never decrease in doc_id
    // order, and a shard's token total exceeds the 8192 budget by at most
    // its final (overflow) document — the property that makes the shards
    // usable as fixed-budget training batches.
    val out = QueryRegistry.queries("q_pack_context")(spark, sfDir).collect()
    val streams = out.groupBy(r => (r.getString(1), r.getString(2)))
    for (((lang, source), rows) <- streams) {
      val ordered = rows.sortBy(_.getLong(0))
      val shards = ordered.map(_.getLong(4))
      assert(shards.head == 0L, s"$lang/$source must start at shard 0")
      assert(shards.zip(shards.tail).forall { case (a, b) => a <= b },
        s"$lang/$source shard ids must be nondecreasing in doc_id order")
      for ((shard, docs) <- ordered.groupBy(_.getLong(4))) {
        val toks = docs.map(_.getLong(3))
        assert(toks.sum <= 8192L + toks.last,
          s"$lang/$source shard $shard total ${toks.sum} exceeds budget + overflow doc")
      }
    }
  }

  test("train/test split proportions land near 80/10/10 and are doc_id-stable") {
    val out = QueryRegistry.queries("q_train_test_split")(spark, sfDir)
    val n = out.count().toDouble
    val shares = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) / n).toMap
    assert(math.abs(shares("train") - 204.0 / 256) < 0.06, s"train share ${shares("train")}")
    assert(math.abs(shares("val") - 26.0 / 256) < 0.04, s"val share ${shares("val")}")
    assert(math.abs(shares("test") - 26.0 / 256) < 0.04, s"test share ${shares("test")}")
    // Stability: the assignment is a pure function of doc_id — rerunning
    // yields the identical mapping (no RNG, no partitioning dependence).
    val again = QueryRegistry.queries("q_train_test_split")(spark, sfDir)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("cross-split leakage flags only non-train docs, consistent with the split assignment") {
    import org.apache.spark.sql.functions.col
    val leak = QueryRegistry.queries("q_cross_split_leakage")(spark, sfDir)
    val split = QueryRegistry.queries("q_train_test_split")(spark, sfDir)
      .select(col("doc_id"), col("split").as("assigned"))
    assert(leak.filter(col("split") === "train").count() == 0,
      "train docs cannot leak INTO train")
    // Every flagged doc carries its true split label and a positive count.
    val joined = leak.join(split, "doc_id")
    assert(joined.filter(col("split") =!= col("assigned")).count() == 0)
    assert(leak.filter(col("n_leaked_grams") <= 0).count() == 0)
  }

  test("pack_stats fill rates are consistent with the packed shards") {
    import org.apache.spark.sql.functions.col
    val stats = QueryRegistry.queries("q_pack_stats")(spark, sfDir).collect()
    assert(stats.nonEmpty)
    for (r <- stats) {
      val (nShards, nTokens, fill) = (r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nShards >= 1, "every stream cuts at least one shard")
      // A stream's final doc may overflow the last shard's budget (the
      // packer closes the shard on it), so fill can nose above 1 by at
      // most one doc's tokens (~125/8192 here).
      assert(fill > 0.0 && fill <= 1.1, s"fill rate out of range: $fill")
      assert(math.abs(fill - nTokens.toDouble / (nShards * 8192.0)) < 1e-12)
    }
    // Shard counts agree with the packing query itself.
    val packed = QueryRegistry.queries("q_pack_context")(spark, sfDir)
      .groupBy("lang", "source")
      .agg(org.apache.spark.sql.functions.max("shard_id").as("mx"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2) + 1)).toMap
    for (r <- stats)
      assert(packed((r.getString(0), r.getString(1))) == r.getLong(2))
  }

  test("paragraph dedup removes every planted copy's chunks except at most the truncated tail") {
    import org.apache.spark.sql.functions.{col, countDistinct, sum => fsum}
    val out = QueryRegistry.queries("q_dedup_paragraphs")(spark, sfDir).cache()
    // A planted copy (doc_id ≥ 1e6) is a word-aligned prefix of its
    // original, so all its chunks except possibly the final truncated one
    // already appeared at the original's lower doc_id and must be dropped.
    val planted = out.filter(col("doc_id") >= 1000000L)
    assert(planted.filter(col("n_kept_chunks") > 1).count() == 0,
      "a planted copy kept more than its truncated tail chunk")
    // Global invariant: kept chunks across all docs == distinct chunks in
    // the corpus (each distinct chunk survives exactly once).
    val corpusChunks = SimilarityQueries.corpusWithDups(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          """transform(sequence(0, cast(ceil(size(split(trim(text), '\\s+')) / 20.0) as int) - 1),
            |  i -> array_join(slice(split(trim(text), '\\s+'), i * 20 + 1, 20), ' '))""".stripMargin
        )).as("chunk"))
      .agg(countDistinct(col("chunk"))).head().getLong(0)
    val kept = out.agg(fsum(col("n_kept_chunks"))).head().getLong(0)
    assert(kept == corpusChunks, s"kept $kept chunks, corpus has $corpusChunks distinct")
    out.unpersist()
  }

  test("int8 quantization codes stay in [-127,127] and error stays under scale/2") {
    import org.apache.spark.sql.functions.col
    val out = QueryRegistry.queries("q_embed_quantize")(spark, sfDir).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (scale, codes, err) = (r.getDouble(1), r.getString(2), r.getDouble(3))
      val cs = codes.split(",").map(_.toInt)
      assert(cs.forall(c => c >= -127 && c <= 127), s"code out of int8 range: ${cs.mkString(",")}")
      assert(cs.exists(c => math.abs(c) == 127), "max-magnitude element must hit ±127 exactly")
      // round() quantization error is at most half a step (+ the two
      // 1e-6 output roundings).
      assert(err <= scale / 2 + 2e-6, s"err $err exceeds half-step ${scale / 2}")
    }
  }

  test("CMS heavy-hitter estimates respect the Count-Min guarantee against exact counts") {
    import org.apache.spark.sql.functions.{col, explode, lower, split, trim}
    // The registered query now reports exact counts + an in-bound flag;
    // the raw estimates are recomputed inline (same fixed seed → same
    // sketch) so the guarantee stays checked on the estimates themselves.
    val out = QueryRegistry.queries("q_heavy_hitters")(spark, sfDir).collect()
    assert(out.nonEmpty && out.forall(_.getBoolean(2)), "every probe must report cms_in_bound")
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
    val cms = words.stat.countMinSketch("w", eps = 0.001, confidence = 0.99, seed = 42)
    val est = out.map(r => r.getString(0) -> cms.estimateCount(r.getString(0))).toMap
    val n = words.count()
    val exact = words.groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.nonEmpty)
    for ((w, e) <- est) {
      val t = exact.getOrElse(w, 0L)
      // CMS never under-counts; over-count bounded by ε·N (ε = 0.001).
      // Fixed seed makes this check deterministic, not probabilistic.
      assert(e >= t, s"'$w': CMS $e under-counts exact $t")
      assert(e <= t + (0.001 * n).toLong + 1, s"'$w': CMS $e exceeds exact $t + eps*N")
    }
  }

  test("approx winsorize clips within sketch tolerance of the exact form") {
    import org.apache.spark.sql.functions.{col, max => fmax, min => fmin}
    // Clipped output differs from the exact form only through the
    // thresholds, so compare those per group: the sketch's rank accuracy
    // bounds each threshold within a small slice of the group's value
    // range (2% is a generous ceiling at accuracy 10000). Row counts must
    // also agree — both forms clip every input row.
    def fromClipped(name: String): Map[String, (Double, Double, Long)] =
      QueryRegistry.queries(name)(spark, sfDir)
        .groupBy("l_returnflag")
        .agg(fmin(col("clipped")).as("lo"), fmax(col("clipped")).as("hi"),
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toMap
    val exact = fromClipped("q_winsorize")
    // The registered approx query now reports band flags, so derive the
    // sketch thresholds inline (same expression the query uses) and carry
    // the row count through the same clip-shaped join for the count gate.
    val approx = {
      import org.apache.spark.sql.functions.{broadcast, count => fcount, element_at, expr, greatest, least, lit}
      val stats = Tables.lineitem(spark, sfDir)
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.05D, 0.95D), 10000)").as("q"))
        .select(col("l_returnflag"),
          element_at(col("q"), 1).as("alo"), element_at(col("q"), 2).as("ahi"))
      Tables.lineitem(spark, sfDir)
        .select("l_returnflag", "l_extendedprice")
        .join(broadcast(stats), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(fmin(least(greatest(col("l_extendedprice"), col("alo")), col("ahi"))).as("lo"),
          fmax(least(greatest(col("l_extendedprice"), col("alo")), col("ahi"))).as("hi"),
          fcount(lit(1)).as("n"))
        .collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toMap
    }
    assert(exact.keySet == approx.keySet)
    val range = Tables.lineitem(spark, sfDir)
      .agg(fmax(col("l_extendedprice")) - fmin(col("l_extendedprice"))).head().getDouble(0)
    for ((g, (lo, hi, n)) <- exact) {
      val (alo, ahi, an) = approx(g)
      assert(an == n, s"group $g: row counts differ ($an vs $n)")
      assert(math.abs(alo - lo) <= 0.02 * range, s"group $g: lo $alo vs exact $lo")
      assert(math.abs(ahi - hi) <= 0.02 * range, s"group $g: hi $ahi vs exact $hi")
    }
  }

  test("SCD2 intervals chain per key: no overlaps, no gaps, exactly one current row") {
    import org.apache.spark.sql.functions.{col, lead}
    import org.apache.spark.sql.expressions.Window
    val out = QueryRegistry.queries("q_scd2_intervals")(spark, sfDir).cache()
    val users = out.select("user_id").distinct().count()
    assert(out.filter(col("is_current")).count() == users,
      "each key must have exactly one open interval")
    // Each interval's valid_to must equal the key's next valid_from.
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
    val chained = out
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull)
      .filter(col("valid_to") =!= col("next_from"))
      .count()
    assert(chained == 0, "intervals must chain half-open with no gaps or overlaps")
    out.unpersist()
  }

  test("SCD2 incremental merge: chain invariants hold and closed history passes through untouched") {
    import org.apache.spark.sql.functions.{col, lead, lit, min => fmin}
    import org.apache.spark.sql.expressions.Window
    val merged = QueryRegistry.queries("q_scd2_apply")(spark, sfDir).cache()
    // The merged dimension must satisfy the same chain invariants as a
    // from-scratch build (the convergence the oracle also gates).
    val users = merged.select("user_id").distinct().count()
    assert(merged.filter(col("is_current")).count() == users,
      "each key must still have exactly one open interval after the merge")
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
    val broken = merged
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull && col("valid_to") =!= col("next_from"))
      .count()
    assert(broken == 0, "merged intervals must chain half-open across the close boundary")
    // Closed-history passthrough: every interval already CLOSED in the
    // pre-merge dimension must appear in the merged table bit-identical —
    // the merge may only touch open intervals and append batch versions.
    val c = lit("2024-01-20 00:00:00").cast("timestamp")
    val closed0 = Tables.events(spark, sfDir)
      .filter(col("ts") < c)
      .select(col("user_id"), col("event_id"), col("value"), col("ts").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .filter(col("valid_to").isNotNull)
      .withColumn("is_current", lit(false))
    assert(closed0.exceptAll(merged).isEmpty,
      "closed pre-merge history must pass through the type-2 MERGE untouched")
    merged.unpersist()
  }

  test("LM quality surprisal is non-negative and covers every bigram position") {
    import org.apache.spark.sql.functions.{col, size => fsize, split => fsplit, trim => ftrim}
    val out = QueryRegistry.queries("q_lm_quality")(spark, sfDir)
    assert(out.filter(col("cross_entropy") < 0).count() == 0,
      "MLE surprisal with full-unigram denominator must be >= 0")
    // n_bigrams per doc is exactly word_count - 1.
    val words = Tables.documents(spark, sfDir)
      .select(col("doc_id"), (fsize(fsplit(ftrim(col("text")), "\\s+")) - 1).cast("long").as("expect"))
    assert(out.join(words, "doc_id").filter(col("n_bigrams") =!= col("expect")).count() == 0)
  }

  test("q_bpe_segments is the token stream behind q_bpe_tokens' counts, doc for doc") {
    import org.apache.spark.sql.functions.col
    // Production token-stream table — the registered q_bpe_segments is
    // its per-doc segment audit wrapper.
    val seg = TextQueries.bpeSegmentsTable(spark, sfDir)
    // Production budget table — the registered q_bpe_tokens is its banded
    // audit wrapper.
    val cnt = TextQueries.bpeTokenTable(spark, sfDir)
      .select(col("doc_id"), col("n_bpe_tokens").as("expect"))
    val joined = seg.join(cnt, "doc_id")
    assert(joined.count() == Tables.documents(spark, sfDir).count())
    // The emitted count column, the count query, and the space-split
    // symbol count of the segment string must all agree on every doc.
    import org.apache.spark.sql.functions.{size => fsize, split => fsplit}
    assert(joined.filter(col("n_bpe_tokens") =!= col("expect")).count() == 0)
    assert(joined
      .filter(fsize(fsplit(col("segments"), " ")) =!= col("n_bpe_tokens"))
      .filter(col("segments") =!= "") // empty text → zero symbols; split("") yields one empty slot
      .count() == 0)
  }
}
