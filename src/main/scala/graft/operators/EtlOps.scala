package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference ETL capabilities re-expressed as declarative Spark operators.
  *
  * Each operator is a pure DataFrame => DataFrame function (plans compose;
  * Catalyst optimizes across operator boundaries). Reference analogues are
  * cited as file:line into /root/reference.
  */
object EtlOps {

  /** Scale-adaptive scan spreader (r17, optimization guide §2.5 "input
    * skew: one huge unsplittable file ... repartition immediately after
    * the read"). The driver testdata ships each table as ONE parquet file
    * with ONE row group, so a scan yields ONE partition and every
    * downstream partial aggregate runs single-threaded no matter how many
    * cores the session has (StageProbe r17: q_corr_stats wall ≈ taskRun ≈
    * 3 s — a fully serial decimal-moment aggregate on local[32]).
    * Round-robin repartition to the session's shuffle parallelism ONLY
    * when the scan produces fewer partitions — at production layouts
    * (many files / row groups ≥ cores) this is a structural no-op, so no
    * shuffle is added at scale; locally it parallelizes the expensive
    * per-row work (decimal casts/sums, percentile buffers, explodes).
    * Round-robin (not hash-by-column): no key skew, and the partial
    * aggregate above it is order-free so placement cannot change results.
    * Call AFTER projecting/filtering to the needed columns (guide §2.3 —
    * the exchange then carries only what the aggregate reads).
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Shuffle-free per-partition top-k pre-cap for LOW-CARDINALITY keys
    * (the hot-key hazard: a bare rank window on a fixed-cardinality key
    * funnels the whole table through K reducers, and AQE cannot split a
    * window partition). Each input partition keeps only its own k best
    * rows per key under `ord` — a row with ≥ k strictly-better same-key
    * rows in its OWN partition can never reach the global top-k — so the
    * downstream window shuffles ≤ k rows per key per input partition.
    * The heap is a MAX-heap on `ord` (head = WORST kept row); `ord`'s
    * tie-break must mirror the downstream window's ordering exactly, or
    * the pre-cap can drop a row the window would have ranked. Used by
    * q_top_n_per_group and q_embed_outliers.
    */
  def topKPerKey[T, K](ds: Dataset[T], k: Int)(key: T => K)(implicit ord: Ordering[T]): Dataset[T] =
    ds.mapPartitions { it =>
      val best = scala.collection.mutable.HashMap
        .empty[K, scala.collection.mutable.PriorityQueue[T]]
      it.foreach { r =>
        val q = best.getOrElseUpdate(key(r), scala.collection.mutable.PriorityQueue.empty(ord))
        if (q.size < k) q.enqueue(r)
        else if (ord.lt(r, q.head)) { q.dequeue(); q.enqueue(r) }
      }
      best.valuesIterator.flatMap(_.iterator)
    }(ds.encoder)

  /** A non-foldable zero derived from a NON-NULL column (`coalesce(c % 1,
    * 0)`): partitioning a window on a literal zero does not survive the
    * optimizer — Catalyst constant-folds the key out of the window spec and
    * WindowExec is back on its warn-and-move-everything path. This key is
    * semantically a constant (one partition, identical results and cost)
    * but opaque to constant folding, so a BOUNDED-domain window keeps a
    * non-empty partition spec: the bounded-domain claim becomes structural
    * and the logs stay clean. Use ONLY over domains bounded by
    * construction (a daily aggregate, a top-V list, a K-query gate twin).
    */
  def boundedWindowKey(c: Column): Column = coalesce(pmod(c, lit(1)), lit(0))

  /** Incremental extract: keep only rows newer than a watermark.
    *
    * Reference: uscrn_dag.py:137-152 (`get_new_file_urls` filters file list by
    * `Last modified > last date_added_utc`). At scale the predicate is a
    * pushed-down timestamp filter that prunes date partitions of the main
    * table — no full scan of 100 TB history.
    */
  def incrementalSince(df: DataFrame, tsCol: String, watermark: Timestamp): DataFrame =
    df.filter(col(tsCol) > lit(watermark))

  /** Composite-key dedup with a deterministic winner.
    *
    * Reference: uscrn_dag.py:226-233 (`drop_duplicates(subset=[...])`),
    * nws_dag.py:173-180. pandas keeps first-encountered row; a distributed
    * engine has no stable "first", so the winner is the min of `orderCol`
    * (stable under any partitioning) — PROVIDED (keys, orderCol) identifies
    * one row. When orderCol can tie within a key, pass `tieCols` to break
    * the tie deterministically; without them, row_number falls back to
    * shuffle arrival order among the tied rows and a re-run or task retry
    * may keep a different one. One shuffle on the key columns.
    */
  def dedupByKey(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      tieCols: Seq[String] = Nil
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).asc +: tieCols.map(col(_).asc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Sentinel-guarded unit conversion (Celsius→Fahrenheit when > -90).
    *
    * Reference: uscrn_dag.py:208-209 (`np.where(celsius > -90, celsius*9/5+32,
    * celsius)`). Pure codegen'd expression — no UDF.
    */
  def celsiusToFahrenheit(c: Column): Column =
    when(c > -90, c * 9d / 5d + 32d).otherwise(c)

  /** Missing-value policy: map a sentinel to a replacement, else passthrough.
    *
    * Reference: nws_dag.py:141-144 (`gust ''→0`, `wind_chill ''→NaN`).
    */
  def replaceSentinel(c: Column, sentinel: Column, replacement: Column): Column =
    when(c <=> sentinel, replacement).otherwise(c)

  /** Fixed-offset timezone shift (AKST→UTC is +9h).
    *
    * Reference: nws_dag.py:152-156 (`lst_datetime + timedelta(hours=9)`).
    */
  def shiftHours(ts: Column, hours: Int): Column =
    ts + expr(s"INTERVAL $hours HOURS")

  /** Build a timestamp from integer yyyymmdd + hhmm parts.
    *
    * Reference: uscrn_dag.py:214-216 (string-concat + to_datetime('%Y%m%d%H%M')).
    * Integer arithmetic, no string formatting in the hot path.
    */
  def timestampFromParts(yyyymmdd: Column, hhmm: Column): Column =
    make_timestamp(
      (yyyymmdd / 10000).cast("int"),
      (yyyymmdd % 10000 / 100).cast("int"),
      (yyyymmdd % 100).cast("int"),
      (hhmm / 100).cast("int"),
      (hhmm % 100).cast("int"),
      lit(0)
    )

  /** Column-header normalization: lowercase, strip `°()`, `%`→pct, spaces→`_`.
    *
    * Reference: nws_dag.py:134-138. Pure metadata operation — free at scale.
    */
  def normalizeName(name: String): String =
    name.toLowerCase
      .replaceAll("[°()]", "")
      .replaceAll("%", "pct")
      .trim
      .replaceAll("\\s+", "_")

  def normalizeColumns(df: DataFrame): DataFrame =
    df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, normalizeName(c)))

  /** Drop columns whose name matches a regex (reference drops `soil.*`).
    *
    * Reference: uscrn_dag.py:211 (`df.filter(regex="^((?!soil).)*$")`).
    * Done as a `select` so the pruning reaches the parquet scan (ReadSchema).
    */
  def dropColumnsMatching(df: DataFrame, pattern: String): DataFrame = {
    val re = pattern.r
    df.select(df.columns.filter(c => re.findFirstIn(c).isEmpty).map(col).toIndexedSeq: _*)
  }

  /** Split a frame into (good, quarantined) by a badness predicate.
    *
    * Reference: uscrn_wind_dag.py:161-170 (wind < 0 or flag == "3" rows are
    * logged as bad, rest kept). Both sides are lazy plans over one scan.
    */
  def quarantine(df: DataFrame, isBad: Column): (DataFrame, DataFrame) =
    (df.filter(!coalesce(isBad, lit(false))), df.filter(coalesce(isBad, lit(false))))

  /** Forward-fill nulls in `valueCol` ordered by `orderCol` within `keyCols`.
    *
    * Reference: utils.py:`_ff_list` (list forward fill of the NWS Date row).
    * Distributed form: `last(ignoreNulls)` over an ordered window — one
    * shuffle on the partition key; no driver-side iteration.
    */
  def forwardFill(df: DataFrame, keyCols: Seq[String], orderCol: String, valueCol: String): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Redirect-chain resolution by POINTER DOUBLING, depth-parameterized
    * (the q_redirect_resolve device promoted to an operator — r16 verdict
    * item 7): after round r every chain of length ≤ 2^r is fully resolved,
    * so `⌈log₂ maxDepth⌉` self-joins cover maxDepth-deep chains — 6 joins
    * for 64-deep, never a 64-step iteration. The lineage discipline that
    * LICENSES the depth claim: `localCheckpoint` every `checkpointEvery`
    * rounds truncates the doubling plan (each round otherwise DOUBLES the
    * plan tree — at depth 64 the uncheckpointed plan is 2^6 nested joins
    * and the optimizer re-plans all of it every round; the same discipline
    * GraphOps.rankDistributed uses for its iterate).
    *
    * Input: edges (src, dst) — at most one outgoing edge per src (HTTP
    * redirects are single-valued). Output per distinct src: (url,
    * final_url, hops, is_cycle) — final_url/hops NULL and is_cycle=true
    * when the chase has not terminated within maxDepth rounds-worth of
    * hops (a loop, or a chain deeper than maxDepth).
    */
  def resolveRedirects(edges: DataFrame, maxDepth: Int, checkpointEvery: Int = 2): DataFrame = {
    require(maxDepth >= 1, s"resolveRedirects: maxDepth must be >= 1 (got $maxDepth)")
    require(checkpointEvery >= 1, s"resolveRedirects: checkpointEvery must be >= 1")
    val rounds =
      if (maxDepth == 1) 0 else 32 - Integer.numberOfLeadingZeros(maxDepth - 1)
    var f = edges.select(col("src"), col("dst").as("cur"), lit(1L).as("hops"))
    for (r <- 1 to rounds) {
      val g = f.select(col("src").as("g_src"), col("cur").as("g_cur"), col("hops").as("g_hops"))
      f = f
        .join(g, f("cur") === g("g_src"), "left")
        .select(
          col("src"),
          coalesce(col("g_cur"), col("cur")).as("cur"),
          (col("hops") + coalesce(col("g_hops"), lit(0L))).as("hops"))
      if (r % checkpointEvery == 0 && r < rounds) f = f.localCheckpoint(true)
    }
    val outDeg = edges.select(col("src").as("o_src")).distinct()
    f.join(outDeg, f("cur") === outDeg("o_src"), "left")
      .select(
        col("src").as("url"),
        when(col("o_src").isNull, col("cur")).as("final_url"),
        when(col("o_src").isNull, col("hops")).as("hops"),
        col("o_src").isNotNull.as("is_cycle"))
  }

  /** As-of join: for every left row, attach the single right row with the
    * greatest `rightTs` ≤ `leftTs` for the same key — the "latest snapshot
    * at event time" join (DuckDB/kdb ASOF JOIN; Spark has no native
    * operator). Left-outer semantics: left rows with no prior right row
    * keep nulls.
    *
    * Distributed form: union both sides tagged, ONE shuffle+sort on
    * (key, ts, tag) and a `last(ignoreNulls)` running window carries each
    * right payload forward to the left rows that follow it — never a
    * per-row subquery, never a range self-join. Right rows order before
    * left rows at equal ts (tag 0 < 1), so ties match inclusively.
    * Precondition for a deterministic match: at most one right row per
    * (key, rightTs) — pre-aggregate duplicates away as q_asof_join does,
    * otherwise which equal-ts right row wins depends on partitioning.
    * Scales as a single sort-merge pass per key. Payload column names must
    * not collide with left column names.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payload: Seq[String]
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val tagged = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__tag", lit(1))
      .select(
        (keys.map(col) :+ col("__ts") :+ col("__tag")) ++
          leftCols.filterNot(keys.contains).map(col) ++
          payload.map(p => lit(null).cast(right.schema(p).dataType).as(p)): _*
      )
      .unionByName(
        right
          .withColumn("__ts", col(rightTs))
          .withColumn("__tag", lit(0))
          .select(
            (keys.map(col) :+ col("__ts") :+ col("__tag")) ++
              leftCols.filterNot(keys.contains).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
              payload.map(col): _*
          )
      )
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Carry the matched right ROW as one nullable struct, not per-column
    // last(ignoreNulls): independent per-column carries would backfill a
    // NULL payload field from an OLDER right row — compositing fields of
    // two different right rows into a match that never existed, and making
    // an intentional null update unable to overwrite an earlier value.
    // The struct is null on left-tagged rows (when with no otherwise), so
    // one ignoreNulls carry picks the whole latest right row or nothing.
    tagged
      .withColumn("__p", when(col("__tag") === 0, struct(payload.map(col): _*)))
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ payload.map(p => col("__p").getField(p).as(p)): _*)
  }

  /** Range join by time binning: match left rows to right INTERVALS
    * (`startCol` ≤ ts ≤ `endCol`) with no equi key — the plan Spark would
    * otherwise execute as a broadcast-nested-loop/cartesian filter. Both
    * sides map to fixed-width time bins (intervals explode across every
    * bin they overlap), the join becomes an equi-join on the bin, and the
    * exact containment predicate filters within bins — candidates are
    * bounded by bin co-occupancy, the same trick as LSH banding, so the
    * plan survives a fact side that is far too big to nested-loop.
    * `binWidthUs` should be on the order of typical interval length:
    * wider bins → fewer replicas but more false candidates.
    */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      startCol: String,
      endCol: String,
      binWidthUs: Long
  ): DataFrame = {
    val lb = left.withColumn("__bin", (unix_micros(col(tsCol)) / binWidthUs).cast("long"))
    val rb = right.withColumn(
      "__bin",
      explode(
        sequence(
          (unix_micros(col(startCol)) / binWidthUs).cast("long"),
          (unix_micros(col(endCol)) / binWidthUs).cast("long")
        )
      )
    )
    lb.join(rb, Seq("__bin"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bin")
  }

  /** Staging→main append with an audit timestamp column.
    *
    * Reference: utils.py:44-73 (`INSERT INTO main SELECT *, CURRENT_TIMESTAMP()
    * FROM staging`, create-if-missing). The clock is a parameter so tests and
    * oracles are deterministic; production passes `current_timestamp()`.
    */
  def withAudit(staging: DataFrame, auditCol: String = "date_added_utc", clock: Column = current_timestamp()): DataFrame =
    staging.withColumn(auditCol, clock)

  /** Skew-safe equi-join: salt the hot (left) side's key into `saltFactor`
    * sub-keys and explode the right side across all salts, so one hot key
    * spreads over `saltFactor` reducers instead of melting a single task.
    *
    * The salt is `pmod(hash(whole row), saltFactor)` — deterministic, no
    * rand(), so re-runs and retries partition identically. Use when a key's
    * frequency is pathological even for AQE's skew-join splitting (which
    * only splits partitions, not single keys, for joins it plans as SMJ).
    * Cost: the right side replicates ×saltFactor — use for dimension-sized
    * right sides against a skewed fact.
    */
  def saltedJoin(
      skewed: DataFrame,
      right: DataFrame,
      key: String,
      saltFactor: Int
  ): DataFrame = {
    val salted = skewed.withColumn(
      "__salt",
      pmod(hash(skewed.columns.map(col).toIndexedSeq: _*), lit(saltFactor))
    )
    val exploded = right.withColumn(
      "__salt",
      explode(sequence(lit(0), lit(saltFactor - 1)))
    )
    salted.join(exploded, Seq(key, "__salt")).drop("__salt")
  }

  /** Bloom-pruned semi join — EXPLICIT sideways information passing (the
    * pattern Spark's own InjectRuntimeFilter applies when the optimizer can
    * see both sides in one plan; this ships it for the cases it can't — a
    * key set produced by a separate pipeline stage, a cross-job handoff, a
    * source the rule's heuristics skip): build a bloom filter over the
    * build side's join keys (ONE partial-agg'd pass; the filter itself is
    * `numBits/8` bytes of bounded driver state shipped back as a plan
    * literal, the classifier-weights contract), pre-filter the PROBE side
    * with `might_contain` BEFORE any shuffle (at 100 TB this is the step
    * that keeps non-matching probe rows from ever crossing the wire), then
    * run the exact semi join to remove the bloom's false positives — the
    * filter accelerates, the join decides, so results are bloom-independent
    * and bit-identical to the plain semi join.
    */
  def bloomPrunedSemiJoin(
      probe: DataFrame,
      build: DataFrame,
      probeKey: String,
      buildKey: String,
      expectedItems: Long = 10000L,
      numBits: Long = 262144L
  ): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val bfAgg = new BloomFilterAggregate(
      toExpr(xxhash64(col(buildKey))), Literal(expectedItems), Literal(numBits))
    val bloom = build
      .agg(toCol(bfAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = probe.filter(
      toCol(BloomFilterMightContain(Literal(bloom), toExpr(xxhash64(col(probeKey))))))
    pruned.join(
      build.select(col(buildKey)),
      col(probeKey) === col(buildKey),
      "left_semi")
  }

  /** Skew-safe aggregation: the salting playbook's GROUP BY half (saltedJoin
    * is the join half). Stage 1 groups by (keys, salt) so a hot key's rows
    * spread over `saltFactor` reducers and combine map-side; stage 2
    * re-aggregates the `saltFactor`-bounded partials by the true keys. Only
    * DECOMPOSABLE aggregates fit (sum/count/min/max and anything expressible
    * as a merge of partials — the same algebra Spark's own partial
    * aggregation relies on); the caller states the algebra explicitly as
    * (partial, merge) column pairs over the stage-1 aliases, so a
    * non-decomposable use reads wrong at the call site instead of silently
    * double-counting.
    *
    * Note Spark's OWN partial aggregation already absorbs most groupBy skew
    * (map-side combine caps any reducer's input at saltFactor-free
    * #map-partitions rows per key); salting earns its keep when the
    * PER-GROUP state is wide (collect/distinct-ish accumulators) or the
    * final agg feeds a same-key join that inherits the skew. The salt is
    * `pmod(hash(whole row), saltFactor)` — deterministic, no rand(), so
    * re-runs and retries partition identically (the saltedJoin convention).
    */
  def saltedAggregate(
      df: DataFrame,
      keys: Seq[String],
      saltFactor: Int,
      partial: Seq[Column],
      merge: Seq[Column]
  ): DataFrame = {
    require(partial.nonEmpty && merge.nonEmpty, "saltedAggregate needs both stages' aggregates")
    val salted = df.withColumn(
      "__salt",
      pmod(hash(df.columns.map(col).toIndexedSeq: _*), lit(saltFactor))
    )
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(merge.head, merge.tail: _*)
  }

  /** Enforce a typed schema: cast listed columns, leave the rest.
    *
    * Reference: uscrn_dag.py:205 (`df.apply(pd.to_numeric, errors='ignore')`)
    * and the explicit BigQuery SchemaFields (uscrn_dag.py:246-276).
    */
  def castColumns(df: DataFrame, types: Map[String, String]): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c => types.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))): _*)

  /** Deterministic group-balanced downsampling: derive each group's keep
    * rate from the OBSERVED distribution vs a target mix, then keep rows by
    * a portable md5-threshold — a rate policy computed from data, not a
    * hardcoded constant.
    *
    *   - `target` empty (default): uniform mix — every group is downsampled
    *     to ≈ the smallest group's count (rate = minCount/count).
    *   - `target` given: shares t_g; the output is the largest corpus
    *     achievable at exactly that mix without upsampling
    *     (S = min_g count_g/t_g rows, n_g = t_g·S). Groups absent from the
    *     target are dropped. A target group with positive share but ZERO
    *     observed rows cannot constrain S (there is nothing to upsample),
    *     so it is excluded from the scale computation and the remaining
    *     groups' shares are effectively renormalized — the achieved mix
    *     then deviates from the requested one exactly by the missing
    *     groups' mass. Callers that need the strict mix should
    *     `require` presence of every positive-share group up front.
    *
    * Scale shape: ONE K-row aggregate to the driver (K = distinct groups —
    * bounded state, same contract as the IVF centroids), broadcast back as
    * a literal when-chain; the filter itself is zero-shuffle, trivially
    * parallel, and reproducible across engines (md5 hex ordering is
    * portable — rates quantize to 2⁻³² as an 8-hex-char threshold, and a
    * rate ≥ 1 uses 'g', which every hex digest sorts below). The threshold
    * arithmetic (`floor(2³² · mn / cnt)`) is kept textually identical to
    * the DuckDB oracle so the driver hash-check covers the derived rates.
    */
  def balancedSample(
      df: DataFrame,
      by: String,
      idCol: String,
      target: Map[String, Double] = Map.empty
  ): DataFrame = {
    // Keys as Option: a NULL group value is a legitimate group (balance
    // mode treats it like any other; target mode cannot name it, so its
    // share defaults to 0 and it is dropped) — a raw getString would put
    // a null key in the map and NPE in the sort below.
    val counts = df.groupBy(by).count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    require(counts.nonEmpty, s"balancedSample: no groups in '$by'")
    def hex(v: Long): String = f"$v%08x"
    val thrFor: Option[String] => String =
      if (target.isEmpty) {
        val mn = counts.values.min
        l => if (counts(l) <= mn) "g" else hex(math.floor(4294967296.0 * mn / counts(l)).toLong)
      } else {
        val applicable =
          target.collect { case (l, t) if t > 0 && counts.contains(Some(l)) => counts(Some(l)) / t }
        require(
          applicable.nonEmpty,
          s"balancedSample: no positive-share target group matches the observed '$by' values " +
            s"(observed: ${counts.keys.flatten.toSeq.sorted.mkString(",")}; target: ${target.keys.toSeq.sorted.mkString(",")})"
        )
        val scale = applicable.min
        l => {
          val rate = l.flatMap(target.get).getOrElse(0.0) * scale / counts(l)
          if (rate >= 1.0) "g" else hex(math.floor(rate * 4294967296.0).toLong)
        }
      }
    val thrCol = counts.keys.toSeq.sortBy(o => (o.isDefined, o.getOrElse(""))).foldLeft(lit("0")) {
      case (acc, l) => when(col(by) <=> lit(l.orNull), lit(thrFor(l))).otherwise(acc)
    }
    df.filter(md5(concat(col(idCol).cast("string"), lit("_bal"))) < thrCol)
  }

  /** Sequence packing by hierarchical prefix sum — assign each row the shard
    * whose fixed token budget its exclusive running token count lands in,
    * greedy in `orderCol` order within each `streamCols` stream.
    *
    * A bare window over `streamCols` is a scale-killer: stream cardinality is
    * O(100) at any corpus size, so at 100 TB each stream (~1 TB of rows) would
    * sort through ONE reducer, and AQE cannot split a window partition. This
    * is the classic hierarchical (two-level) prefix sum instead:
    *
    *   1. block = floor(orderCol / blockSize) splits every stream into
    *      bounded sub-streams; the heavy window runs per (stream, block), so
    *      no window partition ever exceeds `blockSize` rows no matter how
    *      skewed the stream mix is.
    *   2. per-(stream, block) token subtotals (map-side-combined aggregate,
    *      tiny shuffle) get their own exclusive prefix sum over blocks — the
    *      offsets table has corpus_rows / blockSize rows total, broadcastable
    *      for any sane blockSize (1e12 rows / 2²⁶ ≈ 15 k rows).
    *   3. a broadcast join re-bases each local prefix: global = offset +
    *      local. floor(global / budget) is bit-identical to the single-window
    *      form, so the DuckDB oracle (which states the naive definition) is
    *      unchanged.
    *
    * The per-block window and the subtotal aggregate hash-partition on the
    * same (streamCols, block) key; the big side shuffles exactly once and is
    * never range-partitioned (no global sort).
    */
  def packShards(
      df: DataFrame,
      streamCols: Seq[String],
      orderCol: String,
      tokCol: String,
      budget: Long,
      blockSize: Long = 1L << 26
  ): DataFrame = {
    require(blockSize > 0 && budget > 0, "packShards: blockSize and budget must be positive")
    val keys = streamCols.map(col)
    val withBlk =
      df.withColumn("__blk", floor(col(orderCol) / lit(blockSize.toDouble)).cast("long"))
    // ROWS frame, not the default RANGE: RANGE includes all ORDER BY peers
    // in the running sum, so duplicate orderCol values would each see the
    // whole peer group's tokens and overfill their shard past the budget.
    // Contract: orderCol must uniquely order rows within a stream (the
    // registered query packs by doc_id) — with ties, ROWS makes the
    // tie-order partition-dependent rather than silently over-budget.
    val wLocal = Window.partitionBy(keys :+ col("__blk"): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withBlk.withColumn("__lp", sum(col(tokCol)).over(wLocal) - col(tokCol))
    val wOff = Window.partitionBy(keys: _*).orderBy(col("__blk"))
    val offsets = withBlk
      .groupBy(keys :+ col("__blk"): _*)
      .agg(sum(col(tokCol)).as("__bt"))
      .withColumn("__off", sum(col("__bt")).over(wOff) - col("__bt"))
      .select(streamCols.map(col) :+ col("__blk") :+ col("__off"): _*)
    local
      .join(broadcast(offsets), streamCols :+ "__blk")
      .withColumn("shard_id", floor((col("__off") + col("__lp")) / lit(budget.toDouble)).cast("long"))
      .drop("__blk", "__lp", "__off")
  }

  /** Weighted sampling WITHOUT replacement, inclusion probability ∝ weight
    * (the corpus-assembly staple: "take k documents ∝ quality score /
    * length"), by SYSTEMATIC sampling over a deterministic random order —
    * exact integer arithmetic end to end, so the selected set is
    * bit-reproducible across engines, partitionings, and retries.
    *
    * Mechanics: rows get a 60-bit uniform order key r = md5(id ‖ salt)
    * (portable across engines — the q_deterministic_sample convention); in
    * (r, id) order, a row whose inclusive weight prefix `ci` crosses one of
    * the k equi-spaced thresholds j·W/k is selected:
    * `(ci·k) DIV W > ((ci−w)·k) DIV W`. Exactly k rows come back whenever
    * no single weight exceeds W/k (heavier rows are always selected —
    * inclusion probability caps at 1, the textbook systematic-WOR
    * behavior); the md5 order makes the between-thresholds placement
    * uniform, so P(selected) = min(1, k·w/W).
    *
    * Scale shape: the weight prefix sum is the same two-level hierarchical
    * decomposition as [[packShards]] — blocks come from the HIGH BITS of r
    * (uniform, so blocks are balanced by construction at any corpus size
    * and the per-block window never hot-spots), per-block subtotals get a
    * bounded-domain window (2^blockBits rows), and a broadcast join
    * re-bases local prefixes. The big side shuffles once (hash on block);
    * no global sort, no single-reducer window. W·k must fit in a signed
    * 64-bit (guarded with a raise_error on the broadcast total — at the
    * 100 TB extreme, segment the corpus or move the two products to
    * DECIMAL(38,0)).
    */
  def weightedSystematicSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Long,
      salt: String = "_wsamp",
      blockBits: Int = 12
  ): DataFrame = {
    require(k > 0, "weightedSystematicSample: k must be positive")
    require(blockBits >= 1 && blockBits <= 32, "weightedSystematicSample: blockBits in [1,32]")
    // Integral weights only: a fractional weight would silently FLOOR in
    // the long cast below — a 0.7-weight row could never be selected while
    // still looking valid. Fractional scores should be pre-scaled to
    // integer units by the caller (e.g. ×1000) so the exact-integer
    // threshold arithmetic stays exact.
    df.schema(weightCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        ()
      case other =>
        throw new IllegalArgumentException(
          s"weightedSystematicSample: `$weightCol` must be an integral type, got $other — " +
            "scale fractional weights to integer units first")
    }
    val r = conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))), 1, 15), 16, 10)
      .cast("long")
    // Weights must be positive for the prefix-crossing rule to mean
    // "inclusion ∝ weight" (zero-weight rows can never cross; negative
    // weights would make the prefix non-monotone and select garbage).
    val guardedW = when(col(weightCol) > 0, col(weightCol))
      .otherwise(raise_error(concat(
        lit(s"weightedSystematicSample: non-positive weight in `$weightCol`: "),
        col(weightCol).cast("string"))))
    val withBlk = df
      .withColumn("__w", guardedW.cast("long"))
      .withColumn("__r", r)
      .withColumn("__blk", shiftrightunsigned(col("__r"), 60 - blockBits))
    // Global (r, id) order == (block, r, id) order: same r → same block,
    // and r1 < r2 ⇒ blk1 ≤ blk2 (block is r's high bits). So per-block
    // running sums re-based by per-block offsets ARE the global prefix.
    val wLocal = Window.partitionBy(col("__blk")).orderBy(col("__r"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withBlk.withColumn("__ci_local", sum(col("__w")).over(wLocal))
    val wOff = Window.partitionBy(boundedWindowKey(col("__blk"))).orderBy(col("__blk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Both the offsets window AND the grand total derive from this ONE
    // per-block subtotal aggregate — Spark's ReuseExchange serves the
    // second consumer from the same shuffle files, so the corpus is read
    // for the window pass and the subtotal pass only (a separate
    // total-agg would have been a third full scan re-running the weight
    // guard per row).
    val blockTotals = withBlk.groupBy(col("__blk")).agg(sum(col("__w")).as("__bt"))
    val offsets = blockTotals
      .withColumn("__off", sum(col("__bt")).over(wOff) - col("__bt"))
      .select(col("__blk"), col("__off"))
    // coalesce first: an EMPTY input sums to null, which would fall through
    // to the raise_error arm and crash with a misleading overflow message —
    // with 0 the threshold DIV nulls out and the sample is simply empty.
    val total = blockTotals.agg(coalesce(sum(col("__bt")), lit(0L)).as("__tw")).select(
      when(col("__tw") <= lit(Long.MaxValue / k), col("__tw"))
        .otherwise(raise_error(lit(
          s"weightedSystematicSample: total weight × k=$k overflows int64 — " +
            "segment the corpus or widen the threshold arithmetic to DECIMAL(38,0)")))
        .as("__tw"))
    local
      .join(broadcast(offsets), "__blk")
      .crossJoin(broadcast(total))
      .withColumn("__ci", col("__off") + col("__ci_local"))
      // `__tw > 0` makes the empty-input case explicit: without it the
      // empty sample relied on non-ANSI `x DIV 0 = null` dropping every
      // row, which under spark.sql.ansi.enabled=true raises DIVIDE_BY_ZERO
      // instead. (__tw = 0 ⟺ zero input rows — weights are guarded > 0.)
      .filter(col("__tw") > 0 && expr(s"(__ci * $k) DIV __tw > ((__ci - __w) * $k) DIV __tw"))
      .drop("__blk", "__r", "__w", "__ci_local", "__off", "__tw", "__ci")
  }

  /** Per-event LATENESS against the running event-time high-water mark in
    * arrival order — the measurement behind watermark tuning: an event's
    * lateness is how far its event time sits BELOW the maximum event time
    * of everything that arrived strictly before it (0 for in-order
    * arrivals), i.e. exactly the quantity a Structured Streaming
    * watermark of delay D compares against when deciding to drop.
    * `arrivalCol` must be a monotone arrival proxy (ingestion sequence).
    *
    * Scale shape — the weightedSystematicSample blocked-prefix device,
    * now for MAX: a single `ORDER BY arrival` running max is the banned
    * one-reducer global window, so block by the arrival id's DIV (global
    * arrival order ≡ (block, arrival) order because blocks are the id's
    * high bits), run the exclusive running max WITHIN balanced blocks,
    * roll per-block maxima up, and take the exclusive prefix max across
    * the bounded block table; the row's prefix = greatest(block-local
    * exclusive max, prior-blocks max). The block COUNT is fixed
    * (`blocks`, default 4096) with the block size derived from the
    * observed arrival range — a fixed block SIZE would make the block
    * table O(events) and unbroadcastable at 100 TB, while a fixed count
    * keeps it a bounded broadcast at any scale (the
    * weightedSystematicSample high-bits rule, restated for an arbitrary
    * id domain). Appends `lateness_us` (long ≥ 0).
    */
  def arrivalLatenessMicros(
      df: DataFrame,
      tsCol: String,
      arrivalCol: String,
      blocks: Int = 4096
  ): DataFrame = {
    require(blocks > 0, "arrivalLatenessMicros: blocks must be positive")
    val sentinel = Long.MinValue
    // Block by the OBSERVED RANGE, rebased to the minimum: blocking on the
    // raw id assumes ids start near zero — an offset ingestion sequence
    // (resumed counters, snowflake-style ids) would collapse every row
    // into the last block and silently degenerate into the banned
    // one-reducer window, and negative ids would NULL the DIV. (max−min)
    // ≥ 0 keeps the size ≥ 1 on any input including empty.
    // Block size in INTEGER arithmetic: Column `/` is double division, and
    // for arrival-id ranges past 2^53 (snowflake-style ids) the double
    // rounds — the ≤`blocks` bound this derivation promises could drift by
    // a block. DIV keeps the whole derivation exact on int64.
    val bs = df.agg(
      coalesce(min(col(arrivalCol)).cast("long"), lit(0L)).as("__mn"),
      expr(
        s"(coalesce(CAST(MAX(`$arrivalCol`) AS BIGINT), 0L) - " +
          s"coalesce(CAST(MIN(`$arrivalCol`) AS BIGINT), 0L)) DIV $blocks + 1L")
        .as("__bs"))
    val withBlk = df
      .crossJoin(broadcast(bs))
      .withColumn("__t", unix_micros(col(tsCol)))
      .withColumn("__blk", expr(s"($arrivalCol - __mn) DIV __bs"))
    val wLocal = Window
      .partitionBy(col("__blk"))
      .orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withBlk.withColumn("__lm", max(col("__t")).over(wLocal))
    val blockMax = withBlk.groupBy(col("__blk")).agg(max(col("__t")).as("__bm"))
    val wOff = Window
      .partitionBy(boundedWindowKey(col("__blk")))
      .orderBy(col("__blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = blockMax
      .withColumn("__pm", max(col("__bm")).over(wOff))
      .select(col("__blk"), col("__pm"))
    local
      .join(broadcast(prior), "__blk")
      .withColumn(
        "__hwm",
        greatest(coalesce(col("__lm"), lit(sentinel)), coalesce(col("__pm"), lit(sentinel))))
      .withColumn(
        "lateness_us",
        when(col("__hwm") === sentinel, lit(0L))
          .otherwise(greatest(lit(0L), col("__hwm") - col("__t"))))
      .drop("__t", "__blk", "__lm", "__pm", "__hwm", "__bs", "__mn")
  }

  /** Small-files compaction PLANNER: assign each staged file to a
    * target-size output bin by sequential (coalesce-style) packing — the
    * metadata half of [[graft.sources.StagingSink.compact]], and the same
    * cumulative-size DIV rule Spark's own file-scan coalescing applies
    * (`maxPartitionBytes`). Files are packed in `orderCol` order within
    * each `groupCols` prefix (order preserved so downstream readers keep
    * min/max pruning), bin = exclusive-size-prefix DIV target: the
    * cumulative size through every non-final bin reaches that bin's
    * boundary (no bin closes early), and a bin exceeds `targetBytes` by
    * less than one file. Exact integer arithmetic — plans are
    * reproducible.
    *
    * Scale shape: this runs over the FILE INVENTORY (≈ rows/10⁶ of the
    * data itself — a 100 TB table at 128 MB files is ~10⁶ rows), windowed
    * per group key; for a pathological single-group inventory the
    * [[packShards]] hierarchical decomposition applies unchanged. The data
    * files themselves never move through this plan — the planner emits the
    * bin → files assignment a rewrite job then executes per bin.
    */
  def compactionPlan(
      files: DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      sizeCol: String,
      targetBytes: Long
  ): DataFrame = {
    require(targetBytes > 0, "compactionPlan: targetBytes must be positive")
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    files
      .withColumn("__cstart", sum(col(sizeCol)).over(w) - col(sizeCol))
      .withColumn("bin", expr(s"__cstart DIV $targetBytes"))
      .drop("__cstart")
  }

  /** Morton (Z-order) interleave of the low `bits` bits of two non-negative
    * dimension columns: bit i of x lands at z-bit 2i, bit i of y at 2i+1.
    * Contiguous z-ranges are axis-aligned squares, so range-partitioning by
    * z clusters BOTH dimensions at once — a file sorted into a z-bucket of
    * width 4^b spans ≤ 2^b values in each dimension, and min/max file
    * stats prune scans filtered on either column (the Delta/Iceberg
    * OPTIMIZE ZORDER layout idiom). Pure bit arithmetic (shifts, masks,
    * adds of disjoint bits) — codegen'd, portable to the SQL oracle
    * verbatim.
    */
  def mortonKey(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "mortonKey: bits in [1,31]")
    (0 until bits).map { i =>
      (shiftleft(shiftrightunsigned(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        + shiftleft(shiftrightunsigned(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Physical Z-order layout: compute the morton key over two dimension
    * columns and RANGE-partition into `numFiles` output splits — each
    * written file then covers one contiguous z-range (a bounded rectangle
    * in (x, y)), which is what makes the min/max-stat pruning in
    * [[mortonKey]]'s contract real. The range exchange samples bounds at
    * runtime (no driver-side quantile pass), and the z column is kept so
    * writers can sort within files for finer-grained page-level skipping.
    */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String, bits: Int, numFiles: Int): DataFrame = {
    require(numFiles > 0, "zorderLayout: numFiles must be positive")
    df.withColumn("zval", mortonKey(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("zval"))
  }

  /** Data-quality constraint suite over lineitem (the Deequ /
    * Great-Expectations shape): completeness, key uniqueness, a range cap,
    * set membership, non-negativity, and referential integrity against
    * orders — each reported as (check_name, compliance fraction in [0,1],
    * threshold 1.0, passed). Five checks ride ONE conditional-sum scan;
    * uniqueness adds the two-phase distinct on the key pair; the
    * referential check is a LEFT ANTI count. All three collapse to 1-row
    * aggregates cross-joined into the 6-row report, so the report itself
    * is driver-trivial at any table size.
    */
  def dqChecks(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    // NULL-safe key fingerprint for the uniqueness check: SQL's
    // COUNT(DISTINCT a, b) silently DROPS rows with any NULL key — on a DQ
    // suite that's exactly the dirty data being gated, and it also
    // diverges from DuckDB's row-value counting. Stringify with a
    // non-numeric sentinel so NULL-keyed rows count as distinct key values
    // on both engines (keys are numeric, so the cast is collision-free).
    val keyFp = concat_ws(
      "|",
      coalesce(col("l_orderkey").cast("string"), lit("~")),
      coalesce(col("l_linenumber").cast("string"), lit("~")))
    val base = lineitem.agg(
      count(lit(1)).cast("double").as("n_rows"),
      sum(when(col("l_shipdate").isNull, 1).otherwise(0)).cast("double").as("null_ship"),
      countDistinct(keyFp).cast("double").as("n_key"),
      sum(when(col("l_discount") > 0.08, 1).otherwise(0)).cast("double").as("disc_viol"),
      sum(when(!col("l_returnflag").isin("A", "N", "R"), 1).otherwise(0)).cast("double").as("flag_viol"),
      sum(when(col("l_extendedprice") < 0, 1).otherwise(0)).cast("double").as("price_viol")
    )
    val orphans = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).cast("double").as("orphan_rows"))
    base
      .crossJoin(orphans)
      .selectExpr(
        """stack(6,
          |  'completeness_l_shipdate', 1.0 - null_ship / n_rows, CAST(1.0 AS DOUBLE), null_ship = 0.0,
          |  'uniqueness_orderkey_linenumber', n_key / n_rows, CAST(1.0 AS DOUBLE), n_key = n_rows,
          |  'range_l_discount_le_0.08', 1.0 - disc_viol / n_rows, CAST(1.0 AS DOUBLE), disc_viol = 0.0,
          |  'set_l_returnflag', 1.0 - flag_viol / n_rows, CAST(1.0 AS DOUBLE), flag_viol = 0.0,
          |  'nonneg_l_extendedprice', 1.0 - price_viol / n_rows, CAST(1.0 AS DOUBLE), price_viol = 0.0,
          |  'referential_l_orderkey', 1.0 - orphan_rows / n_rows, CAST(1.0 AS DOUBLE), orphan_rows = 0.0
          |) AS (check_name, metric, threshold, passed)""".stripMargin
      )
      .orderBy("check_name")
  }
}
