package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{DriftReports, EtlOps}

/** §2.2 of SURVEY.md — the dashboard/analytical surface (the reference's
  * Looker Studio layer) as TPC-H-shaped plans over the testdata.
  *
  * Scale notes: dims (`nation`, `region`, `customer` at small SF) are
  * broadcast; the only shuffles are on fact keys and AQE handles skew.
  */
object AnalyticQueries {
  import Tables._

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(25,10)")).cast("double")

  /** 1-deletion neighborhood of a string (SymSpell blocking for edit
    * distance ≤ 1): the string itself plus every single-character
    * deletion. Any two strings within one edit share at least one
    * element; block sizes are bounded by duplicate multiplicity times the
    * key's 1-insertion neighborhood occupancy, independent of corpus size
    * (EntityMatchSpec pins max-block ≈ constant under a 10× corpus).
    * The empty-string guard matters: sequence(1, 0) evaluates to the
    * DESCENDING array [1, 0], which would emit two spurious keys where
    * the oracle's generate_series(0, len) emits none.
    * All built-ins — the explode downstream stays in codegen.
    */
  def deletionKeys(name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      array(name),
      when(
        length(name) > 0,
        transform(
          sequence(lit(1), length(name)),
          i => concat(name.substr(lit(1), i - 1), name.substr(i + 1, length(name)))))
        .otherwise(array().cast("array<string>")))

  /** The oracles of q_drift_psi and q_drift_chi2. Their streaming
    * deployments (q_stream_drift, q_stream_chi2) must converge to exactly
    * the batch report, so they are checked against the same SQL. Defined
    * above [[all]] so they are initialized before it.
    */
  private[graft] val driftPsiOracle: String = DriftReports.Sql.psi()

  private[graft] val driftChi2Oracle: String =
    DriftReports.Sql.typeCounts("c_ref", "c_cur") +
      """,
        |terms AS (
        |  SELECT t_ref, t_cur, k,
        |    CAST(round((
        |      (CAST(c_ref AS DOUBLE)
        |        - CAST(c_ref + c_cur AS DOUBLE) * CAST(t_ref AS DOUBLE) / CAST(t_ref + t_cur AS DOUBLE))
        |      * (CAST(c_ref AS DOUBLE)
        |        - CAST(c_ref + c_cur AS DOUBLE) * CAST(t_ref AS DOUBLE) / CAST(t_ref + t_cur AS DOUBLE))
        |      / (CAST(c_ref + c_cur AS DOUBLE) * CAST(t_ref AS DOUBLE) / CAST(t_ref + t_cur AS DOUBLE))
        |      + (CAST(c_cur AS DOUBLE)
        |        - CAST(c_ref + c_cur AS DOUBLE) * CAST(t_cur AS DOUBLE) / CAST(t_ref + t_cur AS DOUBLE))
        |      * (CAST(c_cur AS DOUBLE)
        |        - CAST(c_ref + c_cur AS DOUBLE) * CAST(t_cur AS DOUBLE) / CAST(t_ref + t_cur AS DOUBLE))
        |      / (CAST(c_ref + c_cur AS DOUBLE) * CAST(t_cur AS DOUBLE) / CAST(t_ref + t_cur AS DOUBLE))
        |    ) * 1.0e9) AS BIGINT) AS term_fp
        |  FROM counts, totals),
        |agg AS (
        |  SELECT MAX(t_ref) AS n_ref, MAX(t_cur) AS n_cur, MAX(k) AS k,
        |    CAST(SUM(term_fp) AS BIGINT) AS chi2_fp
        |  FROM terms)
        |SELECT n_ref, n_cur, k, k - 1 AS df,
        |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN round(CAST(chi2_fp AS DOUBLE) / 1.0e9, 6)
        |    ELSE error('chi2: degenerate median split (an empty half)') END AS chi2,
        |  chi2_fp > CASE k - 1
        |    WHEN 1 THEN 3841458821 WHEN 2 THEN 5991464547 WHEN 3 THEN 7814727903
        |    WHEN 4 THEN 9487729037 WHEN 5 THEN 11070497694 WHEN 6 THEN 12591587244
        |    WHEN 7 THEN 14067140449 WHEN 8 THEN 15507313056 WHEN 9 THEN 16918977605
        |    END AS drift_alert
        |FROM agg""".stripMargin

  val all: Seq[Q] = Seq(
    // Q5 shape: revenue by nation for one region + date window.
    // Scale shape: lineitem revenue is partially aggregated per order key
    // BEFORE the fact-fact join — the join then carries one row per order
    // instead of one per lineitem (~4x fewer at TPC-H shape), and the
    // decimal accumulator keeps the result bit-identical to the flat
    // aggregation the oracle computes.
    Q(
      "q_revenue_by_nation",
      (s, d) => {
        val orev = lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(25,10)"))
              .as("orev")
          )
        orev
          .join(
            orders(s, d).filter(
              col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp")
            ),
            col("l_orderkey") === col("o_orderkey")
          )
          .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)).filter(col("r_name") === "ASIA"), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("orev")).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)
    ),

    // Top-N per group (dashboard leaderboard) — rank window w/ unique
    // tie-break. o_orderpriority has cardinality FIVE at any corpus size,
    // so a bare window on it is the low-cardinality hot-key hazard (one
    // reducer sorts a fifth of the table; AQE cannot split a window
    // partition) — the same class the two-stage cap and hierarchical
    // packer fix. Stage 1 is therefore a shuffle-FREE mapPartitions
    // pre-cap: each input partition keeps only its own top-3 per priority
    // (a row with ≥3 strictly-better same-priority rows in its OWN
    // partition can never reach the global top-3), so the global window
    // shuffles ≤ 3 rows per input partition per priority. Output is
    // identical to the one-stage plan; the oracle stays the plain
    // windowed SQL.
    Q(
      "q_top_n_per_group",
      (s, d) => {
        import s.implicits._
        val n = 3
        // "better" = higher price, then smaller orderkey (the rank order).
        val better: Ordering[(String, Double, Long)] =
          Ordering.by[(String, Double, Long), (Double, Long)](r => (-r._2, r._3))
        val pre = graft.operators.EtlOps
          .topKPerKey(
            orders(s, d)
              .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
              .as[(String, Double, Long)],
            n)(_._1)(better)
          .toDF("o_orderpriority", "o_totalprice", "o_orderkey")
        val w = Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        pre
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= n)
          .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      },
      Some("""SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3""".stripMargin)
    ),

    // Pivot event_type → columns via conditional aggregation (portable form).
    Q(
      "q_pivot_events",
      (s, d) => {
        def cnt(t: String) = count(when(col("event_type") === t, 1)).as(s"n_$t")
        events(s, d)
          .groupBy(col("user_id"))
          .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"))
      },
      Some("""SELECT user_id,
             |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
             |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
             |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
             |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
             |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error
             |FROM events GROUP BY user_id""".stripMargin)
    ),

    // Q3 shape: filter + join + agg + topN (shipping priority).
    Q(
      "q_shipping_priority",
      (s, d) =>
        lineitem(s, d)
          .filter(col("l_shipdate") > lit("1996-03-15").cast("timestamp"))
          .join(
            orders(s, d).filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey")
          )
          .join(
            broadcast(customer(s, d).filter(col("c_mktsegment") === "BUILDING")),
            col("o_custkey") === col("c_custkey")
          )
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10),
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
             |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
             |  AND c_mktsegment = 'BUILDING'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
    ),

    // Q18 shape: grouped-HAVING then join back (large-volume customers).
    // The HAVING side collapses lineitem to one decimal-exact row per
    // order BEFORE any join — the order/customer joins then carry only
    // the ~1% of orders that survive the quantity threshold, so the big
    // fact participates in exactly one shuffle (its groupBy). Threshold
    // 250 ≈ the p99 of per-order quantity in this corpus (TPC-H's 300
    // exceeds the synthetic max of ~475 at a selectivity that would
    // empty the sf0.01 gate). o_orderkey tie-break keeps the topN-style
    // ordering fully deterministic.
    Q(
      "q_large_volume_customer",
      (s, d) => {
        val big = lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(dsum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 250.0)
        big
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
          .select(
            col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(25,10))) AS DOUBLE) AS sum_qty
             |  FROM lineitem GROUP BY l_orderkey
             |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(25,10))) AS DOUBLE) > 250.0)
             |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
             |FROM big
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey""".stripMargin)
    ),

    // Snapshot reconciliation — the incremental-load audit every warehouse
    // runs: per order, revenue as-of watermark T1 vs as-of T2, classified
    // added / changed / unchanged (removed kept for generality — monotone
    // cutoffs can't produce it). Scale-first device: when both snapshots
    // derive from one table, the full-outer self-join form (two scans +
    // a key shuffle each + the join) collapses to ONE scan and ONE
    // partial-agg shuffle with conditional aggregates — sum(when(ts <
    // cutoff, rev)); the FILTER'd sums are NULL for absent sides exactly
    // like the outer join's missing rows, so the status CASE is
    // identical. Status compares the exact DECIMAL accumulators (never
    // the rounded doubles), so the classification is bit-stable on both
    // engines.
    Q(
      "q_snapshot_diff",
      (s, d) => {
        val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(25,10)")
        val t1 = lit("1997-01-01").cast("timestamp")
        val t2 = lit("1998-01-01").cast("timestamp")
        lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(
            sum(when(col("l_shipdate") < t1, rev)).as("o"),
            sum(when(col("l_shipdate") < t2, rev)).as("n")
          )
          .filter(col("o").isNotNull || col("n").isNotNull)
          .select(
            col("l_orderkey"),
            col("o").cast("double").as("rev_old"),
            col("n").cast("double").as("rev_new"),
            when(col("o").isNull, "added")
              .when(col("n").isNull, "removed")
              .when(col("o") === col("n"), "unchanged")
              .otherwise("changed")
              .as("status")
          )
          .orderBy("l_orderkey")
      },
      Some("""WITH m AS (
             |  SELECT l_orderkey,
             |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10)))
             |      FILTER (WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00') AS o,
             |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10)))
             |      FILTER (WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00') AS n
             |  FROM lineitem GROUP BY l_orderkey)
             |SELECT l_orderkey,
             |  CAST(o AS DOUBLE) AS rev_old,
             |  CAST(n AS DOUBLE) AS rev_new,
             |  CASE WHEN o IS NULL THEN 'added'
             |       WHEN n IS NULL THEN 'removed'
             |       WHEN o = n THEN 'unchanged'
             |       ELSE 'changed' END AS status
             |FROM m WHERE o IS NOT NULL OR n IS NOT NULL
             |ORDER BY l_orderkey""".stripMargin)
    ),

    // Time-based sliding-window average: each event vs the trailing hour of
    // its user's events — a RANGE frame over event time (not ROWS), the
    // window type sensor rollups and rate limiters need. The accumulator
    // is exact decimal so the average is independent of evaluation
    // strategy (DuckDB evaluates moving frames via segment trees; floats
    // would drift in the low bits).
    Q(
      "q_sliding_window_avg",
      (s, d) => {
        val w = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, 0L)
        events(s, d)
          .withColumn("ts_us", unix_micros(col("ts")))
          .withColumn("trailing_sum", sum(col("value").cast("decimal(25,10)")).over(w))
          .withColumn("trailing_n", count(lit(1)).over(w))
          .select(
            col("event_id"),
            col("user_id"),
            col("ts"),
            (col("trailing_sum").cast("double") / col("trailing_n")).as("trailing_avg_1h"),
            col("trailing_n")
          )
      },
      Some("""SELECT event_id, user_id, ts,
             |  CAST(SUM(CAST(value AS DECIMAL(25,10))) OVER w AS DOUBLE) / COUNT(*) OVER w AS trailing_avg_1h,
             |  COUNT(*) OVER w AS trailing_n
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""".stripMargin)
    ),

    // Referential-integrity audit: count of fact rows whose dimension key
    // has no match (the data-quality side of the reference's bad-row
    // policy), as a one-row summary (0 orphans on intact data IS the
    // result). Left-anti join — the orders side prunes to its key column,
    // no payload shuffles; the 1x1 cross join just glues the two scalars.
    Q(
      "q_anti_join_orphans",
      (s, d) => {
        val orphans = lineitem(s, d)
          .join(orders(s, d).select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        val total = lineitem(s, d).agg(count(lit(1)).as("n_lines"))
        orphans.crossJoin(total)
      },
      Some("""SELECT
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_orphans,
             |  (SELECT COUNT(*) FROM lineitem) AS n_lines""".stripMargin)
    ),

    // Group-wise exact quantiles (dashboard latency/value percentiles).
    // Spark's `percentile` is the exact sort-based form with linear
    // interpolation — the same definition as DuckDB's quantile_cont, so the
    // oracle hash-matches. At 100 TB swap for approx_percentile (t-digest)
    // and drop the oracle to a tolerance check; the plan shape is identical.
    Q(
      "q_group_quantiles",
      (s, d) =>
        events(s, d)
          .groupBy(col("event_type"))
          .agg(
            expr("percentile(value, 0.5)").as("p50"),
            expr("percentile(value, 0.95)").as("p95"),
            count(lit(1)).as("n")
          )
          .orderBy(col("event_type")),
      Some("""SELECT event_type,
             |  quantile_cont(value, 0.5) AS p50,
             |  quantile_cont(value, 0.95) AS p95,
             |  COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // The 100 TB form of the quantile query: approx_percentile's mergeable
    // sketch (Greenwald-Khanna summaries) aggregates in one pass with
    // map-side partial merge — no per-group value sort, bounded memory per
    // group regardless of group size. The sketch values themselves are not
    // bit-reproducible against DuckDB, so the query is a banded
    // exact-vs-sketch REPORT: exact p50/p95 (cross-engine bit-checked, the
    // q_group_quantiles equivalence) plus in-band flags — sketch value
    // within the exact ±2%-rank band [q(.48), q(.52)] / [q(.93), q(.97)].
    // The oracle states the band claim as TRUE; a sketch drifting out of
    // band flips the flag and fails the hash gate. QueryRegistrySpec
    // additionally rank-checks the raw sketch values independently.
    Q(
      "q_group_quantiles_approx",
      (s, d) =>
        events(s, d)
          .groupBy(col("event_type"))
          .agg(
            expr("percentile(value, array(0.48D, 0.5D, 0.52D, 0.93D, 0.95D, 0.97D))").as("qe"),
            expr("approx_percentile(value, 0.5, 10000)").as("a50"),
            expr("approx_percentile(value, 0.95, 10000)").as("a95"),
            count(lit(1)).as("n")
          )
          .select(
            col("event_type"),
            col("n"),
            element_at(col("qe"), 2).as("p50_exact"),
            element_at(col("qe"), 5).as("p95_exact"),
            col("a50").between(element_at(col("qe"), 1), element_at(col("qe"), 3)).as("p50_in_band"),
            col("a95").between(element_at(col("qe"), 4), element_at(col("qe"), 6)).as("p95_in_band")
          )
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  quantile_cont(value, 0.5) AS p50_exact,
             |  quantile_cont(value, 0.95) AS p95_exact,
             |  TRUE AS p50_in_band,
             |  TRUE AS p95_in_band
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    // Q8 shape: per-year revenue share of one region (two-level aggregate).
    // Same pre-aggregation shape as q_revenue_by_nation: revenue collapses
    // to one decimal per order before the join, and the region condition
    // (constant per order) applies to the pre-aggregated row. Decimal sums
    // are exact, so the share is bit-identical to the flat form.
    Q(
      "q_market_share",
      (s, d) => {
        val orev = lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(25,10)"))
              .as("orev")
          )
        orev
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            // otherwise(0): the oracle's CASE has ELSE 0.0 — without it a
            // year with zero ASIA revenue sums all-NULL to NULL where the
            // oracle says 0.0, a latent cross-engine hash divergence.
            (sum(when(col("r_name") === "ASIA", col("orev"))
              .otherwise(lit(0).cast("decimal(25,10)"))).cast("double") /
              sum(col("orev")).cast("double")).as("asia_share")
          )
          .orderBy(col("o_year"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             |  CAST(SUM(CAST(CASE WHEN r_name = 'ASIA'
             |        THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END AS DECIMAL(25,10))) AS DOUBLE)
             |  / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,10))) AS DOUBLE) AS asia_share
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1 ORDER BY o_year""".stripMargin)
    ),

    // As-of join (EtlOps.asofJoin): every purchase matched to the user's
    // most recent signup at-or-before its event time — the "latest
    // snapshot at event time" join metrics/feature pipelines live on.
    // Signups are pre-deduped to one per (user, ts) (max event_id) so the
    // match is deterministic; DuckDB's native ASOF LEFT JOIN is the
    // oracle. One shuffle+sort over the unioned sides, no range self-join.
    Q(
      "q_asof_join",
      (s, d) => {
        val e = events(s, d)
        val purchases = e
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val signups = e
          .filter(col("event_type") === "signup")
          .groupBy(col("user_id"), col("ts").as("signup_ts"))
          .agg(max(col("event_id")).as("signup_id"))
          .select("user_id", "signup_ts", "signup_id")
        graft.operators.EtlOps
          .asofJoin(purchases, signups, Seq("user_id"), "ts", "signup_ts", Seq("signup_id", "signup_ts"))
          .select("event_id", "user_id", "ts", "signup_id", "signup_ts")
      },
      Some("""WITH p AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |g AS (
             |  SELECT user_id, ts AS signup_ts, max(event_id) AS signup_id
             |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
             |SELECT p.event_id, p.user_id, p.ts, g.signup_id, g.signup_ts
             |FROM p ASOF LEFT JOIN g
             |  ON p.user_id = g.user_id AND p.ts >= g.signup_ts""".stripMargin)
    ),

    // Range join with NO equi key (EtlOps.rangeJoin): events matched into
    // promo windows by pure interval containment. The naive plan is a
    // broadcast-nested-loop filter; the binned form turns it into an
    // equi-join on time bins (intervals explode across the bins they
    // overlap) + exact containment filter — LSH-banding for time, so the
    // fact side never nested-loops. 1-hour bins against 12-hour windows.
    Q(
      "q_range_join",
      (s, d) => {
        val e = events(s, d)
        val windows = e
          .groupBy(col("event_type").as("promo_type"))
          .agg(
            min(col("ts")).as("w_start"),
            (min(col("ts")) + expr("INTERVAL 12 HOURS")).as("w_end")
          )
        graft.operators.EtlOps
          .rangeJoin(
            e.select(col("event_id"), col("ts")),
            windows,
            "ts",
            "w_start",
            "w_end",
            binWidthUs = 3600000000L
          )
          .select("event_id", "ts", "promo_type")
          .orderBy("event_id", "promo_type")
      },
      Some("""WITH w AS (
             |  SELECT event_type AS promo_type, min(ts) AS w_start,
             |         min(ts) + INTERVAL 12 HOUR AS w_end
             |  FROM events GROUP BY 1)
             |SELECT e.event_id, e.ts, w.promo_type
             |FROM events e JOIN w
             |  ON e.ts >= w.w_start AND e.ts <= w.w_end""".stripMargin)
    ),

    // Data profiling: per-column row/null/distinct/min/max — the
    // data-quality monitoring pass every load pipeline runs before
    // publishing. ONE scan computes every stat for every profiled column
    // in a single aggregate (the multiple count-distincts plan through
    // Spark's Expand), then a stack() unpivots the 1-row result into the
    // uniform (col_name, stats...) shape — versus a union of per-column
    // aggregates, which reads the table once PER COLUMN (3× the IO at
    // 100 TB for this profile). Min/max surface as strings so one schema
    // carries mixed column types.
    Q(
      "q_profile",
      (s, d) => {
        val cols = Seq("event_id", "user_id", "event_type")
        val aggs = count(lit(1)).as("n") +: cols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
            countDistinct(col(c)).as(s"dist_$c"),
            min(col(c)).cast("string").as(s"min_$c"),
            max(col(c)).cast("string").as(s"max_$c")
          )
        }
        val branches = cols
          .map(c => s"'$c', n, null_$c, dist_$c, min_$c, max_$c")
          .mkString(", ")
        events(s, d)
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr(
            s"stack(${cols.length}, $branches) AS (col_name, n, n_null, n_distinct, min_v, max_v)"
          )
      },
      Some("""SELECT 'event_id' AS col_name, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  COUNT(DISTINCT event_id) AS n_distinct,
             |  CAST(min(event_id) AS VARCHAR) AS min_v, CAST(max(event_id) AS VARCHAR) AS max_v
             |FROM events
             |UNION ALL
             |SELECT 'user_id', COUNT(*), CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  COUNT(DISTINCT user_id), CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
             |FROM events
             |UNION ALL
             |SELECT 'event_type', COUNT(*), CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  COUNT(DISTINCT event_type), CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
             |FROM events""".stripMargin)
    ),

    // The 100 TB profile: countDistinct is the scale problem in q_profile —
    // each exact distinct expands the single aggregate into per-column
    // distinct shuffles of the FULL column values. HyperLogLog++ sketches
    // (approx_count_distinct) are mergeable partial aggregates, so the
    // whole profile collapses back to one scan + one tiny exchange of
    // fixed-size sketches regardless of cardinality. Sketch estimates
    // aren't bit-reproducible in DuckDB, so the query is a banded
    // exact-vs-sketch REPORT: the exact profile columns cross-engine
    // hash-checked plus ndv_in_band — the HLL estimate within ±10% of
    // the exact distinct (the exact side rides the same single scan,
    // which is the price of promoting the gate from rows-only, not part
    // of the production plan's cost story — the 100 TB deployment runs
    // the sketch WITHOUT the exact twin). The oracle states the band
    // claim as TRUE.
    Q(
      "q_profile_approx",
      (s, d) => {
        val cols = Seq("event_id", "user_id", "event_type")
        // The sketch pass and the exact pass MUST be separate aggregates:
        // mixing approx_count_distinct with countDistinct in one agg puts
        // the HLL register array inside the countDistinct Expand rewrite's
        // per-(gid, value) hash-map entries — one sketch buffer PER
        // DISTINCT VALUE, measured 8-60s at sf0.1 depending on rsd. Split,
        // the sketch pass is one scan with three fixed-size buffers total
        // (the production shape — at 100 TB it runs WITHOUT the exact
        // twin; the exact pass here is the price of the hash gate only)
        // and the two 1-row results cross-join for free.
        // rsd 0.02 (not the 0.05 default): the ±10% band below is then
        // 5σ — far from the sketch's noise floor (measured worst case
        // 6.7% at default rsd across the sf dirs, ~2.7% at 0.02).
        val approxAggs = cols.map(c => approx_count_distinct(col(c), 0.02).as(s"adist_$c"))
        val exactAggs = count(lit(1)).as("n") +: cols.flatMap { c =>
          Seq(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
            countDistinct(col(c)).as(s"dist_$c"),
            min(col(c)).cast("string").as(s"min_$c"),
            max(col(c)).cast("string").as(s"max_$c")
          )
        }
        val branches = cols
          .map(c =>
            s"'$c', n, null_$c, dist_$c, min_$c, max_$c, " +
              s"abs(cast(adist_$c as double) - dist_$c) <= 0.10 * dist_$c")
          .mkString(", ")
        events(s, d)
          .agg(exactAggs.head, exactAggs.tail: _*)
          .crossJoin(broadcast(events(s, d).agg(approxAggs.head, approxAggs.tail: _*)))
          .selectExpr(
            s"stack(${cols.length}, $branches) AS (col_name, n, n_null, n_distinct, min_v, max_v, ndv_in_band)"
          )
      },
      Some("""SELECT 'event_id' AS col_name, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |  COUNT(DISTINCT event_id) AS n_distinct,
             |  CAST(min(event_id) AS VARCHAR) AS min_v, CAST(max(event_id) AS VARCHAR) AS max_v,
             |  TRUE AS ndv_in_band
             |FROM events
             |UNION ALL
             |SELECT 'user_id', COUNT(*), CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  COUNT(DISTINCT user_id), CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR), TRUE
             |FROM events
             |UNION ALL
             |SELECT 'event_type', COUNT(*), CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  COUNT(DISTINCT event_type), CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR), TRUE
             |FROM events""".stripMargin)
    ),

    // Funnel analysis: users progressing view → click (after their first
    // view) → purchase (after that click). ONE shuffle on user_id: three
    // chained per-user window minimums (each stage's cutoff feeds the
    // next; all three windows share the same partitioning and sort, so
    // Catalyst plans a single exchange), then a per-user rollup that
    // reuses that partitioning and a 1-row count — versus the staged
    // join formulation whose every stage re-shuffled and re-scanned.
    Q(
      "q_funnel",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
        events(s, d)
          .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2", min(when(col("event_type") === "click" && col("ts") > col("t1"), col("ts"))).over(w))
          .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2"), col("ts"))).over(w))
          .groupBy(col("user_id"))
          .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"), max(col("t3")).as("t3"))
          .agg(
            count(col("t1")).as("n_view"),
            count(col("t2")).as("n_view_click"),
            count(col("t3")).as("n_view_click_purchase")
          )
      },
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
             |SELECT (SELECT COUNT(*) FROM v) AS n_view,
             |       (SELECT COUNT(*) FROM c) AS n_view_click,
             |       (SELECT COUNT(*) FROM p) AS n_view_click_purchase""".stripMargin)
    ),

    // Weekly cohort retention (the other dashboard staple): users grouped
    // by first-activity week, counted distinct per subsequent active week.
    // Weeks are Monday-truncated on both engines, so the day difference is
    // an exact multiple of 7 and the offset arithmetic is integer-safe.
    Q(
      "q_retention_cohorts",
      (s, d) => {
        val e = events(s, d)
        val first = e.groupBy("user_id").agg(date_trunc("week", min(col("ts"))).as("cohort"))
        e.select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
          .distinct()
          .join(first, "user_id")
          .groupBy(col("cohort"), (datediff(col("wk"), col("cohort")) / 7).cast("int").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH f AS (
             |  SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1),
             |a AS (
             |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
             |SELECT f.cohort,
             |  CAST(date_diff('day', f.cohort, a.wk) / 7 AS INT) AS week_offset,
             |  COUNT(DISTINCT a.user_id) AS n_users
             |FROM a JOIN f ON a.user_id = f.user_id
             |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin)
    ),

    // Equal-width histogram (dashboard staple): fixed [0, 600000) range in
    // 10 buckets over order totals — integer bucket arithmetic on the
    // IEEE-identical double, so the oracle hash-matches. One partial-agg'd
    // shuffle regardless of data size.
    Q(
      "q_histogram",
      (s, d) =>
        orders(s, d)
          .select(least(floor(col("o_totalprice") / 60000.0), lit(9L)).cast("long").as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""SELECT CAST(least(floor(o_totalprice / 60000.0), 9) AS BIGINT) AS bucket,
             |  COUNT(*) AS n
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)
    ),

    // Multi-level subtotals in ONE pass: ROLLUP computes (status, priority),
    // per-status, and grand-total aggregates from a single scan with
    // partial aggregation — the report-cube surface every BI layer needs.
    // At scale this beats three separate groupBys: one shuffle, the
    // higher levels re-aggregate the lower's partial state. grouping_id
    // disambiguates a NULL subtotal key from a (hypothetical) NULL data
    // key; sums go through DECIMAL(25,10) for order-independent parity.
    Q(
      "q_rollup_sales",
      (s, d) =>
        orders(s, d)
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            grouping_id().as("gid"),
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("total_price")
          )
          .select("o_orderstatus", "o_orderpriority", "gid", "n", "total_price"),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  GROUPING(o_orderstatus, o_orderpriority) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS DOUBLE) AS total_price
             |FROM orders
             |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin)
    ),

    // Inter-event gaps (churn/latency staple): per-user lag over event
    // time — the window's (user_id) partitioning is the natural shuffle
    // key and user cardinality grows with the data, so no hot key. Gap in
    // microseconds keeps the arithmetic integer-exact across engines.
    Q(
      "q_user_gaps",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      },
      Some("""SELECT user_id, event_id, ts,
             |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |FROM events""".stripMargin)
    ),

    // Batch sessionization — q_user_gaps's gaps promoted to the operator
    // analytics actually consumes: events collapse into sessions at a
    // 6-hour inactivity threshold (gap-and-island via the classic
    // lag → new-session flag → running count), then per-session stats.
    // The streaming twin is q_stream_sessionize; this is the backfill /
    // reprocessing form over the full history. Scale shape: BOTH window
    // passes (the lag and the running sum) share ONE partition spec
    // (user_id — the natural key, never a global window), so the plan
    // pays a single exchange + sort; the closing groupBy's keys
    // (user_id, session_id) are a refinement of that partitioning, so
    // HashPartitioning(user_id) already satisfies its ClusteredDistribution
    // and the aggregate adds NO further exchange (pinned in
    // PlanAuditSpec). Integer-micros arithmetic end to end; session ids
    // are per-user ordinals so the output is deterministic under any
    // partitioning.
    Q(
      "q_sessionize_batch",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
        events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"))
          .withColumn(
            "is_new",
            when(gapUs.isNull || gapUs > lit(21600000000L), 1L).otherwise(0L))
          .withColumn(
            "session_id",
            sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("ts")).as("start_ts"),
            max(col("ts")).as("end_ts"),
            (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |m AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN gap_us IS NULL OR gap_us > 21600000000 THEN 1 ELSE 0 END AS is_new
             |  FROM g),
             |sid AS (
             |  SELECT user_id, ts,
             |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM m)
             |SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             |  MIN(ts) AS start_ts, MAX(ts) AS end_ts,
             |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us
             |FROM sid GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin)
    ),

    // Interval concurrency via sweep-line — "how many shipments does each
    // supplier have in flight at once, and when does the load peak?" The
    // interval-overlap question every capacity/logistics dashboard asks,
    // answered WITHOUT an interval self-join: each interval contributes a
    // +1 at its start and a −1 after its end (interval = [ship, ship+dur]
    // inclusive, dur a deterministic 1-14-day transit stand-in since the
    // fixture carries only l_shipdate), deltas collapse per (supplier,
    // day) in ONE partial-agg'd groupBy, and a per-supplier running sum
    // over the collapsed DAY timeline is the concurrency curve. Scale
    // shape: the naive formulation is an interval self-join (Σ per-key
    // n² pairs — quadratic for a hot supplier); the sweep is O(n) rows
    // into a partial agg + a window bounded by DISTINCT DAYS per
    // supplier, partitioned on the natural supplier key. Peak election
    // is the q_argmin_join device: ONE partial-aggable max(struct) —
    // ties break to the earliest day via the negated epoch-day, never a
    // per-supplier rank window.
    Q(
      "q_interval_concurrency",
      (s, d) => {
        val li = lineitem(s, d).select(
          col("l_suppkey"),
          to_date(col("l_shipdate")).as("d1"),
          (col("l_orderkey") % 14 + 1).cast("int").as("dur"))
        // Both boundary rows come out of ONE scan via a 2-element Generate
        // (a unionAll of two projections reads the fact table twice).
        val ev = li
          .select(
            col("l_suppkey"),
            explode(array(
              struct(col("d1").as("day"), lit(1L).as("delta")),
              struct(date_add(col("d1"), col("dur") + lit(1)).as("day"),
                lit(-1L).as("delta")))).as("e"))
          .select(col("l_suppkey"), col("e.day").as("day"), col("e.delta").as("delta"))
        val daily = ev.groupBy("l_suppkey", "day").agg(sum(col("delta")).as("net"))
        val w = Window
          .partitionBy(col("l_suppkey"))
          .orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("open", sum(col("net")).over(w))
          .groupBy("l_suppkey")
          .agg(max(struct(col("open"), (-unix_date(col("day"))).as("negd"))).as("k"))
          .select(
            col("l_suppkey"),
            col("k.open").as("peak_open"),
            date_from_unix_date((-col("k.negd")).cast("int")).as("peak_day"))
          .orderBy("l_suppkey")
      },
      Some("""WITH iv AS (
             |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d1,
             |    CAST(l_orderkey % 14 + 1 AS INT) AS dur
             |  FROM lineitem),
             |ev AS (
             |  SELECT l_suppkey, d1 AS day, 1 AS delta FROM iv
             |  UNION ALL
             |  SELECT l_suppkey, d1 + (dur + 1), -1 FROM iv),
             |daily AS (
             |  SELECT l_suppkey, day, CAST(SUM(delta) AS BIGINT) AS net
             |  FROM ev GROUP BY 1, 2),
             |run AS (
             |  SELECT l_suppkey, day,
             |    CAST(SUM(net) OVER (PARTITION BY l_suppkey ORDER BY day
             |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open
             |  FROM daily),
             |pk AS (
             |  SELECT l_suppkey, open, day,
             |    row_number() OVER (PARTITION BY l_suppkey
             |                       ORDER BY open DESC, day) AS rk
             |  FROM run)
             |SELECT l_suppkey, open AS peak_open, day AS peak_day
             |FROM pk WHERE rk = 1 ORDER BY l_suppkey""".stripMargin)
    ),

    // Distribution-drift monitoring via PSI (population stability index —
    // THE standard ML-ops drift metric): split events at the exact median
    // event time, decile-bin the newer half's values against cut points
    // fitted on the OLDER (reference) half per event_type, and report
    // per-type PSI with the conventional 0.2 alert threshold. The bin
    // domain is enumerated 0..9 explicitly so an EMPTY bin still
    // contributes its smoothed term (add-half smoothing — a silent
    // missing-bin row would understate exactly the drift that matters:
    // mass vanishing from a bin). Determinism: per-bin PSI terms are
    // computed once from integer counts through one shared double
    // expression tree, then QUANTIZED to 1e-12 fixed-point longs and
    // summed as integers (the q_event_pagerank device) — a double sum
    // over bins would be partition-order-dependent. Scale shape: one
    // pass fits the reference deciles (exact `percentile`; at 100 TB the
    // mergeable approx_percentile seam of q_group_quantiles_approx
    // replaces it), cut arrays broadcast back (K types × 9 doubles), and
    // the binning pass is one row-local array filter + a partial-agg'd
    // (type, bin) rollup — every aggregation after the scan is on the
    // K×10-bounded domain. Types appearing only after the split have no
    // reference deciles and drop from the report on both engines.
    // Categorical-drift twin of q_drift_psi — the DIMENSION axis a value
    // monitor can't see: per category (event_type), reference-vs-current
    // share, the category's smoothed PSI contribution, and the two flags
    // that page an operator immediately (a category appearing only after
    // the split; one that vanished). Same exact-median time split and the
    // same fixed-point term discipline as q_drift_psi (terms quantized to
    // 1e-12 longs — order-free), but NO fitted-cuts pass: the categorical
    // domain IS the group key, so the whole monitor is the median pass +
    // ONE partial-agg'd conditional-count groupBy over a bounded domain.
    Q(
      "q_drift_categorical",
      (s, d) => {
        val counts = DriftReports
          .refCurCounts(DriftReports.halves(events(s, d), "event_type"), "event_type")
          .select(col("event_type"), col("c_ref").as("n_ref"), col("c_cur").as("n_cur"))
        val totals = counts.agg(
          sum(col("n_ref")).as("t_ref"),
          sum(col("n_cur")).as("t_cur"),
          count(lit(1)).as("k"))
        val p = (col("n_ref").cast("double") + lit(0.5)) /
          (col("t_ref").cast("double") + lit(0.5) * col("k").cast("double"))
        val q = (col("n_cur").cast("double") + lit(0.5)) /
          (col("t_cur").cast("double") + lit(0.5) * col("k").cast("double"))
        counts
          .crossJoin(broadcast(totals))
          .select(
            col("event_type"),
            col("n_ref"),
            col("n_cur"),
            round(col("n_ref").cast("double") / col("t_ref").cast("double"), 6).as("share_ref"),
            round(col("n_cur").cast("double") / col("t_cur").cast("double"), 6).as("share_cur"),
            round(
              round((p - q) * log(p / q) * lit(1.0e12), 0).cast("long").cast("double") / lit(1.0e12),
              6).as("psi_term"),
            (col("n_ref") === 0L).as("is_new"),
            (col("n_cur") === 0L).as("is_gone"))
          .orderBy("event_type")
      },
      Some(DriftReports.Sql.typeCounts("n_ref", "n_cur") +
        """
          |SELECT event_type, n_ref, n_cur,
          |  round(CAST(n_ref AS DOUBLE) / t_ref, 6) AS share_ref,
          |  round(CAST(n_cur AS DOUBLE) / t_cur, 6) AS share_cur,
          |  round(CAST(CAST(round(
          |    ((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(t_ref AS DOUBLE) + 0.5 * k)
          |     - (CAST(n_cur AS DOUBLE) + 0.5) / (CAST(t_cur AS DOUBLE) + 0.5 * k))
          |    * ln(((CAST(n_ref AS DOUBLE) + 0.5) / (CAST(t_ref AS DOUBLE) + 0.5 * k))
          |         / ((CAST(n_cur AS DOUBLE) + 0.5) / (CAST(t_cur AS DOUBLE) + 0.5 * k)))
          |    * 1.0e12) AS BIGINT) AS DOUBLE) / 1.0e12, 6) AS psi_term,
          |  n_ref = 0 AS is_new,
          |  n_cur = 0 AS is_gone
          |FROM counts, totals ORDER BY event_type""".stripMargin)
    ),

    // Chi-square categorical drift (r16 — the classic two-sample
    // homogeneity TEST next to q_drift_categorical's per-category PSI
    // report: PSI scores magnitude per category, χ² answers the yes/no
    // "did the distribution change" with a significance threshold, and a
    // monitoring stack ships both). Same exact-median time split; per
    // category the expected counts under homogeneity (E = n_i·N_half/N)
    // and the (O−E)²/E terms derive through the IDENTICAL double
    // expression tree on both engines; the term SUM rides the family's
    // 1e-9 fixed-point longs (order-free — double summation order would
    // differ between engines), and the α=0.05 decision compares
    // fixed-point integers against a literal critical-value table for
    // df 1..9 (the convention both engines state verbatim; df is K−1 and
    // K is the event-type cardinality — a df outside the table yields a
    // NULL alert rather than a fabricated threshold). ONE bounded-K
    // rollup + a 1-row report: flat at any volume.
    Q(
      "q_drift_chi2",
      (s, d) =>
        DriftReports.chi2(
          DriftReports.refCurCounts(DriftReports.halves(events(s, d), "event_type"), "event_type")),
      Some(driftChi2Oracle)
    ),

    Q(
      "q_drift_psi",
      (s, d) => {
        val half = DriftReports.halves(events(s, d), "event_type", "value")
        val cuts = DriftReports.decileCuts(half.filter(col("is_ref")))
        DriftReports.psi(cuts, Seq(DriftReports.binCounts(half, cuts)))
          .drop("psi_fp")
          .orderBy("event_type")
      },
      Some(driftPsiOracle)
    ),

    // The drift monitor's 100 TB form (q_drift_psi's registered sketch
    // twin — the q_winsorize_approx device): reference deciles from the
    // MERGEABLE approx_percentile sketch instead of the exact percentile
    // buffer that concentrates each type's full value set on one reducer.
    // Sketch cuts aren't bit-reproducible in DuckDB, so the report carries
    // the EXACT pipeline's columns (n_ref / n_cur / psi / drift_alert —
    // cross-engine hash-checked, identical machinery to q_drift_psi) plus
    // two band flags the oracle states as literal TRUE: cuts_in_band
    // (every sketch decile inside the exact ±2%-rank band — the
    // winsorize_approx bracketing) and psi_in_band (the PSI recomputed
    // from the sketch cuts within 0.05 of the exact PSI — PSI isn't
    // monotone in its cuts, so the value-level claim is checked directly
    // rather than bracketed). A sketch decile drifting out of rank band,
    // or the sketch-binned PSI diverging, flips a flag and fails the hash
    // gate. Plan shape: ONE aggregation fits both the exact buffer (27
    // ranks: deciles + band edges) and the sketch; ONE partial-agg'd
    // (type, bin_exact, bin_sketch) rollup bins the corpus for BOTH cut
    // sets in a single pass (≤K×100 rows); everything downstream is
    // K×10-bounded. At 100 TB the exact columns drop away and the sketch
    // runs alone — this report exists to CERTIFY that swap.
    Q(
      "q_drift_psi_approx",
      (s, d) => {
        val half = DriftReports.halves(events(s, d), "event_type", "value")
        val decileRanks = (1 to 9).map(k => k / 10.0)
        val bandRanks = (1 to 9).flatMap(k => Seq(k / 10.0 - 0.02, k / 10.0 + 0.02))
        val exactRanks = (decileRanks ++ bandRanks).map(r => s"${r}D").mkString(",")
        val stats = half
          .filter(col("is_ref"))
          .groupBy("event_type")
          .agg(
            expr(s"percentile(value, array($exactRanks))").as("qe"),
            expr(s"approx_percentile(value, ${DriftReports.decileRanks}, 10000)").as("qa"))
          .select(
            col("event_type"),
            DriftReports.round6(slice(col("qe"), 1, 9)).as("cuts_e"),
            DriftReports.round6(col("qa")).as("cuts_a"),
            // Band edges stay unrounded: they bound the ROUNDED sketch cut
            // only through the flag, never through a bin rule. qe lays out
            // as [9 deciles, then (lo, hi) per decile] — lo at 10,12,..,26.
            array((10 to 27 by 2).map(i => element_at(col("qe"), i)): _*).as("lo"),
            array((11 to 27 by 2).map(i => element_at(col("qe"), i)): _*).as("hi"))
        val counts = DriftReports.refCurCounts(
          half
            .join(broadcast(stats), Seq("event_type"))
            .withColumn("bin_e", DriftReports.bin(col("cuts_e")))
            .withColumn("bin_a", DriftReports.bin(col("cuts_a"))),
          "event_type", "bin_e", "bin_a")
        // The q_drift_psi report over either bin axis.
        def psiOn(binCol: String): org.apache.spark.sql.DataFrame =
          DriftReports.psi(stats, Seq(counts
            .groupBy(col("event_type"), col(binCol).as("bin"))
            .agg(sum(col("c_ref")).as("c_ref"), sum(col("c_cur")).as("c_cur"))))
        val exact = psiOn("bin_e")
        val sketch = psiOn("bin_a").select(col("event_type"), col("psi_fp").as("psi_fp_a"))
        val inBand = forall(
          sequence(lit(1), lit(9)),
          k =>
            element_at(col("cuts_a"), k)
              .between(element_at(col("lo"), k), element_at(col("hi"), k)))
        exact
          .join(sketch, Seq("event_type"))
          .join(stats.select(col("event_type"), col("cuts_a"), col("lo"), col("hi")),
            Seq("event_type"))
          .select(
            col("event_type"),
            col("n_ref"),
            col("n_cur"),
            col("psi"),
            col("drift_alert"),
            inBand.as("cuts_in_band"),
            (abs(col("psi_fp_a") - col("psi_fp")) <= lit(50000000000L)).as("psi_in_band"))
          .orderBy("event_type")
      },
      Some(DriftReports.Sql.psi(selectCols =
        """,
          |  TRUE AS cuts_in_band,
          |  TRUE AS psi_in_band""".stripMargin))
    ),

    // Kolmogorov-Smirnov drift monitor — the drift family's BINNING-FREE
    // statistic (the other test every ML-ops monitoring stack ships next
    // to PSI: PSI needs fitted bins and smoothing; the two-sample KS
    // statistic D = sup |F_ref − F_cur| is distribution-free and
    // parameterless, so it catches shape changes PSI's decile grid can
    // wash out). Same exact-median time split as the PSI pair; per type
    // the empirical CDFs evaluate at every distinct value via ONE
    // (type, value) partial-agg'd rollup (duplicate values combine
    // map-side — the window never sees raw event rows) + one per-type
    // cumulative window over the distinct-value domain; the alert is the
    // standard α=0.05 two-sample threshold (DriftReports.ks). Scale: the
    // exact statistic costs a per-type distinct-value sort (the known
    // exactness cost, the q_drift_psi percentile story); at 100 TB the
    // CDFs evaluate on q_drift_psi_approx's certified sketch grid instead
    // — a binned KS over K×10 rows.
    Q(
      "q_drift_ks",
      (s, d) => {
        val half = DriftReports.halves(events(s, d), "event_type", "value")
        DriftReports
          .ks(DriftReports.refCurCounts(half, "event_type", "value"), "value")
          .select("event_type", "n_ref", "n_cur", "ks", "drift_alert")
          .orderBy("event_type")
      },
      Some(DriftReports.Sql.ks())
    ),

    // The KS monitor's 100 TB form (q_drift_ks's registered sketch twin —
    // the family convention q_drift_psi_approx set): the empirical CDFs
    // evaluate on the certified approx_percentile decile grid instead of
    // every distinct value, so the statistic needs no per-type value sort
    // — exactly how an online monitor computes KS over binned state. The
    // binned sup evaluates on a SUBSET of the exact statistic's evaluation
    // points, so binned ≤ exact is a THEOREM, not a tolerance — the first
    // band flag states it; the second bounds the coarsening gap (≤ 0.05).
    // The gap bound is EMPIRICAL to this corpus, not a theorem (r15
    // advice): the decile grid caps per-bin REFERENCE mass at ~10%, but
    // the binned-vs-exact gap is driven by how much CURRENT mass lands
    // inside a reference bin, which no grid on the reference half can
    // bound — a fixture/data change that concentrates current mass
    // between two deciles could flip this flag without any code defect;
    // diagnose a flip as drift in the data, not a regression. Exact
    // columns (n_ref / n_cur / ks / drift_alert — identical machinery to
    // q_drift_ks) stay cross-engine hash-checked; the sketch claims ride
    // the flags (NULL, as KS is, for a type with an empty half). ONE
    // (type, value-bin) rollup serves the binned CDFs; the exact arm pays
    // its documented distinct-value window and drops away at scale — this
    // report certifies that swap.
    Q(
      "q_drift_ks_approx",
      (s, d) => {
        val half = DriftReports.halves(events(s, d), "event_type", "value")
        // Exact arm (the q_drift_ks report): distinct-value CDF gaps.
        val counts = DriftReports.refCurCounts(half, "event_type", "value")
        val totals = DriftReports.totals(counts)
        val exact = DriftReports.ks(counts, "value", totals)
        // Sketch arm: CDFs at the certified decile-grid boundaries.
        val cuts = half
          .filter(col("is_ref"))
          .groupBy("event_type")
          .agg(DriftReports.round6(
            expr(s"approx_percentile(value, ${DriftReports.decileRanks}, 10000)")).as("cuts"))
        val sketch = DriftReports
          .ks(DriftReports.binCounts(half, cuts), "bin", totals)
          .select(col("event_type"), col("ks_raw").as("ks_binned"))
        // Left join: a type with no reference half has no cuts, so no
        // sketch row; it keeps its exact row with NULL flags.
        exact
          .join(sketch, Seq("event_type"), "left")
          .select(
            col("event_type"),
            col("n_ref"),
            col("n_cur"),
            col("ks"),
            col("drift_alert"),
            (col("ks_binned") <= col("ks_raw") + lit(1e-12)).as("binned_le_exact"),
            (col("ks_raw") - col("ks_binned") <= lit(0.05)).as("gap_in_band"))
          .orderBy("event_type")
      },
      Some(DriftReports.Sql.ks(
        s""",
          |  ${DriftReports.Sql.bothHalves("TRUE")} AS binned_le_exact,
          |  ${DriftReports.Sql.bothHalves("TRUE")} AS gap_in_band""".stripMargin))
    ),

    // Watermark-tuning lateness profile — the planning artifact behind
    // every `withWatermark` delay choice in §2.4: how late do events
    // actually arrive, and what fraction would each candidate delay
    // drop? Lateness = how far an event's time sits below the running
    // event-time high-water mark in ARRIVAL order (event_id as the
    // ingestion sequence — the deterministic arrival proxy), which is
    // exactly the quantity a Structured Streaming watermark of delay D
    // compares against. The oracle states the textbook one-reducer
    // global running max; the plan computes it hierarchically
    // (EtlOps.arrivalLatenessMicros — balanced arrival blocks + a
    // bounded ≤4096-row prefix-max broadcast, the weightedSystematicSample
    // device for MAX), spec-proven row-identical. Integer-micros
    // arithmetic end to end; the drop fractions are int/int doubles.
    Q(
      "q_late_arrival_profile",
      (s, d) => {
        val lat = graft.operators.EtlOps.arrivalLatenessMicros(
          events(s, d).select(col("event_id"), col("ts")),
          "ts",
          "event_id")
        val delays = Seq(0L, 10L, 30L, 60L, 360L)
        val aggs = count(lit(1)).cast("double").as("n") +:
          delays.map(m =>
            sum(when(col("lateness_us") > m * 60000000L, 1).otherwise(0))
              .cast("double").as(s"l$m"))
        val one = lat.agg(aggs.head, aggs.tail: _*)
        one.selectExpr(
          s"""stack(${delays.size},
             |${delays.map(m => s"  CAST($m AS BIGINT), CAST(l$m AS BIGINT), l$m / n").mkString(",\n")}
             |) AS (delay_minutes, n_late, frac_late)""".stripMargin)
          .orderBy("delay_minutes")
      },
      Some("""WITH l AS (
             |  SELECT event_id, epoch_us(ts) AS t,
             |    max(epoch_us(ts)) OVER (ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |  FROM events),
             |x AS (
             |  SELECT CASE WHEN pm IS NULL THEN 0 ELSE greatest(0, pm - t) END AS late
             |  FROM l),
             |g AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS l0,
             |    CAST(SUM(CASE WHEN late > 600000000 THEN 1 ELSE 0 END) AS DOUBLE) AS l10,
             |    CAST(SUM(CASE WHEN late > 1800000000 THEN 1 ELSE 0 END) AS DOUBLE) AS l30,
             |    CAST(SUM(CASE WHEN late > 3600000000 THEN 1 ELSE 0 END) AS DOUBLE) AS l60,
             |    CAST(SUM(CASE WHEN late > 21600000000 THEN 1 ELSE 0 END) AS DOUBLE) AS l360
             |  FROM x)
             |SELECT * FROM (
             |  SELECT CAST(0 AS BIGINT) AS delay_minutes, CAST(l0 AS BIGINT) AS n_late, l0 / n AS frac_late FROM g
             |  UNION ALL SELECT 10, CAST(l10 AS BIGINT), l10 / n FROM g
             |  UNION ALL SELECT 30, CAST(l30 AS BIGINT), l30 / n FROM g
             |  UNION ALL SELECT 60, CAST(l60 AS BIGINT), l60 / n FROM g
             |  UNION ALL SELECT 360, CAST(l360 AS BIGINT), l360 / n FROM g
             |) ORDER BY delay_minutes""".stripMargin)
    ),

    // Full CUBE (status × order-year): all four grouping-set levels from
    // ONE scan — the slice-any-way dashboard surface. Same single-shuffle
    // partial-agg re-aggregation story as q_rollup_sales; CUBE adds the
    // year-only marginal a ROLLUP cannot produce. grouping_id
    // disambiguates subtotal NULLs from data NULLs.
    Q(
      "q_cube_sales",
      (s, d) =>
        orders(s, d)
          .withColumn("order_year", year(col("o_orderdate")).cast("int"))
          .cube(col("o_orderstatus"), col("order_year"))
          .agg(
            grouping_id().as("gid"),
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("total_price")
          )
          .select("o_orderstatus", "order_year", "gid", "n", "total_price"),
      Some("""SELECT o_orderstatus, CAST(year(o_orderdate) AS INTEGER) AS order_year,
             |  GROUPING(o_orderstatus, year(o_orderdate)) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS DOUBLE) AS total_price
             |FROM orders
             |GROUP BY CUBE(o_orderstatus, year(o_orderdate))""".stripMargin)
    ),

    // Explicit GROUPING SETS — the report shapes ROLLUP/CUBE can't
    // express: exactly (status×priority), (status×year) and the grand
    // total, WITHOUT the priority×year marginal a CUBE would also pay
    // for. Same single-scan, single-shuffle Expand story as
    // rollup/cube: each input row replicates once per MATCHED set only
    // (3 here vs CUBE's 8), partial-agg'd map-side — at 100 TB,
    // enumerating only the sets the report needs is the difference
    // between 3× and 8× shuffle volume. grouping_id over the three
    // grouping columns disambiguates subtotal NULLs from data NULLs.
    Q(
      "q_grouping_sets",
      (s, d) =>
        orders(s, d)
          .withColumn("order_year", year(col("o_orderdate")).cast("int"))
          .groupingSets(
            Seq(
              Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderstatus"), col("order_year")),
              Seq.empty[org.apache.spark.sql.Column]
            ),
            col("o_orderstatus"), col("o_orderpriority"), col("order_year")
          )
          .agg(
            grouping_id().as("gid"),
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("total_price")
          )
          .select("o_orderstatus", "o_orderpriority", "order_year", "gid", "n", "total_price"),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  CAST(year(o_orderdate) AS INTEGER) AS order_year,
             |  GROUPING(o_orderstatus, o_orderpriority, year(o_orderdate)) AS gid,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS DOUBLE) AS total_price
             |FROM orders
             |GROUP BY GROUPING SETS (
             |  (o_orderstatus, o_orderpriority),
             |  (o_orderstatus, year(o_orderdate)),
             |  ())""".stripMargin)
    ),

    // Nearest-station assignment — the GEOSPATIAL enrichment the reference's
    // domain is built on (USCRN stations carry longitude/latitude —
    // uscrn_scrape.py:39 — and every sensor pipeline's first join is
    // "which station does this point belong to"): each customer point maps
    // to its nearest weather station. Coordinates are synthesized
    // deterministically from keys (the corpus has no geo columns — the
    // md5-digit device, arithmetic both engines state identically): 25
    // stations across an Alaska-like box from nation, customer points from
    // c_custkey. The nearest decision runs in EQUIRECTANGULAR degree space
    // (dlat² + (cos 60°·dlon)² with the latitude scale as the exact
    // constant 0.5) — pure ±/× arithmetic, bit-identical cross-engine,
    // where haversine's sin/cos would differ in the low bits between the
    // JVM and DuckDB's libm and flip boundary assignments; at reporting
    // time a deployment swaps in haversine AFTER the assignment. Scale
    // shape: the station table is a DIMENSION (broadcast, like every
    // station registry — 25 here, ~10⁴ for all of NOAA); the argmin is ONE
    // partial-agg'd min(struct) per point (the q_argmin_join device — no
    // window, no per-point sort); beyond ~10⁵ stations the broadcast
    // cross-candidate step becomes a geohash-CELL candidate join (point
    // cell × 3×3 neighbor station cells) — the documented seam.
    Q(
      "q_nearest_station",
      (s, d) => {
        val st = nation(s, d).select(
          col("n_nationkey").cast("long").as("station_id"),
          (lit(55.0) + (col("n_nationkey") * 7 % 130).cast("double") / 10.0).as("s_lat"),
          (lit(-130.0) - (col("n_nationkey") * 11 % 350).cast("double") / 10.0).as("s_lon"))
        val pts = customer(s, d).select(
          col("c_custkey"),
          (lit(55.0) + (col("c_custkey") * 13 % 1300).cast("double") / 100.0).as("lat"),
          (lit(-130.0) - (col("c_custkey") * 17 % 3500).cast("double") / 100.0).as("lon"))
        val dlat = col("lat") - col("s_lat")
        val dlon = (col("lon") - col("s_lon")) * lit(0.5)
        val d2 = dlat * dlat + dlon * dlon
        pts
          .crossJoin(broadcast(st))
          .groupBy(col("c_custkey"), col("lat"), col("lon"))
          .agg(min(struct(d2.as("d2"), col("station_id").as("station_id"))).as("m"))
          .select(
            col("c_custkey"), col("lat"), col("lon"),
            col("m.station_id").as("station_id"),
            round(sqrt(col("m.d2")), 6).as("dist_deg"))
          .orderBy("c_custkey")
      },
      Some("""WITH st AS (
             |  SELECT CAST(n_nationkey AS BIGINT) AS station_id,
             |    55.0 + CAST(n_nationkey * 7 % 130 AS DOUBLE) / 10.0 AS s_lat,
             |    -130.0 - CAST(n_nationkey * 11 % 350 AS DOUBLE) / 10.0 AS s_lon
             |  FROM nation),
             |p AS (
             |  SELECT c_custkey,
             |    55.0 + CAST(c_custkey * 13 % 1300 AS DOUBLE) / 100.0 AS lat,
             |    -130.0 - CAST(c_custkey * 17 % 3500 AS DOUBLE) / 100.0 AS lon
             |  FROM customer),
             |d AS (
             |  SELECT p.c_custkey, p.lat, p.lon, st.station_id,
             |    (p.lat - st.s_lat) * (p.lat - st.s_lat)
             |      + ((p.lon - st.s_lon) * 0.5) * ((p.lon - st.s_lon) * 0.5) AS d2
             |  FROM p, st),
             |r AS (
             |  SELECT c_custkey, lat, lon, station_id, d2,
             |    row_number() OVER (PARTITION BY c_custkey ORDER BY d2, station_id) AS rk
             |  FROM d)
             |SELECT c_custkey, lat, lon, station_id, round(sqrt(d2), 6) AS dist_deg
             |FROM r WHERE rk = 1 ORDER BY c_custkey""".stripMargin)
    ),

    // q_nearest_station's 100 TB form (the r15 verdict's missing scale
    // twin — every other family with a documented seam carries one): the
    // broadcast cross-candidate step becomes a CELL candidate join. 2048
    // stations (the regime past ~10³ where a 25-row broadcast cross stops
    // being the honest plan) are synthesized on a jittered grid in INTEGER
    // 1/128-degree units — all coordinates and distances are exact
    // integers, so the argmin is bit-portable with no floating-point cell
    // arithmetic (trig stays banned per the family rule; even the / for
    // cell ids is integer `div`). Each station registers in its 3×3
    // neighbor cells (one 9-way explode of the DIMENSION, never of the
    // points); points join on their single (cx, cy) cell and elect the
    // same partial-agg'd min(struct) argmin as the broadcast form. The
    // geometry GUARANTEES cell ≡ exact here: grid pitch 36×52 units with
    // jitter ≤ 8 puts the true nearest station within √(26²+34²) ≈ 42.8
    // units, every station within 52 units lands in the 3×3 neighborhood,
    // and every non-candidate is provably > 52 away — so the candidate
    // argmin IS the global argmin, which is exactly what the oracle
    // states: DuckDB computes the BRUTE-FORCE argmin (and the 3×3
    // candidate count via the same cell arithmetic), so a cell-size,
    // neighbor-enumeration, or coverage defect strands some point's true
    // nearest outside the candidate set and flips rows. Scale shape: the
    // station dimension explodes ×9 and broadcasts (18k rows; at 10⁶+
    // stations the same plan shuffles both sides on the cell key); the
    // per-point candidate set is density-bounded (~13 here) instead of
    // |stations| — the pruning that makes geospatial argmin linear.
    Q(
      "q_nearest_station_cells",
      (s, d) => {
        val st = s.range(2048).select(
          col("id").as("station_id"),
          (col("id") % 64 * 36 + col("id") * 7 % 5 * 2).as("sxu"),
          (expr("id div 64") * 52 + col("id") * 11 % 5 * 2).as("syu"))
        val stCells = st
          .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(
            col("station_id"), col("sxu"), col("syu"),
            (expr("sxu div 52") + col("dx")).as("cx"),
            (expr("syu div 52") + col("dy")).as("cy"))
        val pts = customer(s, d)
          .select(
            col("c_custkey"),
            (col("c_custkey") * 13 % 2268).cast("long").as("pxu"),
            (col("c_custkey") * 17 % 1612).cast("long").as("pyu"))
          .withColumn("cx", expr("pxu div 52"))
          .withColumn("cy", expr("pyu div 52"))
        val d2u = (col("pxu") - col("sxu")) * (col("pxu") - col("sxu")) +
          (col("pyu") - col("syu")) * (col("pyu") - col("syu"))
        pts
          .join(broadcast(stCells), Seq("cx", "cy"))
          .groupBy(col("c_custkey"))
          .agg(
            min(struct(d2u.as("d2u"), col("station_id").as("station_id"))).as("m"),
            count(lit(1)).as("n_candidates"))
          .select(
            col("c_custkey"),
            col("m.station_id").as("station_id"),
            round(sqrt(col("m.d2u").cast("double")) * lit(0.0078125), 6).as("dist_deg"),
            col("n_candidates"))
          .orderBy("c_custkey")
      },
      // The oracle is the EXACT brute-force argmin (cell pruning must be
      // invisible in the assignment) plus the candidate count restated
      // through the same integer cell arithmetic.
      Some("""WITH st AS (
             |  SELECT r.range AS station_id,
             |    (r.range % 64) * 36 + (r.range * 7 % 5) * 2 AS sxu,
             |    (r.range // 64) * 52 + (r.range * 11 % 5) * 2 AS syu
             |  FROM range(2048) r),
             |p AS (
             |  SELECT c_custkey,
             |    CAST((c_custkey * 13) % 2268 AS BIGINT) AS pxu,
             |    CAST((c_custkey * 17) % 1612 AS BIGINT) AS pyu
             |  FROM customer),
             |d AS (
             |  SELECT p.c_custkey, st.station_id,
             |    (p.pxu - st.sxu) * (p.pxu - st.sxu)
             |      + (p.pyu - st.syu) * (p.pyu - st.syu) AS d2u,
             |    (abs(p.pxu // 52 - st.sxu // 52) <= 1
             |      AND abs(p.pyu // 52 - st.syu // 52) <= 1) AS cand
             |  FROM p, st),
             |r AS (
             |  SELECT *, row_number() OVER (PARTITION BY c_custkey
             |    ORDER BY d2u, station_id) AS rk FROM d),
             |nc AS (
             |  SELECT c_custkey,
             |    CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates
             |  FROM d GROUP BY 1)
             |SELECT r.c_custkey, r.station_id,
             |  round(sqrt(CAST(r.d2u AS DOUBLE)) * 0.0078125, 6) AS dist_deg,
             |  nc.n_candidates
             |FROM r JOIN nc USING (c_custkey)
             |WHERE rk = 1 ORDER BY c_custkey""".stripMargin)
    ),

    // Correlation / least-squares regression per group — the statistical
    // profiling layer (does discount move with quantity?). Built-in
    // corr()/regr_slope() aggregate doubles in shuffle-arrival order, so
    // their low bits are nondeterministic across engines AND across runs;
    // instead the five moments are summed EXACTLY in decimal (order-free),
    // and slope/intercept/r are derived from those moments with the
    // identical double expression tree on both engines — bit-stable, so
    // the hash gate holds. Products are squared in DOUBLE (IEEE-identical
    // on both engines; decimal×decimal would overflow DuckDB's int64
    // decimal kernel at price², and Spark's precision-loss rules differ)
    // then summed through DECIMAL(30,8): 22 integer digits of headroom —
    // price² ~1e10 × 1e10 rows = 1e20 still fits at the 100 TB row count.
    // One partial-agg shuffle of five fixed-width accumulators per group.
    Q(
      "q_corr_stats",
      (s, d) => {
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        // spreadScan (r17): one scan partition serialized the six
        // decimal-moment partial aggregates (measured wall ≈ taskRun ≈ 3 s
        // at sf0.1 local[32]); round-robin spread parallelizes them and is
        // a no-op when the input already scans wide.
        val m = EtlOps
          .spreadScan(lineitem(s, d).select(col("l_returnflag"), x, y))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(x.cast("decimal(25,10)")).as("sx"),
            sum(y.cast("decimal(25,10)")).as("sy"),
            sum((x * x).cast("decimal(30,8)")).as("sxx"),
            sum((y * y).cast("decimal(30,8)")).as("syy"),
            sum((x * y).cast("decimal(30,8)")).as("sxy")
          )
        val nd  = col("n").cast("double")
        val sx  = col("sx").cast("double")
        val sy  = col("sy").cast("double")
        val sxx = col("sxx").cast("double")
        val syy = col("syy").cast("double")
        val sxy = col("sxy").cast("double")
        val covN = nd * sxy - sx * sy // n² × covariance
        // n·Σx² − (Σx)² is mathematically ≥ 0 but double cancellation can
        // land a hair below zero, and a constant column lands AT zero:
        // Spark's sqrt(neg) → NaN where DuckDB RAISES, and x/0 → Inf/NaN
        // where DuckDB raises on 0/0 — either would break the oracle gate.
        // greatest(·, 0) + NULLIF(·, 0) (identical in the SQL below) make
        // zero-variance groups yield NULL on BOTH engines; ZeroVarianceSpec
        // plants a constant group to pin it.
        val vxN = greatest(nd * sxx - sx * sx, lit(0.0))
        val vyN = greatest(nd * syy - sy * sy, lit(0.0))
        m.select(
          col("l_returnflag"),
          col("n"),
          round(covN / nullif(vxN, lit(0.0)), 6).as("slope"),
          round((sy * sxx - sx * sxy) / nullif(vxN, lit(0.0)), 6).as("intercept"),
          round(covN / nullif(sqrt(vxN * vyN), lit(0.0)), 6).as("r"),
          round(covN / (nd * nd), 6).as("covar_pop")
        ).orderBy("l_returnflag")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    SUM(CAST(l_quantity AS DECIMAL(25,10))) AS sx,
             |    SUM(CAST(l_extendedprice AS DECIMAL(25,10))) AS sy,
             |    SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,8))) AS sxx,
             |    SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,8))) AS syy,
             |    SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,8))) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / NULLIF(greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 0.0), 6) AS slope,
             |  round((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
             |    / NULLIF(greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 0.0), 6) AS intercept,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / NULLIF(sqrt(greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
             |         * greatest(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0)), 0.0), 6) AS r,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS covar_pop
             |FROM m ORDER BY l_returnflag""".stripMargin)
    ),

    // Z-score anomaly flagging per event_type — the monitoring staple
    // (latency spikes, metric excursions). Stats come from ONE K-row
    // partial-agg pass (decimal-exact sums, same order-free story as
    // q_corr_stats) broadcast back onto the fact scan: the fact side
    // never shuffles, so at 100 TB this is scan + tiny broadcast join.
    // z is derived with the identical double tree on both engines, so
    // the |z| > 3 flag can't flip across engines on a boundary ULP.
    Q(
      "q_anomaly_zscore",
      (s, d) => {
        val ev = events(s, d)
        ev.select(col("event_id"), col("event_type"), col("value"))
          .join(broadcast(DriftReports.zStats(ev)), Seq("event_type"))
          .select(
            col("event_id"),
            col("event_type"),
            col("value"),
            round(DriftReports.z, 4).as("z"),
            (abs(DriftReports.z) > lit(3.0)).as("is_outlier"))
      },
      Some(DriftReports.Sql.zScores +
        s""",
           |  abs(${DriftReports.Sql.z}) > 3.0 AS is_outlier
           |FROM events e JOIN stats USING (event_type)""".stripMargin)
    ),

    // Record linkage / entity resolution: near-identical dimension rows by
    // bounded edit distance — the warehouse-hygiene operator (typo'd
    // duplicate customers). NEVER all-pairs: candidates come from a
    // 1-deletion-neighborhood blocking key (SymSpell): each name emits
    // itself plus every single-character deletion, and any pair at edit
    // distance ≤ 1 shares at least one key (substitution → delete the
    // edited position in both; insertion/deletion → the shorter string IS
    // a deletion of the longer; equal → the name itself). Unlike a
    // fixed-cardinality key (nation × segment has ~125 blocks at ANY
    // corpus size, so Σ|block|² = O(n²/125) at 100×), deletion keys are
    // near-unique: |block| is bounded by duplicate multiplicity times the
    // key's 1-insertion neighborhood occupancy — independent of corpus
    // size — and key cardinality grows with n (EntityMatchSpec pins
    // max-block ≈ constant under a 10× corpus). Candidates are exact-verified with levenshtein and the
    // same-nation/segment business rule, then DISTINCT'd (a pair can
    // share several keys) — output is identical to the naive blocked
    // self-join; only the candidate generation scales.
    Q(
      "q_entity_match",
      (s, d) => {
        val c = customer(s, d).select(
          col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))
        val keyed = c.withColumn("del_key", explode(deletionKeys(col("c_name"))))
        val a = keyed.toDF("a_key", "a_name", "nk", "seg", "del_key")
        val b = keyed.toDF("b_key", "b_name", "nk", "seg", "del_key")
        a.join(b, Seq("del_key", "nk", "seg"))
          .filter(col("a_key") < col("b_key"))
          .withColumn("edit_dist", levenshtein(col("a_name"), col("b_name")))
          .filter(col("edit_dist") <= 1)
          .select(col("a_key"), col("b_key"), col("edit_dist"))
          .distinct()
      },
      Some("""WITH keys AS (
             |  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             |         CASE WHEN i = 0 THEN c_name
             |              ELSE substr(c_name, 1, i-1) || substr(c_name, i+1) END AS del_key
             |  FROM customer, LATERAL (SELECT unnest(generate_series(0, length(c_name))) AS i) t
             |)
             |SELECT DISTINCT a.c_custkey AS a_key, b.c_custkey AS b_key,
             |  levenshtein(a.c_name, b.c_name) AS edit_dist
             |FROM keys a JOIN keys b
             |  ON a.del_key = b.del_key AND a.c_nationkey = b.c_nationkey
             |  AND a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey
             |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin)
    ),

    // Argmin-per-group (the TPC-H Q2 "min within group, then the row that
    // achieves it" shape) as ONE partial-aggregable min(struct) — no
    // window, no self-join: the struct's (price, suppkey) lexicographic
    // order IS the tie-broken argmin, and partial aggregation collapses
    // each group map-side before the single shuffle. The window
    // formulation (row_number = 1) would sort every group's full row set
    // on one reducer; this one ships one struct per group per partition.
    // The oracle states the same semantics in window form — plans differ,
    // results are identical because the tie-break is total.
    Q(
      "q_argmin_join",
      (s, d) =>
        lineitem(s, d)
          .groupBy(col("l_partkey"))
          .agg(min(struct(col("l_extendedprice"), col("l_suppkey"))).as("m"))
          .select(
            col("l_partkey"),
            col("m.l_suppkey").as("best_suppkey"),
            col("m.l_extendedprice").as("best_price")
          )
          .orderBy("l_partkey"),
      Some("""SELECT l_partkey, l_suppkey AS best_suppkey, l_extendedprice AS best_price
             |FROM lineitem
             |QUALIFY row_number() OVER (
             |  PARTITION BY l_partkey ORDER BY l_extendedprice, l_suppkey) = 1
             |ORDER BY l_partkey""".stripMargin)
    ),

    // Semi join — "orders with at least one jumbo lineitem" (EXISTS) —
    // completes the join-type inventory (inner/broadcast, anti, as-of,
    // range, semi). The probe side collapses to KEYS ONLY before the
    // join and the quantity predicate is pushed to its scan; at 100 TB
    // the runtime bloom from the filtered side prunes the orders scan.
    Q(
      "q_semi_join_orders",
      (s, d) => {
        val jumbo = lineitem(s, d).filter(col("l_quantity") >= 45).select("l_orderkey")
        orders(s, d)
          .join(jumbo, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_custkey", "o_totalprice")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_quantity >= 45)""".stripMargin)
    ),

    // Bloom-pruned semi join (r16 — q_semi_join_orders' row notes "at
    // 100 TB the runtime bloom from the filtered side prunes the orders
    // scan"; this row REGISTERS that device explicitly via
    // EtlOps.bloomPrunedSemiJoin, for the cases Spark's InjectRuntimeFilter
    // can't see — a key set from a separate pipeline stage or cross-job
    // handoff): high-value orders (the selective build side) bloom-filter
    // the LINEITEM probe BEFORE any shuffle — one partial-agg'd pass
    // builds a 32 KB filter, it ships back as a plan literal, and
    // might_contain drops non-matching probe rows at the scan — then the
    // exact semi join removes the bloom's false positives. THE ORACLE IS
    // THE PLAIN SEMI JOIN: the filter accelerates, the join decides, so a
    // hash mismatch means the bloom DROPPED a true match (the one failure
    // mode that corrupts results) — false-positive rate only moves the
    // pruning payoff, never the rows. Plan pin: might_contain sits on the
    // probe side below the join.
    Q(
      "q_semi_join_bloom",
      (s, d) => {
        val hot = orders(s, d).filter(col("o_totalprice") > 400000.0).select("o_orderkey")
        graft.operators.EtlOps
          .bloomPrunedSemiJoin(
            lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
            hot,
            probeKey = "l_orderkey",
            buildKey = "o_orderkey")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_orderkey = l_orderkey AND o_totalprice > 400000.0)
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)
    ),

    // Key-skew diagnostic — the report a data engineer runs BEFORE a big
    // join to decide salting/broadcast strategy (§5's skew playbook needs
    // this measurement): top-20 keys by row count with their corpus
    // share. Integer-ordered top-N (count desc, key asc — no float
    // ordering), TakeOrderedAndProject keeps the reducer bounded at N
    // regardless of key cardinality; share divides exact longs.
    Q(
      "q_skew_report",
      (s, d) => {
        val ev = events(s, d)
        val total = ev.agg(count(lit(1)).as("n_total"))
        ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(total))
          .select(col("user_id"), col("n"), (col("n") * lit(1.0) / col("n_total")).as("share"))
          .orderBy(col("n").desc, col("user_id"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT COUNT(*) AS n_total FROM events)
             |SELECT user_id, COUNT(*) AS n, COUNT(*) * 1.0 / n_total AS share
             |FROM events, t
             |GROUP BY user_id, n_total
             |ORDER BY n DESC, user_id LIMIT 20""".stripMargin)
    ),

    // Time-series trend report (daily revenue + running total + calendar
    // 7-day moving average) — the dashboard time-axis staple. The global
    // single-partition windows are SAFE here precisely because the
    // partial-agg groupBy collapses the corpus to DATE cardinality first
    // (a few thousand rows at ANY corpus size — bounded domain); when the
    // windowed domain is NOT bounded, the hierarchical prefix sum
    // (q_pack_context) is the pattern instead. The moving average is a
    // calendar RANGE frame over integer day numbers (date gaps shrink the
    // window, rows-frames would silently span gaps); running frames only.
    Q(
      "q_sales_trend",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(
            sum(col("o_totalprice").cast("decimal(25,10)")).as("rev"),
            count(lit(1)).as("n_orders")
          )
        val dayN = datediff(col("day"), lit("1990-01-01").cast("date"))
        // Bounded domain (one row per DISTINCT day), so the global window is
        // safe — partitioned on a non-foldable zero (a literal would be
        // constant-folded out of the spec) to make that structural with the
        // same single-partition cost, minus WindowExec's warning.
        val k = graft.operators.EtlOps.boundedWindowKey(col("n_orders"))
        val cum = Window.partitionBy(k)
          .orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val mov = Window.partitionBy(k).orderBy(dayN).rangeBetween(-6, 0)
        daily
          .select(
            col("day"),
            col("n_orders"),
            col("rev").cast("double").as("revenue"),
            sum(col("rev")).over(cum).cast("double").as("cum_revenue"),
            round(sum(col("rev")).over(mov).cast("double") / count(lit(1)).over(mov), 6)
              .as("avg7_revenue")
          )
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    SUM(CAST(o_totalprice AS DECIMAL(25,10))) AS rev,
             |    COUNT(*) AS n_orders
             |  FROM orders GROUP BY 1)
             |SELECT day, n_orders,
             |  CAST(rev AS DOUBLE) AS revenue,
             |  CAST(SUM(rev) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue,
             |  round(CAST(SUM(rev) OVER w AS DOUBLE) / (COUNT(*) OVER w), 6) AS avg7_revenue
             |FROM daily
             |WINDOW w AS (ORDER BY datediff('day', DATE '1990-01-01', day)
             |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY day""".stripMargin)
    ),

    // PageRank centrality over the event-transition graph — the link-graph
    // authority signal curation stacks use as a quality prior (domain
    // ranking over a hyperlink graph; here the graph is per-user
    // event_type transitions so the whole shape is oracle-checkable).
    // Arithmetic is FIXED-POINT INTEGER (GraphOps: ranks in
    // parts-per-1e9, every division a DIV), bit-identical across Spark,
    // DuckDB, retries, and partitionings. d = 0.85, 10 iterations,
    // dangling mass redistributed uniformly.
    //
    // Scale shape: the ONLY corpus-sized pass is the edge build — one
    // user_id window shuffle (per-user history is bounded; the key grows
    // with the data, no hot window) + a partial-agg'd (src, dst) rollup
    // that collapses to the K²-bounded transition matrix map-side. The
    // node domain here is bounded by construction (event types — the
    // lang/source-cardinality contract), so the iterate runs on the
    // driver over the collected K²-row edge list, the k-means
    // centroid-loop pattern: zero per-iteration Spark jobs. Web-scale
    // node sets (domain graphs, ~1e7 nodes at 100 TB) use
    // GraphOps.rankDistributed — ranks stay a distributed table, one
    // equi-join + partial agg per localCheckpoint'ed iteration —
    // spec-pinned to produce THE SAME integers (GraphCalibrationSpec).
    Q(
      "q_event_pagerank",
      (s, d) => {
        val R = graft.operators.GraphOps.DefaultScale
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val edges = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("dst", lead(col("event_type"), 1).over(w))
          .filter(col("dst").isNotNull)
          .groupBy(col("event_type").as("src"), col("dst"))
          .agg(count(lit(1)).as("cnt"))
        val nodes = events(s, d).select(col("event_type").as("node")).distinct()
        import s.implicits._
        // Nodes first: rankBoundedGraph's bounded-domain guard (≤ 65536
        // nodes) must fire BEFORE the K²-sized edge list is collected —
        // the other order would OOM the driver on a high-cardinality
        // column before the guard could refuse it.
        val nodeList = nodes.as[String].collect().toSeq.sorted
        require(
          nodeList.size <= 65536,
          s"q_event_pagerank: ${nodeList.size} nodes — use GraphOps.rankDistributed for web-scale graphs")
        // The node guard bounds K, but the (src, dst) rollup collected next
        // is K²-sized in the worst case (4.3e9 pairs at the node cap) — a
        // distributed count (cheap: the rollup is already partial-agg'd)
        // must ALSO clear a driver-safe row budget before collect().
        val cached = edges.persist()
        val edgeList =
          try {
            val edgeCount = cached.count()
            require(
              edgeCount <= 4000000L,
              s"q_event_pagerank: $edgeCount distinct edges — use GraphOps.rankDistributed for dense graphs")
            cached.as[(String, String, Long)].collect().toSeq
          } finally cached.unpersist()
        val ranks = graft.operators.GraphOps.rankBoundedGraph(edgeList, nodeList, iters = 10)
        nodeList
          .map(v => (v, ranks(v), ranks(v).toDouble / R.toDouble))
          .toDF("node", "rank_ppb", "rank")
      },
      Some {
        val R = 1000000000L
        val iters = 10
        // The iterate CTEs are each referenced twice (dangling + contrib) —
        // AS MATERIALIZED stops DuckDB inlining them into a 2^10 blowup,
        // the SQL spelling of the Spark side's localCheckpoint.
        val head =
          s"""t AS MATERIALIZED (SELECT user_id, ts, event_id, event_type FROM events),
             |trans AS (SELECT event_type AS src,
             |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst FROM t),
             |edges AS MATERIALIZED (SELECT src, dst, COUNT(*) AS cnt FROM trans WHERE dst IS NOT NULL GROUP BY 1, 2),
             |outd AS MATERIALIZED (SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_cnt FROM edges GROUP BY 1),
             |nodes AS MATERIALIZED (SELECT DISTINCT event_type AS node FROM t),
             |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
             |dnodes AS MATERIALIZED (SELECT node FROM nodes n WHERE NOT EXISTS (SELECT 1 FROM outd o WHERE o.src = n.node)),
             |r0 AS MATERIALIZED (SELECT node, CAST($R // n AS BIGINT) AS rnk FROM nodes, nn)""".stripMargin
        val steps = (1 to iters).map { i =>
          val p = i - 1
          s"""d$i AS (SELECT CAST(COALESCE(SUM(rnk), 0) AS BIGINT) AS dang
             |  FROM r$p JOIN dnodes USING (node)),
             |c$i AS (SELECT e.dst AS node, CAST(SUM((r.rnk * e.cnt) // o.out_cnt) AS BIGINT) AS contrib
             |  FROM edges e JOIN r$p r ON r.node = e.src JOIN outd o ON o.src = e.src GROUP BY 1),
             |r$i AS MATERIALIZED (SELECT n.node,
             |  CAST((CAST(15 AS BIGINT) * $R) // (100 * nn.n) + (85 * (COALESCE(c.contrib, 0) + d.dang // nn.n)) // 100 AS BIGINT) AS rnk
             |  FROM nodes n CROSS JOIN nn CROSS JOIN d$i d LEFT JOIN c$i c ON c.node = n.node)""".stripMargin
        }
        (Seq("WITH " + head) ++ steps).mkString(",\n") +
          s"\nSELECT node, rnk AS rank_ppb, CAST(rnk AS DOUBLE) / $R AS rank FROM r$iters"
      }
    )
  )
}
