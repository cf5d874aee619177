package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The drift and anomaly monitors' shared steps, each defined once: the
  * median time split, the reference-decile binning, the PSI, χ² and KS
  * reports and the z-score stats, plus their DuckDB spelling in [[Sql]].
  * One definition is what keeps batch ≡ stream (MultimodalStreamingSpec
  * pins it) and Spark ≡ DuckDB. Rows served:
  *  - q_drift_categorical: split, [[Sql.typeCounts]];
  *  - q_drift_chi2, q_stream_chi2: split, [[chi2]];
  *  - q_drift_psi, q_stream_drift: split, binning, [[psi]];
  *  - q_drift_psi_approx: split, binning, [[psi]] on both cut sets;
  *  - q_drift_ks: split, [[ks]];
  *  - q_drift_ks_approx: split, binning, [[ks]] on both arms;
  *  - q_stream_drift_ks: split, binning, [[psi]] with the [[cdfGap]] bin
  *    column and [[ksAlert]];
  *  - q_anomaly_zscore, q_stream_anomaly: [[zStats]], [[z]].
  *
  * PSI and χ² sum their per-cell terms as fixed-point longs: a double sum
  * depends on partition and engine order, an integer sum does not, so the
  * report cannot move with micro-batch boundaries and DuckDB's oracle
  * states the same integers. KS needs no such device: a MAX is
  * order-free.
  *
  * Degenerate input: a report that needs both halves of a type gives
  * NULL for it rather than a made-up number (PSI, KS and their alerts
  * when a type has n_ref = 0 or n_cur = 0; the χ² alert outside its df
  * table). χ²
  * over a whole empty half fails loudly on both engines instead.
  */
object DriftReports {

  /** `events`' `cols` plus `us`, the epoch micros of `ts` the split is on. */
  def withUs(events: DataFrame, cols: String*): DataFrame =
    events.select(cols.map(col) :+ unix_micros(col("ts")).as("us"): _*)

  /** The exact median of `us`: one row, `med`. */
  private def median(ev: DataFrame): DataFrame = ev.agg(expr("percentile(us, 0.5)").as("med"))

  /** The split rule: reference = `us` at or before the median `med`,
    * current = after it.
    */
  def isRef(med: Column): Column = col("us") <= med

  /** The batch split: `events`' `cols` plus `us`, `med` and `is_ref`. The
    * median rides a lazy broadcast cross-join, so building the report
    * starts no job.
    */
  def halves(events: DataFrame, cols: String*): DataFrame = {
    val ev = withUs(events, cols: _*)
    ev.crossJoin(broadcast(median(ev))).withColumn("is_ref", isRef(col("med")))
  }

  /** The stream split point: the median of `ev`'s `us`, collected once on
    * the driver to ship in the stream's plan as a literal (one bounded
    * offline value, as a deployment ships a small artifact to its stream).
    */
  def medianValue(ev: DataFrame): Double = median(ev).head().getDouble(0)

  /** `c_ref` and `c_cur` of a split frame ([[halves]]) per `keys`. */
  def refCurCounts(half: DataFrame, keys: String*): DataFrame =
    half
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur"))

  /** Each cut rounded to 6 dp before binning: Spark's `percentile` and
    * DuckDB's `quantile_cont` may interpolate in a different fp order, and
    * the bin rule is ulp-sensitive, so rounding makes the boundaries
    * bit-identical and a value landing exactly on a cut bins the same.
    */
  def round6(cuts: Column): Column = transform(cuts, c => round(c, 6))

  /** The nine decile ranks, as a SQL array of doubles. */
  val decileRanks: String = "array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)"

  /** Exact reference deciles per type (`event_type, cuts`) of the
    * reference rows `ref`.
    */
  def decileCuts(ref: DataFrame): DataFrame =
    ref.groupBy("event_type").agg(round6(expr(s"percentile(value, $decileRanks)")).as("cuts"))

  /** The bin of `value`: how many of `cuts` lie at or below it (0..9). */
  def bin(cuts: Column): Column = size(filter(cuts, c => c <= col("value")))

  /** `df` joined to its type's `cuts` (broadcast, K × 9 doubles) with
    * `bin` added.
    */
  def binned(df: DataFrame, cuts: DataFrame): DataFrame =
    df.join(broadcast(cuts), Seq("event_type")).withColumn("bin", bin(col("cuts")))

  /** The `(event_type, bin)` rollup of a split frame: `c_ref`, `c_cur`. */
  def binCounts(half: DataFrame, cuts: DataFrame): DataFrame =
    refCurCounts(binned(half, cuts), "event_type", "bin")

  /** Per-type PSI over the 10 reference-decile bins.
    *
    * `types` holds the monitored `event_type`s; their full
    * types × bins 0..9 domain is left-joined to each frame of `counts` in
    * turn (`event_type, bin` plus `c_ref` and/or `c_cur`), and a missing
    * count reads as 0. Per type: totals, add-half smoothed shares, then
    * (p−q)·ln(p/q) terms rounded to 1e-12 fixed point and summed.
    * `binCols` adds named columns over the filled bins (totals joined),
    * and `aggs` aggregates per type next to the sum.
    *
    * Returns `event_type, n_ref, n_cur, psi_fp`, then `aggs`, then `psi`
    * (6 dp) and `drift_alert` (PSI > 0.2), both NULL for a type with an
    * empty half: smoothing alone would give it a large PSI.
    */
  def psi(
      types: DataFrame,
      counts: Seq[DataFrame],
      binCols: Seq[(String, Column)] = Nil,
      aggs: Seq[Column] = Nil
  ): DataFrame = {
    val domain = types
      .select("event_type")
      .crossJoin(types.sparkSession.range(10).select(col("id").cast("int").as("bin")))
    val full = counts
      .foldLeft(domain)(_.join(_, Seq("event_type", "bin"), "left"))
      .select(
        col("event_type"),
        col("bin"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val p = (col("c_ref").cast("double") + lit(0.5)) /
      (col("n_ref").cast("double") + lit(5.0))
    val q = (col("c_cur").cast("double") + lit(0.5)) /
      (col("n_cur").cast("double") + lit(5.0))
    binCols
      .foldLeft(full.join(broadcast(totals(full)), Seq("event_type"))) { case (df, (name, c)) => df.withColumn(name, c) }
      .withColumn("term_fp", round((p - q) * log(p / q) * lit(1.0e12), 0).cast("long"))
      .groupBy("event_type")
      .agg(
        max(col("n_ref")).as("n_ref"),
        max(col("n_cur")).as("n_cur") +: sum(col("term_fp")).as("psi_fp") +: aggs: _*)
      .withColumn("psi", when(bothHalves, round(col("psi_fp").cast("double") / lit(1.0e12), 6)))
      .withColumn("drift_alert", when(bothHalves, col("psi_fp") > lit(200000000000L)))
  }

  private def bothHalves: Column = col("n_ref") > 0 && col("n_cur") > 0

  /** The two-sample KS CDF gap |F_ref − F_cur| at each row of a type,
    * rows taken in `order`: cumulative `c_ref`/`c_cur` over the type's
    * totals `n_ref`/`n_cur`. Cumulative counts are exact integers and both
    * engines derive the gap through the same double tree, so its MAX is
    * bit-identical. NULL for a type with an empty half.
    */
  def cdfGap(order: Column): Column = {
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    when(bothHalves, abs(
      sum(col("c_ref")).over(w).cast("double") / col("n_ref").cast("double") -
        sum(col("c_cur")).over(w).cast("double") / col("n_cur").cast("double")))
  }

  /** The α = 0.05 two-sample KS decision on the raw statistic `d`:
    * d > 1.358·√((n_ref + n_cur)/(n_ref·n_cur)). NULL for a type with an
    * empty half.
    */
  def ksAlert(d: Column): Column =
    when(bothHalves, d > lit(1.358) *
      sqrt((col("n_ref") + col("n_cur")).cast("double") /
        (col("n_ref") * col("n_cur")).cast("double")))

  /** Per-type `n_ref` and `n_cur` of `counts` (`event_type, c_ref, c_cur`). */
  def totals(counts: DataFrame): DataFrame =
    counts
      .groupBy("event_type")
      .agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))

  /** Per-type two-sample KS over `counts` (`event_type`, the `order`
    * column, `c_ref`, `c_cur`): the per-type `totals` broadcast back, the
    * [[cdfGap]] at every row, its max. A binned arm passes the totals of
    * its exact twin, so both arms read one rollup.
    *
    * Returns `event_type, n_ref, n_cur, ks_raw, ks` (6 dp) and
    * `drift_alert` ([[ksAlert]]).
    */
  def ks(counts: DataFrame, order: String, totals: DataFrame): DataFrame =
    counts
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("dd", cdfGap(col(order)))
      .groupBy("event_type")
      .agg(
        max(col("n_ref")).as("n_ref"),
        max(col("n_cur")).as("n_cur"),
        max(col("dd")).as("ks_raw"))
      .withColumn("ks", round(col("ks_raw"), 6))
      .withColumn("drift_alert", ksAlert(col("ks_raw")))

  /** [[ks]] over the totals of `counts` itself. */
  def ks(counts: DataFrame, order: String): DataFrame = ks(counts, order, totals(counts))

  /** The two-sample χ² homogeneity test over per-type counts
    * `(event_type, c_ref, c_cur)`: expected counts under homogeneity
    * (E = n_i·N_half/N) through one double expression tree, (O−E)²/E terms
    * summed as 1e-9 fixed-point longs, and the α = 0.05 decision against
    * a literal critical-value table for df 1..9 (df = K−1; outside the
    * table the alert is NULL rather than a made-up threshold).
    *
    * Returns one row: `n_ref, n_cur, k, df, chi2` (6 dp), `drift_alert`.
    */
  def chi2(counts: DataFrame): DataFrame = {
    val totals = counts.agg(
      sum(col("c_ref")).as("t_ref"),
      sum(col("c_cur")).as("t_cur"),
      count(lit(1)).as("k"))
    val crD = col("c_ref").cast("double")
    val ccD = col("c_cur").cast("double")
    val ni = (col("c_ref") + col("c_cur")).cast("double")
    val nTot = (col("t_ref") + col("t_cur")).cast("double")
    val eRef = ni * col("t_ref").cast("double") / nTot
    val eCur = ni * col("t_cur").cast("double") / nTot
    val term = (crD - eRef) * (crD - eRef) / eRef + (ccD - eCur) * (ccD - eCur) / eCur
    val critFp = when(col("df") === 1, 3841458821L)
      .when(col("df") === 2, 5991464547L)
      .when(col("df") === 3, 7814727903L)
      .when(col("df") === 4, 9487729037L)
      .when(col("df") === 5, 11070497694L)
      .when(col("df") === 6, 12591587244L)
      .when(col("df") === 7, 14067140449L)
      .when(col("df") === 8, 15507313056L)
      .when(col("df") === 9, 16918977605L)
    counts
      .crossJoin(broadcast(totals))
      .select(
        col("t_ref"), col("t_cur"), col("k"),
        round(term * lit(1.0e9), 0).cast("long").as("term_fp"))
      .groupBy()
      .agg(
        max(col("t_ref")).as("n_ref"),
        max(col("t_cur")).as("n_cur"),
        max(col("k")).as("k"),
        sum(col("term_fp")).as("chi2_fp"))
      .withColumn("df", col("k") - 1)
      .select(
        col("n_ref"), col("n_cur"), col("k"), col("df"),
        // Zero-expected guard: eRef/eCur are 0 iff a whole HALF is empty
        // (t_ref or t_cur = 0 — a degenerate median split, e.g. every
        // timestamp identical). The term then goes NaN, and the engines
        // DIVERGE instead of failing together: Spark casts NaN to long as
        // 0 silently while DuckDB errors on the cast. Fail loudly on both
        // engines instead (the oracle carries the same CASE→error()).
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round(col("chi2_fp").cast("double") / lit(1.0e9), 6))
          .otherwise(raise_error(lit("chi2: degenerate median split (an empty half)")))
          .as("chi2"),
        (col("chi2_fp") > critFp).as("drift_alert"))
  }

  /** Per-type `mean` and population `sd` of `value` (`event_type, mean,
    * sd`) from one K-row pass of decimal-exact sums, the same order-free
    * story as q_corr_stats.
    */
  def zStats(ev: DataFrame): DataFrame = {
    val n = col("n").cast("double")
    val mean = col("sx").cast("double") / n
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,10)")).as("sx"),
        sum((col("value") * col("value")).cast("decimal(25,10)")).as("sxx"))
      .select(
        col("event_type"),
        mean.as("mean"),
        // greatest(·,0): double cancellation can push Σx²/n − mean² a hair
        // negative (Spark sqrt → NaN, DuckDB raises).
        sqrt(greatest(col("sxx").cast("double") / n - mean * mean, lit(0.0))).as("sd"))
  }

  /** The z-score of `value` against the joined [[zStats]]. NULLIF keeps a
    * zero-variance type NULL on both engines instead of Inf/NaN-vs-error
    * (ZeroVarianceSpec).
    */
  def z: Column = (col("value") - col("mean")) / nullif(col("sd"), lit(0.0))

  /** The DuckDB oracles' spelling of the same steps. Each part is a
    * ready-stripped SQL fragment; the oracles are concatenations of them.
    */
  object Sql {

    /** Opens the WITH: `ev` (the listed columns, each followed by ", ",
      * plus `us`) and `med`.
      */
    private def split(cols: String): String =
      s"""WITH ev AS (
         |  SELECT ${cols}epoch_us(ts) AS us FROM events),
         |med AS (SELECT quantile_cont(us, 0.5) AS med FROM ev),
         |""".stripMargin

    private val isRef = "us <= (SELECT med FROM med)"

    /** `half`: `ev`'s type and value with `is_ref`. */
    private val half: String =
      s"""half AS (
         |  SELECT event_type, value, $isRef AS is_ref FROM ev),
         |""".stripMargin

    /** `counts` per type (the reference and current counts named `ref`
      * and `cur`) and their one-row `totals` `t_ref, t_cur, k`, straight
      * after [[split]]("event_type, "). Leaves the WITH open for one more
      * CTE or the SELECT.
      */
    def typeCounts(ref: String, cur: String): String =
      split("event_type, ") +
        s"""counts AS (
           |  SELECT event_type,
           |    CAST(SUM(CASE WHEN $isRef THEN 1 ELSE 0 END) AS BIGINT) AS $ref,
           |    CAST(SUM(CASE WHEN us > (SELECT med FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS $cur
           |  FROM ev GROUP BY 1),
           |totals AS (
           |  SELECT CAST(SUM($ref) AS BIGINT) AS t_ref,
           |    CAST(SUM($cur) AS BIGINT) AS t_cur,
           |    CAST(COUNT(*) AS BIGINT) AS k
           |  FROM counts)""".stripMargin

    private def totals(from: String): String =
      s"""totals AS (
         |  SELECT event_type, CAST(SUM(c_ref) AS BIGINT) AS n_ref,
         |    CAST(SUM(c_cur) AS BIGINT) AS n_cur
         |  FROM $from GROUP BY 1),
         |""".stripMargin

    /** [[cdfGap]] over `counts` alias `c` joined to `totals` alias `t`,
      * rows taken in `order`, named `name`.
      */
    def cdfGap(c: String, order: String, name: String): String =
      s"""CASE WHEN t.n_ref > 0 AND t.n_cur > 0 THEN abs(CAST(SUM($c.c_ref) OVER (PARTITION BY $c.event_type ORDER BY $order
         |               ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(t.n_ref AS DOUBLE)
         |      - CAST(SUM($c.c_cur) OVER (PARTITION BY $c.event_type ORDER BY $order
         |               ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(t.n_cur AS DOUBLE)) END AS $name""".stripMargin

    /** `e` for a type with both halves (`n_ref`, `n_cur` in scope), else
      * NULL.
      */
    def bothHalves(e: String): String = s"CASE WHEN n_ref > 0 AND n_cur > 0 THEN $e END"

    /** [[ksAlert]] on the raw statistic `d`. */
    def ksAlert(d: String): String =
      bothHalves(
        s"""$d > 1.358 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
           |                         / CAST(n_ref * n_cur AS DOUBLE))""".stripMargin)

    /** The q_drift_psi report: split, exact decile cuts, bin counts, the
      * filled K × 10 domain and the fixed-point PSI. `termCols` adds
      * per-bin columns (each led by ",\n"), `alert` names the PSI alert,
      * and `selectCols` adds report columns (each led by ",\n").
      */
    def psi(termCols: String = "", alert: String = "drift_alert", selectCols: String = ""): String =
      split("event_type, value, ") + half +
        s"""cuts AS (
           |  SELECT event_type,
           |    list_transform(
           |      quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
           |      x -> round(x, 6)) AS cuts
           |  FROM half WHERE is_ref GROUP BY 1),
           |counts AS (
           |  SELECT h.event_type,
           |    CAST(len(list_filter(c.cuts, x -> x <= h.value)) AS INT) AS bin,
           |    CAST(SUM(CASE WHEN h.is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
           |    CAST(SUM(CASE WHEN h.is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
           |  FROM half h JOIN cuts c USING (event_type)
           |  GROUP BY 1, 2),
           |domain AS (
           |  SELECT c.event_type, CAST(r.range AS INT) AS bin FROM cuts c, range(10) r),
           |filled AS (
           |  SELECT d.event_type, d.bin,
           |    COALESCE(c.c_ref, 0) AS c_ref, COALESCE(c.c_cur, 0) AS c_cur
           |  FROM domain d LEFT JOIN counts c USING (event_type, bin)),
           |""".stripMargin + totals("filled") +
        s"""terms AS (
           |  SELECT f.event_type, t.n_ref, t.n_cur,
           |    CAST(round(
           |      ((CAST(f.c_ref AS DOUBLE) + 0.5) / (CAST(t.n_ref AS DOUBLE) + 5.0)
           |       - (CAST(f.c_cur AS DOUBLE) + 0.5) / (CAST(t.n_cur AS DOUBLE) + 5.0))
           |      * ln(((CAST(f.c_ref AS DOUBLE) + 0.5) / (CAST(t.n_ref AS DOUBLE) + 5.0))
           |           / ((CAST(f.c_cur AS DOUBLE) + 0.5) / (CAST(t.n_cur AS DOUBLE) + 5.0)))
           |      * 1.0e12) AS BIGINT) AS term_fp$termCols
           |  FROM filled f JOIN totals t USING (event_type))
           |SELECT event_type, n_ref, n_cur,
           |  ${bothHalves("round(CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE) / 1.0e12, 6)")} AS psi,
           |  ${bothHalves("CAST(SUM(term_fp) AS BIGINT) > 200000000000")} AS $alert$selectCols
           |FROM terms GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin

    /** The q_drift_ks report: split, per-(type, value) counts, the
      * distinct-value CDF gap and its max. `selectCols` adds report
      * columns (each led by ",\n").
      */
    def ks(selectCols: String = ""): String =
      split("event_type, value, ") + half +
        s"""counts AS (
           |  SELECT event_type, value,
           |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
           |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_cur
           |  FROM half GROUP BY 1, 2),
           |""".stripMargin + totals("counts") +
        s"""cum AS (
           |  SELECT c.event_type, t.n_ref, t.n_cur,
           |    ${cdfGap("c", "c.value", "dd")}
           |  FROM counts c JOIN totals t USING (event_type))
           |SELECT event_type, n_ref, n_cur, round(MAX(dd), 6) AS ks,
           |  ${ksAlert("MAX(dd)")} AS drift_alert$selectCols
           |FROM cum GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin

    /** [[z]]. */
    val z: String = "(value - mean) / NULLIF(sd, 0.0)"

    /** The z-score `stats` CTE and the SELECT of `event_id, event_type,
      * value, z`; the caller adds columns and the FROM.
      */
    val zScores: String =
      s"""WITH stats AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
        |    sqrt(greatest(CAST(SUM(CAST(value * value AS DECIMAL(25,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      - (CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |      * (CAST(SUM(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 0.0)) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        |  round($z, 4) AS z""".stripMargin
  }
}
