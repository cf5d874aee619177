package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The drift family's two reports, each defined once and shared by the
  * batch monitors (q_drift_psi, q_drift_psi_approx, q_drift_chi2) and
  * their streaming deployments (q_stream_drift, q_stream_drift_ks,
  * q_stream_chi2). One definition is what keeps batch ≡ stream;
  * MultimodalStreamingSpec pins it.
  *
  * Both reports sum their per-cell terms as fixed-point longs: a double
  * sum depends on partition and engine order, an integer sum does not, so
  * the report cannot move with micro-batch boundaries and DuckDB's oracle
  * states the same integers.
  */
object DriftReports {

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
    * (6 dp) and `drift_alert` (PSI > 0.2).
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
    val totals = full
      .groupBy("event_type")
      .agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
    val p = (col("c_ref").cast("double") + lit(0.5)) /
      (col("n_ref").cast("double") + lit(5.0))
    val q = (col("c_cur").cast("double") + lit(0.5)) /
      (col("n_cur").cast("double") + lit(5.0))
    binCols
      .foldLeft(full.join(broadcast(totals), Seq("event_type"))) { case (df, (name, c)) => df.withColumn(name, c) }
      .withColumn("term_fp", round((p - q) * log(p / q) * lit(1.0e12), 0).cast("long"))
      .groupBy("event_type")
      .agg(
        max(col("n_ref")).as("n_ref"),
        max(col("n_cur")).as("n_cur") +: sum(col("term_fp")).as("psi_fp") +: aggs: _*)
      .withColumn("psi", round(col("psi_fp").cast("double") / lit(1.0e12), 6))
      .withColumn("drift_alert", col("psi_fp") > lit(200000000000L))
  }

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
}
