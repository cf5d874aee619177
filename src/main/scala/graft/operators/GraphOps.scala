package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's iterative graph loops: link-graph centrality (PageRank)
  * in the fixed-point integer form, and [[connectedComponents]].
  *
  * Why integer PageRank: float PageRank sums partial contributions in partition
  * order, so ranks drift by ulps per iteration per engine/run — the
  * truncating-DIV fixed-point recurrence (ranks in parts-per-R) is
  * bit-identical across Spark, DuckDB, retries, and partitionings, which
  * also makes iterative production runs safely resumable (re-running
  * iteration i reproduces it exactly). Mass leaks ≤ 1 ppR per DIV —
  * bounded, deterministic, ~1e-7 relative over 10 iterations.
  *
  * Recurrence (d = 0.85 as 85/100, teleport 15/100, dangling mass
  * redistributed uniformly):
  *
  *   r'(v) = (15·R) DIV (100·N)
  *         + (85 · (Σ_u (r(u)·cnt(u,v)) DIV out(u) + dang DIV N)) DIV 100
  *
  * Two deployment shapes, same recurrence, spec-pinned equal:
  *
  *   - [[rankBoundedGraph]] — node domain bounded by construction (event
  *     types, languages, sources: the lang/source-cardinality contract).
  *     The corpus-sized edge build stays distributed; the K²-bounded edge
  *     list collapses map-side and iterates on the driver — the k-means
  *     centroid-loop pattern. No per-iteration Spark jobs at all.
  *   - [[rankDistributed]] — web-scale node sets (domain/hyperlink graphs,
  *     ~1e7 nodes at 100 TB). Ranks stay a distributed table; each
  *     iteration is one equi-join + partial agg, with every iterate
  *     localCheckpoint'ed: the iterate is referenced twice (dangling mass
  *     + contributions), so without materialization lineage doubles per
  *     iteration — the checkpoint discipline any production iterative job
  *     needs.
  */
object GraphOps {
  val DefaultScale: Long = 1000000000L

  /** Driver-side fixed-point loop over a bounded edge list. */
  def rankBoundedGraph(
      edges: Seq[(String, String, Long)],
      nodes: Seq[String],
      iters: Int,
      scale: Long = DefaultScale
  ): Map[String, Long] = {
    require(nodes.nonEmpty, "rankBoundedGraph: empty node set")
    require(
      nodes.size <= 65536,
      s"rankBoundedGraph: ${nodes.size} nodes — bounded-domain driver state only; " +
        "use rankDistributed for web-scale node sets")
    // rnk ≤ scale (mass is conserved-or-leaked, never created), so the
    // contribution product rnk·cnt is bounded by scale·cnt — guard the
    // edge counts once instead of letting a hot transition cell wrap
    // int64 into silent garbage ranks. At the 1e12-event extreme, shrink
    // `scale` (precision trades linearly) or pre-divide edge counts by a
    // common factor (the recurrence only reads cnt/out ratios).
    val cntCap = Long.MaxValue / scale
    edges.find(_._3 > cntCap).foreach { e =>
      throw new IllegalArgumentException(
        s"rankBoundedGraph: edge count ${e._3} × scale $scale overflows int64 — " +
          "use a smaller scale or pre-scale edge counts (ratios are what matters)")
    }
    val n = nodes.size.toLong
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var rnk = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(rnk).sum
      val contrib = edges
        .groupBy(_._2)
        .map { case (dst, es) => dst -> es.map { case (s, _, c) => rnk(s) * c / out(s) }.sum }
      rnk = nodes.map { v =>
        v -> ((15L * scale) / (100L * n) +
          (85L * (contrib.getOrElse(v, 0L) + dang / n)) / 100L)
      }.toMap
    }
    rnk
  }

  /** Distributed fixed-point loop: ranks live in a DataFrame keyed by
    * `node`; `edges` has columns (src, dst, cnt). One equi-join + partial
    * agg per iteration; all graph tables and each iterate are
    * localCheckpoint'ed (see object doc). Output: (node, rnk).
    */
  def rankDistributed(
      spark: SparkSession,
      edges: DataFrame,
      nodes: DataFrame,
      iters: Int,
      scale: Long = DefaultScale
  ): DataFrame = {
    // Same overflow guard as rankBoundedGraph, evaluated once on the edge
    // materialization: rnk ≤ scale, so rnk·cnt ≤ scale·cnt must fit int64.
    val cntCap = Long.MaxValue / scale
    val e = edges
      .withColumn(
        "cnt",
        when(col("cnt") <= cntCap, col("cnt")).otherwise(raise_error(concat(
          lit(s"rankDistributed: edge count "), col("cnt").cast("string"),
          lit(s" × scale $scale overflows int64 — use a smaller scale or pre-scale edge counts")))))
      .localCheckpoint(true)
    val outd = e.groupBy("src").agg(sum(col("cnt")).as("out_cnt")).localCheckpoint(true)
    val nd = nodes.localCheckpoint(true)
    val dnodes = nd.join(outd.select(col("src").as("node")), Seq("node"), "left_anti")
      .localCheckpoint(true)
    val nn = broadcast(nd.agg(count(lit(1)).as("n")).localCheckpoint(true))

    var ranks = nd.crossJoin(nn)
      .select(col("node"), expr(s"${scale}L DIV n").as("rnk"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val dang = broadcast(
        ranks.join(dnodes, "node").agg(coalesce(sum(col("rnk")), lit(0L)).as("dang")))
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outd, "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(rnk * cnt) DIV out_cnt")).as("contrib"))
      ranks = nd
        .join(contrib, Seq("node"), "left")
        .crossJoin(nn)
        .crossJoin(dang)
        .select(
          col("node"),
          expr(s"(15L * $scale) DIV (100L * n) + (85L * (coalesce(contrib, 0L) + dang DIV n)) DIV 100L")
            .as("rnk"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** Connected components by min-label propagation over an undirected edge
    * set — the "fuzzy dedup" clustering step: every node gets the smallest
    * id reachable through the graph as its component id. `nodes` has one
    * column `id`, `edges` has (src, dst); returns (id, comp).
    *
    * Each round is two shuffles (neighbor-min groupBy + label join) and
    * moves a label one hop, so the loop runs (diameter + 1) rounds; near-dup
    * graphs have tiny diameter (a cluster is a handful of variants of one
    * document). The loop runs Spark JOBS per round (a convergence check,
    * like Pregel supersteps), never row-level driver work.
    *
    * The growing lineage truncates each round: to DURABLE storage when the
    * session has a checkpoint dir configured (`sc.setCheckpointDir(...)` —
    * the cluster deployment, where a lost executor must not re-derive round
    * k from round 0), else `localCheckpoint` (the single-JVM test/bench
    * shape). The durable write persists the round first so the
    * reliable-checkpoint write job reads the cache instead of recomputing
    * the round's lineage. Superseded rounds' files remain on storage until
    * context shutdown unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; a long-lived
    * driver should enable that or prune round k−1 after round k
    * materializes (GraphX's PeriodicCheckpointer shape).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val durable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    // `eager = false`: a LAZY localCheckpoint materializes inside the first
    // action that reads it — for the per-round label tables that is the
    // convergence labelSum aggregate, so each round costs ONE Spark job
    // instead of a materialization job plus the aggregate. Only safe when
    // the frame's FIRST consumer is a single sequential action — the edge
    // list stays EAGER because its first consumer (round 1) reads it
    // through two union branches at once, which would race to compute the
    // un-materialized pipeline twice. The durable arm keeps the standard
    // persist→checkpoint→unpersist shape (reliable checkpoints are a
    // cluster fault-tolerance write; eagerness is the point there).
    def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
      if (durable) {
        df.persist()
        val out = df.checkpoint() // eager: safe to drop the cache after
        df.unpersist()
        out
      } else df.localCheckpoint(eager)
    // Truncate the edge pipeline BEFORE the symmetric union: the union's
    // two branches are different projections of the same (expensive) pair
    // pipeline, so truncating the union would evaluate that pipeline twice
    // in one job. Materialize the raw edge list once; the swapped branch is
    // then a free re-scan of the checkpointed rows.
    val e0 = truncate(edges.select(col("src"), col("dst")))
    val bi = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    // Only nodes that touch an edge can ever change label — in a dedup
    // graph that is a small fraction of the corpus, so the iteration works
    // on the edge-connected subset and the (dominant) singleton mass joins
    // back untouched at the end.
    val connected = bi.select(col("src").as("id")).distinct()
    var labels = truncate(connected.select(col("id"), col("id").as("comp")), eager = false)
    // Convergence: labels only ever DECREASE, so equal label sums between
    // rounds ⟺ no label changed. DECIMAL(38,0) is exact at any id scale (a
    // long sum of 1e12-range ids over 1e9 nodes overflows); sum() over zero
    // rows is NULL, so an empty edge set reads as ZERO and converges at once.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var converged = false
    // Terminates: every label is a node id and only decreases, so the sum
    // falls strictly each round until it stops, after at most diameter + 1
    // rounds.
    while (!converged) {
      val nbrMin = bi
        .join(labels, bi("dst") === labels("id"))
        .groupBy(col("src"))
        .agg(min(col("comp")).as("nmin"))
      val next = labels
        .join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(labels("id"), least(col("comp"), coalesce(col("nmin"), col("comp"))).as("comp"))
        .transform(d => truncate(d, eager = false)) // materialized by labelSum: one job/round
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
    }
    nodes
      .join(labels, nodes("id") === labels("id"), "left")
      .select(nodes("id"), coalesce(col("comp"), nodes("id")).as("comp"))
  }
}
