package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SimilarityFunctions._
import graft.operators.{DedupOps, GraphOps}
import graft.sources.ParquetRead

/** §2.3 dedup / similarity-search operators (SURVEY.md).
  *
  * Near-dup operators are exercised on a corpus with *planted* near-
  * duplicates (each document unioned with a truncated copy at
  * doc_id+1_000_000) — the synthetic corpus has no natural near-dups, and
  * the planted ones give the operators a known ground truth that the specs
  * assert on. Candidate generation is always LSH/banded or inverted-index —
  * never an O(n²) cross join — so the same plan holds at 100 TB.
  */
object SimilarityQueries {
  import Tables._

  /** documents ∪ truncated copies (planted near-duplicates). `keepFrac` is
    * the fraction of each document the planted copy keeps — 0.85 is the
    * default near-dup regime; the containment recall spec also plants 0.5
    * (heavy truncation, Jaccard ≈ 0.5 but containment ≈ 1.0).
    */
  def corpusWithDups(s: SparkSession, d: String, keepFrac: Double = 0.85): DataFrame = {
    val base = documents(s, d).select(col("doc_id"), col("text"))
    val planted = documents(s, d).select(
      (col("doc_id") + 1000000L).as("doc_id"),
      col("text").substr(lit(1), (col("n_chars") * keepFrac).cast("int")).as("text")
    )
    base.unionAll(planted)
  }

  /** Sign-LSH plane count as a function of corpus size: enough planes that
    * the EXPECTED bucket occupancy stays ~targetBucket, i.e.
    * p = ⌈log₂(n / targetBucket)⌉. This is the knob that keeps within-
    * bucket candidate pairs O(n × targetBucket) instead of O((n/2^p)²)
    * blowing up as the corpus grows — at n = 10⁹ and target 64 it yields
    * p = 24 (16M buckets), at the test scale it stays small enough that
    * recall gates exercise real multi-bucket behavior.
    */
  private[graft] def lshPlaneCount(n: Long, targetBucket: Int): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0))).toInt

  /** Memoized embeddings row count per sf dir — the planning-time table
    * statistic the LSH sizers need. A real deployment reads this from the
    * catalog (ANALYZE stats); here it is one parquet metadata-only count
    * per path per JVM, cached so repeated query builds (bench reruns,
    * verify) don't re-issue the job inside the measured region. Like any
    * catalog statistic it can go stale: a table REWRITTEN at the same path
    * within one JVM keeps its first count, and plane counts sized from a
    * stale n degrade bucket occupancy silently. [[documentsCount]] and
    * [[maxDocId]] share that limitation; nothing clears these caches.
    */
  private val embCountCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def embeddingsCount(s: SparkSession, d: String): Long =
    embCountCache.getOrElseUpdate(d, embeddings(s, d).count())

  /** Sign-LSH ANN candidate pipeline (production plan): top-3 per query
    * from multi-probe hamming≤2 buckets. See the q_ann_lsh registration
    * for the plane-count scaling story. Spec-gated (DedupRecallSpec mean
    * top-1 quality) and plan-pinned (no cross join) on THIS function; the
    * registered query wraps it in annBandedReport for the hash gate.
    */
  private[graft] def annLshNeighbors(s: SparkSession, d: String): DataFrame = {
    val n = embeddingsCount(s, d)
    val p = lshPlaneCount(n, targetBucket = 256)
    val planes = hyperplanes(p, 64)
    val e = embeddings(s, d).withColumn("bucket", lshBucket(col("embedding"), planes))
    val masks: Seq[Long] = 0L +:
      ((0 until p).map(1L << _) ++
        (for { i <- 0 until p; j <- (i + 1) until p } yield (1L << i) | (1L << j)))
    val probes = array(masks.map(lit): _*)
    val q = e.filter(col("vec_id") < 10)
      .select(
        col("vec_id").as("query_id"),
        col("embedding").as("qv"),
        explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("bucket")
      )
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(q)
      .join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
  }

  /** IVF ANN candidate pipeline (production plan): spherical-k-means coarse
    * quantizer, queries probe their top-4 cells, exact rank within probed
    * cells only. See the q_ann_ivf registration for the scale story.
    */
  private[graft] def annIvfNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = trainIvfCentroids(e, k = 16, iters = 3)
    def cosArr(v: Column) = array(cents.map(c => cosine(v, typedLit(c))).toIndexedSeq: _*)
    def cell(v: Column) =
      bind(cosArr(v))(a => (array_position(a, array_max(a)) - 1).cast("int"))
    val corpus = e
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .withColumn("cell", cell(col("cv")))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("cell"))
    val probes = e
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .select(col("query_id"), col("qv"), posexplode(cosArr(col("qv"))).as(Seq("cell", "qcos")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 4)
      .select("query_id", "qv", "cell")
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    broadcast(probes)
      .join(corpus, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
  }

  /** IVF-PQ ANN candidate pipeline (production plan): 32-bit PQ codes rank
    * the cell-bounded candidates, top-10 shortlist refines exactly via a
    * join-back fetch. See the q_ann_ivfpq registration for the memory
    * story (8 bytes/candidate vs 256 bytes/finalist).
    */
  private[graft] def annIvfPqNeighbors(s: SparkSession, d: String): DataFrame = {
    val (m, ksub, dsub) = (8, 16, 8)
    val e = embeddings(s, d)
    val books = trainPqCodebooks(e, m, ksub, dsub)
    val cents = trainIvfCentroids(e, k = 16, iters = 3)
    def cosArr(v: Column) = array(cents.map(c => cosine(v, typedLit(c))).toIndexedSeq: _*)
    def cell(v: Column) =
      bind(cosArr(v))(a => (array_position(a, array_max(a)) - 1).cast("int"))
    val index = e
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .select(
        col("neighbor_id"),
        cell(col("cv")).as("cell"),
        pqEncode(col("cv"), books, m, ksub, dsub).as("code")
      )
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("cell"))
    val probes = e
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .select(col("query_id"), col("qv"), posexplode(cosArr(col("qv"))).as(Seq("cell", "qcos")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= 4)
      .select("query_id", "qv", "cell")
    val wPq = Window.partitionBy(col("query_id")).orderBy(col("pq_sim").desc, col("neighbor_id"))
    val shortlist = broadcast(probes)
      .join(index, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("qv"),
        col("neighbor_id"),
        pqCosine(col("qv"), col("code"), books, m, ksub, dsub).as("pq_sim")
      )
      .withColumn("prn", row_number().over(wPq))
      .filter(col("prn") <= 10)
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
  }

  /** Banded ANN quality report (the hash-gate wrapper for the three ANN
    * paths): per query, the EXACT brute-force top-1 cosine (cross-engine
    * checkable — DuckDB recomputes it from the raw embeddings) plus three
    * Spark-computed band flags the oracle states as literal TRUE:
    *   - top1_band: this query's ANN top-1 is ≥ 0.6 × the exact top-1 —
    *     the per-query floor (matches DedupRecallSpec's worst-case gate;
    *     measured min across sf dirs 0.785);
    *   - mean_band: mean ANN/exact top-1 ratio over the 10 queries ≥
    *     meanFloor — the family's headline quality claim;
    *   - recall_band: total exact-top-3 hits across all queries ≥
    *     recallFloor of 30 — candidate generation collapsing to garbage
    *     (wrong buckets, broken codes) flips this even when cosines stay
    *     plausible.
    * Floors are empirical-with-margin (calibrated across sf0.001/0.01/0.1,
    * seeds fixed), not probabilistic guarantees — ANN has none; drift in
    * the sketch kernels flips a flag and fails the driver hash gate. The
    * exact brute-force twin rides along as the price of the gate (same
    * device as q_profile_approx): the production plan is the neighbors
    * pipeline alone.
    */
  private[graft] def annBandedReport(
      s: SparkSession,
      d: String,
      ann: DataFrame,
      meanFloor: Double,
      recallFloor: Int
  ): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    val exact = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    val exactAgg = exact
      .groupBy("query_id")
      .agg(
        collect_set(col("neighbor_id")).as("exact_ids"),
        max(when(col("rn") === 1, col("cos_sim"))).as("best_cos")
      )
    val annAgg = ann
      .groupBy("query_id")
      .agg(collect_set(col("neighbor_id")).as("ann_ids"), max(col("cos_sim")).as("ann_best"))
    // 10-row gate-twin domain: non-foldable-zero partition key keeps the
    // same single-partition plan without WindowExec's no-partition warning
    // (a literal would be constant-folded out of the spec).
    val wAll = Window.partitionBy(graft.operators.EtlOps.boundedWindowKey(col("query_id")))
    // Left join from the exact side: a degenerate ANN path that returns
    // ZERO candidates for some query must surface as that query's flags
    // going FALSE (ratio 0, hits 0), not as the row silently vanishing
    // from the report.
    exactAgg
      .join(annAgg, Seq("query_id"), "left_outer")
      .select(
        col("query_id"),
        col("best_cos"),
        (coalesce(col("ann_best"), lit(0.0)) / col("best_cos")).as("ratio"),
        size(array_intersect(coalesce(col("ann_ids"), array().cast("array<bigint>")), col("exact_ids")))
          .as("hits")
      )
      .select(
        col("query_id"),
        lit(3).as("k"),
        col("best_cos"),
        (col("ratio") >= 0.6).as("top1_band"),
        (avg(col("ratio")).over(wAll) >= meanFloor).as("mean_band"),
        (sum(col("hits")).over(wAll) >= recallFloor).as("recall_band")
      )
      .orderBy("query_id")
  }

  /** Shared oracle for the three ANN banded reports: DuckDB recomputes the
    * exact brute-force top-1 cosine per query and states every band claim
    * as literal TRUE.
    */
  private val annBandedOracleSql: String =
    """SELECT query_id, 3 AS k, MAX(cos_sim) AS best_cos,
      |  TRUE AS top1_band, TRUE AS mean_band, TRUE AS recall_band
      |FROM (
      |  SELECT a.vec_id AS query_id,
      |    list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
      |                           list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS cos_sim
      |  FROM embeddings a, embeddings b
      |  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id) p
      |GROUP BY query_id
      |ORDER BY query_id""".stripMargin

  /** Embedding cell → Seq[Double], tolerant of FLOAT or DOUBLE element
    * parquet/derived types (spec corpora built with `transform` promote to
    * double; the stored tables are float).
    */
  private def vecToDouble(r: org.apache.spark.sql.Row, i: Int): Seq[Double] =
    r.getSeq[Any](i).map {
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case x: java.lang.Number => x.doubleValue
    }

  /** Spherical k-means coarse quantizer for IVF: a few Lloyd iterations run
    * as Spark jobs. Seeded deterministically from the first k vectors; each
    * iteration assigns every vector to its best centroid by cosine
    * (compiled kernel per centroid, codegen) and recomputes each centroid
    * as the per-cell mean of unit-normalized vectors — the spherical mean
    * direction; cosine is scale-invariant so renormalizing before the next
    * assignment is unnecessary. Driver state stays O(k × dim) doubles per
    * iteration (never O(data)); the per-iteration update shuffles at most
    * sampleN × dim (cell, pos, x) rows with map-side partial aggregation,
    * combining to ≤ k × dim rows per partition before the exchange. Cells
    * that lose all members keep their previous centroid.
    */
  /** The 64-ish per-position quantized-long sum columns of a Lloyd update:
    * sum_i of (embedding[pos] / norm) on a 1e-12 integer grid — exact and
    * order-independent (see the accumulation note in [[trainIvfCentroids]]),
    * and element_at keeps the whole aggregate inside codegen.
    */
  private def posSumCols(dim: Int): Seq[Column] =
    (0 until dim).map { i =>
      sum(((element_at(col("embedding"), i + 1).cast("double") / col("nrm")) * 1e12).cast("long"))
        .as(s"q$i")
    }

  /** Row (cellId, q0..q{dim-1}, cnt) → (cellId, mean vector). */
  private def centroidFromSums(r: org.apache.spark.sql.Row, dim: Int): (Int, Seq[Double]) = {
    val cnt = r.getLong(dim + 1)
    r.getInt(0) -> (0 until dim).map(i => r.getLong(i + 1).toDouble / 1e12 / cnt)
  }

  private[graft] def trainIvfCentroids(
      e0: DataFrame,
      k: Int = 16,
      iters: Int = 3,
      sampleN: Int = 4096,
      stride: Int = 10
  ): Array[Seq[Double]] =
    trainIvfCentroidsWithInit(e0, k, iters, sampleN, stride)._2

  /** Driver-side Lloyd over ≤ 2^16 collected sample vectors (r17
    * optimization): past this the sample no longer fits the "small driver
    * state" budget and training falls back to the distributed Spark-job
    * form. Registered configs are far below it (flat 4096; two-level
    * 4·k ≤ 65536 up to k = 16384).
    */
  private val driverLloydMaxSample: Int = 1 << 16

  private def uad(a: Array[Double]): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(a)

  /** The bounded deterministic training sample, collected in vec_id order —
    * the same rows the distributed trainer cached (every stride-th vector
    * plus the first k, smallest ids first, capped at sampleN), promoted to
    * doubles exactly as the codegen kernels promote them (float→double is
    * exact).
    */
  private def collectTrainSample(
      e0: DataFrame, k: Int, sampleN: Int, stride: Int): Array[Array[Double]] =
    e0.filter(pmod(col("vec_id"), lit(stride)) === 0 || col("vec_id") < k)
      .orderBy("vec_id")
      .limit(sampleN)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => vecToDouble(r, 1).toArray)

  /** array_max + array_position(−1) over a compiled-cosine array, replicated
    * with Spark's SQL double ordering (SQLOrderingUtil.compareDoubles: NaN
    * greatest and self-equal, −0.0 == 0.0) so the driver-local assignment
    * is bit-identical to the distributed argmax it replaces.
    */
  private def sqlArgmax(cos: Array[Double]): Int = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    var mx = cos(0)
    var i = 1
    while (i < cos.length) { if (compareDoubles(cos(i), mx) > 0) mx = cos(i); i += 1 }
    var p = 0
    while (compareDoubles(cos(p), mx) != 0) p += 1
    p
  }

  /** Flat argmax-cosine assignment of one sample vector — the SAME
    * SketchImpl.cosine kernel the codegen'd distributed assignment invokes
    * (identical arithmetic by construction), then [[sqlArgmax]].
    */
  private def argmaxCosCell(x: Array[Double], cents: Array[Seq[Double]]): Int = {
    val cos = new Array[Double](cents.length)
    val xv = uad(x)
    var c = 0
    while (c < cents.length) {
      cos(c) = graft.functions.SketchImpl.cosine(xv, uad(cents(c).toArray), false, false)
      c += 1
    }
    sqlArgmax(cos)
  }

  /** One driver-local Lloyd update with the exact distributed arithmetic:
    * per-vector norm = sqrt of the IN-ORDER Σx² fold (the aggregate-HOF
    * fold order), per-position addend ((x/nrm)·1e12).toLong (the JVM d2l
    * cast — what Spark's non-ANSI double→long cast compiles to, NaN→0),
    * LONG sums (order-free, so driver order ≡ any shuffle order), mean =
    * (sum.toDouble/1e12)/cnt — [[centroidFromSums]] verbatim. Returns only
    * non-empty cells; callers keep the previous centroid for empty ones.
    */
  private def lloydQuantizedUpdate(
      xs: Array[Array[Double]],
      cells: Array[Int],
      nCells: Int,
      dim: Int): Map[Int, Seq[Double]] = {
    val sums = Array.ofDim[Long](nCells, dim)
    val counts = new Array[Long](nCells)
    var r = 0
    while (r < xs.length) {
      val x = xs(r)
      val c = cells(r)
      if (c >= 0 && c < nCells) {
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += x(j) * x(j); j += 1 }
        val nrm = math.sqrt(acc)
        counts(c) += 1
        j = 0
        while (j < dim) { sums(c)(j) += ((x(j) / nrm) * 1e12).toLong; j += 1 }
      }
      r += 1
    }
    (0 until nCells).iterator.filter(counts(_) > 0).map { c =>
      c -> (0 until dim).map(j => sums(c)(j).toDouble / 1e12 / counts(c))
    }.toMap
  }

  /** [[trainIvfCentroids]], also returning the pre-Lloyd INIT centroids
    * (the first k sample members) from the same sample materialization —
    * callers that need both (the kmeans audit's Lloyd-beats-init flag)
    * would otherwise pay a second full sample pipeline for a byproduct
    * the training computes anyway.
    *
    * r17 optimization (guide §1.2/§5: the training sample is BOUNDED, so
    * the iteration belongs on the driver, not in iters Spark jobs): the
    * sample is collected ONCE (one TakeOrdered job — the same rows the
    * old form cached) and the Lloyd iterations run driver-locally through
    * the SAME SketchImpl.cosine kernel and the same quantized-long update
    * arithmetic, so the centroids are bit-identical to the distributed
    * form's (TrainerEquivalenceSpec asserts exact equality; the kmeans
    * audit's determinism flag and every ANN/semdedup oracle hash ride on
    * it). This removed ~25 driver-blocking jobs per registered training
    * query (StageProbe r17: q_kmeans_clusters build 4.3 s → sub-second).
    * Samples past [[driverLloydMaxSample]] stay on the distributed path.
    */
  private[graft] def trainIvfCentroidsWithInit(
      e0: DataFrame,
      k: Int = 16,
      iters: Int = 3,
      sampleN: Int = 4096,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Seq[Double]]) = {
    if (sampleN > driverLloydMaxSample)
      return trainIvfCentroidsWithInitDistributed(e0, k, iters, sampleN, stride)
    val xs = collectTrainSample(e0, k, sampleN, stride)
    val init: Array[Seq[Double]] = xs.take(k).map(x => x.toIndexedSeq: Seq[Double])
    var cents = init
    val dim = if (cents.nonEmpty) cents.head.length else 0
    for (_ <- 1 to iters if dim > 0) {
      val cells = xs.map(argmaxCosCell(_, cents))
      val updated = lloydQuantizedUpdate(xs, cells, cents.length, dim)
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
    }
    (init, cents)
  }

  /** The pre-r17 Spark-job Lloyd trainer, kept as the scale fallback for
    * samples past [[driverLloydMaxSample]] AND as the equivalence
    * reference: TrainerEquivalenceSpec asserts this and the driver-local
    * form produce bit-identical centroids on the registered corpora.
    */
  private[graft] def trainIvfCentroidsWithInitDistributed(
      e0: DataFrame,
      k: Int = 16,
      iters: Int = 3,
      sampleN: Int = 4096,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Seq[Double]]) = {
    // Standard IVF/faiss practice: train the coarse quantizer on a BOUNDED
    // sample — centroid quality converges on a few thousand vectors, so
    // training cost is O(sampleN × dim) per iteration, independent of
    // corpus size (a fractional sample would still be O(data) at 100 TB).
    // Deterministic: every-stride-th vector by id, smallest ids first,
    // capped at sampleN; the cap is a TakeOrdered (per-partition top-N, no
    // full sort), and the bounded result is cached for the Lloyd
    // iterations. Callers that know the corpus size pick stride ≈
    // n / sampleN so the sample spans the corpus instead of its prefix.
    // The limit collapses to ONE partition; repartition by id so every
    // Lloyd job runs wide (hash placement — deterministic, and the
    // quantized-long sums below are order-independent anyway). One shuffle
    // at cache materialization, not per iteration.
    val e = e0
      .filter(pmod(col("vec_id"), lit(stride)) === 0 || col("vec_id") < k)
      .orderBy("vec_id")
      .limit(sampleN)
      .repartition(col("vec_id"))
      .cache()
    val init: Array[Seq[Double]] = e
      .orderBy("vec_id")
      .limit(k)
      .select("embedding")
      .collect()
      .map(vecToDouble(_, 0))
    var cents = init
    val dim = if (cents.nonEmpty) cents.head.length else 0
    for (_ <- 1 to iters if dim > 0) {
      val cs = cents
      val cosArr = array(cs.map(c => cosine(col("embedding"), typedLit(c))).toIndexedSeq: _*)
      val cell = bind(cosArr)(a => (array_position(a, array_max(a)) - 1).cast("int"))
      val norm = sqrt(aggregate(col("embedding"), lit(0.0d), (acc, x) =>
        acc + x.cast("double") * x.cast("double")))
      // QUANTIZED-INTEGER accumulation: double addition is not associative,
      // so an avg(double) over a shuffled groupBy can drift at the ULP
      // level with reduce-side combine order — enough to flip a near-tie
      // argmax on the next assignment and make training non-deterministic
      // run to run. Quantizing each addend to a 1e-12 grid and summing
      // LONGS is exact and order-independent (per-value truncation is
      // deterministic), so centroids are bit-identical across runs on any
      // executor count. The per-iteration job aggregates 64 per-position
      // sums WITHOUT exploding (element_at stays codegen; a posexplode of
      // sampleN × dim rows through this stage's interpreted HOF columns
      // was measured at 1.5 s/iteration on one core — this form is
      // milliseconds). Overflow bound: |x/nrm| ≤ 1 ⇒ |addend| ≤ 1e12; a
      // cell would need > 9·10⁶ sample members to overflow — sampleN is
      // capped orders of magnitude below that.
      val aggs = posSumCols(dim) :+ count(lit(1)).as("cnt")
      val updated = e
        .select(cell.as("cell"), norm.as("nrm"), col("embedding"))
        .groupBy("cell")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(centroidFromSums(_, dim))
        .toMap
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
    }
    e.unpersist()
    (init, cents)
  }

  /** Two-level centroid forest for scale-unbounded cell counts: √k coarse
    * centroids (flat Lloyd, [[trainIvfCentroids]]), then ~√k sub-centroids
    * per coarse cell, Lloyd-refined against the composed two-level
    * assignment ([[graft.functions.IvfAssign]]). This removes the flat
    * trainer's ceiling — a flat argmax compiles one cosine kernel per cell
    * (O(k) per row AND O(k) codegen), which stops scaling near k ≈ 10³;
    * the two-level form trains and assigns at O(2√k · dim) per row for any
    * k, so k can track n/256 to ~10⁶ cells at 100 TB. Sample size scales
    * with k (≥ 4k vectors — the trainer must outnumber the centroids) and
    * stays bounded and deterministic; driver state is O(k · dim) doubles,
    * the accepted budget for centroid state (same as PQ codebooks).
    * Sub-centroid init: the first ⌈k/√k⌉ sample members of each coarse
    * cell (row_number by vec_id — deterministic); a coarse cell with no
    * sample members keeps its coarse centroid as its single sub, so every
    * cell has ≥ 1 sub-centroid (the [[graft.functions.IvfAssign]]
    * invariant). Updates accumulate through quantized-long sums like the
    * flat trainer — bit-deterministic across runs and executor counts.
    */
  private[graft] def trainTwoLevelCentroids(
      e0: DataFrame,
      k: Int,
      itersCoarse: Int = 3,
      itersFine: Int = 2,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Array[Seq[Double]]]) = {
    require(k >= 4, s"two-level training needs k >= 4, got $k")
    val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val fsub = math.max(1, math.ceil(k.toDouble / kc).toInt)
    val sampleN = math.max(1024, 4 * k)
    if (sampleN > driverLloydMaxSample)
      return trainTwoLevelCentroidsDistributed(e0, k, itersCoarse, itersFine, stride)
    // r17: same driver-local move as trainIvfCentroidsWithInit — the
    // sample is bounded (4·k vectors), so coarse training, the coarse
    // assignment, sub-centroid init, and the fine Lloyd iterations all
    // run on ONE collected sample through the same SketchImpl kernels
    // (cosine for the flat coarse argmax, ivfAssign with the IvfAssign
    // expression's own precomputed-norm arithmetic for the fine update).
    // TrainerEquivalenceSpec asserts bit-identical output vs the
    // distributed form below.
    val coarse = trainIvfCentroids(e0, k = kc, iters = itersCoarse, sampleN = sampleN, stride = stride)
    val rows = e0
      .filter(pmod(col("vec_id"), lit(stride)) === 0 || col("vec_id") < kc)
      .orderBy("vec_id")
      .limit(sampleN)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
    val xs: Array[Array[Double]] = rows.map(r => vecToDouble(r, 1).toArray)
    // Coarse assignment of the sample: the flat argmax the distributed
    // form's cosArr/cell columns computed.
    val cells: Array[Int] = xs.map(argmaxCosCell(_, coarse))
    // Sub-centroid init: per coarse cell, the first fsub sample members by
    // vec_id (rows are already vec_id-sorted, so in-order grouping IS the
    // row_number-by-vec_id window).
    val byCell: Map[Int, Array[Seq[Double]]] = cells.zipWithIndex
      .groupBy(_._1)
      .map { case (c, members) =>
        c -> members.map(_._2).sorted.take(fsub).map(i => xs(i).toIndexedSeq: Seq[Double])
      }
    var fine: Array[Array[Seq[Double]]] =
      (0 until kc).map(c => byCell.getOrElse(c, Array(coarse(c)))).toArray
    val dim = coarse.head.length
    for (_ <- 1 to itersFine) {
      val starts = fine.scanLeft(0)((a, cell) => a + cell.length)
      // EXACTLY the IvfAssign expression's precomputed constants: norms via
      // the same Seq fold and 1e-12 floor, flat row-major layouts.
      val coarseFlat = coarse.flatMap(identity)
      val coarseNorm = coarse.map(c => math.max(math.sqrt(c.map(x => x * x).sum), 1e-12))
      val fineSeq: Array[Seq[Double]] = fine.flatten
      val fineFlat = fineSeq.flatMap(identity)
      val fineNorm = fineSeq.map(c => math.max(math.sqrt(c.map(x => x * x).sum), 1e-12))
      val fineStart = starts
      val fids = xs.map(x =>
        graft.functions.SketchImpl.ivfAssign(
          uad(x), dim, coarseFlat, coarseNorm, fineFlat, fineNorm, fineStart, false))
      val updated = lloydQuantizedUpdate(xs, fids, starts.last, dim)
      fine = fine.zipWithIndex.map { case (cell, c) =>
        cell.zipWithIndex.map { case (old, j) => updated.getOrElse(starts(c) + j, old) }
      }
    }
    (coarse, fine)
  }

  /** The pre-r17 Spark-job two-level trainer — scale fallback past
    * [[driverLloydMaxSample]] and the TrainerEquivalenceSpec reference.
    */
  private[graft] def trainTwoLevelCentroidsDistributed(
      e0: DataFrame,
      k: Int,
      itersCoarse: Int = 3,
      itersFine: Int = 2,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Array[Seq[Double]]]) = {
    require(k >= 4, s"two-level training needs k >= 4, got $k")
    val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val fsub = math.max(1, math.ceil(k.toDouble / kc).toInt)
    // dim resolves from the trained coarse centroids below.
    // ≥ 4 sample vectors per fine cell, floored at 1024 — scales with k
    // (the trainer must outnumber the centroids) without dragging the
    // whole corpus through the Lloyd jobs at small k.
    val sampleN = math.max(1024, 4 * k)
    // Stay on the distributed coarse trainer here: this variant exists as
    // the all-Spark-jobs reference the equivalence spec compares against.
    val coarse =
      trainIvfCentroidsWithInitDistributed(e0, k = kc, iters = itersCoarse, sampleN = sampleN, stride = stride)._2
    val e = e0
      .filter(pmod(col("vec_id"), lit(stride)) === 0 || col("vec_id") < kc)
      .orderBy("vec_id")
      .limit(sampleN)
      .repartition(col("vec_id")) // the limit collapses to one partition; run the Lloyd jobs wide
      .cache()
    // Coarse assignment of the sample: √k compiled kernels, one pass.
    val cosC = array(coarse.map(c => cosine(col("embedding"), typedLit(c))).toIndexedSeq: _*)
    val cellCol = bind(cosC)(a => (array_position(a, array_max(a)) - 1).cast("int"))
    val assigned = e.select(cellCol.as("cell"), col("vec_id"), col("embedding")).cache()
    val wCell = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val initRows = assigned
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= fsub)
      .select("cell", "rn", "embedding")
      .collect()
    val byCell = initRows.groupBy(_.getInt(0)).map { case (c, rs) =>
      c -> rs.sortBy(_.getInt(1)).map(r => vecToDouble(r, 2))
    }
    var fine: Array[Array[Seq[Double]]] =
      (0 until kc).map(c => byCell.getOrElse(c, Array(coarse(c)))).toArray
    val dim = coarse.head.length
    for (_ <- 1 to itersFine) {
      val starts = fine.scanLeft(0)((a, cell) => a + cell.length)
      val fid = ivfAssign(col("embedding"), coarse.toSeq, fine.toSeq.map(_.toSeq))
      val norm = sqrt(aggregate(col("embedding"), lit(0.0d), (acc, x) =>
        acc + x.cast("double") * x.cast("double")))
      // Same no-explode quantized-long accumulation as the flat trainer
      // (exact, order-independent, codegen'd — see trainIvfCentroids).
      val aggs = posSumCols(dim) :+ count(lit(1)).as("cnt")
      val updated = assigned
        .select(fid.as("fid"), norm.as("nrm"), col("embedding"))
        .groupBy("fid")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(centroidFromSums(_, dim))
        .toMap
      fine = fine.zipWithIndex.map { case (cell, c) =>
        cell.zipWithIndex.map { case (old, j) => updated.getOrElse(starts(c) + j, old) }
      }
    }
    assigned.unpersist()
    e.unpersist()
    (coarse, fine)
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix (the
    * driver-side step of PCA — dim ≤ a few hundred, cost dim³ per sweep,
    * microseconds at embedding dims). Returns (eigenvalues, eigenvectors
    * as rows), sorted by descending eigenvalue. Textbook rotations; sweeps
    * until the off-diagonal mass is numerically gone.
    */
  private def jacobiEigen(a0: Array[Array[Double]], maxSweeps: Int = 30): (Array[Double], Array[Array[Double]]) = {
    val nd = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(nd, nd)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-18) {
      off = 0.0
      for (p <- 0 until nd - 1; q <- p + 1 until nd) {
        val apq = a(p)(q)
        off += apq * apq
        if (math.abs(apq) > 1e-15) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
          val c = 1 / math.sqrt(t * t + 1)
          val s = t * c
          var k = 0
          while (k < nd) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
            k += 1
          }
          k = 0
          while (k < nd) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
            k += 1
          }
          k = 0
          while (k < nd) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
            k += 1
          }
        }
      }
      sweep += 1
    }
    val order = (0 until nd).sortBy(i => -a(i)(i)).toArray
    val eig = order.map(i => a(i)(i))
    val vecs = order.map(i => Array.tabulate(nd)(k => v(k)(i)))
    (eig, vecs)
  }

  /** PCA basis over the full embedding corpus: ONE distributed
    * treeAggregate to a fixed-size (count, sum, sum-of-outer-products)
    * accumulator — O(dim²) doubles of state (32 KB at dim 64) regardless
    * of corpus size, map-side combined, exactly the CMS/treeAggregate
    * shape q_heavy_hitters uses — then covariance + Jacobi eigen on the
    * driver. Returns (mean, top-k basis rows, ALL eigenvalues desc).
    */
  private[graft] def trainPcaBasis(
      e: DataFrame,
      nComponents: Int
  ): (Array[Double], Array[Array[Double]], Array[Double]) = {
    val dim = e.select("embedding").head().getSeq[Float](0).length
    val zero = (0L, new Array[Double](dim), new Array[Double](dim * dim))
    val (n, sum, prods) = e
      .select("embedding")
      .rdd
      .treeAggregate(zero)(
        seqOp = { case ((cnt, s, pp), row) =>
          val x = row.getSeq[Float](0)
          var i = 0
          while (i < dim) {
            val xi = x(i).toDouble
            s(i) += xi
            var j = i
            while (j < dim) { pp(i * dim + j) += xi * x(j).toDouble; j += 1 }
            i += 1
          }
          (cnt + 1, s, pp)
        },
        combOp = { case ((c1, s1, p1), (c2, s2, p2)) =>
          var i = 0
          while (i < dim) { s1(i) += s2(i); i += 1 }
          i = 0
          while (i < dim * dim) { p1(i) += p2(i); i += 1 }
          (c1 + c2, s1, p1)
        }
      )
    val mean = sum.map(_ / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      val pij = if (i <= j) prods(i * dim + j) else prods(j * dim + i)
      pij / n - mean(i) * mean(j)
    }
    val (eig, vecs) = jacobiEigen(cov)
    (mean, vecs.take(nComponents), eig)
  }

  /** The SemDeDup pipeline body, parameterized on the corpus and cell count
    * so the scale spec can force k past the old flat-assignment ceiling
    * (k = 1024) on a corpus it controls. Input: (vec_id, embedding).
    * Output: the DROPPED vectors with their keeper and cosine. The
    * within-cell self-join carries identical subtrees on both sides (merge
    * hints) so the two-level assignment computes ONCE via ReusedExchange —
    * pinned in PlanAuditSpec.
    */
  /** The production PCA projection table: every vector's top-8 principal
    * coordinates (one compiled map pass, zero shuffles — plan-pinned with
    * the other map-only operators) plus the var_explained budget number.
    * The registered q_embed_pca is the banded audit report over the same
    * trained model.
    */
  private[graft] def pcaProjections(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val (mean, basis, eig) = trainPcaBasis(e, nComponents = 8)
    val varExplained = eig.take(8).sum / eig.sum
    val pc = pcaProject(col("embedding"), mean.toSeq, basis.toSeq.map(_.toSeq))
    e.select(
      col("vec_id"),
      array_join(transform(pc, x => round(x, 6).cast("string")), ",").as("pc"),
      round(lit(varExplained), 6).as("var_explained")
    ).orderBy("vec_id")
  }

  /** 64-bit simhash signatures over the planted-duplicate corpus (native
    * kernel, one map pass).
    */
  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame =
    corpusWithDups(s, d)
      .withColumn("sig", simhash64(col("text")))
      .select(col("doc_id"), col("sig"))

  /** Memoized documents row count per sf dir (same catalog-statistic role
    * as [[embeddingsCount]]) — sizes the ball-audit sample modulus.
    */
  private val docCountCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] def documentsCount(s: SparkSession, d: String): Long =
    docCountCache.getOrElseUpdate(d, documents(s, d).count())

  /** Memoized max doc_id per sf dir — guards every fixture that derives
    * planted ids with the +1e6 offset convention (corpusWithDups,
    * incrementalNearBatch): on an id space reaching 1e6, a planted id
    * would COLLIDE with a genuine doc and the doc_id-keyed joins
    * downstream would silently score the wrong text. The guard turns
    * that into a loud failure (the oracle SQL hardcodes the same +1e6,
    * so a dynamic offset would have to thread through every oracle
    * string; the testdata contract keeps ids ≪ 1e6 at every sf).
    */
  private val maxDocIdCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] def maxDocId(s: SparkSession, d: String): Long =
    maxDocIdCache.getOrElseUpdate(
      d,
      documents(s, d).agg(max(col("doc_id"))).head().getLong(0))

  private[graft] def requirePlantedIdHeadroom(s: SparkSession, d: String): Unit = {
    val mx = maxDocId(s, d)
    require(
      mx < 1000000L,
      s"planted-id fixture: max doc_id $mx reaches the +1e6 planted-id offset — " +
        "planted ids would collide with genuine docs; regenerate with a larger offset " +
        "threaded through the oracle SQL")
  }

  /** Planted-id offset derived from the OBSERVED id range, for fixtures
    * whose oracle never states the offset (the banded audio audit): 1e6
    * on every driver testdata SF (ids ≪ 1e6 there, so behavior is
    * byte-identical to the hardcoded convention), max(doc_id)+1 beyond —
    * which is what lets ScaleGrowth's ×k corpora (ids ≥ 1e7 by the
    * copy-offset rule) run the audio family at all (r12 review item 7).
    * Fixtures whose ORACLE hardcodes +1e6 (corpusWithDups,
    * incrementalNearBatch, the image/embedding families) keep
    * [[requirePlantedIdHeadroom]]: a dynamic offset there would have to
    * thread through every oracle string.
    */
  private[graft] def plantedOffset(s: SparkSession, d: String): Long =
    math.max(1000000L, maxDocId(s, d) + 1L)

  /** Ball-audit sample modulus: a FIXED-SIZE sample (~500 base docs →
    * ~1000 signatures → ~500k brute-force comparisons), not a fixed
    * fraction — a mod-53 rule alone keeps the crossJoin O((n/53)²),
    * which is still quadratic at corpus scale; max(53, n/500) pins the
    * audit's cost constant at ANY corpus size while staying 53 (the
    * whole test regime) at every test SF.
    */
  private[graft] def sampleModulus(nDocs: Long): Long = math.max(53L, nDocs / 500L)

  /** Sample predicate keyed on the BASE id, so a sampled original always
    * keeps its +1e6 planted variant in the sample — without this the ball
    * below contains no planted near-pairs at all (1e6 ≡ 49 mod 53, so a
    * raw-id rule can never select both ends of a planted pair) and the
    * equality check is vacuous.
    */
  private[graft] def inSampleBase(mod: Long, offset: Long = 1000000L): Column => Column = c =>
    pmod(when(c >= offset, c - offset).otherwise(c), lit(mod)) === 0

  /** The banded audit report of the perceptual near-dup rows
    * (q_dedup_simhash, q_dedup_images, q_dedup_audio, q_phash_images;
    * oracle [[bandedAuditOracle]]). The pair tables themselves are
    * spec-consumed; the report carries:
    *  - `n_docs`, cross-engine exact;
    *  - `planted_recall_band`: `recallOk(n_planted_found, n_docs)`, the
    *    planted variants (at doc_id + `offset`) the byte-banded pairs of
    *    `sigs` find, each driven through the row's full sketch path;
    *  - `ball_band`: on a fixed-size base-id sample (sampleModulus), the
    *    banded pair set restricted to the sample EQUALS the brute-force
    *    hamming≤7 ball over the sampled signatures, both directions
    *    (DedupRecallSpec proves the same equality exhaustively at spec
    *    scale). With base-id sampling the ball genuinely contains planted
    *    near-pairs, so a loosened hamming cut or broken banding flips it.
    *    `sampled(sigs, inSample)` gives the sample's signatures: a filter
    *    of `sigs`, or a fresh sketch pass over only the sampled documents
    *    (~500 docs at any corpus size).
    *
    * `sigs` are materialized ONCE (localCheckpoint, bounded: 2 longs per
    * document): the recall and ball branches rewrite the pair subtree
    * under different pushed filters, so no exchange reuse spans them, and
    * without the checkpoint the whole sketch pass (render or synth, codec,
    * hash) ran twice (StageProbe r17: two identical full-corpus codec
    * stages).
    */
  private def bandedAudit(s: SparkSession, d: String, sigs: DataFrame, offset: Long)(
      sampled: (DataFrame, Column => Column) => DataFrame,
      recallOk: (Column, Column) => Column
  ): DataFrame = {
    val corpus = sigs.localCheckpoint()
    val pairs = DedupOps.byteBandPairsUnsorted(corpus)
    val mod = sampleModulus(documentsCount(s, d))
    val inS = inSampleBase(mod, offset)
    val sample = sampled(corpus, inS)
    val ball = sample
      .as("a")
      .crossJoin(sample.as("b"))
      .filter(
        col("a.doc_id") < col("b.doc_id") &&
          hammingPacked(col("a.sig"), col("b.sig")) <= 7
      )
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), lit(true).as("in_ball"))
    val bandedSample = pairs
      .filter(inS(col("doc_a")) && inS(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), lit(true).as("in_band"))
    val mismatch = ball
      .join(bandedSample, Seq("doc_a", "doc_b"), "full_outer")
      .filter(col("in_ball").isNull || col("in_band").isNull)
      .agg(count(lit(1)).as("n_mismatch"))
    val recall = pairs
      .filter(col("doc_b") === col("doc_a") + offset)
      .agg(count(lit(1)).as("n_planted_found"))
    documents(s, d)
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(recall))
      .crossJoin(broadcast(mismatch))
      .select(
        col("n_docs"),
        recallOk(col("n_planted_found"), col("n_docs")).as("planted_recall_band"),
        (col("n_mismatch") === 0L).as("ball_band")
      )
  }

  /** The oracle of every [[bandedAudit]] report: the flags are claims the
    * Spark side checks, stated TRUE.
    */
  private val bandedAuditOracle: String =
    """SELECT COUNT(*) AS n_docs, TRUE AS planted_recall_band,
      |  TRUE AS ball_band
      |FROM documents""".stripMargin

  /** The production SimHash near-dup pair table: packed 64-bit sketch,
    * 8 byte-bands via posexplode, popcount-of-xor hamming verify — every
    * step codegen. The 8-byte sig rides along with the band explosion, so
    * the hamming cut applies inside the band join (before any distinct):
    * hot band buckets stream through the verify instead of materializing
    * an unfiltered candidate pair set. Pigeonhole: hamming ≤ 7 over 8
    * bands guarantees ≥ 1 shared byte-band, so coverage is exact (7 is
    * the loosest threshold byte-banding covers; DedupRecallSpec tracks
    * the planted-dup recall this yields on 15%-truncation edits). The
    * merge hints force a sort-merge self-join with identical shuffle
    * subtrees, so ReuseExchange computes the sketch+explode once
    * (3.4s -> 1.4s at sf0.1 vs the broadcast self-join that rebuilt it
    * per side). The registered q_dedup_simhash is the banded audit
    * report over this table.
    */
  private[graft] def simhashPairs(s: SparkSession, d: String): DataFrame =
    DedupOps.byteBandPairs(simhashSigs(s, d))

  /** dHash signatures for the given base documents' rendered test images
    * plus their planted ±3-luma ripple variants at doc_id+1e6 — the real
    * render→ImageIO-decode→dHash path (one narrow mapPartitions, no
    * shuffle). Taking the doc set as input lets the audit report render
    * ONLY its ~2% sample for the brute-force ball check instead of
    * re-rendering the corpus.
    */
  private[graft] def imageSigsFrom(docs: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    import graft.operators.MultimodalOps
    docs
      .select(col("doc_id"))
      .repartition(s.sessionState.conf.numShufflePartitions)
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        Iterator(
          (id, MultimodalOps.imageDhash(MultimodalOps.renderTestImage(id))),
          (id + 1000000L, MultimodalOps.imageDhash(MultimodalOps.renderTestImage(id, perturb = true)))
        )
      })
      .toDF("doc_id", "sig")
  }

  private[graft] def imageSigs(s: SparkSession, d: String): DataFrame =
    imageSigsFrom(documents(s, d))(s)

  /** The production image near-dup pair table: 8 byte-bands over the
    * 64-bit dHash (pigeonhole-complete for hamming ≤ 7), merge-hinted
    * self-join with the hamming cut inside the band join. The registered
    * q_dedup_images is the banded audit report over this table.
    */
  private[graft] def imageDedupPairs(s: SparkSession, d: String): DataFrame =
    DedupOps.byteBandPairs(imageSigs(s, d))

  /** Energy-contour fingerprint signatures for the given base documents'
    * synthesized audio clips plus their planted HALF-VOLUME re-levelled
    * variants at doc_id+`offset` — the real synth→AudioSystem-encode→
    * decode→fingerprint path (one narrow mapPartitions, no shuffle),
    * sharing q_audio_features' per-doc synthesis parameters (sample rate /
    * length / volume from doc metadata), behind the same codec-spreading
    * id repartition as the image/phash builders (see phashSigsFrom — one
    * scan partition would serialize the whole codec pass). Taking the
    * doc set as input lets
    * the audit report synthesize ONLY its fixed-size sample for the
    * brute-force ball check instead of re-decoding the corpus (the
    * imageSigsFrom pattern). The offset comes from [[plantedOffset]] —
    * 1e6 on driver testdata, id-range-derived on growth corpora.
    */
  private[graft] def audioSigsFrom(docs: DataFrame, offset: Long = 1000000L)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    import graft.operators.MultimodalOps
    docs
      .select(
        col("doc_id"),
        (lit(8000) * (lit(1) + col("doc_id") % 2)).cast("int").as("sr"),
        (lit(800) + (col("n_chars") % 160) * 10).cast("int").as("ns"),
        (lit(0.4) + (col("doc_id") % 5).cast("double") * 0.1).as("amp")
      )
      .repartition(s.sessionState.conf.numShufflePartitions)
      .as[(Long, Int, Int, Double)]
      .mapPartitions(_.flatMap { case (id, sr, ns, amp) =>
        def fp(a: Double): Long = {
          val samples = MultimodalOps
            .decodeAudio(MultimodalOps.synthWav(id, sr, ns, a))
            .getOrElse(throw new IllegalStateException(s"doc $id: JDK failed to parse its own WAV"))
            ._5
          MultimodalOps.audioFingerprint64(samples)
        }
        Iterator((id, fp(amp)), (id + offset, fp(amp * 0.5)))
      })
      .toDF("doc_id", "sig")
  }

  private[graft] def audioSigs(s: SparkSession, d: String): DataFrame =
    audioSigsFrom(documents(s, d), plantedOffset(s, d))(s)

  /** The production audio near-dup pair table: the volume-invariant 64-bit
    * energy-contour fingerprint through the shared [[DedupOps.byteBandPairs]]
    * machinery (8 byte-bands, pigeonhole-complete for hamming ≤ 7 — wider
    * than the proven ≤ 4 re-levelling drift, so re-levelled copies band
    * together). The registered q_dedup_audio is the banded audit report
    * over this table. At 100 TB the synth step is a media-store scan +
    * per-row codec pass; everything after the 8-byte sketch is
    * corpus-size-bounded banding, identical to the image family.
    */
  private[graft] def audioDedupPairs(s: SparkSession, d: String): DataFrame =
    DedupOps.byteBandPairs(audioSigs(s, d))

  /** DCT pHash signatures for the given base documents' rendered test
    * images plus their planted RE-FRAMED-REPOST variants at
    * doc_id+`offset` — a 1-px border crop plus seeded ±26 luma dither
    * (trimmed chrome + sensor noise / re-quantization), the regime where
    * the two perceptual hashes measurably separate: DedupRecallSpec pins
    * pHash recall > 0.9 and dHash BELOW 0.5 on the same planted set (dHash
    * signs adjacent-pixel differences, which smooth-region dither flips;
    * each pHash DCT readout aggregates all 1024 resized pixels, so the
    * noise cancels). Base images are 64×64 dense-decaying-spectrum renders
    * (renderSmoothTestImage — the natural-image spectrum shape pHash's
    * median threshold assumes; on sparse-spectrum gratings most readouts
    * are noise-floor coin flips, measured recall ~0). BOTH payloads pass
    * through the real ImageIO codec (render encodes, crop+dither
    * decodes→re-encodes, hashing decodes again). One narrow mapPartitions
    * behind an 8-byte-per-row id repartition: the codec pass must spread
    * across ALL cores regardless of how few scan partitions the id
    * projection needs (one ~5 MB parquet file = one task = the whole
    * corpus decoding serially — measured 10.8 s → 1.7 s at sf0.1 from
    * this one exchange). The offset comes from [[plantedOffset]] — 1e6 on
    * driver testdata, id-range-derived on growth corpora.
    */
  private[graft] def phashSigsFrom(docs: DataFrame, offset: Long = 1000000L)(
      implicit s: SparkSession): DataFrame = {
    import s.implicits._
    import graft.operators.MultimodalOps
    docs
      .select(col("doc_id"))
      .repartition(s.sessionState.conf.numShufflePartitions)
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        val base = MultimodalOps.renderSmoothTestImage(id, 64)
        val repost =
          MultimodalOps.ditherImage(MultimodalOps.cropImage(base, 1), 26, id + 77L)
        Iterator(
          (id, MultimodalOps.imagePhash(base)),
          (id + offset, MultimodalOps.imagePhash(repost))
        )
      })
      .toDF("doc_id", "sig")
  }

  private[graft] def phashSigs(s: SparkSession, d: String): DataFrame =
    phashSigsFrom(documents(s, d), plantedOffset(s, d))(s)

  /** The production noise-robust image near-dup pair table: 8 byte-bands
    * over the 64-bit DCT pHash through the shared [[DedupOps.byteBandPairs]]
    * machinery (pigeonhole-complete for hamming ≤ 7). The registered
    * q_phash_images is the banded audit report over this table — the
    * crop+dither (re-framed repost) arm next to q_dedup_images' dHash
    * re-encode/ripple arm.
    */
  private[graft] def phashDedupPairs(s: SparkSession, d: String): DataFrame =
    DedupOps.byteBandPairs(phashSigs(s, d))

  /** The production per-vector topic-assignment table: spherical k-means
    * trained on a bounded deterministic sample (trainIvfCentroids — driver
    * state O(k·dim), never O(data)), then one codegen'd argmax pass over
    * the full corpus (k compiled cosine kernels per row, zero shuffles).
    * The registered q_kmeans_clusters wraps this in the banded clustering
    * audit for the driver hash gate; DedupRecallSpec (determinism /
    * coverage / Lloyd-objective), LlmPipelineSpec (topic-chain use), and
    * PlanAuditSpec (map-only pin) consume this table directly.
    */
  private[graft] def kmeansAssignments(s: SparkSession, d: String, iters: Int = 5): DataFrame = {
    val e = embeddings(s, d)
    val cents = trainIvfCentroids(e, k = 10, iters = iters)
    def cosArr(v: Column) = array(cents.map(c => cosine(v, typedLit(c))).toIndexedSeq: _*)
    e.select(
        col("vec_id"),
        bind(cosArr(col("embedding"))) { a =>
          struct(
            (array_position(a, array_max(a)) - 1).cast("int").as("cluster"),
            round(array_max(a), 6).as("cos_to_centroid")
          )
        }.as("o")
      )
      .select(col("vec_id"), col("o.cluster").as("cluster"), col("o.cos_to_centroid").as("cos_to_centroid"))
      .orderBy("vec_id")
  }

  /** The production SemDeDup drop table over the planted-twin corpus:
    * (vec_id dropped, keeper, cos_to_keeper). The registered q_semdedup
    * wraps this in the banded audit report for the driver hash gate;
    * DedupRecallSpec and LlmPipelineSpec consume this table directly.
    */
  private[graft] def semdedupProduction(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = embeddings(s, d).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x))
        .as("embedding")
    )
    val corpus = base.unionAll(planted)
    val n = 2L * embeddingsCount(s, d)
    val k = math.max(16, (n / 256).toInt)
    val sampleN = math.max(1024, 4 * k)
    val stride = math.max(1, (n / sampleN).toInt)
    semdedupDrops(corpus, k, stride)
  }

  private[graft] def semdedupDrops(corpus: DataFrame, k: Int, stride: Int = 10): DataFrame = {
    val (coarse, fine) = trainTwoLevelCentroids(corpus, k, stride = stride)
    val assigned = corpus.select(
      col("vec_id"),
      col("embedding"),
      ivfAssign(col("embedding"), coarse.toSeq, fine.toSeq.map(_.toSeq)).as("cell")
    )
    assigned
      .as("a")
      .hint("merge")
      .join(
        assigned.as("b").hint("merge"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id")
      )
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos_sim")
      )
      .filter(col("cos_sim") >= 0.995)
      .groupBy(col("vec_b"))
      .agg(min(struct(col("vec_a"), col("cos_sim"))).as("k"))
      .select(
        col("vec_b").as("vec_id"),
        col("k.vec_a").as("keeper"),
        round(col("k.cos_sim"), 6).as("cos_to_keeper")
      )
      .orderBy("vec_id")
  }

  /** Verified MinHash near-dup pairs (doc_a < doc_b, exact Jaccard ≥ 0.5)
    * over the planted-duplicate corpus: the pair table behind
    * q_dedup_minhash.
    */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = DedupOps.minhashSketch(corpusWithDups(s, d))
    DedupOps.verifiedJaccard(DedupOps.bandedPairs(sig), sig, minJ = 0.5).select("doc_a", "doc_b", "jaccard")
  }

  /** Today's batch for the incremental near-dup shape
    * (q_dedup_incremental_ngram): the ≡4 (mod 5) docs are genuinely new
    * content, the +1e6-id rows are 85%-truncated variants of the ≡0 docs —
    * planted near-dups of the index corpus. */
  private[graft] def incrementalNearBatch(s: SparkSession, d: String): DataFrame = {
    requirePlantedIdHeadroom(s, d)
    val docs = documents(s, d)
    docs.filter(pmod(col("doc_id"), lit(5)) === 4).select(col("doc_id"), col("text"))
      .unionAll(docs.filter(pmod(col("doc_id"), lit(5)) === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("text").substr(lit(1), (col("n_chars") * 0.85).cast("int")).as("text")))
  }

  /** Yesterday's corpus for the incremental near-dup shape. */
  private[graft] def incrementalNearIndex(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(pmod(col("doc_id"), lit(5)) =!= 4).select(col("doc_id"), col("text"))

  /** PRODUCTION twin of q_dedup_incremental_ngram for 100 TB: the corpus
    * side is a persisted minhash BAND index (built once at index time —
    * here computed inline from [[incrementalNearIndex]]; a deployment
    * stores exactly the (band_idx, band_hash, doc_id) table plus the
    * shingle sets, StagingSink-style, and appends each day's batch to it).
    * The day's batch is shingled + banded, probes the index by bucket
    * equi-join (never |batch|·|index|; over-occupied index buckets are
    * df-capped like [[DedupOps.bandedPairs]]'s cold path), and only candidates
    * fetch shingle sets for the exact Jaccard ≥ 0.5 verify. Returns the
    * verified (batch_id, match_id, jaccard) matches; survivors are the
    * batch anti-join. IncrementalDedupSpec pins recall ≥ 0.95 of the exact
    * inverted-index match set and zero sub-threshold matches.
    */
  private[graft] def incrementalMinhashMatches(s: SparkSession, d: String): DataFrame = {
    val batchSig = DedupOps.minhashSketch(incrementalNearBatch(s, d))
    val idxSig = DedupOps.minhashSketch(incrementalNearIndex(s, d))
    val idxBands = DedupOps.cappedIndex(DedupOps.bandPostings(idxSig), DedupOps.BandKey, maxDf = 4096)
    val cand = DedupOps.probePairs(DedupOps.bandPostings(batchSig), idxBands, DedupOps.BandKey, minShared = 1)
    DedupOps.verifiedJaccard(cand, batchSig.unionAll(idxSig), minJ = 0.5)
      .select(col("doc_a").as("batch_id"), col("doc_b").as("match_id"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs (doc_a < doc_b, J ≥ 0.4) over the planted-
    * duplicate corpus — the pair generator behind q_ngram_jaccard AND the
    * clustering query. Unlike the minhash pipeline, every step here is
    * deterministic AND SQL-expressible (df≤50 inverted index, ≥3 common
    * low-df shingles, exact full-set Jaccard), so consumers of this pair
    * set can be driver-hash-checked end to end.
    *
    * FULL-64-bit hashed shingle sets (hashedShingles64, no mod-P)
    * throughout: this pipeline never touches the minhash [0, P) domain,
    * and the mod-P form's ~n²/2·10⁹ pair collisions would eventually
    * perturb an output jaccard value as the corpus grows — 64-bit pushes
    * that to ~n²/2⁶⁴, negligible at any realistic sf, while the index and
    * verify still shuffle 8-byte longs instead of ~30-byte gram strings (a
    * string-set verify was measured 0.9 s slower at sf0.1). One projection
    * feeds index AND verify, so the sketch computes once.
    */
  private def ngramJaccardPairs(
      s: SparkSession,
      d: String,
      keepFrac: Double = 0.85,
      jaccardMin: Double = 0.4
  ): DataFrame = {
    val sh64 = corpusWithDups(s, d, keepFrac)
      .select(col("doc_id"), hashedShingles64(col("text")).as("sh"))
    val key = Seq("sh_key")
    val idx = DedupOps.cappedIndex(DedupOps.setPostings(sh64, "doc_id"), key, maxDf = 50)
    DedupOps.verifiedJaccard(DedupOps.sharedKeyPairs(idx, key, minShared = 3), sh64, jaccardMin)
  }

  /** The DuckDB replica of [[ngramJaccardPairs]] as named CTEs ending in
    * `pairs(doc_a, doc_b, jaccard, na, nb)` — shared verbatim by the
    * q_ngram_jaccard oracle, the recursive-CTE clustering oracle, AND the
    * containment oracle so the three can never drift apart. Parameterized
    * exactly like the Spark generator (truncation depth, verify floor).
    */
  private def ngramPairsSqlCtes(keepFrac: Double = 0.85, jaccardMin: Double = 0.4): String =
    raw"""corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         substr(text, 1, CAST(trunc(n_chars * $keepFrac) AS INT)) AS text
      |  FROM documents),
      |w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
      |g AS (
      |  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
      |  FROM w, unnest(range(1, len(w) - 1)) AS t(i)
      |  WHERE len(w) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
      |idx AS (
      |  SELECT doc_id, gram FROM g
      |  QUALIFY COUNT(*) OVER (PARTITION BY gram) <= 50),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM idx a JOIN idx b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |common AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
      |  FROM cand c
      |  JOIN g ga ON ga.doc_id = c.doc_a
      |  JOIN g gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b, CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) AS jaccard,
      |         sa.n AS na, sb.n AS nb
      |  FROM common
      |  JOIN sz sa ON sa.doc_id = doc_a
      |  JOIN sz sb ON sb.doc_id = doc_b
      |  WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= $jaccardMin)""".stripMargin

  /** Product-quantization codebooks: per-subspace k-means (Lloyd) trained
    * driver-side on a bounded deterministic sample — the faiss shape:
    * codebooks converge on a few hundred vectors, so the train step is
    * O(sample × ksub), never O(data), and the result is m × ksub × dsub
    * doubles of driver state (8 KB here).
    */
  private[graft] def trainPqCodebooks(
      e: DataFrame,
      m: Int,
      ksub: Int,
      dsub: Int,
      sampleN: Int = 512,
      iters: Int = 10
  ): Seq[Double] = {
    val sample: Array[Array[Double]] = e
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .orderBy("vec_id")
      .limit(sampleN)
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= ksub, s"PQ training needs >= $ksub sample vectors")
    val books = new Array[Double](m * ksub * dsub)
    for (sub <- 0 until m) {
      val xs = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      val cents = xs.take(ksub).map(_.clone)
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        for (x <- xs) {
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d = 0.0
            var j = 0
            while (j < dsub) { val df = x(j) - cents(c)(j); d += df * df; j += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += x(j); j += 1 }
        }
        for (c <- 0 until ksub if counts(c) > 0; j <- 0 until dsub)
          cents(c)(j) = sums(c)(j) / counts(c)
      }
      for (c <- 0 until ksub; j <- 0 until dsub)
        books((sub * ksub + c) * dsub + j) = cents(c)(j)
    }
    books.toIndexedSeq
  }

  /** The containment pipeline behind q_dedup_containment, parameterized on
    * the planted truncation depth so the recall spec can exercise the
    * heavy-truncation regime (keepFrac = 0.5). Candidates come from the
    * exact df-capped inverted index ([[ngramJaccardPairs]] at the
    * containment verify floor J ≥ 0.3), not minhash banding: every step is
    * deterministic and SQL-expressible, so the operator is driver-hash-
    * checked end to end — the same move that oracled q_dedup_clusters. (A
    * 32-band/2-row minhash generator was the prior form; the exact index
    * has strictly better recall at the same candidate-bounding shape —
    * q_ngram_jaccard's scale story — and its banding-regime analysis lives
    * on in the q_dedup_containment comment.) The exact intersection size
    * derives algebraically from the verified Jaccard and the two set
    * sizes (c = J(a+b)/(1+J)/min(a,b)), so no second intersection pass
    * runs.
    */
  private[graft] def containmentPairs(
      s: SparkSession,
      d: String,
      keepFrac: Double = 0.85
  ): DataFrame =
    ngramJaccardPairs(s, d, keepFrac, jaccardMin = 0.3)
      .select(
        col("doc_a"),
        col("doc_b"),
        (col("jaccard") * (col("na") + col("nb")) / (col("jaccard") + 1.0) /
          least(col("na"), col("nb"))).as("containment")
      )
      .filter(col("containment") >= 0.9)

  /** Deterministic ISO-BMFF fixture for q_mp4_meta (the q_sitemap_ingest
    * device in binary: synthesize the container from the row key, parse
    * with the REAL box parser, state post-parse ground truth directly in
    * the oracle). One video trak always; an audio trak unless k%3=0 (so
    * the track walk sees both shapes); mvhd alternates v0/v1 and tkhd
    * alternates on k/2 (both FullBox layouts execute at every SF); a
    * `free` box sits between ftyp and moov (the unknown-type skip path —
    * what makes the format forward-compatible); mdat carries k%50+1
    * filler bytes (the opaque codec payload — decode stays on the
    * documented stub seam, the container does not).
    */
  private[graft] def mp4Fixture(k: Long): Array[Byte] = {
    import graft.sources.Mp4Lite._
    val ticks = 1000 + (k * 37) % 90000
    val mvhdV = (k % 2).toInt
    val tkhdV = ((k / 2) % 2).toInt
    def trak(id: Long, handler: String, codec: String) = container(
      "trak",
      box("tkhd", tkhdPayload(tkhdV, id)),
      container(
        "mdia",
        box("hdlr", hdlrPayload(handler)),
        container("minf", container("stbl", box("stsd", stsdPayload(codec))))))
    val traks =
      if (k % 3 == 0) Seq(trak(1, "vide", "avc1"))
      else Seq(trak(1, "vide", "avc1"), trak(2, "soun", "mp4a"))
    val moov = container("moov", (box("mvhd", mvhdPayload(mvhdV, 1000, ticks)) +: traks): _*)
    box("ftyp", ftypPayload("isom", 512, Seq("isom", "mp41"))) ++
      box("free", Array.fill(((k % 5) + 1).toInt)(0x20.toByte)) ++
      moov ++
      box("mdat", Array.fill((k % 50 + 1).toInt)((k % 251).toByte))
  }

  val all: Seq[Q] = Seq(
    // Exact dedup: content-hash groupBy, min doc_id is the canonical copy.
    Q(
      "q_dedup_exact_docs",
      (s, d) =>
        documents(s, d)
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select("doc_id", "text_hash", "n_copies"),
      Some("""SELECT min(doc_id) AS doc_id, md5(text) AS text_hash, COUNT(*) AS n_copies
             |FROM documents GROUP BY md5(text)""".stripMargin)
    ),

    // MinHash + LSH near-dup: hashed shingles → fused signature+banding
    // (native kernel, one call per row) → bucket join → exact-Jaccard verify
    // on candidates only (hashed-shingle set intersection).
    Q(
      "q_dedup_minhash",
      // Registered form = the banded recall/precision report (the pair
      // table itself is minhashPairs, spec-consumed): the reference set
      // is the EXACT J ≥ 0.5 pair
      // set from the deterministic inverted-index pipeline
      // (ngramJaccardPairs — the same machinery q_ngram_jaccard's oracle
      // hash-checks against DuckDB, re-parameterized to minhash's
      // threshold), so n_exact is a cross-engine-exact count and the
      // flags are genuine sketch gates: recall ≥ 0.95 of the exact
      // J ≥ 0.5 set (measured 0.998-1.0 across sf dirs — a broken
      // band/hash kernel collapses this), and zero extras below a
      // J ≥ 0.48 guard band. The guard band exists because minhash's
      // verify scores Jaccard over the mod-P shingle domain while the
      // reference uses the 64-bit domain — a rare mod-P collision can
      // legitimately lift a ~0.5-boundary pair across the threshold in
      // one domain only, which is domain skew, not a verify break; a
      // genuinely broken verify emits pairs far below 0.48 and still
      // flips the flag. The exact twin rides along as the price of the
      // gate — the production pipeline is minhashPairs alone.
      (s, d) => {
        // ONE full_outer join of the minhash pairs against the J ≥ 0.48
        // reference (carrying its jaccard column) yields all three counts
        // in a single pass — the two-join form ran both heavy pair
        // pipelines twice and needed a crossJoin for the extras count.
        val ref = ngramJaccardPairs(s, d, keepFrac = 0.85, jaccardMin = 0.48)
          .select(col("doc_a"), col("doc_b"), col("jaccard"))
        val found = minhashPairs(s, d)
          .select(col("doc_a"), col("doc_b"), lit(true).as("f"))
        ref
          .join(found, Seq("doc_a", "doc_b"), "full_outer")
          .agg(
            count(when(col("jaccard") >= 0.5, 1)).as("n_exact"),
            count(when(col("jaccard") >= 0.5 && col("f").isNotNull, 1)).as("n_hit"),
            count(when(col("jaccard").isNull, 1)).as("n_extra")
          )
          .select(
            col("n_exact"),
            (col("n_hit") >= col("n_exact") * 0.95).as("recall_band"),
            (col("n_extra") === 0L).as("precision_band")
          )
      },
      Some(s"""WITH ${ngramPairsSqlCtes(keepFrac = 0.85, jaccardMin = 0.48)}
              |SELECT CAST(COUNT(*) FILTER (WHERE jaccard >= 0.5) AS BIGINT) AS n_exact,
              |  TRUE AS recall_band, TRUE AS precision_band
              |FROM pairs""".stripMargin)
    ),

    // Containment near-dup (truncation detection): the asymmetric score
    // |A∩B| / min(|A|,|B|) — a truncated or excerpted copy scores ~1.0
    // where symmetric Jaccard dilutes toward |small|/|big|. Candidates
    // come from the exact df-capped inverted index (the q_ngram_jaccard
    // machinery) with the verify floor lowered to the containment regime:
    // deliberately loose on Jaccard (0.3 — a 30% excerpt) and tight on
    // containment (0.9), the asymmetric regime this operator exists for.
    // The exact intersection size derives algebraically from the verified
    // Jaccard and the two set sizes (c = J(a+b)/(1+J)/min(a,b)), so no
    // second intersection pass runs. Because every step is deterministic
    // and SQL-expressible, the operator carries a full DuckDB oracle
    // (pairs + algebra hash-checked) — a minhash-banded generator (32
    // bands × 2 rows, which fires at J = 0.3 with ≈ 95% probability vs
    // 16×4's ≈ 12%) was the prior, recall-gated-only form; the exact
    // index dominates it on determinism AND recall at the same
    // candidate-bounding scale shape. DedupRecallSpec still gates
    // planted-truncation recall at both 85% and 50% keep fractions.
    Q(
      "q_dedup_containment",
      (s, d) => containmentPairs(s, d).orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH ${ngramPairsSqlCtes(jaccardMin = 0.3)}
              |SELECT doc_a, doc_b,
              |  jaccard * (na + nb) / (jaccard + 1.0) / least(na, nb) AS containment
              |FROM pairs
              |WHERE jaccard * (na + nb) / (jaccard + 1.0) / least(na, nb) >= 0.9
              |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // Exact-substring overlap (the suffix-array dedup family — Lee et al.
    // 2022, arXiv:2107.06499 — re-expressed Spark-first): two docs sharing
    // ≥ 8 distinct 32-char windows contain long verbatim overlap that
    // paragraph/ngram dedup can miss (a quote, a license block, a lifted
    // span). Instead of a suffix array (a global O(n log n) sort of every
    // character position), windows roll per row in O(len) (the Mersenne-61
    // kernel the char-decontamination stage already uses), and the pair
    // enumeration is the SAME df-capped inverted-index shape as
    // q_ngram_jaccard — 8-byte keys, map-side distinct, bounded buckets —
    // so the operator inherits that scale story rather than a distributed
    // suffix sort. Fully deterministic and SQL-expressible (DuckDB
    // enumerates the text windows directly; the 64-bit hash domain differs
    // only by ~n²/2⁶⁴ collisions), so pair set AND shared-window counts
    // are driver-hash-checked.
    Q(
      "q_dedup_substrings",
      (s, d) => {
        // Bucket occupancy at sf0.1 (df = docs per 32-char-window key):
        //   df=1: 205k keys; df=2: 1.01M (the planted 85%-truncation
        //   dups); df=3..8: ~51k tail; max df = 8 — the ≤50 cap is pure
        //   adversarial armor (boilerplate windows at 100 TB), it drops
        //   nothing on organic data.
        val wins = corpusWithDups(s, d)
          .select(col("doc_id"), explode(charWindowHashes64(col("text"), w = 32)).as("win"))
        val key = Seq("win")
        DedupOps.sharedKeyPairs(DedupOps.cappedIndex(wins, key, maxDf = 50), key, minShared = 8)
          .withColumnRenamed("n_shared", "n_shared_windows")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id,
             |         substr(text, 1, CAST(trunc(n_chars * 0.85) AS INT)) AS text
             |  FROM documents),
             |w AS (
             |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 32) AS win
             |  FROM corpus, unnest(range(1, length(text) - 30)) AS t(i)
             |  WHERE length(text) >= 32),
             |idx AS (
             |  SELECT doc_id, win FROM w
             |  QUALIFY COUNT(*) OVER (PARTITION BY win) <= 50)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_windows
             |FROM idx a JOIN idx b ON a.win = b.win AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING COUNT(*) >= 8
             |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // Near-dup graph audit: node/edge counts, max degree, and TRIANGLE
    // count over the verified exact-Jaccard pair graph — the structural
    // density signal that distinguishes "chains of borderline matches"
    // (few triangles; clustering will over-merge via transitivity) from
    // "tight duplicate cliques" (triangle-rich; safe to collapse to one
    // canonical doc). Triangle enumeration uses the standard ordered-
    // orientation trick: edges are already min→max (doc_a < doc_b), so a
    // triangle {x<y<z} is counted EXACTLY once as (xy)(yz) closed by
    // (xz) — two equi-joins on an oriented edge list, no per-vertex
    // neighborhood materialization, no double counting to divide out. At
    // scale the join fanout is bounded because the pair generator's df≤50
    // inverted index caps how many edges any document can acquire; the
    // three references to the pair pipeline collapse via exchange reuse.
    Q(
      "q_graph_triangles",
      (s, d) => {
        // The audit references the edge list FOUR times (degree rollup +
        // three triangle-closure legs); without a materialization barrier
        // each reference re-derives the whole pair pipeline (shingle
        // index + candidate join + verify) — measured ~15 s vs ~4 s at
        // sf0.1. The pair set is corpus-REDUCED (near-dup pairs ≪ docs
        // at any scale), so derive ONCE into scratch parquet and read it
        // back (the exports/upsert read-back pattern — localCheckpoint
        // was tried first and measured 4× SLOWER: it materializes the
        // non-adaptive plan, losing the merge-hinted stage reuse inside
        // the pair derivation). repartition(1), NOT coalesce(1): coalesce
        // propagates the one-task constraint upstream into the pair-verify
        // stage and serialized it (measured ×2.8 per doubling at ×4);
        // the repartition shuffle moves only the reduced edge set. A
        // 100 TB deployment keeps the natural partitioning.
        val scratch = EtlQueries.scratchDir("graft_tri", d)
        ngramJaccardPairs(s, d)
          .select("doc_a", "doc_b")
          .repartition(1)
          .write
          .mode("overwrite")
          .parquet(s"$scratch/edges")
        val e = ParquetRead.load(s, s"$scratch/edges")
        // Degrees via ONE explode pass; n_edges = Σdeg/2 exactly (every
        // edge contributes two endpoint entries), so no separate count
        // pass over e.
        val stats = e
          .select(explode(array(col("doc_a"), col("doc_b"))).as("v"))
          .groupBy("v")
          .agg(count(lit(1)).as("deg"))
          .agg(
            count(lit(1)).as("n_nodes"),
            // coalesce: an EMPTY edge set sums to null where the oracle's
            // COUNT says 0 — a correct no-duplicates corpus must not read
            // as a cross-engine drift.
            (coalesce(sum(col("deg")), lit(0L)) / 2).cast("long").as("n_edges"),
            max(col("deg")).as("max_degree"))
        val tri = e
          .as("e1")
          .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
          .join(
            e.as("e3"),
            col("e3.doc_a") === col("e1.doc_a") && col("e3.doc_b") === col("e2.doc_b"))
          .agg(count(lit(1)).as("n_triangles"))
        stats
          .crossJoin(broadcast(tri))
          .select("n_nodes", "n_edges", "n_triangles", "max_degree")
      },
      Some(s"""WITH ${ngramPairsSqlCtes()},
              |e AS (SELECT doc_a, doc_b FROM pairs),
              |deg AS (
              |  SELECT v, COUNT(*) AS deg FROM (
              |    SELECT doc_a AS v FROM e UNION ALL SELECT doc_b AS v FROM e)
              |  GROUP BY 1),
              |t AS (
              |  SELECT COUNT(*) AS n_triangles
              |  FROM e e1
              |  JOIN e e2 ON e1.doc_b = e2.doc_a
              |  JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
              |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
              |  (SELECT CAST(n_triangles AS BIGINT) FROM t) AS n_triangles,
              |  (SELECT CAST(MAX(deg) AS BIGINT) FROM deg) AS max_degree""".stripMargin)
    ),

    // Fuzzy-dedup clustering: connected components over the verified
    // exact-Jaccard pair graph (ngramJaccardPairs — the SQL-expressible
    // pair generator, so the WHOLE query is driver-hash-checked: pair
    // enumeration, min-label propagation, and the canonical flag, against
    // a DuckDB recursive-CTE reachability oracle). Output is one row per
    // document with its cluster id (min reachable doc_id) and a canonical
    // flag — the exact shape a pre-training dedup pass consumes ("keep one
    // doc per cluster"). DedupRecallSpec additionally checks the partition
    // equals a union-find over the same pairs; connectedComponents itself
    // is pair-source-agnostic (any edge set — minhash, simhash, embedding —
    // feeds it identically; the union-find and durable-checkpoint specs
    // pin it on arbitrary graphs).
    Q(
      "q_dedup_clusters",
      (s, d) => {
        val pairs = ngramJaccardPairs(s, d)
        val nodes = corpusWithDups(s, d).select(col("doc_id").as("id"))
        GraphOps.connectedComponents(nodes, pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
          .select(
            col("id").as("doc_id"),
            col("comp").as("cluster_id"),
            (col("id") === col("comp")).as("is_canonical")
          )
          .orderBy(col("doc_id"))
      },
      // Connected components in SQL: symmetric edge closure, then
      // recursive reachability (UNION-distinct terminates the fixpoint),
      // then min reachable id per node — the same min-label partition the
      // Pregel-style loop converges to.
      Some(s"""WITH RECURSIVE ${ngramPairsSqlCtes()},
              |edges AS (
              |  SELECT doc_a AS a, doc_b AS b FROM pairs
              |  UNION ALL
              |  SELECT doc_b AS a, doc_a AS b FROM pairs),
              |reach(id, r) AS (
              |  SELECT DISTINCT doc_id, doc_id FROM corpus
              |  UNION
              |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b)
              |SELECT id AS doc_id, MIN(r) AS cluster_id, MIN(r) = id AS is_canonical
              |FROM reach GROUP BY id
              |ORDER BY doc_id""".stripMargin)
    ),

    // Survivorship — the step a dedup pass actually ships: q_dedup_clusters
    // partitions the corpus into near-dup clusters, this picks WHICH
    // document survives each cluster by a quality rule (longest text wins,
    // smaller doc_id breaks ties — the standard "most complete record"
    // policy; on this fixture the originals beat their 15%-truncated
    // planted dups, so the keeper set is semantically right, not just
    // deterministic). Output is the full decision table a downstream
    // filter consumes: every doc with its cluster, the cluster's keeper,
    // the cluster size, and the keep flag. Scale shape: components come
    // from the same bounded pair machinery (df caps — no all-pairs);
    // the keeper election is ONE partial-agg'd max(struct(len, -doc_id))
    // groupBy on cluster_id (one struct per cluster per partition
    // combines map-side — never a per-cluster window sort), and the
    // decision join back on cluster_id is AQE-planned (keeper table is
    // cluster-count-sized; skewed mega-clusters don't exist by the pair
    // generator's df cap). The oracle restates the election as a
    // row_number window over the same recursive-CTE components.
    Q(
      "q_survivorship",
      (s, d) => {
        val corpus = corpusWithDups(s, d)
          .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        val pairs = ngramJaccardPairs(s, d)
        val comp = GraphOps.connectedComponents(
          corpus.select(col("doc_id").as("id")),
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        val labeled = corpus
          .join(comp, corpus("doc_id") === comp("id"))
          .select(col("doc_id"), col("comp").as("cluster_id"), col("len"))
        val keepers = labeled
          .groupBy("cluster_id")
          .agg(
            max(struct(col("len"), (-col("doc_id")).as("neg_id"))).as("k"),
            count(lit(1)).as("cluster_size"))
          .select(col("cluster_id"), (-col("k.neg_id")).as("keeper_id"), col("cluster_size"))
        labeled
          .join(keepers, Seq("cluster_id"))
          .select(
            col("doc_id"),
            col("cluster_id"),
            col("keeper_id"),
            col("cluster_size"),
            (col("doc_id") === col("keeper_id")).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${ngramPairsSqlCtes()},
              |edges AS (
              |  SELECT doc_a AS a, doc_b AS b FROM pairs
              |  UNION ALL
              |  SELECT doc_b AS a, doc_a AS b FROM pairs),
              |reach(id, r) AS (
              |  SELECT DISTINCT doc_id, doc_id FROM corpus
              |  UNION
              |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
              |compx AS (
              |  SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
              |lab AS (
              |  SELECT c.doc_id, c.cluster_id, CAST(length(co.text) AS BIGINT) AS len
              |  FROM compx c JOIN corpus co USING (doc_id)),
              |elect AS (
              |  SELECT cluster_id, doc_id AS keeper_id,
              |    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
              |    row_number() OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id) AS rk
              |  FROM lab)
              |SELECT l.doc_id, l.cluster_id, e.keeper_id, e.cluster_size,
              |  l.doc_id = e.keeper_id AS keep
              |FROM lab l JOIN elect e ON e.cluster_id = l.cluster_id AND e.rk = 1
              |ORDER BY l.doc_id""".stripMargin)
    ),

    // SimHash near-dup — see simhashPairs for the sketch/banding story.
    // Registered form = the banded audit report (bandedAudit; the pair
    // table is simhashPairs, spec-consumed). planted_recall_band tracks
    // the 15%-truncation recall regime the spec gates (simhash's sweet
    // spot is boilerplate-level edits — truncation is HEAVY for it, so
    // the 0.6 floor is honest, not slack); the ball sample is a filter of
    // the signature table itself.
    Q(
      "q_dedup_simhash",
      (s, d) =>
        bandedAudit(s, d, simhashSigs(s, d), 1000000L)(
          (sigs, inSample) => sigs.filter(inSample(col("doc_id"))),
          (found, n) => found >= n * 0.6),
      Some(bandedAuditOracle)
    ),

    // n-gram Jaccard via inverted index: explode hashed shingles (long keys
    // shuffle far cheaper than strings), drop hot shingles from the INDEX
    // ONLY (df cap bounds the worst bucket at scale — the honest
    // approximation is that a pair sharing nothing but high-df boilerplate
    // shingles is never generated as a candidate). Candidate pairs must
    // co-occur on >= 3 low-df shingles before the expensive verify — a
    // shingle at the df cap alone mints C(50,2) = 1225 one-shared-shingle
    // pairs, and running a full set intersection on that noise is the
    // difference between 4 s and 26 s at sf0.1 (any pair at Jaccard 0.4
    // shares far more than 3 shingles, so the prefilter costs recall only
    // for degenerate near-empty documents). Survivors join back to the
    // full shingle arrays and score EXACT Jaccard over the full sets —
    // same verify shape as q_dedup_minhash, so neither the df cap nor the
    // prefilter can bias the reported similarity. Document frequency is a
    // count-over-window on the shingle key whose hash-partitioning the
    // self-join immediately reuses (exchange reuse — no second shuffle);
    // the co-occurrence count is the pair groupBy's aggregate (map-side
    // partial agg). A PPJoin-style prefix index (df-ordered, index only the
    // |s|−⌈t·|s|⌉+1 rarest shingles per doc — candidate-exact for J ≥ t)
    // was built and measured at sf0.1: byte-identical output, 2.3× slower
    // (2.27 s → 5.18 s) — the per-doc rank costs two extra shuffles of the
    // exploded index, which at this scale outweighs the pair enumeration
    // it saves. It becomes the upgrade path only where pair enumeration
    // dominates those shuffles (very large corpora with heavy boilerplate).
    Q(
      "q_ngram_jaccard",
      (s, d) =>
        ngramJaccardPairs(s, d)
          .select("doc_a", "doc_b", "jaccard") // na/nb serve the containment twin; prune here
          .orderBy(col("doc_a"), col("doc_b")),
      // The whole pipeline is deterministic and SQL-expressible on STRING
      // shingles: same df≤50 index cap, same ≥3-common-low-df-shingle
      // candidate rule, same exact full-set Jaccard — the 64-bit hashed
      // form differs only by genuine ~n²/2⁶⁴ collisions — so the flagship
      // similarity query is driver-hash-checked end to end, not just
      // recall-gated.
      Some(s"""WITH ${ngramPairsSqlCtes()}
              |SELECT doc_a, doc_b, jaccard FROM pairs
              |ORDER BY doc_a, doc_b""".stripMargin)
    ),

    // Brute-force cosine top-k (the ANN baseline): small query set broadcast
    // against the corpus; double accumulation matches the DuckDB oracle.
    Q(
      "q_embed_cosine_knn",
      (s, d) => {
        val e = embeddings(s, d)
        val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
        val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
        broadcast(q)
          .join(c, col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos_sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("query_id", "neighbor_id", "cos_sim", "rn")
      },
      Some("""SELECT query_id, neighbor_id, cos_sim, rn FROM (
             |  SELECT query_id, neighbor_id, cos_sim,
             |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
             |  FROM (
             |    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |      list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |                             list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS cos_sim
             |    FROM embeddings a, embeddings b
             |    WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id) p) r
             |WHERE rn <= 5""".stripMargin)
    ),

    // Sign-LSH ANN (the scale path): bucket on p seeded hyperplane signs
    // where p = ⌈log₂(n/256)⌉ — the plane count GROWS with the corpus so
    // expected bucket occupancy stays ~256 vectors regardless of scale
    // (a fixed p would probe a constant fraction of the corpus, linear in
    // n). Multi-probe: each query also probes every bucket within hamming
    // distance 2 of its own (a near neighbor sits on the far side of at
    // most a couple of hyperplanes) — 1 + p + C(p,2) buckets of the 2^p,
    // so probed volume is ~p² × 256 vectors: sub-linear, shrinking as a
    // fraction of n. The REGISTERED query is the banded quality report
    // (annBandedReport) so the driver hash-gates it; the production
    // candidate pipeline is annLshNeighbors, spec- and plan-pinned.
    Q(
      "q_ann_lsh",
      (s, d) => annBandedReport(s, d, annLshNeighbors(s, d), meanFloor = 0.9, recallFloor = 12),
      Some(annBandedOracleSql)
    ),

    // IVF ANN (the other scale path): a spherical-k-means coarse quantizer
    // (trainIvfCentroids above — Lloyd iterations as Spark jobs, O(centroids)
    // driver state, never O(data)) assigns every vector to its best cell by
    // cosine (compiled kernel per centroid, codegen). Queries probe their
    // top-4 cells and rank exactly within the probed cells only: the
    // candidate set is cell-bounded, no full scan per query.
    Q(
      "q_ann_ivf",
      (s, d) => annBandedReport(s, d, annIvfNeighbors(s, d), meanFloor = 0.9, recallFloor = 15),
      Some(annBandedOracleSql)
    ),

    // IVF-PQ ANN (the billion-vector memory form): the scan side of the
    // index holds ONLY (id, cell, 32-bit PQ code) — 64 floats compress to
    // one long via per-subspace codebooks (trainPqCodebooks; driver state
    // 8 KB). Queries probe their top-4 IVF cells, rank candidates by
    // asymmetric-distance cosine over the CODE alone (pqCosine kernel, no
    // float vectors move), shortlist top-10, then refine exactly by
    // re-fetching just the shortlist's vectors by id — the join-back
    // models the fetch-from-store step a real PQ index does, so the
    // scan:refine data volume ratio is the honest one (8 bytes/candidate
    // vs 256 bytes/finalist).
    Q(
      "q_ann_ivfpq",
      // PQ ranks the shortlist by 8-byte codes, so recall@3 vs the exact
      // top-3 is structurally the lowest of the three ANN paths (measured
      // total hits 10-14 of 30 across sf dirs) — its floor is honest, not
      // slack; the value it buys is the 32× scan-size reduction, and the
      // per-query exact-refined quality still clears the same 0.6 floor.
      (s, d) => annBandedReport(s, d, annIvfPqNeighbors(s, d), meanFloor = 0.85, recallFloor = 6),
      Some(annBandedOracleSql)
    ),

    // Embedding near-dup: planted perturbed copies, multi-table sign-LSH
    // banding, cosine threshold verify on candidates. Scale shape mirrors
    // the minhash path exactly: b independent plane sets (distinct seeds)
    // each with p = ⌈log₂(n/64)⌉ planes, so buckets hold ~64 vectors at
    // ANY corpus size (within-bucket pair work stays O(n × 64) instead of
    // O((n/2^p)²) as n grows), and a true near-dup only needs to collide
    // in ONE of the 6 tables (per-table miss rates multiply: recall-gated
    // >0.8 in DedupRecallSpec). The (table, bucket) pairs go through the
    // shared bandedPairs self-join, whose merge hints force identical
    // shuffle subtrees — the bucketing pipeline computes once via
    // ReusedExchange (pinned in PlanAuditSpec), not once per join side.
    Q(
      "q_dedup_embedding",
      (s, d) => {
        val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
        val planted = embeddings(s, d).select(
          (col("vec_id") + 1000000L).as("vec_id"),
          transform(
            col("embedding"),
            (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)
          ).as("embedding")
        )
        val n = 2L * embeddingsCount(s, d)
        val p = lshPlaneCount(n, targetBucket = 64)
        val nTables = 6
        val bands = array(
          (0 until nTables).map(t => lshBucket(col("embedding"), hyperplanes(p, 64, seed = 42L + t))): _*
        )
        val corpus = base.unionAll(planted)
          .select(col("vec_id").as("doc_id"), col("embedding"), bands.as("bands"))
        val cand = DedupOps.bandedPairs(corpus.select("doc_id", "bands"))
        val vecs = corpus.select(col("doc_id"), col("embedding"))
        cand
          .join(vecs.as("va"), col("doc_a") === col("va.doc_id"))
          .join(vecs.as("vb"), col("doc_b") === col("vb.doc_id"))
          .select(
            col("doc_a").as("vec_a"),
            col("doc_b").as("vec_b"),
            cosine(col("va.embedding"), col("vb.embedding")).as("cos_sim")
          )
          .filter(col("cos_sim") >= 0.995)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      // EXACT oracle, not banded: DuckDB enumerates the ground truth — the
      // planted (i, i+1e6) pairs, rebuilt with the identical float32
      // perturbation (+0.05f on dim 0; REAL arithmetic matches Spark's
      // FloatType add bit-for-bit) — and hash equality asserts the banded
      // pipeline surfaces EXACTLY that set. That claim is deterministic
      // here, not probabilistic hand-waving: with 6 independent plane
      // tables a planted pair (cos ≈ 0.9997, θ ≈ 1.4°) misses all 6 with
      // probability ~1e-9, and fixed seeds make the outcome a constant of
      // the data (verified found==truth, zero extras, at sf0.001/0.01/0.1);
      // random 64-dim embeddings never reach cos 0.995, so no organic pair
      // can add rows.
      Some("""WITH pert AS (
             |  SELECT vec_id + 1000000 AS vec_id,
             |    list_concat([CAST(embedding[1] + CAST(0.05 AS REAL) AS REAL)], embedding[2:]) AS embedding
             |  FROM embeddings),
             |pairs AS (
             |  SELECT a.vec_id AS vec_a, p.vec_id AS vec_b,
             |    list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |                           list_transform(p.embedding, x -> CAST(x AS DOUBLE))) AS cos_sim
             |  FROM embeddings a JOIN pert p ON p.vec_id = a.vec_id + 1000000)
             |SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.995
             |ORDER BY vec_a, vec_b""".stripMargin)
    ),

    // SEMANTIC decontamination — the embedding-level fourth arm of the
    // decontamination family (13-gram / bloom / char-window catch textual
    // leaks; paraphrased or reformatted benchmark items need the
    // embedding space): corpus vectors whose cosine against ANY eval-set
    // vector clears 0.95 are contamination, reported with the argmax
    // eval item. The eval fixture is the realistic leak direction —
    // every 50th corpus vector's deterministic perturbation
    // (x·1.02 + 0.01 in double, stated identically in both engines)
    // stands in for the benchmark item whose near-copy leaked INTO the
    // corpus; organic cross-cosines on this data top out at 0.45
    // (measured), so the flagged set is exactly the planted sources —
    // spec-pinned with margin in DedupRecallSpec. Scale shape: an eval
    // BENCHMARK is bounded by nature (10²-10⁵ items), so it collapses to
    // ONE collect_list row broadcast onto an unshuffled corpus scan; the
    // scoring pass is a single compiled map (array_max over K CosineSim
    // kernels per row — the kmeansAssignments shape), ZERO exchanges on
    // the corpus, no explode, no join multiplicity. The argmax rides
    // array_max over (cos, eval_id) structs; the oracle restates it as a
    // window. Both sides round to 6 dp BEFORE the threshold cut so the
    // flag flips identically.
    Q(
      "q_decontaminate_semantic",
      (s, d) => {
        val e = embeddings(s, d)
        val evals = e
          .filter(col("vec_id") % 50 === 0)
          .select(
            col("vec_id").as("eval_id"),
            transform(col("embedding"), x => x.cast("double") * lit(1.02) + lit(0.01)).as("ev"))
          .agg(collect_list(struct(col("eval_id"), col("ev"))).as("evals"))
        e.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("cv"))
          .crossJoin(broadcast(evals))
          .select(
            col("vec_id"),
            array_max(transform(
              col("evals"),
              ev =>
                struct(
                  cosine(col("cv"), ev.getField("ev")).as("cos_sim"),
                  ev.getField("eval_id").as("eval_id")))).as("best"))
          .select(
            col("vec_id"),
            col("best.eval_id").as("eval_id"),
            round(col("best.cos_sim"), 6).as("max_cos"))
          .filter(col("max_cos") >= 0.95)
          .orderBy("vec_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
             |  FROM embeddings),
             |ev AS (
             |  SELECT vec_id AS eval_id, list_transform(cv, x -> x * 1.02 + 0.01) AS evv
             |  FROM e WHERE vec_id % 50 = 0),
             |p AS (
             |  SELECT e.vec_id, ev.eval_id, list_cosine_similarity(e.cv, ev.evv) AS cs
             |  FROM e, ev),
             |r AS (
             |  SELECT vec_id, eval_id, cs,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, eval_id DESC) AS rn
             |  FROM p)
             |SELECT vec_id, eval_id, round(cs, 6) AS max_cos
             |FROM r WHERE rn = 1 AND round(cs, 6) >= 0.95 ORDER BY vec_id""".stripMargin)
    ),

    // Document clustering over embeddings (topic bucketing): the IVF
    // coarse-quantizer machinery promoted to a first-class operator —
    // spherical k-means trained on a BOUNDED deterministic sample (driver
    // state O(k·dim), never O(data)), then one codegen'd assignment pass
    // over the full corpus (argmax of k compiled cosine kernels per row,
    // zero shuffles). The production output table (vec_id, cluster,
    // cos_to_centroid) is kmeansAssignments — what a curation run buckets
    // by for topic mixing, SemDeDup, and per-cluster sampling; it stays
    // spec-gated (DedupRecallSpec determinism/coverage/Lloyd,
    // LlmPipelineSpec chain use, PlanAuditSpec map-only pin).
    // Registered form = the banded clustering audit (the q_semdedup
    // pattern): k-means itself is not SQL-expressible and the synthetic
    // embeddings' labels have NO cosine structure (a label-purity gate
    // would be meaningless), but the contract the specs pin IS engine-
    // statable as flags over exact counts — every vector assigned
    // (n_vecs cross-engine exact), all 10 clusters occupied with ids in
    // [0,10) (coverage), two independent trainings produce bit-identical
    // centroids (determinism — sound because trainIvfCentroids
    // accumulates through quantized-long sums; identical constants imply
    // an identical assignment table by expression purity), Lloyd
    // iterations materially beat the raw init centroids on mean
    // cos-to-assigned (objective), and cosines stay in [-1,1]. A broken
    // sampler, argmax, or update step flips a flag and fails the driver
    // hash gate. ONE corpus scan: the trained and init cosine argmaxes
    // ride the same select, so the bench cost stays a single assignment
    // pass plus the bounded-sample trainings.
    Q(
      "q_kmeans_clusters",
      (s, d) => {
        val e  = embeddings(s, d)
        // TWO independent trainings (the determinism flag's whole point);
        // the Lloyd baseline rides the first one's init centroids rather
        // than paying a third sample pipeline for a byproduct.
        val (c0, c1) = trainIvfCentroidsWithInit(e, k = 10, iters = 5)
        val (i2, c2) = trainIvfCentroidsWithInit(e, k = 10, iters = 5)
        val deterministic = c1.length == c2.length &&
          c1.zip(c2).forall { case (x, y) => x == y } &&
          c0.length == i2.length && c0.zip(i2).forall { case (x, y) => x == y }
        def cosArr(cents: Array[Seq[Double]], v: Column) =
          array(cents.map(c => cosine(v, typedLit(c))).toIndexedSeq: _*)
        e.select(
            bind(cosArr(c1, col("embedding"))) { a =>
              struct(
                (array_position(a, array_max(a)) - 1).cast("int").as("cluster"),
                round(array_max(a), 6).as("cos")
              )
            }.as("a"),
            bind(cosArr(c0, col("embedding")))(array_max).as("i_cos")
          )
          .agg(
            count(lit(1)).as("n_vecs"),
            countDistinct(col("a.cluster")).as("a_k"),
            min(col("a.cluster")).as("a_cmin"),
            max(col("a.cluster")).as("a_cmax"),
            avg(col("a.cos")).as("a_mcos"),
            min(col("a.cos")).as("a_mincos"),
            max(col("a.cos")).as("a_maxcos"),
            avg(col("i_cos")).as("i_mcos")
          )
          .select(
            col("n_vecs"),
            lit(10).as("k_clusters"),
            (col("a_k") === 10 && col("a_cmin") === 0 && col("a_cmax") === 9).as("coverage_band"),
            lit(deterministic).as("determinism_band"),
            (col("a_mcos") > col("i_mcos") + 0.01).as("lloyd_band"),
            (col("a_mincos") >= -1.0 && col("a_maxcos") <= 1.0).as("cos_range_band")
          )
      },
      Some("""SELECT COUNT(*) AS n_vecs, 10 AS k_clusters, TRUE AS coverage_band,
             |  TRUE AS determinism_band, TRUE AS lloyd_band, TRUE AS cos_range_band
             |FROM embeddings""".stripMargin)
    ),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    // first k-means-clusters the embedding space, then searches for
    // near-duplicate pairs ONLY within each cluster — the candidate space
    // is cluster-bounded (expected occupancy n/k), never O(n²). k is the
    // scale knob and grows with the corpus UNCAPPED (k = max(16, n/256)):
    // assignment is the TWO-LEVEL centroid forest (√k coarse cells, ~√k
    // subs each — trainTwoLevelCentroids + the native ivf_assign kernel),
    // so per-row cost is O(2√k · dim) and the training sample scales with
    // k, where the old flat argmax (one compiled cosine kernel per cell)
    // stopped compiling near k ≈ 10³ and silently let occupancy grow as
    // n/1024. With occupancy pinned at ~256, the within-cell self-join
    // stays O(n · 256) at any corpus size. A doc is dropped when some
    // lower-id doc in its cell has cosine ≥ 0.995; the keeper is the
    // smallest such id (min(struct) picks its cosine alongside). The
    // within-cell self-join reuses one exchange via matching merge hints,
    // like bandedPairs (pinned). Boundary effects are the method's honest
    // recall cost (a near-dup pair split across cell boundaries is missed
    // — SemDeDup accepts this; DedupRecallSpec gates recall at the natural
    // k AND at a forced k > 1024).
    // Registered form = the banded audit report (the per-doc drop table is
    // semdedupProduction, spec-consumed): the ground-truth corpus size is
    // cross-engine exact, and the flags state SemDeDup's contract — ≥90%
    // of planted twins dropped (boundary losses are the method's honest
    // recall cost, measured 95.9-97.6%), every drop is a planted copy,
    // every keeper is the drop's own original. A broken assignment kernel
    // or cosine threshold flips a flag and fails the driver hash gate.
    Q(
      "q_semdedup",
      (s, d) => {
        val drops = semdedupProduction(s, d)
        drops
          .agg(
            count(lit(1)).as("n_dropped"),
            sum(when(col("vec_id") < 1000000L, 1L).otherwise(0L)).as("n_base_drops"),
            sum(when(col("keeper") =!= col("vec_id") - 1000000L, 1L).otherwise(0L)).as("n_bad_keepers"),
            min(col("cos_to_keeper")).as("min_cos")
          )
          .crossJoin(broadcast(embeddings(s, d).agg(count(lit(1)).as("n_truth"))))
          .select(
            col("n_truth"),
            (col("n_dropped") >= col("n_truth") * 0.9).as("recall_band"),
            (col("n_base_drops") === 0L).as("drops_are_planted"),
            (col("n_bad_keepers") === 0L).as("keepers_are_twins"),
            (col("min_cos") >= 0.995).as("cos_floor")
          )
      },
      Some("""SELECT COUNT(*) AS n_truth, TRUE AS recall_band,
             |  TRUE AS drops_are_planted, TRUE AS keepers_are_twins,
             |  TRUE AS cos_floor
             |FROM embeddings""".stripMargin)
    ),

    // Symmetric int8 embedding quantization — the storage/serving form a
    // billion-vector corpus actually ships (4× smaller than float32, 8×
    // than float64): per-vector scale = max|x|/127, code_i = round(x_i /
    // scale) ∈ [−127, 127], plus the max reconstruction error the consumer
    // budgets against. Pure map — zero shuffles, embarrassingly parallel
    // at any corpus size. Codes egress as a comma-joined string (exact
    // integer text, engine-portable) rather than a native array: the
    // driver's hash canonicalizes arrays engine-specifically, strings
    // identically. The 1e-12 floor guards the all-zero vector. bind
    // let-bindings keep the cast/scale/code arrays to one evaluation per
    // row. Like IVF-PQ this is interpreted-HOF territory (zip_with/
    // transform) — acceptable because the per-row work is O(dim), not
    // O(dim²); a compiled kernel is the upgrade if profiling ever puts it
    // on the hot path.
    Q(
      "q_embed_quantize",
      (s, d) => {
        val out = bind(transform(col("embedding"), x => x.cast("double"))) { vv =>
          bind(greatest(array_max(transform(vv, x => abs(x))), lit(1e-12)) / 127.0) { sc =>
            bind(transform(vv, x => round(x / sc).cast("int"))) { q =>
              struct(
                round(sc, 6).as("scale"),
                array_join(transform(q, c => c.cast("string")), ",").as("q_codes"),
                round(array_max(zip_with(vv, q, (x, c) => abs(x - c * sc))), 6).as("max_err")
              )
            }
          }
        }
        embeddings(s, d)
          .select(col("vec_id"), out.as("o"))
          .select(col("vec_id"), col("o.scale").as("scale"), col("o.q_codes").as("q_codes"), col("o.max_err").as("max_err"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (
             |  SELECT vec_id, v,
             |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-12) / 127.0 AS sc
             |  FROM e),
             |q AS (SELECT vec_id, v, sc, list_transform(v, x -> CAST(round(x / sc) AS INT)) AS qc FROM s)
             |SELECT vec_id, round(sc, 6) AS scale,
             |  array_to_string(qc, ',') AS q_codes,
             |  round(list_aggregate(list_transform(range(1, len(v)+1), i -> abs(v[i] - qc[i]*sc)), 'max'), 6) AS max_err
             |FROM q ORDER BY vec_id""".stripMargin)
    ),

    // Multimodal plumbing: opaque binary media column + typed metadata.
    // graft.operators.MultimodalOps carries the real mapPartitions decode
    // pipeline — actual PNG/BMP/JPEG pixels via ImageIO, GIF frame
    // sequences with disposal-aware delta compositing, and WAV audio via
    // javax.sound.sampled (q_audio_features below); the deterministic
    // stub remains only for codecs the JDK lacks (video/MP3/OGG). This
    // query exercises the metadata/schema plumbing on an oracle-checkable
    // shape.
    Q(
      "q_multimodal_meta",
      (s, d) =>
        documents(s, d)
          .withColumn("media", expr("encode(text, 'UTF-8')"))
          .select(
            col("doc_id"),
            expr("octet_length(media)").as("n_bytes"),
            md5(col("text")).as("checksum"),
            (lit(64) + col("n_chars") % 1856).as("fake_width"),
            (lit(64) + (col("n_chars") * 7) % 1016).as("fake_height"),
            (lit(1) + col("n_chars") % 24).as("n_frames")
          ),
      Some("""SELECT doc_id,
             |  octet_length(encode(text)) AS n_bytes,
             |  md5(text) AS checksum,
             |  64 + n_chars % 1856 AS fake_width,
             |  64 + (n_chars * 7) % 1016 AS fake_height,
             |  1 + n_chars % 24 AS n_frames
             |FROM documents""".stripMargin)
    ),

    // MP4/ISO-BMFF box metadata (r16 verdict item 8 — the video arm's
    // CONTAINER made real; q_multimodal_meta treats media as opaque bytes,
    // this parses the actual box framing the way WarcLite parses WARC:
    // big-endian size + 4cc, nested moov/trak/mdia/minf/stbl containers,
    // FullBox v0 AND v1 field layouts, unknown boxes skipped by size, and
    // framing defects failing loudly — see sources/Mp4Lite). Per document
    // a deterministic container is synthesized from doc_id (mvhd/tkhd
    // versions alternate so BOTH FullBox arms execute; a `free` box
    // exercises the unknown-skip; one- and two-track shapes both occur)
    // and parsed back; the oracle restates the generator's ground truth —
    // brand, both version fields, duration math through the timescale,
    // the track walk (handler + codec fourcc per trak), and the mdat
    // byte count. Codec DECODE stays on the documented stub seam — the
    // container does not. Scale shape: one map-only pass, no shuffle; at
    // 100 TB this is the binaryFile-scan metadata extraction stage of a
    // video ingest DAG.
    Q(
      "q_mp4_meta",
      (s, d) => {
        import s.implicits._
        documents(s, d)
          .select(col("doc_id"))
          .as[Long]
          .map { k =>
            val m = graft.sources.Mp4Lite.parse(mp4Fixture(k))
            (k, m.majorBrand, m.compatibleBrands.mkString(","), m.mvhdVersion,
              m.timescale, m.durationMs, m.tracks.length.toLong,
              m.tracks.map(_.handler).mkString(","), m.tracks.map(_.codec).mkString(","),
              m.mdatBytes)
          }
          .toDF("doc_id", "major_brand", "brands", "mvhd_version", "timescale",
            "duration_ms", "n_tracks", "handlers", "codecs", "mdat_bytes")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  'isom' AS major_brand,
             |  'isom,mp41' AS brands,
             |  CAST(doc_id % 2 AS INT) AS mvhd_version,
             |  CAST(1000 AS BIGINT) AS timescale,
             |  CAST(1000 + (doc_id * 37) % 90000 AS BIGINT) AS duration_ms,
             |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS BIGINT) AS n_tracks,
             |  CASE WHEN doc_id % 3 = 0 THEN 'vide' ELSE 'vide,soun' END AS handlers,
             |  CASE WHEN doc_id % 3 = 0 THEN 'avc1' ELSE 'avc1,mp4a' END AS codecs,
             |  CAST(doc_id % 50 + 1 AS BIGINT) AS mdat_bytes
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // REAL audio decode through the JDK's own WAV codec — the audio arm of
    // the multimodal surface, mirroring the image path's real-pixel gate:
    // each doc's metadata derives deterministic synthesis parameters
    // (sample rate, length, volume), a genuine 16-bit PCM WAV is written
    // through AudioSystem's encoder and parsed BACK through
    // AudioSystem's decoder inside one narrow mapPartitions, and the
    // DECODED header/frame values are what the report emits — DuckDB
    // independently predicts them from the documents metadata, so a broken
    // header parse, sample conversion, or frame count flips the hash.
    // The two banded flags gate the sample math the oracle can't state:
    // rms_in_band (decoded RMS within 16-bit quantization noise — ±0.001 —
    // of the exact pre-quantization source waveform's RMS, so the
    // encoder→decoder→sample-conversion round trip is pinned with no
    // analytic slack) and fp_volume_invariant (the 64-bit
    // energy-contour fingerprint of a half-volume re-synthesis within
    // hamming ≤ 4 of the original — the property that makes it a
    // near-dup key for re-levelled audio; checked on the deterministic
    // doc_id ≡ 0 (mod 4) quarter of the corpus — gcd(4,5) = 1 so every
    // amplitude class is covered — and stated TRUE elsewhere, the
    // fixed-sample audit pattern: the re-synthesis+re-decode is the
    // query's dominant codec cost and the property is corpus-uniform).
    // MP3/OGG (no JDK decoder) ride
    // the documented stub seam in MultimodalOps.audioFeatures; this gate
    // pins the REAL path.
    Q(
      "q_audio_features",
      (s, d) => {
        import s.implicits._
        val params = documents(s, d).select(
          col("doc_id"),
          (lit(8000) * (lit(1) + col("doc_id") % 2)).cast("int").as("sr"),
          (lit(800) + (col("n_chars") % 160) * 10).cast("int").as("ns"),
          (lit(0.4) + (col("doc_id") % 5).cast("double") * 0.1).as("amp"))
        params
          .repartition(s.sessionState.conf.numShufflePartitions)
          .as[(Long, Int, Int, Double)]
          .mapPartitions { rows =>
          rows.map { case (id, sr, ns, amp) =>
            val wav = graft.operators.MultimodalOps.synthWav(id, sr, ns, amp)
            val (dsr, _, _, frames, samples) =
              graft.operators.MultimodalOps.decodeAudio(wav).getOrElse(
                throw new IllegalStateException(s"doc $id: JDK failed to parse its own WAV"))
            val rms = graft.operators.MultimodalOps.audioRms(samples)
            val expect = graft.operators.MultimodalOps.audioRms(
              graft.operators.MultimodalOps.synthSamples(id, sr, ns, amp))
            val fp = graft.operators.MultimodalOps.audioFingerprint64(samples)
            val fpInvariant =
              if (id % 4 != 0) true
              else {
                val scaled = graft.operators.MultimodalOps
                  .decodeAudio(graft.operators.MultimodalOps.synthWav(id, sr, ns, amp * 0.5))
                  .map(t => graft.operators.MultimodalOps.audioFingerprint64(t._5))
                  .getOrElse(0L)
                java.lang.Long.bitCount(fp ^ scaled) <= 4
              }
            (id, dsr, frames, if (dsr > 0) frames * 1000L / dsr else 0L,
              math.abs(rms - expect) < 0.001,
              fpInvariant)
          }
        }.toDF("doc_id", "sample_rate", "n_frames", "duration_ms", "rms_in_band", "fp_volume_invariant")
      },
      Some("""SELECT doc_id,
             |  CAST(8000 * (1 + doc_id % 2) AS INT) AS sample_rate,
             |  CAST(800 + (n_chars % 160) * 10 AS BIGINT) AS n_frames,
             |  ((800 + (n_chars % 160) * 10) * 1000) // (8000 * (1 + doc_id % 2)) AS duration_ms,
             |  TRUE AS rms_in_band,
             |  TRUE AS fp_volume_invariant
             |FROM documents""".stripMargin)
    ),

    // PCA over the embedding corpus — the standard preprocessing a
    // billion-vector pipeline applies before quantization/clustering
    // (SemDeDup, arXiv:2303.09540 §3, runs exactly this rotation first):
    // distributed covariance in ONE treeAggregate to O(dim²) fixed state
    // (the CMS shape — never O(data) on the driver), Jacobi eigen on the
    // 64×64 result driver-side, then a single compiled map pass projects
    // every vector onto the top-8 basis (pca_project kernel, zero
    // shuffles — plan-pinned with the other map-only operators).
    // var_explained (top-8 eigenvalue mass / total variance) rides along
    // as the budget number a consumer checks before committing to the
    // reduced dimension. The eigendecomposition itself is not
    // SQL-expressible, but its INVARIANTS are bandable and one number
    // crosses engines exactly: trace preservation — the Jacobi
    // eigenvalue sum must equal the covariance trace, which DuckDB
    // recomputes from the raw embeddings as Σ_d var_pop(x_d) (measured
    // agreement 1e-14; rounded to 6 dp for the hash). The registered
    // query is therefore a per-component audit report; the per-vector
    // projection table is pcaProjections (spec- and plan-pinned).
    // Flags: basis orthonormality (1e-8, the spec's bar), eigenvalues
    // non-increasing, the projected POPULATION variance of each
    // component matching its eigenvalue within the spec's 2% relative
    // band (this one column ties the distributed covariance pass, the
    // driver eigensolve, and the compiled pca_project kernel together —
    // any of the three being wrong flips it), and the top-8 mass
    // clearing 0.12 of total variance (measured 0.16-0.20).
    Q(
      "q_embed_pca",
      (s, d) => {
        val e = embeddings(s, d)
        val (mean, basis, eig) = trainPcaBasis(e, nComponents = 8)
        def ddot(a: Array[Double], b: Array[Double]): Double =
          a.zip(b).map { case (x, y) => x * y }.sum
        val orthonormal = basis.indices.forall { c =>
          math.abs(ddot(basis(c), basis(c)) - 1.0) <= 1e-8 &&
          (0 until c).forall(j => math.abs(ddot(basis(c), basis(j))) <= 1e-8)
        }
        val eigOrdered = eig.take(8).toSeq.sliding(2).forall {
          case Seq(a, b) => b <= a + 1e-12
          case _         => true
        }
        val varExplained = eig.take(8).sum / eig.sum
        val pc = pcaProject(col("embedding"), mean.toSeq, basis.toSeq.map(_.toSeq))
        val aggs = count(lit(1)).as("n") +: (0 until 8).map { c =>
          val p = element_at(col("pc"), c + 1)
          (avg(p * p) - pow(avg(p), 2)).as(s"pv$c")
        }
        val branches = (0 until 8)
          .map(c => s"CAST($c AS BIGINT), n, abs(pv$c - ${eig(c)}) <= 0.02 * greatest(${eig(c)}, 1e-9)")
          .mkString(", ")
        e.select(pc.as("pc"))
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(8, $branches) AS (component, n_vecs, projvar_band)")
          .select(
            col("component"),
            col("n_vecs"),
            round(lit(eig.sum), 6).as("total_var"),
            lit(orthonormal).as("orthonormal_band"),
            lit(eigOrdered).as("eig_order_band"),
            col("projvar_band"),
            lit(varExplained >= 0.12).as("var_explained_band")
          )
          .orderBy("component")
      },
      Some("""WITH pos AS (
             |  SELECT unnest(range(64)) AS i,
             |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
             |  FROM embeddings),
             |m AS (SELECT i, avg(v) AS mu, avg(v*v) AS m2 FROM pos GROUP BY i),
             |t AS (SELECT CAST(SUM(m2 - mu*mu) AS DOUBLE) AS total_var FROM m),
             |n AS (SELECT COUNT(*) AS n_vecs FROM embeddings)
             |SELECT c.component, n.n_vecs, round(t.total_var, 6) AS total_var,
             |  TRUE AS orthonormal_band, TRUE AS eig_order_band,
             |  TRUE AS projvar_band, TRUE AS var_explained_band
             |FROM (SELECT unnest(range(8)) AS component) c, t, n
             |ORDER BY component""".stripMargin)
    ),

    // Image near-dup by perceptual hash (LAION-style image dedup): every
    // document keys a deterministic BMP rendered AND decoded through the
    // real ImageIO codec path, plus a planted ±3-luma ripple variant at
    // doc_id+1e6 (the re-encode/minor-edit regime dHash absorbs); each
    // image maps to its 64-bit dHash (MultimodalOps.dhash64 — one narrow
    // mapPartitions, no shuffle), then pairing is EXACTLY the simhash
    // machinery: 8 byte-bands (pigeonhole-complete for hamming ≤ 7),
    // merge-hinted self-join with the hamming cut inside the band join.
    // At 100 TB the render step is a media-store scan; everything after
    // the 8-byte sketch is corpus-size-bounded banding. No SQL oracle
    // (codec + pixels); DedupRecallSpec brute-forces the hamming ball on
    // the same sketch table and asserts exact set equality, plus planted
    // recall through the full render→decode→hash→band path.
    // Registered form = the banded audit report (bandedAudit; the pair
    // table is imageDedupPairs, spec-consumed): planted_recall_band drives
    // every planted ±3-luma ripple variant through the REAL
    // render→ImageIO-decode→dHash→band path (a codec or kernel break
    // collapses it), and only the sampled documents are rendered again
    // for the ball.
    Q(
      "q_dedup_images",
      (s, d) =>
        bandedAudit(s, d, imageSigs(s, d), 1000000L)(
          (_, inSample) => imageSigsFrom(documents(s, d).filter(inSample(col("doc_id"))))(s),
          // STRICT > 0.9, matching DedupRecallSpec's gate on the same
          // quantity exactly (>= would let the two gates disagree when
          // recall lands precisely on the floor).
          (found, n) => found > n * 0.9),
      Some(bandedAuditOracle)
    ),

    // Audio near-dup by volume-invariant fingerprint — the audio arm of
    // the perceptual dedup family, completing what q_audio_features
    // starts: every document keys a deterministic WAV synthesized AND
    // decoded through the real AudioSystem codec path, plus a planted
    // HALF-VOLUME re-levelled variant at doc_id+1e6 (the re-mastered /
    // re-normalized regime the energy-contour fingerprint absorbs —
    // proven hamming ≤ 4 under re-levelling, AudioSpec); each clip maps
    // to its 64-bit fingerprint, then pairing is EXACTLY the shared
    // byteBandPairs machinery (8 byte-bands, pigeonhole-complete for
    // hamming ≤ 7, merge-hinted self-join with the hamming cut inside the
    // band join). Registered form = the banded audit report (bandedAudit;
    // the pair table is audioDedupPairs, spec-consumed):
    // planted_recall_band drives every planted re-levelled variant
    // through the full synth→decode→fingerprint→band path.
    Q(
      "q_dedup_audio",
      (s, d) => {
        val off = plantedOffset(s, d)
        bandedAudit(s, d, audioSigs(s, d), off)(
          (_, inSample) => audioSigsFrom(documents(s, d).filter(inSample(col("doc_id"))), off)(s),
          (found, n) => found > n * 0.9) // strict, as DedupRecallSpec's gate
      },
      Some(bandedAuditOracle)
    ),

    // Noise-robust image near-dup by DCT pHash — the crop+dither
    // (re-framed repost) arm of the perceptual image-dedup family, next
    // to q_dedup_images' dHash re-encode/ripple arm (the r12 review's
    // optional item): every document keys a 64×64 dense-spectrum rendered
    // image plus a planted variant at doc_id+offset (1-px border crop +
    // seeded ±26 luma dither, re-encoded through the real BMP writer —
    // trimmed chrome plus sensor noise / re-quantization). dHash does NOT
    // absorb this edit (it signs adjacent-pixel differences, which
    // smooth-region dither flips — DedupRecallSpec measures its recall
    // collapsing below 0.5 on the same pairs), pHash does (each DCT
    // readout aggregates all 1024 resized pixels, so iid noise cancels;
    // measured 97.8% vs 38.7% at this edit on 2000 images). Pairing is
    // EXACTLY the shared byteBandPairs machinery (8 byte-bands,
    // pigeonhole-complete for hamming ≤ 7, merge-hinted self-join,
    // hamming cut inside the band join). Registered form = the banded
    // audit report (bandedAudit; the pair table is phashDedupPairs,
    // spec-consumed): planted_recall_band drives every planted variant
    // through the full render→decode→crop→dither→re-encode→decode→DCT→
    // band path.
    Q(
      "q_phash_images",
      (s, d) => {
        val off = plantedOffset(s, d)
        bandedAudit(s, d, phashSigs(s, d), off)(
          (_, inSample) => phashSigsFrom(documents(s, d).filter(inSample(col("doc_id"))), off)(s),
          (found, n) => found > n * 0.9) // strict, as DedupRecallSpec's gate
      },
      Some(bandedAuditOracle)
    ),

    // Incremental dedup — the production shape at 100 TB: the corpus is
    // deduped ONCE and its content-hash index persists (a key-only table,
    // StagingSink's staging→main pattern); each day's new batch dedups
    // against that index without rescanning or rehashing the corpus.
    // Here "new batch" = doc_id ≡ 4 (mod 5), "index" = the rest. Two
    // steps, both bounded by the BATCH size on the probe side: first-wins
    // within the batch (hash groupBy), then a left-anti join against the
    // index on the 16-byte hash key. The join regime is size-adaptive and
    // both regimes are the right plan: at test scale AQE broadcasts the
    // measured-small index (observed: BroadcastHashJoin LeftAnti); at
    // 100 TB the index far exceeds the broadcast threshold, so the
    // anti-join shuffles on the hash key and the runtime bloom filter
    // from the small batch prunes the index scan before its shuffle.
    // Survivors are exactly the rows a full-corpus re-dedup would add,
    // and they append to the index for tomorrow.
    Q(
      "q_dedup_incremental",
      (s, d) => {
        val docs = documents(s, d)
        val batch = docs
          .filter(pmod(col("doc_id"), lit(5)) === 4)
          .select(col("doc_id"), md5(col("text")).as("text_hash"))
          .groupBy(col("text_hash"))
          .agg(min(col("doc_id")).as("doc_id"))
        val index = docs
          .filter(pmod(col("doc_id"), lit(5)) =!= 4)
          .select(md5(col("text")).as("text_hash"))
          .distinct()
        batch.join(index, Seq("text_hash"), "left_anti").select("doc_id", "text_hash")
      },
      Some("""WITH batch AS (
             |  SELECT md5(text) AS text_hash, min(doc_id) AS doc_id
             |  FROM documents WHERE doc_id % 5 = 4 GROUP BY md5(text)),
             |idx AS (
             |  SELECT DISTINCT md5(text) AS text_hash
             |  FROM documents WHERE doc_id % 5 <> 4)
             |SELECT doc_id, text_hash FROM batch
             |WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.text_hash = batch.text_hash)""".stripMargin)
    ),

    // Incremental NEAR-dup dedup — the production daily shape one step past
    // q_dedup_incremental's exact hashes: today's batch against yesterday's
    // corpus, where a batch doc counts as a duplicate if any corpus doc is
    // within Jaccard ≥ 0.5 (boilerplate re-crawls, lightly-edited reposts
    // that exact hashing misses). Batch = the ≡4 (mod 5) docs (genuinely
    // new → must survive) plus 85%-truncated variants of the ≡0 docs
    // (near-dups of the index → must be caught); index = the ≢4 corpus.
    // The registered form runs the deterministic exact inverted index
    // (the q_ngram_jaccard machinery restricted to CROSS batch×index
    // candidates — Σ|block|² with df ≤ 50, never |batch|·|index|), so the
    // whole report is DuckDB-hash-checked: one row per verified
    // (batch, match) pair plus one is_new row per survivor. At 100 TB the
    // exact index is swapped for the PERSISTED minhash band index —
    // [[incrementalMinhashMatches]], the production twin: the corpus is
    // shingled/banded ONCE at index build, each day's batch bands probe it
    // by bucket equi-join and only candidates fetch shingle sets for the
    // exact verify; spec-pinned (IncrementalDedupSpec) to recall ≥ 0.95 of
    // this exact match set with zero sub-threshold matches.
    Q(
      "q_dedup_incremental_ngram",
      (s, d) => {
        val batch = incrementalNearBatch(s, d).withColumn("side", lit("b"))
        val idxDocs = incrementalNearIndex(s, d).withColumn("side", lit("i"))
        val sh64 = batch.unionAll(idxDocs)
          .select(col("doc_id"), col("side"), hashedShingles64(col("text")).as("sh"))
        val key = Seq("sh_key")
        val inv = DedupOps.cappedIndex(DedupOps.setPostings(sh64, "doc_id", "side"), key, maxDf = 50)
        val cand = DedupOps.probePairs(
          inv.filter(col("side") === "b"), inv.filter(col("side") === "i"), key, minShared = 3)
        val matched = DedupOps.verifiedJaccard(cand, sh64, minJ = 0.5)
        batch
          .join(matched, col("doc_id") === col("doc_a"), "left")
          .select(
            col("doc_id"),
            col("doc_b").as("match_id"),
            col("jaccard"),
            col("doc_b").isNull.as("is_new"))
      },
      Some(raw"""WITH idx_docs AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4),
           |batch AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id,
           |         substr(text, 1, CAST(trunc(n_chars * 0.85) AS INT)) AS text
           |  FROM documents WHERE doc_id % 5 = 0),
           |allc AS (
           |  SELECT doc_id, 'i' AS side, text FROM idx_docs
           |  UNION ALL
           |  SELECT doc_id, 'b' AS side, text FROM batch),
           |w AS (SELECT doc_id, side, string_split_regex(trim(text), '\s+') AS w FROM allc),
           |g AS (
           |  SELECT DISTINCT doc_id, side, array_to_string(w[i:i+2], ' ') AS gram
           |  FROM w, unnest(range(1, len(w) - 1)) AS t(i)
           |  WHERE len(w) >= 3),
           |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
           |idx AS (
           |  SELECT doc_id, side, gram FROM g
           |  QUALIFY COUNT(*) OVER (PARTITION BY gram) <= 50),
           |cand AS (
           |  SELECT a.doc_id AS batch_id, b.doc_id AS match_id
           |  FROM idx a JOIN idx b ON a.gram = b.gram AND a.side = 'b' AND b.side = 'i'
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
           |common AS (
           |  SELECT c.batch_id, c.match_id, COUNT(*) AS nc
           |  FROM cand c
           |  JOIN g ga ON ga.doc_id = c.batch_id
           |  JOIN g gb ON gb.doc_id = c.match_id AND gb.gram = ga.gram
           |  GROUP BY 1, 2),
           |matched AS (
           |  SELECT batch_id, match_id,
           |         CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) AS jaccard
           |  FROM common
           |  JOIN sz sa ON sa.doc_id = batch_id
           |  JOIN sz sb ON sb.doc_id = match_id
           |  WHERE CAST(nc AS DOUBLE) / (sa.n + sb.n - nc) >= 0.5)
           |SELECT b.doc_id, m.match_id, m.jaccard, m.match_id IS NULL AS is_new
           |FROM batch b LEFT JOIN matched m ON m.batch_id = b.doc_id""".stripMargin)
    ),

    // Embedding-corpus norm profile — the vector-side data-quality gate
    // (un-normalized rows break cosine ANN; zero vectors break IVF
    // training). Per-row ‖x‖ is a sequential left-fold of squares (the
    // same both engines — Spark's aggregate HOF and DuckDB's list_sum
    // both walk the list in order), per-label stats then go through the
    // decimal-exact sum so group aggregation order can't move the hash.
    // One partial-agg shuffle of K fixed-width rows; map side is a single
    // codegen'd pass over the scan.
    Q(
      "q_embed_norms",
      (s, d) => {
        val normSq = aggregate(
          col("embedding"),
          lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")
        )
        embeddings(s, d)
          .select(col("label"), sqrt(normSq).as("norm"))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n_vecs"),
            round(sum(col("norm").cast("decimal(25,10)")).cast("double") /
              count(lit(1)).cast("double"), 6).as("avg_norm"),
            round(min(col("norm")), 6).as("min_norm"),
            round(max(col("norm")), 6).as("max_norm")
          )
          .orderBy("label")
      },
      Some("""WITH norms AS (
             |  SELECT label,
             |    sqrt(list_sum(list_transform(embedding,
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
             |  FROM embeddings)
             |SELECT label, COUNT(*) AS n_vecs,
             |  round(CAST(SUM(CAST(norm AS DECIMAL(25,10))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_norm,
             |  round(min(norm), 6) AS min_norm,
             |  round(max(norm), 6) AS max_norm
             |FROM norms GROUP BY label ORDER BY label""".stripMargin)
    ),

    // Truncation-energy profile (the Matryoshka/MRL question: how much of
    // each vector's energy lives in its leading dims?) — the planning
    // artifact that decides whether ANN can run on truncated vectors at a
    // fraction of the memory/compute. For each candidate dim k, report
    // the corpus distribution of ‖x[:k]‖²/‖x‖²: average (decimal-exact),
    // worst case, and how many vectors clear 90%. Per-row energy is the
    // same sequential left-fold as q_embed_norms (Spark's aggregate HOF ≡
    // DuckDB's list_sum, both walk in order); the three k-slices unpivot
    // via stack into ONE partial-agg shuffle on a 3-value key. One map
    // pass over the scan, no joins, no windows.
    Q(
      "q_embed_truncate",
      (s, d) => {
        def ssq(c: org.apache.spark.sql.Column) =
          aggregate(c, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))
        val dims = Seq(8, 16, 32)
        val per = embeddings(s, d).select(
          (greatest(ssq(col("embedding")), lit(1e-12)).as("full") +:
            dims.map(k => ssq(slice(col("embedding"), 1, k)).as(s"ssq$k"))): _*
        )
        per
          .selectExpr(
            """stack(3,
              |  8, ssq8 / full,
              |  16, ssq16 / full,
              |  32, ssq32 / full
              |) AS (trunc_dim, frac)""".stripMargin)
          .groupBy("trunc_dim")
          .agg(
            count(lit(1)).as("n_vecs"),
            round(sum(col("frac").cast("decimal(25,10)")).cast("double") /
              count(lit(1)).cast("double"), 6).as("avg_energy_frac"),
            round(min(col("frac")), 6).as("min_energy_frac"),
            sum(when(col("frac") >= 0.9, 1L).otherwise(0L)).as("n_above_90")
          )
          .orderBy("trunc_dim")
      },
      Some("""WITH p AS (
             |  SELECT vec_id,
             |    greatest(list_sum(list_transform(embedding,
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 1e-12) AS fullsq,
             |    list_sum(list_transform(embedding[1:8],
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS s8,
             |    list_sum(list_transform(embedding[1:16],
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS s16,
             |    list_sum(list_transform(embedding[1:32],
             |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS s32
             |  FROM embeddings),
             |u AS (
             |  SELECT 8 AS trunc_dim, s8 / fullsq AS frac FROM p
             |  UNION ALL SELECT 16, s16 / fullsq FROM p
             |  UNION ALL SELECT 32, s32 / fullsq FROM p)
             |SELECT trunc_dim, COUNT(*) AS n_vecs,
             |  round(CAST(SUM(CAST(frac AS DECIMAL(25,10))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 6) AS avg_energy_frac,
             |  round(min(frac), 6) AS min_energy_frac,
             |  CAST(SUM(CASE WHEN frac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_90
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Embedding-outlier pruning (the curation pass before ANN indexing /
    // training): the k vectors FARTHEST from their label centroid are the
    // mislabeled/atypical candidates — rank-based, so the report is
    // meaningful at any distance distribution (a fixed radius threshold
    // is corpus-dependent). Centroids are decimal-exact per (label, dim):
    // one partial-agg'd shuffle that collapses to K·dim fixed-width rows
    // regardless of corpus size. Distances are then a broadcast join plus
    // ONE codegen'd zip_with/aggregate fold per row — map-only, index
    // order, so the doubles are bit-identical to DuckDB's in-order
    // list_sum. label cardinality is FIXED at any corpus size, so the
    // per-label top-k reuses q_top_n_per_group's shuffle-free
    // mapPartitions pre-cap: each scan partition forwards at most k rows
    // per label and the final window ranks ≤ k rows per label per input
    // partition — never a fifth of the corpus through one reducer.
    Q(
      "q_embed_outliers",
      (s, d) => {
        import s.implicits._
        val k = 3
        val comp = embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        val cent = comp
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("x").cast("decimal(25,10)")).cast("double") /
            count(lit(1)).cast("double")).as("mean"))
        val centArr = cent
          .groupBy(col("label"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("mean")))),
            e => e.getField("mean")).as("centroid"))
        val dist2 = aggregate(
          zip_with(col("embedding"), col("centroid"),
            (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
          lit(0.0), (acc, v) => acc + v)
        val scored = embeddings(s, d)
          .join(broadcast(centArr), "label")
          .select(col("label"), col("vec_id"), dist2.as("dist2"))
        // Farthest-first, vec_id tiebreak, pre-capped per partition via the
        // shared shuffle-free top-k (see EtlOps.topKPerKey's contract: the
        // tie-break mirrors the window ordering below).
        val better: Ordering[(Int, Long, Double)] =
          Ordering.by[(Int, Long, Double), (Double, Long)](r => (-r._3, r._2))
        val pre = graft.operators.EtlOps
          .topKPerKey(scored.as[(Int, Long, Double)], k)(_._1)(better)
          .toDF("label", "vec_id", "dist2")
        val w = Window.partitionBy(col("label")).orderBy(col("dist2").desc, col("vec_id"))
        pre
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("label"), col("rank"), col("vec_id"), round(col("dist2"), 6).as("dist2"))
      },
      Some("""WITH comp AS (
             |  SELECT label, unnest(range(len(embedding))) AS pos,
             |         unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x
             |  FROM embeddings),
             |cent AS (
             |  SELECT label, pos,
             |    CAST(SUM(CAST(x AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS mean
             |  FROM comp GROUP BY 1, 2),
             |carr AS (SELECT label, list(mean ORDER BY pos) AS centroid FROM cent GROUP BY 1),
             |d2 AS (
             |  SELECT e.vec_id, e.label,
             |    list_sum(list_transform(range(1, len(e.embedding) + 1),
             |      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
             |         * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
             |  FROM embeddings e JOIN carr c USING (label))
             |SELECT label, rank, vec_id, round(dist2, 6) AS dist2 FROM (
             |  SELECT label, vec_id, dist2,
             |    row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rank
             |  FROM d2) t
             |WHERE rank <= 3""".stripMargin)
    )
  )
}
