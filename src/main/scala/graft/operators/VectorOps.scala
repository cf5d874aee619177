package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.embeddings
import graft.functions.SketchImpl
import graft.functions.SimilarityFunctions._

/** The vector-search family (brute-force kNN, the sign-LSH, IVF and IVF-PQ
  * neighbors, k-means, SemDeDup, the planted-twin near-dup row, norms and
  * truncation), with each shared step defined once: the bounded training
  * sample, the Lloyd loop and its two update steps, the nearest-centroid
  * cell, the kNN query and candidate sides with the exact cosine top-k,
  * IVF cell probing, the planted twins and the squared norm. [[Sql]] holds
  * the DuckDB spellings the oracles share.
  *
  * Embedding tables are (vec_id, embedding, …) with a FLOAT array
  * `embedding`. Trained centroids become plan constants: training runs on
  * a bounded deterministic sample, so driver state is O(k × dim) doubles,
  * never O(data).
  */
object VectorOps {

  /** Memoized embeddings row count per sf dir — the planning-time table
    * statistic the LSH and SemDeDup sizers need. A real deployment reads
    * this from the catalog (ANALYZE stats); here it is one parquet
    * metadata-only count per path per JVM, cached so repeated query builds
    * (bench reruns, verify) don't re-issue the job inside the measured
    * region. Like any catalog statistic it can go stale: a table REWRITTEN
    * at the same path within one JVM keeps its first count, and plane
    * counts sized from a stale n degrade bucket occupancy silently.
    * Nothing clears this cache.
    */
  private val embCountCache = scala.collection.concurrent.TrieMap.empty[String, Long]
  private[graft] def embeddingsCount(s: SparkSession, d: String): Long =
    embCountCache.getOrElseUpdate(d, embeddings(s, d).count())

  /** Sign-LSH plane count as a function of corpus size: enough planes that
    * the EXPECTED bucket occupancy stays ~targetBucket, i.e.
    * p = ⌈log₂(n / targetBucket)⌉. This keeps within-bucket candidate
    * pairs O(n × targetBucket) instead of O((n/2^p)²) as the corpus grows
    * — at n = 10⁹ and target 64 it yields p = 24 (16M buckets); at the
    * test scale it stays small enough that recall gates exercise real
    * multi-bucket behavior.
    */
  private[graft] def lshPlaneCount(n: Long, targetBucket: Int): Int =
    math.max(4, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0))).toInt

  // ---- The training sample ----

  /** The bounded deterministic training sample: every `stride`-th vector
    * by id plus the first `k` (the Lloyd init), smallest ids first, capped
    * at `sampleN`. Centroid quality converges on a few thousand vectors, so
    * training costs O(sampleN × dim) per iteration whatever the corpus
    * size (a fractional sample would still be O(data) at 100 TB); the cap
    * is a TakeOrdered (per-partition top-N, no full sort). Callers that
    * know the corpus size pick stride ≈ n / sampleN, so the sample spans
    * the corpus instead of its prefix.
    */
  def trainSample(e: DataFrame, k: Int, sampleN: Int, stride: Int): DataFrame = {
    val strided = pmod(col("vec_id"), lit(stride)) === 0
    e.filter(if (k > 0) strided || col("vec_id") < k else strided).orderBy("vec_id").limit(sampleN)
  }

  /** Embedding cell → doubles, tolerant of FLOAT or DOUBLE elements (spec
    * corpora built with `transform` promote to double; the stored tables
    * are float). float→double is exact, as in the codegen kernels.
    */
  private def toDoubles(r: Row, i: Int): Seq[Double] =
    r.getSeq[Any](i).map {
      case f: java.lang.Float  => f.toDouble
      case d: java.lang.Double => d.doubleValue
      case x: java.lang.Number => x.doubleValue
    }

  /** [[trainSample]] collected in vec_id order (one TakeOrdered job). */
  def collectSample(e: DataFrame, k: Int, sampleN: Int, stride: Int): Array[Array[Double]] =
    trainSample(e, k, sampleN, stride)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => toDoubles(r, 1).toArray)

  // ---- The nearest-centroid cell ----

  /** The cosine of `v` to each centroid: one compiled kernel per centroid. */
  def cosines(cents: Array[Seq[Double]])(v: Column): Column =
    array(cents.map(c => cosine(v, typedLit(c))).toIndexedSeq: _*)

  /** The nearest centroid of `v` by cosine: `out(cell, maxCos)` over the
    * cosine array, bound once per row. The cell is the FIRST index of the
    * maximum, so a tie goes to the lower cell ([[nearestCell]] is the
    * driver twin).
    */
  def nearestCentroid(cents: Array[Seq[Double]])(
      v: Column,
      out: (Column, Column) => Column = (cell, _) => cell): Column =
    bind(cosines(cents)(v))(a => out((array_position(a, array_max(a)) - 1).cast("int"), array_max(a)))

  private def uad(a: Array[Double]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  /** [[nearestCentroid]] on the driver, bit-identical to it: the SAME
    * SketchImpl.cosine kernel the codegen'd column invokes, then
    * array_max + array_position under Spark's SQL double ordering
    * (SQLOrderingUtil.compareDoubles: NaN greatest and self-equal,
    * −0.0 == 0.0).
    */
  private def nearestCell(x: Array[Double], cents: Array[Seq[Double]]): Int = {
    val xv = uad(x)
    val cos = cents.map(c => SketchImpl.cosine(xv, uad(c.toArray), false, false))
    val mx = cos.reduceLeft((m, c) => if (SQLOrderingUtil.compareDoubles(c, m) > 0) c else m)
    cos.indexWhere(SQLOrderingUtil.compareDoubles(_, mx) == 0)
  }

  /** The squared norm of an array column: an in-order left fold of x²
    * in double, the fold DuckDB's `list_sum` ([[Sql.sumSq]]) walks too.
    */
  def sumSq(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  // ---- Lloyd training ----
  //
  // Spherical k-means: each round assigns every sample vector to its
  // nearest centroid by cosine and moves each centroid to the mean of its
  // members' unit vectors (cosine is scale-invariant, so no renormalizing
  // before the next assignment); an empty cell keeps its centroid. Two
  // update steps, one arithmetic:
  //  - the driver step iterates over the collected sample (no Spark job
  //    per round) — the default while the sample fits the driver budget;
  //  - the Spark step runs one groupBy job per round over the cached
  //    sample — the only path past [[driverLloydMaxSample]], and the
  //    reference TrainerEquivalenceSpec holds the driver step to.
  // Both accumulate QUANTIZED LONGS: double addition is not associative,
  // so an avg(double) over a shuffled groupBy drifts at the ULP level with
  // combine order — enough to flip a near-tie argmax next round. Each
  // addend ((x/‖x‖)·1e12).toLong is deterministic and long sums are exact
  // and order-free, so centroids are bit-identical across runs, executor
  // counts and the two steps; the kmeans determinism flag and every ANN
  // and SemDeDup oracle hash ride on that. Overflow bound: |x/‖x‖| ≤ 1, so
  // |addend| ≤ 1e12 and a cell needs > 9·10⁶ members to overflow — the
  // sample is capped orders of magnitude below that.

  /** The largest sample the driver step trains on; past it the sample no
    * longer fits the small-driver-state budget. Registered configs stay
    * far below (flat 4096; two-level 4·k ≤ 65536 up to k = 16384).
    */
  private val driverLloydMaxSample: Int = 1 << 16

  /** `iters` Lloyd rounds from `init`: `update` assigns the sample to the
    * current centroids and returns the new centroid of each non-empty
    * cell by index.
    */
  private def lloyd(init: Array[Seq[Double]], iters: Int)(
      update: Array[Seq[Double]] => Map[Int, Seq[Double]]): Array[Seq[Double]] =
    if (init.isEmpty || init.head.isEmpty) init
    else
      (1 to iters).foldLeft(init) { (cents, _) =>
        val updated = update(cents)
        cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
      }

  /** The driver update: per vector the norm is the sqrt of the IN-ORDER
    * Σx² fold ([[sumSq]]), the addend the JVM d2l cast Spark's non-ANSI
    * double→long cast compiles to (NaN→0), the mean
    * (sum.toDouble/1e12)/cnt as in [[centroidFromSums]]. Vectors whose
    * cell is out of range are skipped.
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

  /** Row (cell, q0..q{dim-1}, cnt) → (cell, mean vector). */
  private def centroidFromSums(r: Row, dim: Int): (Int, Seq[Double]) = {
    val cnt = r.getLong(dim + 1)
    r.getInt(0) -> (0 until dim).map(i => r.getLong(i + 1).toDouble / 1e12 / cnt)
  }

  /** The Spark update: `sample`'s vectors grouped by `cell`, one job. The
    * dim per-position sums stay unexploded (element_at keeps the whole
    * aggregate inside codegen; a posexplode of sampleN × dim rows was
    * measured at 1.5 s per round on one core, this form at milliseconds),
    * with map-side partial aggregation down to ≤ cells × dim values per
    * partition before the exchange.
    */
  private def sparkUpdate(sample: DataFrame, cell: Column, dim: Int): Map[Int, Seq[Double]] = {
    val sums = (0 until dim).map { i =>
      sum(((element_at(col("embedding"), i + 1).cast("double") / col("nrm")) * 1e12).cast("long")).as(s"q$i")
    } :+ count(lit(1)).as("cnt")
    sample
      .select(cell.as("cell"), sqrt(sumSq(col("embedding"))).as("nrm"), col("embedding"))
      .groupBy("cell")
      .agg(sums.head, sums.tail: _*)
      .collect()
      .map(centroidFromSums(_, dim))
      .toMap
  }

  /** [[trainSample]] for the Spark update: the limit collapses to one
    * partition, so it is repartitioned by id (deterministic hash
    * placement) to run the rounds wide, and cached — one shuffle, not one
    * per round.
    */
  private def cachedSample(e: DataFrame, k: Int, sampleN: Int, stride: Int): DataFrame =
    trainSample(e, k, sampleN, stride).repartition(col("vec_id")).cache()

  /** Flat Lloyd with driver updates over a collected sample: (init, trained). */
  private def driverLloyd(xs: Array[Array[Double]], k: Int, iters: Int): (Array[Seq[Double]], Array[Seq[Double]]) = {
    val init: Array[Seq[Double]] = xs.take(k).map(x => x.toIndexedSeq: Seq[Double])
    (init, lloyd(init, iters) { cents =>
      lloydQuantizedUpdate(xs, xs.map(nearestCell(_, cents)), cents.length, cents.head.length)
    })
  }

  /** Flat Lloyd with Spark updates over a cached sample: (init, trained). */
  private def sparkLloyd(sample: DataFrame, k: Int, iters: Int): (Array[Seq[Double]], Array[Seq[Double]]) = {
    val init = sample.orderBy("vec_id").limit(k).select("embedding").collect().map(toDoubles(_, 0))
    (init, lloyd(init, iters) { cents =>
      sparkUpdate(sample, nearestCentroid(cents)(col("embedding")), cents.head.length)
    })
  }

  /** The IVF coarse quantizer: `k` centroids seeded from the first k
    * sample vectors, `iters` Lloyd rounds.
    */
  private[graft] def trainIvfCentroids(
      e0: DataFrame,
      k: Int = 16,
      iters: Int = 3,
      sampleN: Int = 4096,
      stride: Int = 10
  ): Array[Seq[Double]] =
    trainIvfCentroidsWithInit(e0, k, iters, sampleN, stride)._2

  /** [[trainIvfCentroids]], also returning the init centroids from the
    * same sample (the kmeans audit's Lloyd-beats-init flag). Driver
    * updates up to [[driverLloydMaxSample]], Spark updates past it.
    */
  private[graft] def trainIvfCentroidsWithInit(
      e0: DataFrame,
      k: Int = 16,
      iters: Int = 3,
      sampleN: Int = 4096,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Seq[Double]]) =
    if (sampleN > driverLloydMaxSample) trainIvfCentroidsWithInitDistributed(e0, k, iters, sampleN, stride)
    else driverLloyd(collectSample(e0, k, sampleN, stride), k, iters)

  /** [[trainIvfCentroidsWithInit]] with Spark updates at any sample size. */
  private[graft] def trainIvfCentroidsWithInitDistributed(
      e0: DataFrame,
      k: Int = 16,
      iters: Int = 3,
      sampleN: Int = 4096,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Seq[Double]]) = {
    val sample = cachedSample(e0, k, sampleN, stride)
    val out = sparkLloyd(sample, k, iters)
    sample.unpersist()
    out
  }

  /** The sample size of a k-cell two-level forest: ≥ 4 vectors per fine
    * cell (the trainer must outnumber the centroids), floored at 1024.
    */
  private[graft] def twoLevelSampleN(k: Int): Int = math.max(1024, 4 * k)

  /** The fine level of a two-level forest over `coarse`: cell c starts
    * from `firstMembers(c)` (its coarse centroid alone when it has no
    * sample member, so every cell has ≥ 1 sub-centroid — the
    * [[graft.functions.IvfAssign]] invariant), then `iters` Lloyd rounds
    * over the flattened forest, `update` taking the forest and returning
    * new sub-centroids by flat index.
    */
  private def fineForest(coarse: Array[Seq[Double]], firstMembers: Map[Int, Array[Seq[Double]]], iters: Int)(
      update: Array[Array[Seq[Double]]] => Map[Int, Seq[Double]]): Array[Array[Seq[Double]]] = {
    val init = coarse.indices.map(c => firstMembers.getOrElse(c, Array(coarse(c)))).toArray
    val starts = init.scanLeft(0)(_ + _.length)
    def forest(flat: Array[Seq[Double]]) = init.indices.map(c => flat.slice(starts(c), starts(c + 1))).toArray
    forest(lloyd(init.flatten, iters)(flat => update(forest(flat))))
  }

  /** Two-level centroid forest for scale-unbounded cell counts: √k coarse
    * centroids (flat Lloyd), then ~√k sub-centroids per coarse cell,
    * Lloyd-refined against the composed two-level assignment
    * ([[graft.functions.IvfAssign]]). A flat argmax compiles one cosine
    * kernel per cell (O(k) per row AND O(k) codegen) and stops scaling
    * near k ≈ 10³; the forest trains and assigns at O(2√k · dim) per row,
    * so k can track n/256 to ~10⁶ cells at 100 TB. Sub-centroid init: the
    * first ⌈k/√k⌉ sample members of each coarse cell by vec_id. Both
    * levels train on ONE sample ([[twoLevelSampleN]]), collected once;
    * past [[driverLloydMaxSample]] the Spark form trains instead.
    */
  private[graft] def trainTwoLevelCentroids(
      e0: DataFrame,
      k: Int,
      itersCoarse: Int = 3,
      itersFine: Int = 2,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Array[Seq[Double]]]) = {
    require(k >= 4, s"two-level training needs k >= 4, got $k")
    val sampleN = twoLevelSampleN(k)
    if (sampleN > driverLloydMaxSample)
      return trainTwoLevelCentroidsDistributed(e0, k, itersCoarse, itersFine, stride)
    val (kc, fsub) = twoLevelShape(k)
    val xs = collectSample(e0, kc, sampleN, stride)
    val coarse = driverLloyd(xs, kc, itersCoarse)._2
    val cells = xs.map(nearestCell(_, coarse))
    // xs is in vec_id order, so in-order grouping is the row_number-by-
    // vec_id window of the Spark form.
    val firstMembers = cells.zipWithIndex.groupBy(_._1).map { case (c, members) =>
      c -> members.map(_._2).sorted.take(fsub).map(i => xs(i).toIndexedSeq: Seq[Double])
    }
    // Exactly the IvfAssign expression's precomputed constants: norms via
    // the same Seq fold and 1e-12 floor, flat row-major layouts.
    def norm(c: Seq[Double]) = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
    val dim = coarse.head.length
    val (coarseFlat, coarseNorm) = (coarse.flatMap(identity), coarse.map(norm))
    val fine = fineForest(coarse, firstMembers, itersFine) { forest =>
      val starts = forest.scanLeft(0)(_ + _.length)
      val subs = forest.flatten
      val (fineFlat, fineNorm) = (subs.flatMap(identity), subs.map(norm))
      val fids = xs.map(x =>
        SketchImpl.ivfAssign(uad(x), dim, coarseFlat, coarseNorm, fineFlat, fineNorm, starts, false))
      lloydQuantizedUpdate(xs, fids, starts.last, dim)
    }
    (coarse, fine)
  }

  /** [[trainTwoLevelCentroids]] with Spark updates at any sample size; the
    * coarse and fine levels share one cached sample.
    */
  private[graft] def trainTwoLevelCentroidsDistributed(
      e0: DataFrame,
      k: Int,
      itersCoarse: Int = 3,
      itersFine: Int = 2,
      stride: Int = 10
  ): (Array[Seq[Double]], Array[Array[Seq[Double]]]) = {
    require(k >= 4, s"two-level training needs k >= 4, got $k")
    val (kc, fsub) = twoLevelShape(k)
    val sample = cachedSample(e0, kc, twoLevelSampleN(k), stride)
    val coarse = sparkLloyd(sample, kc, itersCoarse)._2
    val assigned = sample
      .select(nearestCentroid(coarse)(col("embedding")).as("cell"), col("vec_id"), col("embedding"))
      .cache()
    val firstMembers = assigned
      .withColumn("rn", row_number().over(Window.partitionBy(col("cell")).orderBy(col("vec_id"))))
      .filter(col("rn") <= fsub)
      .select("cell", "rn", "embedding")
      .collect()
      .groupBy(_.getInt(0))
      .map { case (c, rs) => c -> rs.sortBy(_.getInt(1)).map(toDoubles(_, 2)) }
    val dim = coarse.head.length
    val fine = fineForest(coarse, firstMembers, itersFine) { forest =>
      sparkUpdate(assigned, ivfAssign(col("embedding"), coarse.toSeq, forest.toSeq.map(_.toSeq)), dim)
    }
    assigned.unpersist()
    sample.unpersist()
    (coarse, fine)
  }

  /** (coarse cells ⌈√k⌉ ≥ 2, sub-centroids per coarse cell ⌈k / coarse⌉). */
  private def twoLevelShape(k: Int): (Int, Int) = {
    val kc = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    (kc, math.max(1, math.ceil(k.toDouble / kc).toInt))
  }

  /** Product-quantization codebooks: per-subspace k-means (Lloyd on
    * squared distance) trained driver-side on every 10th vector, capped at
    * `sampleN` — the faiss shape: codebooks converge on a few hundred
    * vectors, so training is O(sample × ksub), never O(data), and the
    * result is m × ksub × dsub doubles of driver state (8 KB here).
    */
  private[graft] def trainPqCodebooks(
      e: DataFrame,
      m: Int,
      ksub: Int,
      dsub: Int,
      sampleN: Int = 512,
      iters: Int = 10
  ): Seq[Double] = {
    val sample = collectSample(e, 0, sampleN, 10)
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

  // ---- kNN ----

  /** The kNN query side: the ten smallest-id vectors as
    * (query_id, qv, extra…).
    */
  def querySide(e: DataFrame, extra: Column*): DataFrame =
    e.filter(col("vec_id") < 10).select(Seq(col("vec_id").as("query_id"), col("embedding").as("qv")) ++ extra: _*)

  /** The kNN candidate side: every vector as (neighbor_id, cv, extra…). */
  def candidateSide(e: DataFrame, extra: Column*): DataFrame =
    e.select(Seq(col("vec_id").as("neighbor_id"), col("embedding").as("cv")) ++ extra: _*)

  /** The brute-force pairs: each query against every other vector. */
  def exactPairs(e: DataFrame): DataFrame =
    broadcast(querySide(e)).join(candidateSide(e), col("query_id") =!= col("neighbor_id"))

  /** The ANN pairs: each query (broadcast) against the candidates that
    * share its `key` value, itself excluded.
    */
  def probe(queries: DataFrame, candidates: DataFrame, key: String): DataFrame =
    broadcast(queries).join(candidates, Seq(key)).filter(col("query_id") =!= col("neighbor_id"))

  /** Each query's `k` best (query_id, qv, neighbor_id, cv) pairs by exact
    * cosine, ties to the lower neighbor id: (query_id, neighbor_id,
    * cos_sim, rn).
    */
  def topByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rn")
  }

  /** IVF probing: each (query_id, qv) with its `nProbe` nearest cells
    * (ties to the lower cell), as (query_id, qv, cell).
    */
  def probeCells(queries: DataFrame, cents: Array[Seq[Double]], nProbe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("cell"))
    queries
      .select(col("query_id"), col("qv"), posexplode(cosines(cents)(col("qv"))).as(Seq("cell", "qcos")))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nProbe)
      .select("query_id", "qv", "cell")
  }

  /** Sign-LSH ANN neighbors (production plan): top-3 per query from
    * multi-probe hamming ≤ 2 buckets. See the q_ann_lsh registration for
    * the plane-count scaling story. Spec-gated (DedupRecallSpec mean top-1
    * quality) and plan-pinned (no cross join) on THIS function; the
    * registered query wraps it in annBandedReport for the hash gate.
    */
  private[graft] def annLshNeighbors(s: SparkSession, d: String): DataFrame = {
    val p = lshPlaneCount(embeddingsCount(s, d), targetBucket = 256)
    val e = embeddings(s, d).withColumn("bucket", lshBucket(col("embedding"), hyperplanes(p, 64)))
    val masks: Seq[Long] = 0L +:
      ((0 until p).map(1L << _) ++
        (for { i <- 0 until p; j <- (i + 1) until p } yield (1L << i) | (1L << j)))
    val probes = array(masks.map(lit): _*)
    val q = querySide(e, explode(transform(probes, m => col("bucket").bitwiseXOR(m))).as("bucket"))
    topByCosine(probe(q, candidateSide(e, col("bucket")), "bucket"), 3)
  }

  /** IVF ANN neighbors (production plan): spherical-k-means coarse
    * quantizer, queries probe their top-4 cells, exact rank within probed
    * cells only. See the q_ann_ivf registration for the scale story.
    */
  private[graft] def annIvfNeighbors(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val cents = trainIvfCentroids(e, k = 16, iters = 3)
    val corpus = candidateSide(e).withColumn("cell", nearestCentroid(cents)(col("cv")))
    topByCosine(probe(probeCells(querySide(e), cents, 4), corpus, "cell"), 3)
  }

  /** IVF-PQ ANN neighbors (production plan): 32-bit PQ codes rank the
    * cell-bounded candidates, a top-10 shortlist refines exactly via a
    * join-back fetch. See the q_ann_ivfpq registration for the memory
    * story (8 bytes/candidate vs 256 bytes/finalist).
    */
  private[graft] def annIvfPqNeighbors(s: SparkSession, d: String): DataFrame = {
    val (m, ksub, dsub) = (8, 16, 8)
    val e = embeddings(s, d)
    val books = trainPqCodebooks(e, m, ksub, dsub)
    val cents = trainIvfCentroids(e, k = 16, iters = 3)
    val index = candidateSide(e).select(
      col("neighbor_id"),
      nearestCentroid(cents)(col("cv")).as("cell"),
      pqEncode(col("cv"), books, m, ksub, dsub).as("code"))
    val wPq = Window.partitionBy(col("query_id")).orderBy(col("pq_sim").desc, col("neighbor_id"))
    val shortlist = probe(probeCells(querySide(e), cents, 4), index, "cell")
      .select(
        col("query_id"),
        col("qv"),
        col("neighbor_id"),
        pqCosine(col("qv"), col("code"), books, m, ksub, dsub).as("pq_sim"))
      .withColumn("prn", row_number().over(wPq))
      .filter(col("prn") <= 10)
    topByCosine(shortlist.join(candidateSide(e), Seq("neighbor_id")), 3)
  }

  // ---- k-means and SemDeDup ----

  /** The production per-vector topic-assignment table: spherical k-means
    * ([[trainIvfCentroids]]), then one codegen'd argmax pass over the full
    * corpus (k compiled cosine kernels per row, zero shuffles). The
    * registered q_kmeans_clusters wraps this in the banded clustering
    * audit for the driver hash gate; DedupRecallSpec (determinism /
    * coverage / Lloyd objective), LlmPipelineSpec (topic-chain use), and
    * PlanAuditSpec (map-only pin) consume this table directly.
    */
  private[graft] def kmeansAssignments(s: SparkSession, d: String, iters: Int = 5): DataFrame = {
    val e = embeddings(s, d)
    val cents = trainIvfCentroids(e, k = 10, iters = iters)
    e.select(
        col("vec_id"),
        nearestCentroid(cents)(
          col("embedding"),
          (cell, cos) => struct(cell.as("cluster"), round(cos, 6).as("cos_to_centroid"))).as("o"))
      .select(col("vec_id"), col("o.cluster").as("cluster"), col("o.cos_to_centroid").as("cos_to_centroid"))
      .orderBy("vec_id")
  }

  /** The planted-twin corpus: every (vec_id, embedding) plus a near-copy
    * at vec_id + 1e6 with 0.05 added to dim 0 in FLOAT arithmetic
    * (cos ≈ 0.9997 to its original; [[Sql.pert]] restates it bit for bit).
    */
  def plantedTwins(s: SparkSession, d: String): DataFrame = {
    val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = embeddings(s, d).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x)).as("embedding"))
    base.unionAll(planted)
  }

  /** The production SemDeDup drop table over the planted-twin corpus:
    * (vec_id dropped, keeper, cos_to_keeper), k = max(16, n/256) cells.
    * The registered q_semdedup wraps this in the banded audit report for
    * the driver hash gate; DedupRecallSpec and LlmPipelineSpec consume
    * this table directly.
    */
  private[graft] def semdedupProduction(s: SparkSession, d: String): DataFrame = {
    val corpus = plantedTwins(s, d)
    val n = 2L * embeddingsCount(s, d)
    val k = math.max(16, (n / 256).toInt)
    semdedupDrops(corpus, k, stride = math.max(1, (n / twoLevelSampleN(k)).toInt))
  }

  /** The SemDeDup pipeline body, parameterized on the corpus and cell count
    * so the scale spec can force k past the old flat-assignment ceiling
    * (k = 1024) on a corpus it controls. Input: (vec_id, embedding).
    * Output: the DROPPED vectors with their keeper and cosine. The
    * within-cell self-join carries identical subtrees on both sides (merge
    * hints) so the two-level assignment computes ONCE via ReusedExchange —
    * pinned in PlanAuditSpec.
    */
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

  /** The DuckDB spellings of the family's parts, for the oracles. */
  object Sql {

    /** A FLOAT list promoted to DOUBLE element by element, as the Spark
      * kernels promote it.
      */
    def dbl(list: String): String = s"list_transform($list, x -> CAST(x AS DOUBLE))"

    private val cosineCall = "list_cosine_similarity("

    /** The cosine of list `a` (promoted by [[dbl]]) and `b`; `b` goes on
      * its own line, aligned under `a`, when the call starts at column
      * `wrapAt` > 0.
      */
    def cosine(a: String, b: String, wrapAt: Int = 0): String = {
      val sep = if (wrapAt > 0) "\n" + " " * (wrapAt + cosineCall.length) else " "
      s"$cosineCall${dbl(a)},$sep$b)"
    }

    /** [[VectorOps.sumSq]]: `list_sum` of the squares in double, in list
      * order, continued on a line indented 6.
      */
    def sumSq(list: String): String =
      s"""list_sum(list_transform($list,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))""".stripMargin

    /** [[exactPairs]]: the ten query vectors against every other vector as
      * (`ids`…, cos_sim), the SELECT indented `indent`.
      */
    def exactPairs(ids: String, indent: Int): String = {
      val pad = " " * indent
      s"""${pad}SELECT $ids,
         |$pad  ${cosine("a.embedding", dbl("b.embedding"), indent + 2)} AS cos_sim
         |${pad}FROM embeddings a, embeddings b
         |${pad}WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id""".stripMargin
    }

    /** `pert`: the planted half of [[plantedTwins]] — REAL arithmetic
      * matches Spark's FloatType add bit for bit.
      */
    val pert: String =
      """pert AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_concat([CAST(embedding[1] + CAST(0.05 AS REAL) AS REAL)], embedding[2:]) AS embedding
        |  FROM embeddings)""".stripMargin
  }
}
