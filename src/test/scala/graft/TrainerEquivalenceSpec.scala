package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.VectorOps

/** r17 optimization gate: the Lloyd trainers moved from per-iteration Spark
  * jobs to driver-local iteration over the same bounded collected sample
  * (through the same SketchImpl kernels and the same quantized-long update
  * arithmetic). These specs assert the two forms are BIT-identical — every
  * downstream oracle hash (kmeans determinism flag, ANN banded reports,
  * semdedup drops) rides on the centroids, so "close" is not enough.
  */
class TrainerEquivalenceSpec extends AnyFunSuite with SparkSpec {

  private def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToRawLongBits)

  private def assertSame(name: String, a: Array[Seq[Double]], b: Array[Seq[Double]]): Unit = {
    assert(a.length == b.length, s"$name: centroid count ${a.length} vs ${b.length}")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(bits(x) == bits(y), s"$name: centroid $i diverged\n driver: $x\n  spark: $y")
    }
  }

  test("flat Lloyd: driver-local ≡ distributed, bit-for-bit (init and trained)") {
    val e = Tables.embeddings(spark, sfDir)
    for ((k, iters, sampleN, stride) <- Seq((10, 5, 4096, 10), (16, 3, 4096, 10), (7, 2, 512, 3))) {
      val (iD, cD) = VectorOps.trainIvfCentroidsWithInit(e, k, iters, sampleN, stride)
      val (iS, cS) = VectorOps.trainIvfCentroidsWithInitDistributed(e, k, iters, sampleN, stride)
      assertSame(s"init k=$k", iD, iS)
      assertSame(s"trained k=$k iters=$iters", cD, cS)
    }
  }

  test("two-level Lloyd: driver-local ≡ distributed, bit-for-bit (coarse and fine forest)") {
    val e = Tables.embeddings(spark, sfDir)
    for (k <- Seq(16, 36)) {
      val (cD, fD) = VectorOps.trainTwoLevelCentroids(e, k, stride = 1)
      val (cS, fS) = VectorOps.trainTwoLevelCentroidsDistributed(e, k, stride = 1)
      assertSame(s"coarse k=$k", cD, cS)
      assert(fD.length == fS.length, s"fine cell-group count k=$k")
      fD.zip(fS).zipWithIndex.foreach { case ((gd, gs), c) =>
        assertSame(s"fine cell $c k=$k", gd, gs)
      }
    }
  }
}
