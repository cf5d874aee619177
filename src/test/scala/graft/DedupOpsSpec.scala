package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** The near-dup candidate layer on synthetic postings: the df cap, the
  * shared-key floor, the batch→index probe and the exact verify, each
  * against an answer worked out by hand or by brute force.
  */
class DedupOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val key = Seq("k")

  private def postings(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "k")

  private def pairs(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_a", "doc_b", "n_shared").as[(Long, Long, Long)].collect().toSet

  test("a key above the df cap contributes no pair") {
    // "hot" is held by 4 docs; "x" by docs 1 and 2 only.
    val p = postings((1L, "hot"), (2L, "hot"), (3L, "hot"), (4L, "hot"), (1L, "x"), (2L, "x"))
    assert(pairs(DedupOps.sharedKeyPairs(DedupOps.cappedIndex(p, key, maxDf = 3), key, minShared = 1)) ==
      Set((1L, 2L, 1L)))
    // At a cap the hot key fits under, it pairs all four docs.
    assert(pairs(DedupOps.sharedKeyPairs(DedupOps.cappedIndex(p, key, maxDf = 4), key, minShared = 1)) ==
      Set((1L, 2L, 2L), (1L, 3L, 1L), (1L, 4L, 1L), (2L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L)))
  }

  test("minShared is a strict floor") {
    // Docs 1 and 2 share a, b, c; docs 1 and 3 share a, b.
    val p = postings((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"), (2L, "c"), (3L, "a"), (3L, "b"))
    val idx = DedupOps.cappedIndex(p, key, maxDf = 50)
    assert(pairs(DedupOps.sharedKeyPairs(idx, key, minShared = 3)) == Set((1L, 2L, 3L)))
    assert(pairs(DedupOps.sharedKeyPairs(idx, key, minShared = 2)) ==
      Set((1L, 2L, 3L), (1L, 3L, 2L), (2L, 3L, 2L)))
  }

  test("the probe form pairs only batch→index") {
    // Batch docs 1 and 2 share "b"; index docs 10 and 11 share "i"; only
    // "x" crosses from batch doc 1 to index doc 10.
    val batch = postings((1L, "b"), (2L, "b"), (1L, "x"))
    val index = postings((10L, "i"), (11L, "i"), (10L, "x"))
    assert(pairs(DedupOps.probePairs(batch, index, key, minShared = 1)) == Set((1L, 10L, 1L)))
  }

  test("the verify equals a brute-force Jaccard on small sets, disjoint sets included") {
    val rnd = new scala.util.Random(7)
    val sets: Seq[(Long, Seq[Long])] =
      (1L to 12L).map(id => id -> Seq.fill(1 + rnd.nextInt(6))(rnd.nextInt(10).toLong).distinct) ++
        Seq(20L -> Seq(100L, 101L), 21L -> Seq(200L, 201L, 202L)) // disjoint with everything
    val cand = for ((a, _) <- sets; (b, _) <- sets if a < b) yield (a, b)
    def brute(minJ: Double): Set[(Long, Long, Double, Int, Int)] = {
      val m = sets.toMap
      cand.map { case (a, b) =>
        val (x, y) = (m(a).toSet, m(b).toSet)
        val inter = (x & y).size.toDouble
        (a, b, inter / (x.size + y.size - inter), x.size, y.size)
      }.filter(_._3 >= minJ).toSet
    }
    for (minJ <- Seq(0.0, 0.5)) {
      val got = DedupOps
        .verifiedJaccard(cand.toDF("doc_a", "doc_b"), sets.toDF("doc_id", "sh"), minJ)
        .select("doc_a", "doc_b", "jaccard", "na", "nb")
        .as[(Long, Long, Double, Int, Int)]
        .collect()
        .toSet
      assert(got == brute(minJ), s"minJ = $minJ")
    }
    assert(brute(0.0).exists(p => p._1 == 20L && p._3 == 0.0), "the disjoint set must be scored 0")
  }

  test("SimilarityQueries holds no df cap and no Jaccard verify of its own") {
    // Both belong to DedupOps, the one home of the near-dup candidate policy.
    val text = Files.readString(Paths.get("src/main/scala/graft/SimilarityQueries.scala"))
    val offenders = Seq("count(lit(1)).over(", "jaccard(").filter(text.contains)
    assert(offenders.isEmpty, s"use graft.operators.DedupOps instead of: ${offenders.mkString(", ")}")
  }

  test("the near-dup index builds run each sketch kernel once per document") {
    // Counted on every root-to-leaf path of the optimized plan, so a kernel
    // call that a pushed-down filter repeats under its projection shows up
    // as a second call on the same path.
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    def paths(p: LogicalPlan): Seq[Seq[LogicalPlan]] =
      if (p.children.isEmpty) Seq(Seq(p)) else p.children.flatMap(c => paths(c).map(p +: _))
    for (q <- Seq("q_ngram_jaccard", "q_dedup_minhash")) {
      val plan = QueryRegistry.queries(q)(spark, sfDir).queryExecution.optimizedPlan
      val perPath = paths(plan).map { path =>
        path
          .flatMap(_.expressions.flatMap(_.collect {
            case e if e.getClass.getPackage.getName == "graft.functions" => e.prettyName
          }))
          .groupBy(identity).map { case (k, calls) => k -> calls.size }
      }
      assert(perPath.exists(_.nonEmpty), s"$q: no sketch kernel in the plan")
      val repeated = perPath.flatMap(_.filter(_._2 > 1)).distinct
      assert(repeated.isEmpty, s"$q: kernel calls repeated on one path: $repeated\n$plan")
    }
  }
}
