package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two halves of byteBandPairs' identical-sig star collapse
  * (DedupOps.scala — the mass-identical-sketch guard):
  *
  *  1. When a group DOES exceed maxGroup, the collapsed output is linear in
  *     the group size (never m²/2) and the hamming ≤ 7 relation stays
  *     complete TRANSITIVELY — every brute-force pair is either a direct row
  *     or one hop through the group's min-doc_id representative.
  *  2. The registered fixtures (simhash / image dHash / pHash / audio) never
  *     trip the cap at the default maxGroup=256, so the direct-pair counting
  *     the planted-recall audits do remains valid (r13 advice: direct-pair
  *     recall counting assumes group sizes ≤ maxGroup).
  */
class ByteBandGuardSpec extends AnyFunSuite with SparkSpec {

  test("star collapse: linear output, transitively complete vs brute force") {
    import spark.implicits._
    // 20 docs share sig 0 (group > maxGroup=8); doc 100 sits at hamming 2
    // from the group; doc 200 is far (hamming 64 from the group, 62 from 100).
    val sigs = ((0L until 20L).map(i => (i, 0L)) :+ (100L, 3L) :+ (200L, -1L))
      .toDF("doc_id", "sig")
    val pairs = graft.operators.DedupOps
      .byteBandPairs(sigs, maxGroup = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet

    // Linear, not quadratic: 19 star rows (member → min) + (0, 100). The
    // unguarded form would emit 190 intra-group rows + 20 rows to doc 100.
    assert(pairs.size == 20, s"expected 19 star + 1 neighbor pair, got ${pairs.size}: $pairs")
    assert((1L until 20L).forall(b => pairs.contains((0L, b))),
      "every collapsed member must star-link to the group's min doc_id")
    assert(pairs.contains((0L, 100L)), "the representative must still reach outside neighbors")
    assert(!pairs.exists { case (a, b) => a == 200L || b == 200L },
      "far docs must not pair")

    // Transitive completeness: every brute-force hamming<=7 pair is a direct
    // row or one hop through a shared neighbor (the representative).
    val docs = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (a, b)).toSet
    val undirected = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = undirected.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val unreachable = brute.filterNot { case (a, b) =>
      pairs.contains((a, b)) ||
        adj.getOrElse(a, Set.empty[Long]).exists(r => adj.getOrElse(r, Set.empty[Long]).contains(b))
    }
    assert(unreachable.isEmpty,
      s"brute-force pairs not reachable within one representative hop: $unreachable")
  }

  test("registered sketch fixtures never trip the default cap (direct-pair audits stay valid)") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val tables = Map(
      "simhash" -> SimilarityQueries.simhashSigs(spark, sfDir),
      "image_dhash" -> SimilarityQueries.imageSigs(spark, sfDir),
      "image_phash" -> SimilarityQueries.phashSigs(spark, sfDir),
      "audio" -> SimilarityQueries.audioSigs(spark, sfDir))
    for ((name, sigs) <- tables) {
      val maxGroup = sigs.groupBy("sig").count().agg(max("count")).head().getLong(0)
      assert(maxGroup <= 256L,
        s"$name: identical-sig group of $maxGroup exceeds the star-collapse cap — " +
          "planted-recall direct counting would undercount")
    }
  }
}
