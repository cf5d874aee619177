package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ground-truth recall for the near-dup operators: every corpus plants one
  * near-duplicate per document (an 85%-truncated copy at doc_id + 1e6), so
  * the pair (d, d+1e6) is a known positive. These specs assert each
  * operator recovers a healthy fraction of them — an operator can return
  * plausible-looking rows and still be broken (wrong banding, dead verify
  * threshold); row counts alone would not catch that.
  */
class DedupRecallSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def plantedRecall(name: String): Double =
    plantedRecallDf(QueryRegistry.queries(name)(spark, sfDir))

  private def plantedRecallDf(out: org.apache.spark.sql.DataFrame): Double = {
    val cols = out.columns.take(2)
    val pairs = out
      .select(col(cols(0)).as("a"), col(cols(1)).as("b"))
      .filter(col("b") === col("a") + 1000000L)
      .count()
    val total = Tables.documents(spark, sfDir).count()
    pairs.toDouble / total
  }

  test("minhash LSH recovers most planted near-duplicates") {
    // Production pair table — the registered q_dedup_minhash is its
    // banded recall/precision report.
    val r = plantedRecallDf(SimilarityQueries.minhashPairs(spark, sfDir))
    assert(r > 0.8, s"minhash planted recall $r")
  }

  test("simhash banding recovers planted near-duplicates within its edit budget") {
    // A 15%-truncation is a HEAVY edit for simhash (its sweet spot is
    // boilerplate-level change; minhash owns set-overlap edits — by design
    // the two sketches cover different edit regimes). Hamming <= 7 is the
    // loosest threshold 8-byte-banding covers exactly; the floor here
    // tracks that regime honestly rather than pretending simhash matches
    // minhash on aggressive edits.
    // Production pair table — the registered q_dedup_simhash is its
    // banded audit report.
    val r = plantedRecallDf(SimilarityQueries.simhashPairs(spark, sfDir))
    assert(r > 0.65, s"simhash planted recall $r")
  }

  test("minhash pair set is two-sided: zero false positives, banding-curve coverage of the exact graph") {
    // The recall gates above are one-sided. This check brute-forces the
    // EXACT Jaccard pair graph over the same hashed-shingle domain the
    // pipeline verifies on (the corpus is small enough to enumerate in a
    // spec — the pipeline itself never does this) and asserts:
    //  ⊆  the banded pipeline emits NO pair outside the exact graph —
    //     banding can only lose candidates, and the verify stage scores
    //     the same exact Jaccard, so false positives must be zero;
    //  ⊇  coverage of the exact graph tracks the DECLARED banding curve:
    //     at 16 bands × 4 rows a pair fires with p = 1-(1-J⁴)¹⁶ — ≈ 0.99
    //     at J ≥ 0.7, genuinely probabilistic near the 0.5 floor — so
    //     strong pairs gate at 0.9 and the whole graph at the existing
    //     0.8 recall bar.
    import graft.functions.SimilarityFunctions.hashedShingles
    val docs = SimilarityQueries
      .corpusWithDups(spark, sfDir)
      .select(col("doc_id"), hashedShingles(col("text")).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    val expected = scala.collection.mutable.Map.empty[(Long, Long), Double]
    for (i <- docs.indices; j <- i + 1 until docs.length) {
      val (ida, sa) = docs(i)
      val (idb, sb) = docs(j)
      val inter = sa.intersect(sb).size
      if (inter > 0) {
        val jac = inter.toDouble / (sa.size + sb.size - inter)
        if (jac >= 0.5) expected(if (ida < idb) (ida, idb) else (idb, ida)) = jac
      }
    }
    val got = SimilarityQueries
      .minhashPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)]
      .collect()
      .toSet
    val fps = got.diff(expected.keySet)
    assert(fps.isEmpty, s"banded pipeline emitted pairs outside the exact graph: ${fps.take(5)}")
    val strong = expected.filter(_._2 >= 0.7).keys.toSet
    val covStrong = strong.intersect(got).size.toDouble / math.max(1, strong.size)
    assert(covStrong >= 0.9, s"coverage of strong (J >= 0.7) exact pairs: $covStrong")
    val covAll = expected.keySet.intersect(got).size.toDouble / math.max(1, expected.size)
    assert(covAll >= 0.8, s"coverage of the whole exact graph at J >= 0.5: $covAll")
  }

  test("simhash byte-banding equals the brute-force hamming ball exactly (pigeonhole twin-check)") {
    // Byte-banding is pigeonhole-COMPLETE for hamming <= 7 over a 64-bit
    // sketch (8 bands; <= 7 flipped bits cannot touch all 8), and the
    // verify re-scores hamming on the full sketch — so unlike minhash
    // there is no probabilistic regime: the banded pair set must EQUAL
    // the brute-force enumeration, both directions, no tolerance.
    import graft.functions.SimilarityFunctions.simhash64
    val sigs = SimilarityQueries
      .corpusWithDups(spark, sfDir)
      .select(col("doc_id"), simhash64(col("text")).as("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 7
    } yield {
      val (ida, idb) = (sigs(i)._1, sigs(j)._1)
      if (ida < idb) (ida, idb) else (idb, ida)
    }).toSet
    val got = SimilarityQueries
      .simhashPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)]
      .collect()
      .toSet
    assert(got == expected,
      s"banded != brute force: missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
  }

  test("ngram-jaccard inverted index recovers most planted near-duplicates") {
    val r = plantedRecall("q_ngram_jaccard")
    assert(r > 0.8, s"ngram-jaccard planted recall $r")
  }

  test("substring-overlap dedup recovers planted truncations (verbatim prefix overlap)") {
    // A truncated copy shares its whole prefix verbatim — the exact regime
    // the 32-char-window overlap detector targets. Short docs whose copy
    // drops under ~39 chars can't reach the 8-window floor; the gate
    // reflects that honestly.
    val r = plantedRecall("q_dedup_substrings")
    assert(r > 0.8, s"substring-overlap planted recall $r")
  }

  test("containment dedup recovers planted truncations at a higher bar than jaccard") {
    // Planted dups are 85%-truncations — the asymmetric regime: the copy's
    // shingles are (nearly) a subset of the source's, so containment ~1.0
    // even where symmetric jaccard sits near 0.5-0.7.
    val r = plantedRecall("q_dedup_containment")
    assert(r > 0.9, s"containment planted recall $r")
  }

  test("containment dedup still recovers heavily truncated (50%) copies") {
    // A half-document keeps Jaccard ≈ 0.5 but containment ≈ 1.0 — the
    // asymmetric regime the J ≥ 0.3 verify floor exists for. Candidates
    // come from the exact df-capped inverted index, so unlike the old
    // minhash banding there is no probabilistic candidate loss here; the
    // gate protects the prefilter (≥ 3 common low-df shingles) and the
    // algebra at heavy truncation.
    val out = SimilarityQueries.containmentPairs(spark, sfDir, keepFrac = 0.5)
    val pairs = out
      .filter(col("doc_b") === col("doc_a") + 1000000L)
      .count()
    val total = Tables.documents(spark, sfDir).count()
    val r = pairs.toDouble / total
    assert(r > 0.9, s"containment recall at 50% truncation: $r")
  }

  test("embedding LSH dedup recovers most planted perturbed copies") {
    val out = QueryRegistry.queries("q_dedup_embedding")(spark, sfDir)
    val planted = out.filter(col("vec_b") === col("vec_a") + 1000000L).count()
    val total = Tables.embeddings(spark, sfDir).count()
    assert(planted.toDouble / total > 0.8, s"embedding planted recall ${planted.toDouble / total}")
  }

  test("image dhash dedup: planted ripple variants pair with their originals; banding equals brute force") {
    import graft.operators.MultimodalOps
    // Production pair table — the registered q_dedup_images is its banded
    // audit report.
    val out = SimilarityQueries.imageDedupPairs(spark, sfDir).cache()
    val total = Tables.documents(spark, sfDir).count()
    // Recall through the FULL path (render → ImageIO decode → luma →
    // dhash → band → verify): the ±3-luma ripple flips only comparisons
    // whose adjacent delta is tiny, so nearly every variant stays within
    // hamming 7 of its original.
    val planted = out.filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(planted.toDouble / total > 0.9, s"image planted recall ${planted.toDouble / total}")
    // Byte-banding is pigeonhole-complete for hamming <= 7, so the banded
    // pair set must EQUAL the brute-force hamming ball over the same
    // deterministic sketch table — both directions, no tolerance.
    val ids = Tables.documents(spark, sfDir).select("doc_id").as[Long].collect()
    val sigs = ids.flatMap { id =>
      Seq(
        id -> MultimodalOps.imageDhash(MultimodalOps.renderTestImage(id)),
        (id + 1000000L) -> MultimodalOps.imageDhash(MultimodalOps.renderTestImage(id, perturb = true))
      )
    }
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 7
    } yield {
      val (ida, idb) = (sigs(i)._1, sigs(j)._1)
      if (ida < idb) (ida, idb) else (idb, ida)
    }).toSet
    val got = out.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"banded != brute force: missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
    out.unpersist()
  }

  test("semantic decontamination: flags exactly the planted leak sources, with margin on both sides of the threshold") {
    // The flagged set must be EXACTLY the vectors whose perturbed twin
    // sits in the eval fixture (vec_id % 50 == 0) — a missed source is a
    // recall hole, an extra row means organic cosines drifted toward the
    // 0.95 threshold and the fixture no longer separates. Margin gates
    // both failure directions: planted cosines must clear the threshold
    // comfortably (> 0.99) and the best UNFLAGGED vector must sit far
    // below it (< 0.7), so a testdata regeneration that erodes the gap
    // fails loudly here before it flakes the hash oracle.
    val out = QueryRegistry
      .queries("q_decontaminate_semantic")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = Tables
      .embeddings(spark, sfDir)
      .filter(col("vec_id") % 50 === 0)
      .select("vec_id")
      .as[Long]
      .collect()
      .toSet
    assert(out.map(_._1).toSet == expected,
      s"flagged set != planted sources: got ${out.map(_._1).toSeq.sorted.take(5)}...")
    assert(out.forall(t => t._1 == t._2), "each source must argmax to its own eval twin")
    assert(out.forall(_._3 > 0.99), s"planted cosines must clear 0.95 with margin: ${out.map(_._3).min}")
    // Organic side of the margin, brute-forced driver-side (500 × K — a
    // spec-scale check): the best non-source cosine against any eval
    // vector must sit far below the 0.95 cut.
    val vecs = Tables
      .embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val evals = vecs.filter(_._1 % 50 == 0).map { case (_, v) => v.map(x => x * 1.02 + 0.01) }
    val organicMax = vecs
      .filter(t => !expected.contains(t._1))
      .map { case (_, v) => evals.map(e => cos(v, e)).max }
      .max
    assert(organicMax < 0.7, s"organic cosines drifted toward the threshold: $organicMax")
  }

  test("image phash dedup: planted crop+dither reposts pair with their originals; dhash collapses on the same edit; banding equals brute force") {
    import graft.operators.MultimodalOps
    // Production pair table — the registered q_phash_images is its banded
    // audit report.
    val out = SimilarityQueries.phashDedupPairs(spark, sfDir).cache()
    val total = Tables.documents(spark, sfDir).count()
    // Recall through the FULL path (render → ImageIO decode → crop →
    // dither → re-encode → decode → DCT → band → verify): each pHash
    // readout aggregates all 1024 resized pixels, so the ±26 dither
    // cancels and the 1-px crop only rescales frequencies by 64/62.
    val planted = out.filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(planted.toDouble / total > 0.9, s"phash planted recall ${planted.toDouble / total}")
    // The same edit set through dHash: adjacent-pixel differences in
    // smooth regions are smaller than the dither, so its recall COLLAPSES
    // (measured 38.7% on 2000 images) — this is the measured reason the
    // pHash arm exists next to q_dedup_images' dHash arm, pinned here so
    // a fixture change that silently re-converges the two hashes fails.
    val ids = Tables.documents(spark, sfDir).select("doc_id").as[Long].collect()
    def repost(id: Long): Array[Byte] =
      MultimodalOps.ditherImage(
        MultimodalOps.cropImage(MultimodalOps.renderSmoothTestImage(id, 64), 1), 26, id + 77L)
    val dhashOk = ids.count { id =>
      val a = MultimodalOps.imageDhash(MultimodalOps.renderSmoothTestImage(id, 64))
      val b = MultimodalOps.imageDhash(repost(id))
      java.lang.Long.bitCount(a ^ b) <= 7
    }
    assert(dhashOk.toDouble / ids.length < 0.5,
      s"dhash unexpectedly absorbs crop+dither: recall ${dhashOk.toDouble / ids.length}")
    // Byte-banding is pigeonhole-complete for hamming <= 7, so the banded
    // pair set must EQUAL the brute-force hamming ball over the same
    // deterministic sketch table — both directions, no tolerance.
    val sigs = ids.flatMap { id =>
      Seq(
        id -> MultimodalOps.imagePhash(MultimodalOps.renderSmoothTestImage(id, 64)),
        (id + 1000000L) -> MultimodalOps.imagePhash(repost(id))
      )
    }
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 7
    } yield {
      val (ida, idb) = (sigs(i)._1, sigs(j)._1)
      if (ida < idb) (ida, idb) else (idb, ida)
    }).toSet
    val got = out.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"banded != brute force: missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
    out.unpersist()
  }

  test("audio fingerprint dedup: planted re-levelled variants pair with their originals; banding equals brute force") {
    import graft.operators.MultimodalOps
    // Production pair table — the registered q_dedup_audio is its banded
    // audit report.
    val out = SimilarityQueries.audioDedupPairs(spark, sfDir).cache()
    val total = Tables.documents(spark, sfDir).count()
    // Recall through the FULL path (synth → AudioSystem encode → decode →
    // fingerprint → band → verify): half-volume re-levelling preserves the
    // energy-contour comparisons up to quantization noise, so nearly every
    // variant stays within hamming 7 of its original.
    val planted = out.filter(col("doc_b") === col("doc_a") + 1000000L).count()
    assert(planted.toDouble / total > 0.9, s"audio planted recall ${planted.toDouble / total}")
    // Byte-banding is pigeonhole-complete for hamming <= 7, so the banded
    // pair set must EQUAL the brute-force hamming ball over the same
    // deterministic sketch table — both directions, no tolerance.
    val params = Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .collect()
    val sigs = params.flatMap { case (id, nChars) =>
      val sr = (8000 * (1 + id % 2)).toInt
      val ns = (800 + (nChars % 160) * 10).toInt
      val amp = 0.4 + (id % 5).toDouble * 0.1
      def fp(a: Double): Long =
        MultimodalOps.audioFingerprint64(
          MultimodalOps.decodeAudio(MultimodalOps.synthWav(id, sr, ns, a)).get._5)
      Seq(id -> fp(amp), (id + 1000000L) -> fp(amp * 0.5))
    }
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 7
    } yield {
      val (ida, idb) = (sigs(i)._1, sigs(j)._1)
      if (ida < idb) (ida, idb) else (idb, ida)
    }).toSet
    val got = out.select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"banded != brute force: missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
    out.unpersist()
  }

  test("semdedup drops most planted copies with the exact keeper and never a base vector") {
    // The production drop table — the registered q_semdedup is its banded
    // report wrapper.
    val out = SimilarityQueries.semdedupProduction(spark, sfDir).cache()
    val total = Tables.embeddings(spark, sfDir).count()
    val planted = out.filter(col("vec_id") >= 1000000L)
    val recall = planted.count().toDouble / total
    // Boundary losses (a copy landing across its original's cluster edge)
    // are SemDeDup's honest recall cost; measured 0.95-0.97 here.
    assert(recall > 0.85, s"semdedup planted recall $recall")
    // The keeper must be the planted copy's own original: cos >= 0.995 to
    // any OTHER vector would mean random 64-dim embeddings collide, which
    // is also why no base vector may ever be dropped.
    val exact = planted.filter(col("keeper") === col("vec_id") - 1000000L).count().toDouble / total
    assert(exact > 0.85, s"semdedup exact-keeper rate $exact")
    assert(out.filter(col("vec_id") < 1000000L).count() == 0,
      "a base vector was dropped — false positive at cos >= 0.995")
    out.unpersist()
  }

  test("semdedup two-level assignment scales past the old flat-argmax ceiling (k > 1024)") {
    // The flat assignment compiled one cosine kernel per cell and stopped
    // scaling at k = 1024; this forces k = 1100 on a corpus the spec
    // controls and gates the SAME quality bars, proving the two-level path
    // is not a stub. Corpus: 8 decorrelated variants per embedding
    // (deterministic trig jitter of magnitude 0.4 per dim — variants are
    // mutually dissimilar documents), each with a planted near-copy
    // (+0.03 on dim 0 → cos ≥ 0.995 to its own variant only).
    val e = Tables.embeddings(spark, sfDir)
    val base = (0 until 8)
      .map { v =>
        e.select(
          (col("vec_id") * 8 + lit(v)).as("vec_id"),
          transform(
            col("embedding"),
            (x, j) =>
              (x.cast("double") +
                lit(0.4) * sin(col("vec_id") * 13 + lit(v * 7) + j.cast("double"))).cast("float")
          ).as("embedding")
        )
      }
      .reduce(_.unionAll(_))
    val planted = base.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.03f)).otherwise(x))
        .as("embedding")
    )
    // NOTE: deliberately NOT .cache()d — a cached corpus plans as an
    // InMemoryRelation whose canonicalized form defeats exchange reuse,
    // and this test pins that the assignment exchange computes once.
    val corpus = base.unionAll(planted)
    val total = base.count().toDouble
    val k = 1100 // > the old cap of 1024
    val (coarse, fine) = SimilarityQueries.trainTwoLevelCentroids(corpus, k, stride = 1)
    val totalCells = fine.map(_.length).sum
    assert(totalCells > 1024, s"forced cell count $totalCells must exceed the old flat ceiling")
    assert(coarse.length <= 64,
      s"coarse level must stay O(√k) so per-row work is O(2√k·dim): ${coarse.length}")
    val out = SimilarityQueries.semdedupDrops(corpus, k, stride = 1).cache()
    out.collect()
    val plantedOut = out.filter(col("vec_id") >= 1000000L)
    val recall = plantedOut.count().toDouble / total
    assert(recall > 0.85, s"semdedup planted recall at forced k=$k: $recall")
    val exact = plantedOut.filter(col("keeper") === col("vec_id") - 1000000L).count().toDouble / total
    assert(exact > 0.85, s"semdedup exact-keeper rate at forced k=$k: $exact")
    assert(out.filter(col("vec_id") < 1000000L).count() == 0,
      "a base vector was dropped — variants must not collide at cos >= 0.995")
    // Plan shape: ONE two-level assignment kernel (not O(k) compiled cosine
    // kernels), and the self-join reuses the assignment exchange.
    val p = out.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("ivfassign"),
      s"assignment must be the single two-level ivf_assign kernel:\n${p.take(2000)}")
    // The pair-verify cosine reprints a constant number of times across
    // AQE stage boundaries (~8); a flat assignment at k = 1100 would put
    // >= 1100 kernels in the plan. Gate well below k, well above the
    // constant.
    val flatKernels = "cosinesim\\(".r.findAllIn(p.toLowerCase).length
    assert(flatKernels <= 32,
      s"per-row assignment must not carry O(k) cosine kernels, saw $flatKernels")
    assert(p.linesIterator.exists(l => l.contains("ReusedExchange") || l.contains("ReusedQueryStage")),
      "two-level assignment must compute once across the self-join")
    out.unpersist()
  }

  test("pca basis is orthonormal, eigenvalues match projected variance, training is deterministic") {
    val e = Tables.embeddings(spark, sfDir)
    val (mean, basis, eig) = SimilarityQueries.trainPcaBasis(e, nComponents = 8)
    // Orthonormal rotation: pairwise dots are the identity within 1e-8.
    for (i <- basis.indices; j <- i until basis.length) {
      val dot = basis(i).zip(basis(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-8, s"basis($i)·basis($j) = $dot")
    }
    // Eigenvalues descend and are non-negative (covariance is PSD).
    assert(eig.zip(eig.tail).forall { case (a, b) => a >= b - 1e-12 }, "eigenvalues must descend")
    assert(eig.forall(_ >= -1e-9), "covariance eigenvalues must be non-negative")
    // The chain cross-check: the POPULATION variance of each projected
    // coordinate over the corpus (computed by Spark through the compiled
    // kernel) must equal the corresponding eigenvalue — this ties the
    // distributed covariance pass, the driver eigen solve, and the
    // pca_project kernel together; any of the three being wrong breaks it.
    import graft.functions.SimilarityFunctions.pcaProject
    val pc = pcaProject(col("embedding"), mean.toSeq, basis.toSeq.map(_.toSeq))
    val stats = e
      .select(posexplode(pc).as(Seq("c", "x")))
      .groupBy("c")
      .agg(avg(col("x") * col("x")).as("ex2"), avg(col("x")).as("ex"))
      .collect()
      .map(r => r.getInt(0) -> (r.getDouble(1) - r.getDouble(2) * r.getDouble(2)))
      .toMap
    for (c <- basis.indices) {
      val v = stats(c)
      assert(math.abs(v - eig(c)) <= 0.02 * math.max(eig(c), 1e-9),
        s"projected variance of component $c ($v) must match eigenvalue ${eig(c)}")
    }
    // Deterministic: fixed partition order + tree combine → bit-equal runs.
    val (mean2, basis2, eig2) = SimilarityQueries.trainPcaBasis(e, nComponents = 8)
    assert(mean.toSeq == mean2.toSeq && eig.toSeq == eig2.toSeq &&
      basis.map(_.toSeq).toSeq == basis2.map(_.toSeq).toSeq,
      "PCA training must be deterministic run to run")
  }

  test("kmeans clustering is deterministic, covers all k clusters, and Lloyd improves on the init") {
    // Production assignment table — the registered q_kmeans_clusters is
    // its banded audit wrapper.
    val a = SimilarityQueries.kmeansAssignments(spark, sfDir).collect()
    val b = SimilarityQueries.kmeansAssignments(spark, sfDir).collect()
    // Strict Row equality is sound because training accumulates through
    // quantized-long sums (exact, order-independent — see
    // trainIvfCentroids): the centroids are bit-identical across runs
    // regardless of reduce-side combine order, so no near-tie argmax can
    // flip between the two runs.
    assert(a.toSeq == b.toSeq, "clustering must be bit-deterministic run to run")
    val byCluster = a.groupBy(_.getInt(1))
    assert(byCluster.size == 10, s"expected all 10 clusters non-empty, got ${byCluster.size}")
    // The labels in the synthetic embeddings have NO cosine structure
    // (within-label mean cos == cross-label ≈ 0), so purity-vs-label is
    // not a meaningful gate; the k-means objective is. Lloyd iterations
    // must beat assigning against the raw init centroids (first k
    // vectors) on mean cos-to-assigned-centroid.
    val e = Tables.embeddings(spark, sfDir)
    val init = SimilarityQueries.trainIvfCentroids(e, k = 10, iters = 0)
    import graft.functions.SimilarityFunctions.{bind, cosine}
    def meanAssigned(cents: Array[Seq[Double]]): Double = {
      val arr = array(cents.map(c => cosine(col("embedding"), typedLit(c))).toIndexedSeq: _*)
      e.select(bind(arr)(a => array_max(a)).as("m")).agg(avg("m")).head().getDouble(0)
    }
    val trained = SimilarityQueries.trainIvfCentroids(e, k = 10, iters = 5)
    val (mInit, mTrained) = (meanAssigned(init), meanAssigned(trained))
    assert(mTrained > mInit + 0.01,
      s"Lloyd iterations must materially improve the objective: init=$mInit trained=$mTrained")
  }

  test("dedup clustering equals union-find over the same near-dup pair graph") {
    val comp = QueryRegistry
      .queries("q_dedup_clusters")(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
      .as[(Long, Long)]
      .collect()
      .toMap
    // The same pair graph the clustering query consumes (exact n-gram
    // Jaccard — SQL-expressible, so the registry query is also oracled).
    val pairs = QueryRegistry
      .queries("q_ngram_jaccard")(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
      .as[(Long, Long)]
      .collect()

    // Ground truth: union-find over the identical pair set, labeled by the
    // min id of each set — the same canonicalization the operator promises.
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = comp.keys.map(id => id -> find(id)).toMap

    assert(comp.size == Tables.documents(spark, sfDir).count() * 2,
      "every document (base + planted) must get a cluster id")
    assert(comp == expected,
      "min-label propagation must produce exactly the union-find partition")
    assert(pairs.forall { case (a, b) => comp(a) == comp(b) },
      "every near-dup pair must share a cluster")
  }

  test("ANN top-1 quality ratio vs brute force stays high for every query") {
    // The synthetic embeddings are near-uniform (median true top-1 cosine
    // ~0.36, per-hyperplane agreement ~0.61): on that geometry NO
    // sub-linear ANN finds the identical top-1 reliably — that is the
    // curse of dimensionality, not an implementation property. The honest
    // ANN metric is the quality ratio: the approximate top-1 must be a
    // genuinely comparable neighbor, on every single query, from a
    // bucket/cell-bounded candidate set.
    def top1cosDf(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.filter(col("rn") === 1)
        .select(col("query_id"), col("cos_sim"))
        .as[(Long, Double)]
        .collect()
        .toMap
    val exact = top1cosDf(QueryRegistry.queries("q_embed_cosine_knn")(spark, sfDir))
    assert(exact.size == 10)
    // IVF's k-means-trained cells carve the sphere better than fixed
    // hyperplane signs, so its gate is tighter (mean > 0.9) than LSH's;
    // IVF-PQ ranks by code but refines exactly, so it holds the same bar.
    // Gate the PRODUCTION candidate pipelines — the registered queries are
    // their banded-report wrappers (annBandedReport) for the driver gate.
    val annPipelines = Seq[(String, Double, org.apache.spark.sql.DataFrame)](
      ("q_ann_lsh", 0.9, SimilarityQueries.annLshNeighbors(spark, sfDir)),
      ("q_ann_ivf", 0.9, SimilarityQueries.annIvfNeighbors(spark, sfDir)),
      ("q_ann_ivfpq", 0.9, SimilarityQueries.annIvfPqNeighbors(spark, sfDir))
    )
    for ((ann, meanFloor, df) <- annPipelines) {
      val approx = top1cosDf(df)
      assert(approx.size == 10, s"$ann must return a top-1 for every query")
      val ratios = exact.map { case (q, c) => approx(q) / c }
      info(s"$ann quality ratios: min=${ratios.min} mean=${ratios.sum / ratios.size}")
      assert(ratios.forall(_ > 0.6), s"$ann worst quality ratio ${ratios.min}")
      assert(ratios.sum / ratios.size > meanFloor, s"$ann mean quality ratio ${ratios.sum / ratios.size}")
    }
  }

  test("connected components switches to durable checkpoints when a checkpoint dir is set") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    // The checkpoint dir is session-global: restore the unset state after
    // (setCheckpointDir(null) clears it) so every other suite keeps
    // exercising the localCheckpoint path the bench uses.
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
      val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
      val comp = graft.operators.GraphOps
        .connectedComponents(nodes, edges)
        .as[(Long, Long)]
        .collect()
        .toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
      // The cluster-scale lineage truncation must actually have written
      // durable checkpoint data, not fallen back to localCheckpoint.
      def files(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(files).sum else 1
      assert(files(new java.io.File(dir)) > 0, "no durable checkpoint files written")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("connected components converge on a 50-node path, however many rounds it takes") {
    // Min-label propagation moves a label one hop per round, so node 50
    // needs 49 rounds to learn label 1.
    val nodes = (1L to 50L).toDF("id")
    val edges = (1L until 50L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = graft.operators.GraphOps.connectedComponents(nodes, edges).as[(Long, Long)].collect().toMap
    assert(comp == (1L to 50L).map(_ -> 1L).toMap, s"node 50 ended with label ${comp(50L)}")
  }

  test("minhash pairs skip documents too short to shingle, without error") {
    // Three 2-word documents have no word 3-grams; their planted copies
    // neither. Doc 5's planted copy is the one near-dup pair.
    val dir = java.nio.file.Files.createTempDirectory("short_docs").toString
    val text = "the quick brown fox jumps over the lazy dog while seven wise owls count the silver stars above"
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (4L, "epsilon zeta"), (5L, text))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val pairs = SimilarityQueries.minhashPairs(spark, dir).select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((5L, 1000005L)))
    // The incremental twin: batch = doc 4 + doc 5's copy, index = docs 1, 2, 5.
    val matches = SimilarityQueries.incrementalMinhashMatches(spark, dir)
      .select("batch_id", "match_id").as[(Long, Long)].collect()
    assert(matches.toSeq == Seq((1000005L, 5L)))
  }

  test("q_dedup_clusters and q_survivorship run no more Spark jobs than the baseline") {
    // Baseline: the job counts before the pair family moved into DedupOps
    // (27 and 32, a warm second run at sf0.001). A warm run leaves out the
    // first read's schema inference.
    for ((q, budget) <- Seq("q_dedup_clusters" -> 27, "q_survivorship" -> 32)) {
      QueryRegistry.queries(q)(spark, sfDir).collect()
      val (_, jobs) = jobsDuring(QueryRegistry.queries(q)(spark, sfDir).collect())
      info(s"$q: $jobs jobs")
      assert(jobs <= budget, s"$q ran $jobs jobs, over its budget of $budget")
    }
  }

  test("bandedPairs hot-bucket guard: 1,000 identical docs link in O(k), not O(k²)") {
    // Pathology the composed pipeline normally prevents by running exact
    // dedup FIRST (LlmPipelineSpec): k byte-identical docs share every band
    // bucket, and all-pairs there is C(1000,2) = 499,500 candidates. Above
    // the occupancy cap the bucket must switch to star linking — every
    // member pairs with the bucket minimum, 999 candidates — while a
    // healthy (under-cap) bucket keeps exact all-pairs enumeration.
    val hot = spark.range(1000).select(col("id").as("doc_id"), array(lit(42L), lit(7L)).as("bands"))
    val cold = spark
      .range(2000, 2005)
      .select(col("id").as("doc_id"), array(lit(99L), col("id") + 100L).as("bands"))
    val pairs = graft.operators.DedupOps
      .bandedPairs(hot.unionAll(cold), maxBucket = 8)
      .as[(Long, Long)]
      .collect()
    val hotPairs = pairs.filter(_._2 < 1000L)
    val coldPairs = pairs.filter(_._2 >= 2000L)
    assert(hotPairs.length == 999, s"hot bucket must star-link, got ${hotPairs.length} pairs")
    assert(hotPairs.forall(_._1 == 0L), "star pairs must anchor at the bucket minimum")
    assert(coldPairs.length == 10, s"healthy bucket must stay all-pairs C(5,2), got ${coldPairs.length}")
    // Connectivity is preserved: every duplicate reaches the representative.
    assert(hotPairs.map(_._2).toSet == (1L until 1000L).toSet)
  }

  test("bandedPairs default cap never fires on healthy occupancy") {
    // 100 docs in one bucket is far under the 4096 default: output must be
    // the exact all-pairs set.
    val df = spark.range(100).select(col("id").as("doc_id"), array(lit(5L)).as("bands"))
    assert(graft.operators.DedupOps.bandedPairs(df).count() == 100L * 99 / 2)
  }
}
