package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.operators.{EtlOps, VectorOps}

/** The full LLM training-data curation pipeline, composed end-to-end from
  * the engine's own operators — the "can a user actually run their whole
  * flow on this" test: language ID → quality filter → repetition filter →
  * exact dedup → near-dup cluster canonicalization → benchmark
  * decontamination → deterministic sampling → token accounting. Every
  * stage's row count is checked against an independently computed
  * expectation, so the composition (not just each operator alone) is
  * pinned. All stages are declarative plans; nothing collects except the
  * final assertions.
  */
class LlmPipelineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("curation flow: filters → dedup → clusters → decontaminate → sample → tokens") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()

    // 0. Ingest hygiene: encoding-artifact gate (U+FFFD, C0 controls,
    //    mojibake) BEFORE any hashing or tokenization. The synthetic
    //    corpus is clean, so the gate must pass everything through —
    //    the stage is wired where a real crawl would shed rows.
    val enc = QueryRegistry.queries("q_encoding_artifacts")(spark, sfDir)
      .filter(col("is_clean")).select("doc_id")
    val hygienic = docs.join(enc, "doc_id")
    assert(hygienic.count() == total, "synthetic corpus must be encoding-clean")

    // 1. Language gate (marker-based ID; synthetic corpus is en-ish).
    val langed = hygienic.filter(langId(col("text")) =!= "und")

    // 2. Quality gate: alphabetic density + stopword presence.
    val quality = langed.filter(alphaRatio(col("text")) > 0.7 && stopwordRatio(col("text")) >= 0.02)

    // 3. Repetition gate: one-pass kernel stats, plus the compression-
    //    ratio tails (templated boilerplate compresses ≪ prose; binary
    //    spillage ≈ 1.0). The tails come from the production
    //    compressionRatioTable — the registered q_compression_ratio is
    //    its banded audit wrapper, so this is the tail flags' consumer.
    val compKeep = TextQueries.compressionRatioTable(spark, sfDir)
      .filter(!col("too_repetitive") && !col("binary_like"))
      .select("doc_id")
    val rep = quality
      .filter(element_at(wordRepStats(col("text")), 1) <= 0.2)
      .join(compKeep, "doc_id")
    assert(rep.count() <= quality.count() && quality.count() <= langed.count())

    // 3a. Tokenizer fertility gate: drop docs the tokenizer fragments
    //     hardest (top ~2% fertility = BPE tokens per word) — the
    //     out-of-domain signal. Data-derived threshold, deterministic.
    val fert = TextQueries.bpeTokenTable(spark, sfDir)
      .select("doc_id", "fertility")
    val fertCut = fert.agg(expr("percentile(fertility, 0.98)")).head().getDouble(0)
    val fertKept = rep.join(fert.filter(col("fertility") <= fertCut), "doc_id")
    assert(fertKept.count() <= rep.count() && fertKept.count() >= (rep.count() * 0.9).toLong,
      "the p98 fertility cut must drop at most ~10% of surviving docs")

    // 3b. Corpus-LM quality gate: drop the worst-perplexity tail (above the
    //     in-corpus p95 of mean bigram surprisal — the CCNet-style cut).
    //     The threshold is data-derived but deterministic, so the stage is
    //     reproducible run to run.
    val lm = QueryRegistry.queries("q_lm_quality")(spark, sfDir)
      .select("doc_id", "cross_entropy")
    val ceCut = lm.agg(expr("percentile(cross_entropy, 0.95)")).head().getDouble(0)
    val lmKept = fertKept.join(lm.filter(col("cross_entropy") <= ceCut), "doc_id")
    assert(lmKept.count() <= fertKept.count() && lmKept.count() >= (fertKept.count() * 0.85).toLong,
      "the p95 CE cut must drop at most ~5% of surviving docs")

    // 3b'. Model-based quality scoring: train the hashing-trick classifier
    //     on a bounded sample (teacher = the chain's own rule-based
    //     quality gate — the distillation pattern: at 100 TB the cheap
    //     fused-kernel score replaces the multi-expression teacher) and
    //     ANNOTATE the surviving docs. The chain pins the stage's
    //     mechanical contract — valid probabilities, bit-determinism,
    //     count-preserving annotation; learning quality is gated on the
    //     planted corpus in ClassifierSpec.
    val teacher = (alphaRatio(col("text")) > 0.7 && stopwordRatio(col("text")) >= 0.02).as("y")
    val clsSample = docs
      .filter(pmod(col("doc_id"), lit(3)) < 2)
      .select(col("doc_id"), col("text"), teacher)
      .orderBy("doc_id").limit(512)
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toSeq
    val clsModel = graft.operators.TextClassifier.train(clsSample)
    def scoreChain() = lmKept.withColumn("q_score",
      linearTextScore(col("text"), clsModel.weights.toSeq, clsModel.bias))
    val scored = scoreChain()
    assert(scored.count() == lmKept.count(), "scoring must annotate, never drop")
    assert(scored.filter(col("q_score") < 0.0 || col("q_score") > 1.0).count() == 0,
      "scores must be valid probabilities")
    assert(scoreChain().except(scored).isEmpty, "classifier scoring must be deterministic")

    // 3c. Paragraph-level dedup: rewrite each surviving doc from its
    //     globally-first-occurrence chunks. Token mass can only shrink,
    //     and no doc may gain text.
    val paraTokens = QueryRegistry.queries("q_dedup_paragraphs")(spark, sfDir)
      .filter(col("doc_id") < 1000000L)
      .select(col("doc_id"), tokenCount(col("text_dedup")).as("n_para_tokens"))
    val withPara = lmKept
      .withColumn("n_tokens", tokenCount(col("text")))
      .join(paraTokens, "doc_id")
    assert(withPara.filter(col("n_para_tokens") > col("n_tokens")).count() == 0,
      "paragraph dedup may never grow a document")

    // 4. Exact dedup: content hash, min doc_id canonical. ORDERING MATTERS:
    //    exact dedup runs BEFORE any banded near-dup stage so byte-identical
    //    copies can never pile k docs into one LSH bucket (the O(k²)
    //    pathology bandedPairs' hot-bucket guard exists for — see
    //    DedupRecallSpec's 1,000-copy test for the guard itself).
    val exact = EtlOps.dedupByKey(lmKept.withColumn("h", md5(col("text"))), Seq("h"), "doc_id").drop("h")
    val distinctTexts = lmKept.select(md5(col("text"))).distinct().count()
    assert(exact.count() == distinctTexts, "exact dedup must keep exactly one doc per distinct text")

    // 5. Near-dup canonicalization: keep each cluster's canonical doc.
    //    (q_dedup_clusters runs over the planted corpus; a real doc always
    //    outranks its planted copy, so restricting to real ids is exact.)
    val canon = QueryRegistry
      .queries("q_dedup_clusters")(spark, sfDir)
      .filter(col("is_canonical") && col("doc_id") < 1000000L)
      .select("doc_id")
    val dedup = exact.join(canon, "doc_id")
    assert(dedup.count() <= exact.count())

    // 6. Decontamination: drop docs sharing 13-grams with the benchmark
    //    slice. At scale the Bloom-broadcast form probes membership
    //    map-side; it can only over-scrub (zero false negatives), so the
    //    pipeline uses it and the exact form bounds it from below.
    val contaminated = QueryRegistry
      .queries("q_decontaminate")(spark, sfDir)
      .select("doc_id")
    val bloomFlagged = QueryRegistry
      .queries("q_decontaminate_bloom")(spark, sfDir)
      .select("doc_id")
    val clean0 = dedup.join(bloomFlagged, Seq("doc_id"), "left_anti")
    val cleanExact = dedup.join(contaminated, Seq("doc_id"), "left_anti")
    assert(clean0.count() <= cleanExact.count(),
      "bloom scrub may only remove MORE than the exact scrub, never less")
    assert(cleanExact.join(clean0, Seq("doc_id"), "left_anti").count() ==
      cleanExact.count() - clean0.count())
    //    ...and the character-window scrub on top: catches verbatim leaks
    //    that word tokenization misses (32 chars ≈ 5-6 words, so it flags
    //    at least as aggressively in practice; no containment theorem —
    //    a 13-gram of one-letter words is shorter than 32 chars).
    val charFlagged = QueryRegistry
      .queries("q_decontaminate_chars")(spark, sfDir)
      .select("doc_id")
    val clean = clean0.join(charFlagged, Seq("doc_id"), "left_anti")
    assert(clean.count() <= clean0.count())

    // 7. Source cap + language balance: the mix-shaping stages every
    //    pretraining corpus applies before sampling.
    val capped = clean.join(
      QueryRegistry.queries("q_cap_per_source")(spark, sfDir).select("doc_id"), "doc_id")
    val balanced = capped.join(
      QueryRegistry.queries("q_balanced_sample")(spark, sfDir).select("doc_id"), "doc_id")
    assert(balanced.count() <= capped.count() && capped.count() <= clean.count())

    // 8. Deterministic sample: md5-prefix threshold (the same idiom as
    //    q_deterministic_sample), reproducible across runs. '8' keeps
    //    hashes starting 0-7 ≈ half the corpus.
    def half(df: org.apache.spark.sql.DataFrame) =
      df.filter(md5(col("doc_id").cast("string")) < "8")
    val sampled = half(balanced)
    val again = half(balanced)
    assert(sampled.count() == again.count())
    assert(sampled.exceptAll(again).isEmpty, "sampling must be deterministic")

    // 9. Token accounting: the number a training run actually budgets by.
    val tokens = sampled.agg(sum(tokenCount(col("text")))).as[Long].head()
    assert(sampled.count() > 0 && tokens > 0)

    // 10. Train/val/test split: the registry assignment restricted to the
    //     surviving docs — every doc lands in exactly one split, and the
    //     md5-prefix shares stay near 80/10/10 (binomial tolerance; the
    //     same assignment is growth-stable per QueryRegistrySpec).
    val split = QueryRegistry
      .queries("q_train_test_split")(spark, sfDir)
      .select("doc_id", "split")
    val withSplit = sampled.join(split, "doc_id")
    val nSampled = sampled.count()
    assert(withSplit.count() == nSampled, "every sampled doc must get exactly one split")
    val shares = withSplit.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(shares.values.sum == nSampled)
    val trainShare = shares.getOrElse("train", 0L).toDouble / nSampled
    assert(trainShare > 0.65 && trainShare < 0.92, s"train share off 0.8: $trainShare ($shares)")

    // 11. Pack the train split into fixed 8192-token contexts with the
    //     hierarchical prefix sum. Budget invariant downstream of EVERY
    //     prior stage: no shard exceeds the budget before its final doc
    //     (sum − max < budget ⇒ the packer only ever overflows by the one
    //     doc that closes the shard).
    val train = withSplit
      .filter(col("split") === "train")
      .select(col("doc_id"), col("lang"), col("source"),
        floor(col("n_chars") / 4.0).cast("long").as("n_tok"))
    val packed = EtlOps.packShards(train, Seq("lang", "source"), "doc_id", "n_tok", 8192L, 128L)
    assert(packed.count() == train.count(), "packing must assign every train doc a shard")
    val burst = packed
      .groupBy("lang", "source", "shard_id")
      .agg(sum("n_tok").as("tok"), max("n_tok").as("mx"))
      .filter(col("tok") - col("mx") >= 8192L)
      .count()
    assert(burst == 0L, "a shard exceeded the token budget before its closing doc")

    // 12. Sampling weights over the packed train corpus (N/(K·cnt)): the
    //     weighted token mass must reproduce the corpus total exactly —
    //     the invariant that makes temperature-style reweighting unbiased.
    val nTrain = train.count()
    val k = train.select("lang").distinct().count()
    val weighted = train
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
      .select(sum(col("cnt") * (lit(nTrain) / (lit(k) * col("cnt")))).as("m"))
      .as[Double].head()
    assert(math.abs(weighted - nTrain.toDouble) < 1e-6 * nTrain,
      s"weights must be mass-preserving: $weighted vs $nTrain")

    // 13. Mix report over the final corpus: shares partition the corpus
    //     (sum to 1) and every surviving (lang, source) stream appears.
    val mix = train
      .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
      .withColumn("share", col("n_docs") / lit(nTrain.toDouble))
    val shareSum = mix.agg(sum("share")).as[Double].head()
    assert(math.abs(shareSum - 1.0) < 1e-9, s"mix shares must sum to 1: $shareSum")
    assert(mix.count() == train.select("lang", "source").distinct().count())

    info(s"pipeline: $total docs → ${langed.count()} lang → ${quality.count()} quality → " +
      s"${rep.count()} rep → ${fertKept.count()} fert → ${lmKept.count()} lm → " +
      s"${exact.count()} exact → ${dedup.count()} canon → " +
      s"${clean.count()} clean → ${capped.count()} capped → ${balanced.count()} balanced → " +
      s"$nSampled sampled ($shares) → ${packed.agg(max("shard_id")).as[Long].head() + 1} max shards/stream → " +
      s"$tokens tokens")
  }

  test("semantic chain: kmeans topics → semdedup keepers → int8 quantization of the survivors") {
    // The embedding-side counterpart of the text chain above: topic-bucket
    // the corpus, semantically dedup it, quantize what survives — each
    // stage consuming the previous stage's output, with invariants at the
    // seams (the text chain's stages cannot check these).
    val base = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val total = base.count()
    val planted = Tables.embeddings(spark, sfDir).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) => when(i === 0, x + lit(0.05f)).otherwise(x))
        .as("embedding")
    )
    val corpus = base.unionAll(planted)

    // 1. Topic clustering: every base vector gets a cluster. (Production
    // assignment table — the registered query is its banded report.)
    val clusters = VectorOps
      .kmeansAssignments(spark, sfDir)
      .select("vec_id", "cluster")
    assert(clusters.count() == total, "every base vector gets a topic cluster")

    // 2. SemDeDup over the planted corpus; survivors = corpus minus drops.
    // (Production drop table — the registered query is its banded report.)
    val drops = VectorOps.semdedupProduction(spark, sfDir).cache()
    val survivors = corpus.join(drops.select("vec_id"), Seq("vec_id"), "left_anti").cache()
    assert(survivors.count() == corpus.count() - drops.count(), "drops must partition the corpus")
    // Keeper integrity ON THIS CORPUS: drops are planted copies whose
    // keeper is their base original, and no base vector is ever dropped —
    // so every keeper survives and the deduped corpus retains one
    // representative per dropped vector. (Deliberately not claimed as a
    // general SemDeDup theorem: on a corpus with >2-deep duplicate chains
    // a keeper can itself be dropped — cos 0.995 does not compose.)
    val orphaned = drops
      .join(survivors.select(col("vec_id").as("keeper")), Seq("keeper"), "left_anti")
      .count()
    assert(orphaned == 0L, s"$orphaned dropped vectors lost their keeper")
    // Topic coverage survives the dedup: no cluster empties out.
    val clustersAfter = clusters
      .join(survivors.select("vec_id"), "vec_id")
      .select("cluster")
      .distinct()
      .count()
    assert(clustersAfter == 10L, "semdedup must not empty a topic cluster")

    // 3. Quantize the surviving base corpus: one int8 row per survivor,
    //    inside the committed half-step error bound (rounded-output
    //    tolerance 1e-6: both columns egress rounded to 6 decimals).
    val q = QueryRegistry.queries("q_embed_quantize")(spark, sfDir)
    val qSurv = q.join(survivors.select("vec_id"), "vec_id").cache()
    assert(qSurv.count() == survivors.filter(col("vec_id") < 1000000L).count(),
      "every surviving base vector must quantize")
    assert(qSurv.filter(col("max_err") > col("scale") / 2 + 1e-6).count() == 0L,
      "int8 reconstruction error must stay within half a quantization step")
    info(s"semantic chain: ${corpus.count()} corpus → ${drops.count()} dropped → " +
      s"${survivors.count()} survivors → ${qSurv.count()} quantized")
    drops.unpersist()
    survivors.unpersist()
    qSurv.unpersist()
  }
}
