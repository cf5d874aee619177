package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SimilarityFunctions._

/** The near-dup candidate policy of the dedup family (minhash, n-gram
  * Jaccard, containment, substring, incremental and clustering near-dup):
  * a df-capped inverted index over per-document keys, the pairs that share
  * a minimum number of keys, then an exact verify. Candidates always come
  * from an equi-join on keys, never an O(n²) cross join, so the same plan
  * holds at 100 TB.
  *
  * Postings are (doc_id, key columns…) rows; pair tables are (doc_a,
  * doc_b). Every pair join is merge-hinted: the two sides of a self-join
  * are then identical shuffle subtrees, so exchange reuse computes the
  * sketch and its explode once instead of once per side (PlanAuditSpec
  * pins the reuse).
  *
  * Postings come from an OUTER explode plus a not-null filter on the
  * exploded key, which drops empty and NULL arrays as a plain explode
  * does. A plain explode of a computed array makes Spark infer
  * `size(arr) > 0 AND isnotnull(arr)` and push it below the projection
  * that computes the array, which then runs the sketch kernel once more
  * per document (DedupOpsSpec counts the calls).
  */
object DedupOps {

  /** Minhash sketch of a (doc_id, text) table: (doc_id, sh, bands), the
    * mod-P hashed word-3-gram set and its 16 × 4 LSH band hashes. A band
    * fires with probability J⁴, so candidates target J ≥ ~0.5.
    *
    * Documents with fewer than 3 tokens have no shingles and get NULL
    * bands, so they post no band and never pair: every empty set gets the
    * same signature, so they would share every band bucket and their
    * Jaccard would be 0/0. (Filtering them out instead would push
    * `size(sh) > 0` below the projection and run the shingle kernel twice.)
    */
  def minhashSketch(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), hashedShingles(col("text")).as("sh"))
      .withColumn("bands", when(size(col("sh")) > 0, minhashBands(col("sh"))))

  /** The key of band postings. */
  val BandKey: Seq[String] = Seq("band_idx", "band_hash")

  /** Band postings (doc_id, band_idx, band_hash) of a (doc_id, bands) table. */
  def bandPostings(withBands: DataFrame): DataFrame =
    withBands
      .select(col("doc_id"), posexplode_outer(col("bands")).as(BandKey))
      .filter(col("band_idx").isNotNull)

  /** Key postings (keep…, sh_key) of a (…, sh) set table, one per element. */
  def setPostings(sets: DataFrame, keep: String*): DataFrame =
    sets.select(keep.map(col) :+ explode_outer(col("sh")).as("sh_key"): _*).filter(col("sh_key").isNotNull)

  /** Postings plus `df`, the number of postings that share the key. The
    * window form, not an aggregate joined back: the window's hash
    * partitioning and sort on the key are exactly what the sort-merge pair
    * join downstream needs, so counting costs no second pass over the
    * index.
    */
  private def withDf(postings: DataFrame, key: Seq[String]): DataFrame =
    postings.withColumn("df", count(lit(1)).over(Window.partitionBy(key.map(col): _*)))

  /** The df-capped inverted index: the postings whose key at most `maxDf`
    * postings share. The cap bounds the worst bucket at C(maxDf, 2) pairs,
    * so pair work stays linear in n however much boilerplate the corpus
    * holds; the price is that a pair sharing only keys above the cap is
    * never a candidate.
    */
  def cappedIndex(postings: DataFrame, key: Seq[String], maxDf: Int): DataFrame =
    withDf(postings, key).filter(col("df") <= maxDf).drop("df")

  /** Postings `a` and `b` joined on equal keys, sides aliased "a" and "b". */
  private def keyJoin(a: DataFrame, b: DataFrame, key: Seq[String]): DataFrame =
    a.as("a")
      .hint("merge")
      .join(b.as("b").hint("merge"), key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))

  private def selfKeyJoin(idx: DataFrame, key: Seq[String]): DataFrame =
    keyJoin(idx, idx, key).filter(col("a.doc_id") < col("b.doc_id"))

  private def countShared(joined: DataFrame, minShared: Int): DataFrame =
    joined
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** (doc_a < doc_b, n_shared): the pairs of one index that share at least
    * `minShared` keys.
    */
  def sharedKeyPairs(idx: DataFrame, key: Seq[String], minShared: Int): DataFrame =
    countShared(selfKeyJoin(idx, key), minShared)

  /** (doc_a, doc_b, n_shared): each `batch` doc paired with the `index`
    * docs it shares at least `minShared` keys with. Batch docs never pair
    * with each other, nor index docs with each other.
    */
  def probePairs(batch: DataFrame, index: DataFrame, key: Seq[String], minShared: Int): DataFrame =
    countShared(keyJoin(batch, index, key), minShared)

  /** The exact verify: each candidate (doc_a, doc_b) scored by the Jaccard
    * of its full key sets in `sets` (doc_id, sh), kept at ≥ `minJ`. Neither
    * the df cap nor the shared-key floor can bias the score. Returns
    * (doc_a, doc_b, jaccard, na, nb), na and nb being the two set sizes.
    */
  def verifiedJaccard(cand: DataFrame, sets: DataFrame, minJ: Double): DataFrame =
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"),
        col("doc_b"),
        jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"),
        size(col("sa.sh")).as("na"),
        size(col("sb.sh")).as("nb")
      )
      .filter(col("jaccard") >= minJ)

  /** Candidate pairs that co-occupy any LSH band bucket: input must have
    * (doc_id, bands: array<long>). One shuffle on (band_idx, band_hash).
    *
    * HOT-BUCKET GUARD: a pathological corpus (thousands of byte-identical
    * docs that exact dedup should have removed first — the composed
    * pipeline orders it so, see LlmPipelineSpec) puts k copies into ONE
    * band bucket, and all-pairs enumeration there is O(k²) no matter how
    * well the LSH is sized. Buckets above `maxBucket` occupancy therefore
    * switch to STAR linking — every member pairs with the bucket's minimum
    * doc_id, O(k) — which preserves what a dedup/clustering consumer needs
    * (connectivity: all members reach one representative, and the verify
    * still scores each star pair exactly). The default cap (4096) is
    * 16-64× the target bucket occupancy of every caller: it can only fire
    * on pathology, never on a healthy corpus.
    *
    * RECALL CAVEAT: star linking only emits (bucket-min, member) pairs. If
    * an over-cap bucket ever held docs that are mutually similar but
    * DISSIMILAR to the bucket minimum, those pairs fail downstream verify
    * and that connectivity is lost — a broader loss than the
    * byte-identical pathology the guard targets. That shape requires a
    * bucket where >4096 docs collide on a band without sharing similarity
    * to its min (i.e., a badly undersized LSH, not a duplicate burst);
    * recall-sensitive callers should raise `maxBucket` or resize the
    * banding instead.
    */
  def bandedPairs(withBands: DataFrame, maxBucket: Int = 4096): DataFrame = {
    val postings = withDf(bandPostings(withBands), BandKey)
      .withColumn("mn", min(col("doc_id")).over(Window.partitionBy(BandKey.map(col): _*)))
    val cold = postings.filter(col("df") <= maxBucket).select("doc_id", BandKey: _*)
    val starPairs = postings
      .filter(col("df") > maxBucket && col("doc_id") =!= col("mn"))
      .select(col("mn").as("doc_a"), col("doc_id").as("doc_b"))
    selfKeyJoin(cold, BandKey)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .unionAll(starPairs)
      .distinct()
  }

  /** Byte-band near-dup pairs (doc_a, doc_b, hamming) over any (doc_id,
    * sig) 64-bit sketch table — simhash, image dHash/pHash and audio
    * energy contours: 8 byte-bands via posexplode (pigeonhole-complete for
    * hamming ≤ 7), with the hamming cut inside the band join so hot buckets
    * stream through the verify instead of materializing an unfiltered
    * candidate set.
    *
    * IDENTICAL-SIG GUARD (the [[bandedPairs]] hot-bucket guard's
    * sketch-space twin): a real corpus carries mass-identical sketches —
    * silence clips, solid-color thumbnails, boilerplate pages — and an
    * m-member identical-sig group makes the pair OUTPUT itself m²/2 rows;
    * no join strategy fixes a quadratic result set. Groups above
    * `maxGroup` therefore collapse to STAR links (every member → the
    * group's min doc_id, hamming 0) and send ONLY that min into the band
    * join as the group's representative. Unlike LSH-bucket star links this
    * is LOSSLESS for the hamming ≤ 7 relation: members of one group are
    * byte-identical, so every collapsed pair is reachable through the
    * representative (member —0— min —h— other). The cap only fires on
    * pathology: every registered fixture keys its sketches off per-doc
    * content, so groups stay 1-2 at any test SF and the output equals the
    * unguarded form.
    *
    * CAVEAT: once the cap DOES fire, the table is complete only
    * TRANSITIVELY — a non-representative member reaches its hamming ≤ 7
    * neighbors through the representative, not by a direct row. Any
    * consumer that counts DIRECT pairs (the planted-recall bands of
    * q_dedup_images / q_phash_images / q_dedup_audio) therefore assumes
    * identical-sig groups stay ≤ maxGroup; ByteBandGuardSpec pins both the
    * collapsed form's reachability and that the registered fixtures never
    * trip the cap. A recall audit over a corpus with real mega-groups must
    * count reachability (one hop through the representative), not direct
    * rows.
    */
  def byteBandPairsUnsorted(sigs: DataFrame, maxGroup: Int = 256): DataFrame = {
    val grouped = withDf(sigs, Seq("sig"))
      .withColumn("gmn", min(col("doc_id")).over(Window.partitionBy(col("sig"))))
    val star = grouped
      .filter(col("df") > maxGroup && col("doc_id") =!= col("gmn"))
      .select(col("gmn").as("doc_a"), col("doc_id").as("doc_b"), lit(0).cast("int").as("hamming"))
    val exploded = grouped
      .filter(col("df") <= maxGroup || col("doc_id") === col("gmn"))
      .select(col("doc_id"), col("sig"), posexplode(simhashByteBands(col("sig"))).as(BandKey))
    selfKeyJoin(exploded, BandKey)
      .filter(hammingPacked(col("a.sig"), col("b.sig")) <= 7)
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        hammingPacked(col("a.sig"), col("b.sig")).as("hamming")
      )
      .unionAll(star)
      .distinct()
  }

  /** [[byteBandPairsUnsorted]] ordered by (doc_a, doc_b) — the pair-table
    * contract the specs consume. The registered audits only aggregate over
    * the pairs, so they take the unsorted form and skip the sort's range
    * exchange.
    */
  def byteBandPairs(sigs: DataFrame, maxGroup: Int = 256): DataFrame =
    byteBandPairsUnsorted(sigs, maxGroup).orderBy(col("doc_a"), col("doc_b"))
}
