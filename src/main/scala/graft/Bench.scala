package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Per-query timings of the PREVIOUS bench record (the bench.json sitting
    * in cwd before this run overwrites it). Cross-round wall-clock totals
    * have never been directly comparable — the host drifts 1.5-2× same-code
    * between rounds (r11 measured 84.7-154 s for identical bits) and each
    * round adds queries — so every comparison so far needed by-hand
    * archaeology: restrict both runs to the shared query set, sum, ratio.
    * This run computes that ratio itself and carries it in the emitted
    * record as `shared_sum_vs_prev` (this run's shared-set sum ÷ previous
    * record's shared-set sum; > 1 means this run was slower on identical
    * queries — host drift or regression, to be told apart per-query) with
    * `shared_n` as the overlap size. Parsed with the Jackson that ships in
    * Spark's own classpath; a missing/unparseable previous file degrades to
    * an absent field, never a failed bench.
    */
  private def prevQueryTimes(path: java.nio.file.Path): Map[String, Double] =
    try {
      if (!java.nio.file.Files.isRegularFile(path)) Map.empty
      else {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
          java.nio.file.Files.readString(path))
        val qs = root.path("queries")
        if (!qs.isObject) Map.empty
        else {
          val b = Map.newBuilder[String, Double]
          qs.propertyStream().forEach { e =>
            if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
          }
          b.result()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Snapshot the previous record BEFORE the end-of-run overwrite.
    val prev = prevQueryTimes(java.nio.file.Paths.get("bench.json"))
    // Bench temp space on a RAM disk when one exists: the q_stream_*
    // queries' run-to-run variance was dominated by fsync-heavy
    // checkpoint/state-store commits on disk-backed /tmp (r4 measured a
    // 41% spread on q_stream_windowed_agg with no code change). The
    // streaming sinks/checkpoints resolve their base through
    // System.getProperty("java.io.tmpdir") AT CALL TIME (EtlQueries
    // .scratchDir) — NOT through the JDK's no-arg createTempDirectory,
    // which snapshots the original property at VM startup and silently
    // ignores this redirect. Scoped to the BENCH process only; the tmpfs
    // dir is deleted on exit (tmpfs outlives the process otherwise —
    // leaked state snapshots would eat RAM across rounds).
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm)) {
      val d = java.nio.file.Files.createTempDirectory(shm, "graft_bench_tmp")
      System.setProperty("java.io.tmpdir", d.toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit))
    }
    // The engine's tuned session (AQE, UTC, broadcast threshold, bloom
    // pruning, GraftExtensions) IS the measured artifact.
    val spark = Engine.localSession()
    // Warm up session machinery (codegen compiler, shuffle system, parquet
    // footer reader) so the alphabetically-first query doesn't absorb ~5s of
    // one-time JVM init into its measurement.
    spark.range(1000000).selectExpr("sum(id) s", "count(*) c").write.format("noop").mode("overwrite").save()
    Tables.nation(spark, sfDir).write.format("noop").mode("overwrite").save()
    // noop sink: full evaluation of every output column (count() would let
    // Spark prune the projections and under-measure). Methodology: min-of-3
    // with a GC between runs — single-shot timings in a shared JVM are
    // dominated by JIT/GC cross-talk from neighboring queries (observed
    // 3-4x swings on identical plans), and min-of-2 still drifted ±18%
    // round-over-round. Queries whose min-of-3 exceeds 1.5s get two more
    // runs and report the MEDIAN of 5 (heavies are shuffle/state-store
    // bound where the min is a lucky outlier, not the steady state). The
    // per-query spread (max-min over runs 2..n — see below) is emitted so
    // a reader can tell a regression from jitter.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: $e")
        }
        val t = (System.nanoTime() - t0) / 1e9
        System.gc()
        t
      }
      val first = Seq(once(), once(), once())
      val runs =
        if (failed(name) || first.min < 1.5) first
        else first ++ Seq(once(), once())
      val sorted = runs.sorted
      val value = if (runs.size >= 5) sorted(runs.size / 2) else sorted.head
      // Spread excludes the FIRST execution (by position, not by rank):
      // run 1 carries plan compile + codegen (~0.3-1s one-time cost) and
      // would swamp the steady-state repeatability the spread exists to
      // expose — but when a GC/JIT spike hits a LATER run instead, that is
      // a genuine repeatability outlier and must stay in the envelope
      // (dropping the max would have hidden it).
      val steady = runs.drop(1)
      val spread = steady.max - steady.min
      (name, value, spread, runs.size)
    }
    def r4(d: Double): Double = math.rint(d * 10000) / 10000
    // A query that throws would otherwise contribute its fast-fail elapsed
    // time and be indistinguishable from a legitimately fast run — drop it
    // from the per-query map and list it explicitly.
    val ok = results.filterNot { case (k, _, _, _) => failed(k) }
    val total = ok.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Jitter envelope actually measured this run: median and p90 of
    // per-query spread as a fraction of the reported value. The four
    // streaming queries report under their OWN envelope — their
    // micro-batch/state-store machinery has a different (and larger)
    // variance profile than batch plans, and folding them into one
    // envelope hid streaming regressions behind batch stability (and vice
    // versa) in rounds 3-4.
    def envelope(rows: Seq[(String, Double, Double, Int)]): Double => Double = {
      val pcts = rows.filter(_._2 > 0).map { case (_, v, sp, _) => 100.0 * sp / v }.sorted
      p => if (pcts.isEmpty) 0.0 else r4(pcts(((pcts.size - 1) * p).toInt))
    }
    val (streamRows, batchRows) = ok.partition(_._1.startsWith("q_stream_"))
    val pct = envelope(batchRows)
    val streamPct = envelope(streamRows)

    // Skew demonstration (SURVEY §5's salting claim, measured): a fact
    // where ONE key carries 80% of the rows, joined with merge hints to
    // pin the shuffle-join regime salting addresses (a broadcastable dim
    // needs no salt). 8M synthesized rows put the hot key's single reducer
    // task around 6.4M rows — under AQE's 256MB skew-split threshold, i.e.
    // exactly the single-hot-key regime AQE leaves alone. Not counted in
    // `total` — the unsalted plan is deliberately the bad one.
    import org.apache.spark.sql.functions._
    val fact = spark
      .range(8000000)
      .select(
        col("id").as("event_id"),
        when(pmod(col("id"), lit(5)) < 4, 0L)
          .otherwise(pmod(col("id"), lit(64))).as("key"),
        (col("id") % 97).cast("double").as("value")
      )
    val dim = spark.range(64).select(col("id").as("key"), (col("id") * 7).as("payload"))
    def skewOnce(salted: Boolean): Double = {
      val t0 = System.nanoTime()
      val joined =
        if (salted) graft.operators.EtlOps.saltedJoin(fact.hint("merge"), dim, "key", saltFactor = 32)
        else fact.hint("merge").join(dim.hint("merge"), "key")
      joined.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val skew = Seq(true, false).map { s =>
      val t1 = skewOnce(s); System.gc(); val t2 = skewOnce(s)
      s -> math.min(t1, t2)
    }.toMap
    val skewJson = s"""{"salted":${r4(skew(true))},"unsalted":${r4(skew(false))}}"""

    // Host-drift normalization (the r11 ledger item): ratio of this run's
    // shared-query sum to the previous record's. Queries only this run has
    // (surface growth) or only the previous record has (renames) are
    // excluded — the ratio compares identical work on the two hosts/days.
    val shared = ok.filter { case (k, _, _, _) => prev.contains(k) }
    // Per-query regression flag, self-normalized against uniform host
    // drift (the r12 ledger item): a 1.29× whole-run drift used to need a
    // manual per-query diff to tell "everything uniformly slower" (host)
    // from "one query regressed" (code). Flag queries whose cur/prev
    // ratio exceeds 1.5× the run's MEDIAN ratio — uniform drift moves the
    // median with it, so only out-of-family movers flag — AND whose
    // drift-normalized EXCESS (cur − prev·median) is ≥ 0.5 s. The excess
    // floor is what keeps a clean run empty: sub-second queries swing
    // 1.5×+ on pure JIT/GC jitter (a 0.27→0.41 s move flagged under a
    // current-time floor in the first shakeout run), but their excess is
    // centiseconds, while a genuine 2× code regression on any query
    // heavy enough to matter clears half a second immediately.
    // Measured-envelope exemption (closes the three-round q_dedup_substrings
    // variance file, r15): its EXCLUSIVE same-code envelope is 1.52-9.17 s
    // (10 back-to-back runs at sf0.1 — 9.17 s on the
    // FIRST execution, monotone decay to a 1.52-1.73 s steady state). The
    // swing is the one-off codegen/JIT compile of its window-hash +
    // inverted-index stages landing wherever the query falls in the run's
    // warmup, not a plan defect — it flagged in r7/r8, r13, and r14 on
    // unchanged code and normalized every time. The median-normalized flag
    // cannot discriminate inside a 6x warmup envelope, so the query is
    // exempted HERE with the measurement as the license; its real scale
    // gate is the SURVEY §6 growth row (x8 exponent 0.72, linear).
    val jitNoisy = Set("q_dedup_substrings")
    val regressions: Seq[String] = {
      val ratios = shared.collect {
        case (k, v, _, _) if prev(k) > 0 && !jitNoisy(k) => (k, v, v / prev(k))
      }
      if (ratios.size < 3) Seq.empty
      else {
        val sortedR = ratios.map(_._3).sorted
        val med = sortedR(sortedR.size / 2)
        ratios.collect {
          case (k, v, r) if r > 1.5 * med && v - prev(k) * med >= 0.5 => k
        }.sorted
      }
    }
    val regressionsJson =
      s""","regressions":${regressions.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val sharedJson =
      (if (shared.isEmpty) ""
       else {
         val prevSum = shared.map { case (k, _, _, _) => prev(k) }.sum
         val curSum = shared.map(_._2).sum
         if (prevSum <= 0) ""
         else s""","shared_sum_vs_prev":${r4(curSum / prevSum)},"shared_n":${shared.size}"""
       }) + regressionsJson

    // r18 (verdict item 1): the stdout line now CARRIES the per-query map —
    // the driver's PERF per-query comparison and scaling block read the
    // emitted line, not bench.json, and came back empty (`n_common: 0`,
    // geomean null) in r17 because the line held only the total. Additive
    // only: every existing field keeps its name and meaning; bench.json
    // additionally records the per-query spread and run counts.
    val qs = ok.map { case (k, v, _, _) => s"\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","n_queries":${ok.size},""" +
        s""""failed":$failedJson,"skew_demo":$skewJson,"spread_median_pct":${pct(0.5)},""" +
        s""""spread_p90_pct":${pct(0.9)},"stream_spread_median_pct":${streamPct(0.5)},""" +
        s""""stream_spread_p90_pct":${streamPct(0.9)}$sharedJson,"queries":$qs,"method":"min3_med5","detail":"bench.json","sf":"$sfDir"}"""
    val spreads = ok.map { case (k, _, sp, _) => s"\"" + k + "\":" + r4(sp) }.mkString("{", ",", "}")
    val runsJson = ok.map { case (k, _, _, n) => s"\"" + k + "\":" + n }.mkString("{", ",", "}")
    val detail = line.dropRight(1) +
      s""","spread":$spreads,"runs":$runsJson}"""
    // sbt prefixes stdout with [info], which broke the driver's JSON parse in
    // round 1 — emit the line on every channel it might read: stdout, stderr
    // (unprefixed by sbt), bench.json in cwd, and $SPARK_GRAFT_BENCH_OUT.
    println(line)
    System.err.println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), detail + "\n")
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), detail + "\n")
    }
    spark.stop()
  }
}
