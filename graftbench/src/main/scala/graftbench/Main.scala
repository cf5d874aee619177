package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Engine, QueryRegistry}

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * Invoked by run.py on the classpath the benchmark's sbt build exports:
  * {{{
  * graftbench.Main <workload> <seed> <seconds> <trace 0|1> <inputDir> <outDir> <queries,...>
  * }}}
  * Sequence: session → gate pass (every operation once, outputs kept for
  * the oracle gate; this is also the JIT warmup) → [[Passes]] timed passes
  * → with trace on, as many traced passes again plus the `functions`
  * kernel rates. Writes `outDir/result.json`; run.py turns it
  * into the metrics line.
  */
object Main {

  /** Timed passes per run: a fixed count, so that every run and every
    * commit reports a median over the same number of passes. Two is what
    * the run budget allows at sf0.01 on a 4-core host (see README.md).
    */
  val Passes = 2

  final case class OpResult(name: String, seconds: Double, error: String)

  /** One line naming an operation's failure, for the run header. */
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputDir, outDir, queryList) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val queries = queryList.split(",").toSeq.filter(_.nonEmpty)
    val tables = s"$inputDir/tables"

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def since(ms: Long) = f"${(System.currentTimeMillis() - ms) / 1e3}%.1f s"
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Engine.session(s"local[$nproc]", nproc)
    System.err.println(s"[graftbench] session ready ${since(jvmStart)} after JVM start")
    val sc = spark.sparkContext

    val ops: Workload =
      if (workload == "etl_incremental") new EtlIncremental(spark, inputDir, s"$outDir/work", queries)
      else new QueryWorkload(spark, tables, queries)

    // Gate pass: every operation once, outputs written for the oracle gate.
    val gateDir = s"$outDir/gate"
    val gateStart = System.currentTimeMillis()
    val gateResults = ops.gatePass(gateDir)
    System.err.println(s"[graftbench] gate pass ${since(gateStart)}")

    val rng = new scala.util.Random(seed)
    val results = mutable.ArrayBuffer.empty[OpResult]
    var heapPeak = 0.0
    var firstOpEpochMs = 0L

    /** One pass: every operation once, in this pass's seeded order. With
      * trace on, the trace is detached once the last operation's events
      * are delivered, so the pass's own bookkeeping (`afterPass`, the heap
      * reading) is not counted as the program's work.
      */
    def runPass(trace: Option[Trace]): Double = {
      val order = ops.order(rng)
      val p0 = System.nanoTime()
      if (firstOpEpochMs == 0L) firstOpEpochMs = System.currentTimeMillis()
      order.foreach { name =>
        val opId = trace.fold(0L)(_.newSpanId())
        sc.setLocalProperty(Trace.OpProp, opId.toString)
        val t0 = System.nanoTime()
        val err =
          try { ops.run(name, new Ctx(trace, opId)); null }
          catch { case e: Throwable => describe(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        trace.foreach { t => t.barrier(); t.record(opId, 0L, opId, s"op:$name", t0, t0 + (dt * 1e9).toLong) }
        sc.setLocalProperty(Trace.OpProp, null)
        if (err != null) System.err.println(s"[graftbench] $name failed: $err")
        if (trace.isEmpty) results += OpResult(name, dt, err)
      }
      val dt = (System.nanoTime() - p0) / 1e9
      trace.foreach(_.detach())
      ops.afterPass(trace.isDefined)
      heapPeak = math.max(heapPeak, liveHeapMb())
      dt
    }

    // Closed loop: [[Passes]] whole passes. `seconds` only caps the loop:
    // no pass starts once three times that has gone by, so a far slower
    // build still ends within the run's time limit. With trace on, untraced
    // and traced passes alternate, so both see the same JIT and cache state.
    val untraced = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val trace = if (traced) Some(new Trace(spark)) else None
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    do {
      untraced += runPass(None)
      trace.foreach { t =>
        t.attach()
        tracedTimes += runPass(Some(t))
      }
    } while (untraced.size < Passes && elapsed < 3 * (if (traced) 2 * seconds else seconds))

    val layer = mutable.LinkedHashMap.empty[String, Double]
    var spans: Seq[Span] = Nil
    trace.foreach { t =>
      val n = tracedTimes.size.toDouble
      t.counts.foreach { case (k, v) => layer(k) = v / n }
      val run = layer.getOrElse("exec.task_run_s", 0.0)
      layer("exec.task_wait_frac") = if (run > 0) 1.0 - layer.getOrElse("exec.task_cpu_s", 0.0) / run else 0.0
      layer("stream.batch_ms_p50") = Stats.median(t.batchMs.toSeq)
      spans = t.allSpans
      layer("build.s") = spans.filter(_.name == "QueryRegistry.build").map(s => (s.endNs - s.startNs) / 1e9).sum / n
      ops.layerMetrics(tracedTimes.size).foreach { case (k, v) => layer(k) = v }
      layer("trace.overhead_ratio") = Stats.median(tracedTimes.toSeq) / Stats.median(untraced.toSeq)
      Kernels.rates(spark, tables).foreach { case (k, v) => layer(k) = v }
    }

    val header = Map[String, Any](
      "nproc" -> nproc,
      "session_threads" -> nproc,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm" -> System.getProperty("java.vm.name").concat(" ").concat(System.getProperty("java.version")),
      "spark" -> spark.version,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "input_dir" -> inputDir,
      "seed" -> seed,
      "trace" -> traced
    )
    val out = Map[String, Any](
      "header" -> header.asJava,
      "first_op_epoch_ms" -> firstOpEpochMs,
      "gate" -> gateResults.map { case (k, v) => k -> (v: Any) }.asJava,
      "ops" -> results.map(r => Map[String, Any](
        "name" -> r.name, "seconds" -> r.seconds, "error" -> r.error).asJava).asJava,
      "untraced_pass_s" -> untraced.toSeq.asJava,
      "heap_live_peak_mb" -> heapPeak,
      "rows_per_pass" -> ops.rowsPerPass,
      "pass_main_rows" -> ops.passMainRows.asJava,
      "oracles" -> queries.flatMap(q => QueryRegistry.oracleSql.get(q).map(q -> _)).toMap.asJava,
      "layer" -> layer.asJava
    )
    val mapper = new ObjectMapper()
    Files.createDirectories(Paths.get(outDir))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(s"$outDir/result.json"), out.asJava)
    if (traced) {
      val w = Files.newBufferedWriter(Paths.get(s"$outDir/spans.jsonl"))
      try spans.foreach { s =>
        w.write(mapper.writeValueAsString(Map[String, Any](
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava))
        w.newLine()
      } finally w.close()
    }
    spark.stop()
  }

  /** Heap in use after a full collection, summed over the heap pools'
    * collection usage: the live set, not garbage awaiting collection.
    */
  def liveHeapMb(): Double = {
    // Twice, with a pause: Spark's ContextCleaner frees shuffle and
    // broadcast state only after a collection has found their handles
    // unreachable, and the second collection reclaims what it freed.
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed)
      .sum / (1024.0 * 1024.0)
  }
}

/** Per-operation tracing context. `span` times a call into one layer and
  * tags the Spark jobs it starts with the span id (and the `build` phase for
  * query builders).
  */
final class Ctx(val trace: Option[Trace], val op: Long) {
  def span[T](name: String, phase: String = "exec")(body: => T): T = trace match {
    case None => body
    case Some(t) =>
      val sc = SparkSession.active.sparkContext
      val id = t.newSpanId()
      val (savedSpan, savedPhase) = (sc.getLocalProperty(Trace.SpanProp), sc.getLocalProperty(Trace.PhaseProp))
      sc.setLocalProperty(Trace.SpanProp, id.toString)
      sc.setLocalProperty(Trace.PhaseProp, phase)
      val t0 = System.nanoTime()
      try body
      finally {
        t.record(id, Option(savedSpan).map(_.toLong).getOrElse(op), op, name, t0, System.nanoTime())
        sc.setLocalProperty(Trace.SpanProp, savedSpan)
        sc.setLocalProperty(Trace.PhaseProp, savedPhase)
      }
  }
}

/** A workload: the operations of one pass and how to run and gate them. */
trait Workload {
  /** One pass's operation names, in the order this pass runs them. */
  def order(rng: scala.util.Random): Seq[String]
  def run(name: String, ctx: Ctx): Unit
  /** Run every operation once and keep its output under `dir` for the
    * oracle gate; returns per-operation gate facts for run.py.
    */
  def gatePass(dir: String): Map[String, Any]
  /** Called after each timed pass, outside the pass timer. */
  def afterPass(traced: Boolean): Unit = ()
  def rowsPerPass: Double
  def passMainRows: Seq[Long] = Nil
  /** Layer metrics per traced pass, from the workload's own facts. */
  def layerMetrics(passes: Int): Map[String, Double] = Map.empty
}

/** Registered queries, each built with its `QueryRegistry` builder and run
  * to a noop sink (every output column evaluated, nothing written).
  */
final class QueryWorkload(spark: SparkSession, tables: String, queries: Seq[String]) extends Workload {
  private val builders = queries.map(q => q -> QueryRegistry.queries(q)).toMap
  private var rows = 0.0

  def order(rng: scala.util.Random): Seq[String] = rng.shuffle(queries)

  def run(name: String, ctx: Ctx): Unit = {
    val df = ctx.span("QueryRegistry.build", "build")(builders(name)(spark, tables))
    ctx.span("exec.noop_write")(df.write.format("noop").mode("overwrite").save())
  }

  def gatePass(dir: String): Map[String, Any] = {
    val facts = queries.map { q =>
      val path = s"$dir/$q.parquet"
      q -> (try {
        builders(q)(spark, tables).coalesce(1).write.mode("overwrite").parquet(path)
        "ok"
      } catch { case e: Throwable =>
        org.apache.commons.io.FileUtils.deleteQuietly(new File(path))
        Main.describe(e)
      })
    }.toMap
    rows = queries.filter(facts(_) == "ok").map(q => spark.read.parquet(s"$dir/$q.parquet").count()).sum.toDouble
    facts
  }

  def rowsPerPass: Double = rows
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Row rates of the public Column kernels in `graft.functions` over the
  * seeded `documents` (repeated to a fixed row count), noop sink, median of
  * three runs each. Traced runs only.
  */
object Kernels {
  import graft.functions.{SimilarityFunctions => S, TextFunctions => T}

  def rates(spark: SparkSession, tables: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$tables/documents.parquet").select(col("text"))
    val input = spark.range(20).crossJoin(docs).select(col("text")).cache()
    val n = input.count().toDouble
    val kernels = Seq[(String, org.apache.spark.sql.Column)](
      "functions.minhash_rows_per_s" -> S.minhashSignature(S.hashedShingles(col("text"))),
      "functions.simhash_rows_per_s" -> S.simhash64(col("text")),
      "functions.window_hash_rows_per_s" -> S.charWindowHashes64(col("text")),
      "functions.bpe_rows_per_s" -> T.bpeTokenCount(col("text"))
    )
    val out = kernels.map { case (name, k) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        input.select(k.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      name -> n / Stats.median(times)
    }.toMap
    input.unpersist()
    out
  }
}
