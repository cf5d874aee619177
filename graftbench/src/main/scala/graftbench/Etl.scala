package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.EtlOps
import graft.pipeline.Pipeline
import graft.sources.{FixedWidthText, ListingDiscovery, StagingSink, WarehouseSink}

/** The uscrn DAG as traffic: each pass starts from a copy of main's history
  * (increment 0, landed once during set-up), lands the generated increments
  * into it in order, then merges main's hourly rollup into an embedded Derby
  * warehouse, then runs the registered DAG rows. One increment is one
  * `Pipeline.run()`:
  * watermark (`StagingSink.lastAdded`) → listing (`ListingDiscovery`) →
  * stage (`FixedWidthText.readFiles` + `EtlOps` transforms, soil columns
  * pruned first →
  * `StagingSink.stage`) → merge (`StagingSink.mergeToMain`).
  *
  * Inputs (written by run.py from the seed): text files under `etl/files` in the USCRN
  * hourly02 shape, `etl/listing_<i>.html` (the index page as it stood when
  * increment i was published) and `etl/meta.json` (timed increment count and
  * the audit clock each increment, history included, is stamped with).
  */
final class EtlIncremental(spark: SparkSession, inputDir: String, workDir: String, dagQueries: Seq[String])
    extends Workload {
  import EtlIncremental._

  private val tables = s"$inputDir/tables"
  private val dag = new QueryWorkload(spark, tables, dagQueries)
  private val meta = new ObjectMapper().readTree(new File(s"$inputDir/etl/meta.json"))
  private val increments = meta.get("increments").asInt()
  private val clocks = (0 to increments).map(i => meta.get("clocks").get(i).asText())
  private val baseUrl = new File(s"$inputDir/etl/files").toURI.toString
  private val inputBytes = new File(s"$inputDir/etl/files").listFiles().map(_.length).sum.toDouble
  private val incNames = (1 to increments).map(i => f"increment_$i%02d")
  private val nation = spark.read.parquet(s"$tables/nation.parquet")
    .select(col("n_nationkey"), col("n_name").as("station"))

  private var pass = 0
  private def passDir(p: Int) = s"$workDir/pass$p"
  private def main = s"${passDir(pass)}/main"
  private def staging = s"${passDir(pass)}/staging"
  private val history = s"$workDir/history/main"
  private var historyRows = 0L
  private def warehouseUrl(p: Int) = s"jdbc:derby:memory:graftbench_${ProcessHandle.current().pid()}_p$p"

  // This pass's layer facts, and their totals over the traced passes.
  private val passFacts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val passMergeS = mutable.ArrayBuffer.empty[Double]
  private val traced = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val mainRows = mutable.ArrayBuffer.empty[Long]
  private var rows = 0.0

  def order(rng: scala.util.Random): Seq[String] = incNames ++ Seq("warehouse_merge") ++ rng.shuffle(dagQueries)

  def run(name: String, ctx: Ctx): Unit =
    if (name == "warehouse_merge") warehouseMerge(ctx, pass)
    else if (name.startsWith("increment_")) increment(name.stripPrefix("increment_").toInt, ctx, main, staging)
    else dag.run(name, ctx)

  private def increment(i: Int, ctx: Ctx, main: String, staging: String): Unit = {
    var watermark: Option[java.sql.Timestamp] = None
    var paths: Seq[String] = Nil
    val t0 = System.nanoTime()
    val run = ctx.span("pipeline.run") {
      Pipeline("graftbench_etl")
        .withRetries(1, backoffMs = 100)
        .step("watermark") { watermark = ctx.span("sources.lastAdded")(StagingSink.lastAdded(spark, main)) }
        .step("listing") {
          paths = ctx.span("sources.newFilePaths") {
            val page = Files.readString(Paths.get(f"$inputDir/etl/listing_$i%02d.html"))
            ListingDiscovery.newFilePaths(page, watermark, baseUrl)
          }
          require(paths.nonEmpty, s"increment $i: the listing shows no file newer than $watermark")
        }
        .step("stage") {
          ctx.span("sources.stage")(StagingSink.stage(transform(FixedWidthText.readFiles(spark, paths, Schema)), staging))
        }
        .step("merge") {
          passFacts("sources.merge_input_bytes") += dirBytes(staging) + dirBytes(main)
          ctx.span("sources.mergeToMain") {
            StagingSink.mergeToMain(spark, staging, main, Keys, clock = lit(clocks(i)).cast("timestamp"))
          }
        }
        .run()
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    run.steps.foreach(s => passFacts(s"sources.${s.name}_s") += s.durationMs / 1e3)
    run.steps.find(_.name == "merge").foreach(s => passMergeS += s.durationMs / 1e3)
    passFacts("pipeline.retries") += run.steps.map(_.attempts).sum - run.steps.size
    passFacts("pipeline.overhead_ms") += wallMs - run.steps.map(_.durationMs).sum
    if (!run.succeeded) throw new IllegalStateException(s"increment $i: ${run.status}")
  }

  /** Soil columns dropped (the reference's `^((?!soil).)*$` filter),
    * sentinels to null, quarantine flagged rows, UTC timestamp, station
    * dimension, Fahrenheit, and one row per (station, hour).
    */
  private def transform(raw: DataFrame): DataFrame = {
    val pruned = EtlOps.dropColumnsMatching(raw, "soil")
    val desentineled = SentinelCols.foldLeft(pruned) { (df, c) =>
      df.withColumn(c, EtlOps.replaceSentinel(col(c), lit(-9999.0), lit(null).cast("double")))
    }
    val (clean, _) = EtlOps.quarantine(desentineled, col("sur_temp_flag") === 3)
    val enriched = clean
      .withColumn("utc_datetime", EtlOps.timestampFromParts(col("utc_date"), col("utc_time")))
      .join(broadcast(nation), col("wbanno") % 25 === col("n_nationkey"))
      .drop("n_nationkey")
      .withColumn("t_hr_avg_f", EtlOps.celsiusToFahrenheit(col("t_hr_avg")))
    EtlOps.dedupByKey(enriched, Keys, "lst_time").select(MainCols.map(col): _*)
  }

  private def warehouseMerge(ctx: Ctx, p: Int): Unit = ctx.span("sources.warehouse_merge") {
    val t0 = System.nanoTime()
    val props = new java.util.Properties()
    val url = warehouseUrl(p) + ";create=true"
    val hourly = spark.read.parquet(main)
      .groupBy(col("wbanno"), col("station"), date_trunc("hour", col("utc_datetime")).as("utc_hour"))
      .agg(count(lit(1)).as("n"), sum(col("t_hr_avg").cast("decimal(25,10)")).cast("double").as("t_hr_avg_sum"))
    WarehouseSink.stage(hourly, url, "wh_hourly", props)
    WarehouseSink.mergeToMain(spark, url, "wh_hourly", Seq("wbanno", "utc_hour"), props,
      clock = lit(clocks.last).cast("timestamp"))
    passFacts("sources.warehouse_merge_s") += (System.nanoTime() - t0) / 1e9
  }

  /** Start the current pass's main as a copy of the history. */
  private def seedMain(): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(new File(history), new File(main))

  def gatePass(dir: String): Map[String, Any] = {
    val ctx = new Ctx(None, 0L)
    val facts = mutable.LinkedHashMap.empty[String, Any]
    // Every increment lands on the history, so a failure here ends the run.
    increment(0, ctx, history, s"$workDir/history/staging")
    historyRows = spark.read.parquet(history).count()
    seedMain()
    incNames.foreach { n =>
      facts(n) = try { run(n, ctx); "ok" } catch { case e: Throwable => Main.describe(e) }
    }
    facts("warehouse_merge") =
      try {
        warehouseMerge(ctx, pass)
        spark.read.jdbc(warehouseUrl(pass), "wh_hourly", new java.util.Properties())
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/etl_warehouse.parquet")
        "ok"
      } catch { case e: Throwable => Main.describe(e) }
    facts("etl_main") = main
    facts ++= dag.gatePass(dir)
    rows = (spark.read.parquet(main).count() - historyRows).toDouble
    dropWarehouse(pass)
    passFacts.clear()
    passMergeS.clear()
    pass = 1
    seedMain()
    facts.toMap
  }

  /** Close the pass: record what it left behind, then drop it and seed the
    * next pass's main with the history (outside the pass timer).
    */
  override def afterPass(tracedPass: Boolean): Unit = {
    mainRows += spark.read.parquet(main).count() - historyRows
    if (tracedPass) {
      passFacts("sources.main_files") =
        Option(new File(main).listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
      passFacts("sources.stored_bytes_ratio") = dirBytes(main) / inputBytes
      if (passMergeS.size >= 2) passFacts("sources.merge_growth") = passMergeS.last / passMergeS.head
      passFacts.foreach { case (k, v) => traced(k) += v }
    }
    passFacts.clear()
    passMergeS.clear()
    dropWarehouse(pass)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(passDir(pass)))
    pass += 1
    seedMain()
  }

  private def dropWarehouse(p: Int): Unit =
    try java.sql.DriverManager.getConnection(warehouseUrl(p) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a successful drop as an exception

  private def dirBytes(path: String): Double =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")).map(_.length).sum.toDouble

  def rowsPerPass: Double = rows

  /** Rows each timed pass landed in main, so run.py can check every pass,
    * not only the gate pass, against the oracle's count.
    */
  override def passMainRows: Seq[Long] = mainRows.toSeq

  override def layerMetrics(passes: Int): Map[String, Double] =
    Seq("sources.watermark_s", "sources.listing_s", "sources.stage_s", "sources.merge_s",
      "sources.warehouse_merge_s", "sources.merge_input_bytes", "sources.merge_growth",
      "sources.main_files", "sources.stored_bytes_ratio", "pipeline.retries", "pipeline.overhead_ms")
      .map(k => k -> traced(k) / passes).toMap
}

object EtlIncremental {
  /** The 38 fields of a USCRN hourly02 line, in file order. */
  val Schema: StructType = StructType(Seq(
    "wbanno" -> IntegerType, "utc_date" -> IntegerType, "utc_time" -> IntegerType,
    "lst_date" -> IntegerType, "lst_time" -> IntegerType, "crx_vn" -> StringType,
    "longitude" -> DoubleType, "latitude" -> DoubleType, "t_calc" -> DoubleType,
    "t_hr_avg" -> DoubleType, "t_max" -> DoubleType, "t_min" -> DoubleType, "p_calc" -> DoubleType,
    "solarad" -> DoubleType, "solarad_flag" -> IntegerType, "solarad_max" -> DoubleType,
    "solarad_max_flag" -> IntegerType, "solarad_min" -> DoubleType, "solarad_min_flag" -> IntegerType,
    "sur_temp_type" -> StringType, "sur_temp" -> DoubleType, "sur_temp_flag" -> IntegerType,
    "sur_temp_max" -> DoubleType, "sur_temp_max_flag" -> IntegerType, "sur_temp_min" -> DoubleType,
    "sur_temp_min_flag" -> IntegerType, "rh_hr_avg" -> DoubleType, "rh_hr_avg_flag" -> IntegerType
  ).map { case (n, t) => StructField(n, t) } ++
    Seq("soil_moisture_5", "soil_moisture_10", "soil_moisture_20", "soil_moisture_50", "soil_moisture_100",
      "soil_temp_5", "soil_temp_10", "soil_temp_20", "soil_temp_50", "soil_temp_100")
      .map(StructField(_, DoubleType)))

  val SentinelCols: Seq[String] = Seq("t_calc", "t_hr_avg", "t_max", "t_min", "p_calc", "solarad",
    "solarad_max", "solarad_min", "sur_temp", "sur_temp_max", "sur_temp_min", "rh_hr_avg")

  val Keys: Seq[String] = Seq("wbanno", "utc_datetime")

  /** Every parsed column but the soil ones and the date/time parts, plus
    * the station, the UTC timestamp and the Fahrenheit hourly mean.
    */
  val MainCols: Seq[String] = Seq("wbanno", "station", "utc_datetime") ++
    Schema.fieldNames.filterNot(c => c.contains("soil") || Set("wbanno", "utc_date", "utc_time")(c)) ++
    Seq("t_hr_avg_f")
}
