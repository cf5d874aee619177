package graft

import java.util.Properties

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WarehouseSink

/** Real JDBC round-trip against embedded Derby (ships with Spark): the
  * staging→main warehouse load (reference utils.py:44-67 insert_table) must
  * create main on first merge, stamp the audit column, and be idempotent
  * under batch replay via the key anti-join.
  */
class WarehouseSinkSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftwh;create=true"
  private val props = new Properties()
  private val clock = lit("2026-01-01 00:00:00").cast("timestamp")

  test("staging→main JDBC load: create-if-needed, audit stamp, replay idempotency") {
    val batch1 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "value")

    WarehouseSink.stage(batch1, url, "measurements", props)
    WarehouseSink.mergeToMain(spark, url, "measurements", Seq("id"), props, clock)

    val main1 = spark.read.jdbc(url, "measurements", props)
    assert(main1.count() == 3)
    assert(main1.columns.map(_.toLowerCase).contains("date_added_utc"))

    // Replaying the SAME staged batch must not duplicate rows.
    WarehouseSink.mergeToMain(spark, url, "measurements", Seq("id"), props, clock)
    assert(spark.read.jdbc(url, "measurements", props).count() == 3)

    // A new batch overlapping on key 3 adds only the genuinely new key 4.
    val batch2 = Seq((3L, "c", 30.0), (4L, "d", 40.0)).toDF("id", "name", "value")
    WarehouseSink.stage(batch2, url, "measurements", props)
    WarehouseSink.mergeToMain(spark, url, "measurements", Seq("id"), props, clock)
    val main2 = spark.read.jdbc(url, "measurements", props)
    assert(main2.count() == 4)
    assert(main2.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))

    // Incremental cutoff discovery, pushed down as a 1-row aggregate.
    assert(WarehouseSink.lastAdded(spark, url, "no_such_table", props).isEmpty)
    assert(WarehouseSink.lastAdded(spark, url, "measurements", props)
      .map(_.toString).contains("2026-01-01 00:00:00.0"))
  }

  test("mergeToMain mainFilter pushes the watermark predicate down to the warehouse") {
    val batch = Seq((10L, "x", 1.0), (11L, "y", 2.0)).toDF("id", "name", "value")
    WarehouseSink.stage(batch, url, "pushdown_main", props)
    WarehouseSink.mergeToMain(spark, url, "pushdown_main", Seq("id"), props, clock)

    // Replay with a watermark bound on the main key read: the predicate
    // must appear as a pushed filter on the JDBC scan (issued in the
    // warehouse's WHERE clause, not evaluated Spark-side over a full pull).
    val wm = Some(col("date_added_utc") >= clock)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val pushed =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val fresh = WarehouseSink.freshRows(spark, url, "pushdown_main", Seq("id"), props, wm)
        assert(fresh.count() == 0, "replayed batch must anti-join away under the filter")
        fresh.queryExecution.executedPlan
          .collectWithSubqueries { case s: org.apache.spark.sql.execution.RowDataSourceScanExec => s }
          .map(_.metadata.getOrElse("PushedFilters", ""))
          .mkString(";")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(pushed.toLowerCase.contains("date_added_utc"),
      s"watermark not pushed to JDBC source: $pushed")
    // And the merge itself stays idempotent with the filter in place.
    WarehouseSink.mergeToMain(spark, url, "pushdown_main", Seq("id"), props, clock, wm)
    assert(spark.read.jdbc(url, "pushdown_main", props).count() == 2)
  }

  test("streaming staged load into the JDBC warehouse: incremental and idempotent") {
    // The reference's deployment shape end-to-end on a real warehouse:
    // a file stream lands each micro-batch in the JDBC staging table and
    // merges to main with the audit stamp — checkpointed file tracking on
    // the Spark side, key anti-join idempotency on the warehouse side.
    import java.nio.file.Files
    val base = Files.createTempDirectory("jdbc_sload").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v").write.parquet(s"$base/src/b1")
    val schema = spark.read.parquet(s"$base/src/b1").schema

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/src/*")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          WarehouseSink.stage(batch, url, "stream_main", props)
          WarehouseSink.mergeToMain(batch.sparkSession, url, "stream_main", Seq("id"), props, clock)
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(spark.read.jdbc(url, "stream_main", props).count() == 2)
    // New file with one overlapping key: only the new key lands; the
    // checkpoint skips already-processed files entirely.
    Seq((2L, 20.0), (3L, 30.0)).toDF("id", "v").write.parquet(s"$base/src/b2")
    runOnce()
    val main = spark.read.jdbc(url, "stream_main", props)
    assert(main.count() == 3)
    assert(main.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // Replaying with a fresh checkpoint (simulated checkpoint loss) is
    // still a no-op thanks to the warehouse-side anti-join.
    new scala.reflect.io.Directory(new java.io.File(s"$base/ckpt")).deleteRecursively()
    runOnce()
    assert(spark.read.jdbc(url, "stream_main", props).count() == 3)
  }

  test("a config-declared warehouse target drives the staging→main merge end-to-end") {
    // The reference's gcp-config.yaml story: DAG code reads warehouse
    // coordinates from config, never hard-codes them (utils.py:9). Same
    // flow here — parse the typed WarehouseConfig and run the real Derby
    // round trip entirely off its fields.
    val wh = graft.pipeline.SourceRegistry.warehouse(
      """warehouse.url          = jdbc:derby:memory:graftwh_cfg;create=true
        |warehouse.table        = cfg_main
        |""".stripMargin).get
    val batch = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "value")
    WarehouseSink.stage(batch, wh.url, wh.table.get, wh.jdbcProps)
    WarehouseSink.mergeToMain(spark, wh.url, wh.table.get, Seq("id"), wh.jdbcProps, clock)
    val main = spark.read.jdbc(wh.url, wh.table.get, wh.jdbcProps)
    assert(main.count() == 2)
    assert(main.columns.map(_.toLowerCase).contains("date_added_utc"))
    // Replay off the same config stays idempotent.
    WarehouseSink.mergeToMain(spark, wh.url, wh.table.get, Seq("id"), wh.jdbcProps, clock)
    assert(spark.read.jdbc(wh.url, wh.table.get, wh.jdbcProps).count() == 2)
  }

  test("connection health check: reachable warehouse passes, bogus one reports") {
    assert(WarehouseSink.checkConnection(url, props).isRight)
    val bad = WarehouseSink.checkConnection("jdbc:derby:memory:nope", props, timeoutSec = 1)
    assert(bad.isLeft, "connecting to an uncreated in-memory db must fail")
  }
}
