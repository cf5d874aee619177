package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RocksDB state-store seam (Engine.useRocksDbStateStore — SURVEY §5):
  * at 100 TB the default HDFS-backed provider holds all live streaming
  * state on-heap and uploads full snapshots; RocksDB + changelog
  * checkpointing is the deployment shape for q_stream_join's four state
  * stores per shuffle partition. These specs prove the seam actually
  * engages (checkpoint artifacts are the provider's, not the default's)
  * and that the heaviest stateful query stays correct under it.
  */
class StateStoreSpec extends AnyFunSuite with SparkSpec {

  private def withRocksDb[A](body: => A): A = Engine.useRocksDbStateStore(spark)(body)

  private def listRec(dir: java.io.File): Seq[java.io.File] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids ++ kids.filter(_.isDirectory).flatMap(listRec)
  }

  test("QuotaLimiter: cap persists across micro-batches; within-batch order is (ts, event_id)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.QuotaLimiter
    import QuotaLimiter.{QuotaEvent, QuotaOut}
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_quota_ckpt").toString
    withRocksDb {
      val input = MemoryStream(implicitly[org.apache.spark.sql.Encoder[QuotaEvent]], spark)
      def ev(id: Long, u: Long, tsSec: Long) =
        QuotaEvent(id, u, new java.sql.Timestamp(tsSec * 1000L), id.toDouble)
      // Batch 1: user 1 offers four events OUT of ts order against cap 3 —
      // the three smallest (ts, id) win, not the first three seen.
      input.addData(ev(4, 1, 40), ev(1, 1, 10), ev(3, 1, 30), ev(2, 1, 20), ev(10, 2, 100))
      val q = QuotaLimiter.limit(input.toDS(), cap = 3)
        .writeStream
        .format("memory")
        .queryName("quota_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        q.processAllAvailable()
        val b1 = spark.table("quota_out").as[QuotaOut].collect().map(_.event_id).toSet
        assert(b1 == Set(1L, 2L, 3L, 10L), s"batch 1 must take the ts-smallest within the cap, got $b1")
        // Batch 2: user 1 is exhausted (nothing emits, even for earlier
        // ts — quota is consumed in arrival order across batches); user 2
        // has 2 left and takes the two ts-smallest of its three offers.
        input.addData(ev(5, 1, 5), ev(11, 2, 110), ev(12, 2, 120), ev(13, 2, 90))
        q.processAllAvailable()
        val all = spark.table("quota_out").as[QuotaOut].collect().map(_.event_id).toSet
        assert(all == Set(1L, 2L, 3L, 10L, 13L, 11L),
          s"batch 2 must respect persisted quota state, got $all")
      } finally q.stop()
    }
  }

  test("QuotaLimiter orders pre-1970 timestamps before post-1970 ones (floored micros)") {
    // getTime/1000 truncates toward zero, flipping the sub-second sign for
    // pre-epoch instants — a truncating conversion would sort 1969-12-31
    // 23:59:59.5 AFTER the epoch and admit the wrong event under the cap.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.QuotaLimiter
    import QuotaLimiter.{QuotaEvent, QuotaOut}
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_quota_preepoch").toString
    withRocksDb {
      val input = MemoryStream(implicitly[org.apache.spark.sql.Encoder[QuotaEvent]], spark)
      input.addData(
        QuotaEvent(1L, 9L, new java.sql.Timestamp(500L), 1.0),   // 1970-01-01 00:00:00.5
        QuotaEvent(2L, 9L, new java.sql.Timestamp(-500L), 2.0))  // 1969-12-31 23:59:59.5
      val q = QuotaLimiter.limit(input.toDS(), cap = 1)
        .writeStream.format("memory").queryName("quota_preepoch")
        .outputMode("append").option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        val kept = spark.table("quota_preepoch").as[QuotaOut].collect().map(_.event_id).toSeq
        assert(kept == Seq(2L), s"the pre-epoch event is earlier and must win the cap, got $kept")
      } finally q.stop()
    }
  }

  test("the seam engages RocksDB: checkpoint state artifacts are RocksDB's, not the default's") {
    // A minimal stateful stream with a spec-owned checkpoint dir, so the
    // state files can be inspected: the default provider writes .delta /
    // .snapshot files; RocksDB with changelog checkpointing writes
    // .changelog files and .zip snapshots.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rocksdb_ckpt").toFile
    val out = java.nio.file.Files.createTempDirectory("graft_rocksdb_out").toFile
    withRocksDb {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
      import org.apache.spark.sql.streaming.Trigger
      val q = spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .select(col("event_id"), col("user_id"))
        .dropDuplicates("event_id")
        .writeStream
        .format("parquet")
        .option("path", out.getPath)
        .option("checkpointLocation", ckpt.getPath)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val stateFiles = listRec(new java.io.File(ckpt, "state")).filterNot(_.isDirectory)
    val names = stateFiles.map(_.getName)
    assert(names.exists(n => n.endsWith(".changelog") || n.endsWith(".zip")),
      s"no RocksDB changelog/snapshot artifacts in the checkpoint: $names")
    assert(!names.exists(_.endsWith(".delta")),
      s"default-provider .delta files present — the seam did not engage: $names")
    val dedupCount = spark.read.parquet(out.getPath).count()
    val exact = Tables.eventsRaw(spark, sfDir).select("event_id").distinct().count()
    assert(dedupCount == exact, "stateful dedup under RocksDB must match the exact distinct count")
  }

  test("building q_stream_quota leaves the session's state-store provider as it found it") {
    // A deployment enables RocksDB for the whole session before building
    // its queries. q_stream_quota scopes the provider to its own start;
    // after it, every key must hold the session's value again — not be
    // unset, which would silently start later stateful queries (and
    // restarts on RocksDB checkpoints) on the default provider.
    val keys = Seq(
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val before = keys.map(spark.conf.getAll.get)
    withRocksDb {
      val enabled = keys.map(spark.conf.getOption)
      QueryRegistry.queries("q_stream_quota")(spark, sfDir).collect()
      assert(keys.map(spark.conf.getOption) == enabled,
        s"building q_stream_quota changed the session's provider: ${keys.map(spark.conf.getOption)}")
    }
    assert(keys.map(spark.conf.getAll.get) == before,
      "the scoped RocksDB seam must give each key back its prior value, or unset it")
  }

  test("q_stream_join runs green under RocksDB and matches its batch equivalent") {
    val streamed = withRocksDb {
      QueryRegistry.queries("q_stream_join")(spark, sfDir).collect()
    }
    // The batch self-join with identical semantics (the oracle's SQL shape).
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val batch = clicks
      .join(
        purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR")
      )
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("click_ts"), col("purchase_ts"))
      .collect()
    assert(streamed.toSet == batch.toSet,
      s"stream-stream join under RocksDB diverged: ${streamed.length} vs ${batch.length} rows")
    assert(streamed.nonEmpty)
  }
}
