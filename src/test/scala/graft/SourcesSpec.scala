package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FixedWidthText, StagingSink, TypedFiles}

class SourcesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val uscrnSchema = StructType(
    Seq(
      StructField("wbanno", LongType),
      StructField("utc_date", LongType),
      StructField("utc_time", LongType),
      StructField("t_calc", DoubleType),
      StructField("station", StringType)
    )
  )

  test("FixedWidthText reads whitespace lines against a typed schema, skipping comments/blanks") {
    val dir = Files.createTempDirectory("fwt").toString
    Files.writeString(
      java.nio.file.Paths.get(dir, "part1.txt"),
      """# USCRN-style header comment
        |23583 20240101 0100 -3.5 Fairbanks
        |
        |23583 20240101 0200 -4.0 Fairbanks
        |25380 20240101 0100 bad Nome
        |""".stripMargin
    )
    val out = FixedWidthText.read(spark, dir, uscrnSchema).orderBy("wbanno", "utc_time")
    val rows = out.collect()
    assert(rows.length == 3)
    assert(out.schema.fields.map(_.dataType).toSeq == uscrnSchema.fields.map(_.dataType).toSeq)
    assert(rows(0).getLong(0) == 23583L && rows(0).getDouble(3) == -3.5)
    assert(rows(2).isNullAt(3), "unparseable numeric field must coerce to NULL, not fail the job")
    assert(rows(2).getString(4) == "Nome")
  }

  test("TypedFiles: explicit-schema csv/json with corrupt-record quarantine") {
    val dir = Files.createTempDirectory("typed").toString
    Files.writeString(
      java.nio.file.Paths.get(dir, "data.csv"),
      "id,score\n1,0.5\n2,0.75\nnot_a_number,xyz\n3,1.25\n"
    )
    val schema = StructType(
      Seq(StructField("id", LongType), StructField("score", DoubleType))
    )
    val (good, bad) = TypedFiles.csv(spark, s"$dir/data.csv", schema)
    assert(good.count() == 3 && bad.count() == 1)
    assert(good.schema.map(_.dataType) == Seq(LongType, DoubleType))
    assert(bad.head().getString(0).startsWith("not_a_number"))

    val jdir = Files.createTempDirectory("typedj").toString
    Files.writeString(
      java.nio.file.Paths.get(jdir, "data.jsonl"),
      """{"id": 1, "score": 0.5}
        |{"id": "oops"}
        |{"id": 3, "score": 1.5}
        |""".stripMargin
    )
    val (jgood, jbad) = TypedFiles.json(spark, s"$jdir/data.jsonl", schema)
    assert(jgood.count() == 2 && jbad.count() == 1)
  }

  test("TypedFiles csv header handling: concatenated and case-variant headers, all-string schemas") {
    val dir = Files.createTempDirectory("typedh").toString
    // Naive concatenation of two exports: the mid-file repeated header
    // (case-variant, padded) must be dropped from both splits.
    Files.writeString(
      java.nio.file.Paths.get(dir, "concat.csv"),
      "id,score\n1,0.5\n ID , Score \n2,0.75\n"
    )
    val schema = StructType(
      Seq(StructField("id", LongType), StructField("score", DoubleType))
    )
    val (good, bad) = TypedFiles.csv(spark, s"$dir/concat.csv", schema)
    assert(good.count() == 2, "both data rows parse")
    assert(bad.count() == 0, "repeated/case-variant headers must not quarantine")

    // All-string schema: the header line parses cleanly, so only the
    // content check can drop it — and data rows must survive.
    val sdir = Files.createTempDirectory("typeds").toString
    Files.writeString(
      java.nio.file.Paths.get(sdir, "s.csv"),
      "word,label\nfoo,bar\nword,other\n"
    )
    val sschema = StructType(
      Seq(StructField("word", StringType), StructField("label", StringType))
    )
    val (sgood, sbad) = TypedFiles.csv(spark, s"$sdir/s.csv", sschema)
    // "word,other" shares one field with the header but not all — kept.
    assert(sgood.count() == 2 && sbad.count() == 0)
    assert(sgood.orderBy("label").collect().map(_.getString(0)).toSeq == Seq("foo", "word"))

    // Pathological schema whose every column NAME parses as its own type
    // (year-named int columns): the header line survives the typed parse,
    // so only the every-row content check can catch it.
    val ydir = Files.createTempDirectory("typedy").toString
    Files.writeString(
      java.nio.file.Paths.get(ydir, "y.csv"),
      "2021,2022\n10,20\n30,40\n"
    )
    val yschema = StructType(
      Seq(StructField("2021", IntegerType), StructField("2022", IntegerType))
    )
    val (ygood, ybad) = TypedFiles.csv(spark, s"$ydir/y.csv", yschema)
    assert(ygood.count() == 2 && ybad.count() == 0,
      "a type-parseable header line must still be recognized and dropped")
    assert(ygood.collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 30))
  }

  test("partitioned main: watermark predicates prune whole date partitions at planning time") {
    val base = Files.createTempDirectory("part").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")
    val batch = Seq(
      (1L, "2024-01-01", 1.0), (2L, "2024-01-01", 2.0),
      (3L, "2024-01-02", 3.0), (4L, "2024-01-03", 4.0)
    ).toDF("id", "dt", "v")
    StagingSink.stage(batch, staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock, partitionCols = Seq("dt"))

    // Hive layout on disk: one directory per date.
    val dirs = new java.io.File(main).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"))

    // The watermark-shaped predicate must land in PartitionFilters (pruned
    // at planning time), NOT in PushedFilters/row-level data filters.
    val q = spark.read.parquet(main).filter(col("dt") > "2024-01-01")
    val scan = q.queryExecution.executedPlan
      .collectWithSubqueries { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .head
    assert(scan.metadata("PartitionFilters").contains("dt"), scan.metadata("PartitionFilters"))
    assert(q.count() == 2)
    // Empirical pruning proof: the scan's numFiles metric (files actually
    // read) must be smaller than the files on disk across all partitions.
    val allFiles = new java.io.File(main).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles < allFiles, s"read $readFiles of $allFiles files — no pruning happened")
  }

  test("mergeToMain mainFilter partition-prunes the idempotency anti-join's main side") {
    val base = Files.createTempDirectory("prune").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")
    // Historical main: three date partitions.
    val history = Seq(
      (1L, "2024-01-01", 1.0), (2L, "2024-01-02", 2.0), (3L, "2024-01-03", 3.0)
    ).toDF("id", "dt", "v")
    StagingSink.stage(history, staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock, partitionCols = Seq("dt"))

    // Incremental batch: one replayed row from the latest partition plus a
    // new one. The extract watermark bounds it to dt >= 2024-01-03, so the
    // same predicate is a valid (conservative) bound on the main key read.
    val batch = Seq((3L, "2024-01-03", 3.0), (4L, "2024-01-04", 4.0)).toDF("id", "dt", "v")
    StagingSink.stage(batch, staging)
    val wm = Some(col("dt") >= "2024-01-03")

    // Plan assertion: the main-side scan of freshRows must carry the
    // watermark in PartitionFilters (planning-time pruning), and executing
    // it must read fewer files than main holds. AQE is off for the
    // inspection only — pruning is decided at planning time, and the
    // adaptive wrapper hides the scan nodes from collectWithSubqueries.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val fresh = StagingSink.freshRows(spark, staging, main, Seq("id"), wm)
      assert(fresh.collect().map(_.getLong(0)).toSet == Set(4L), "anti-join result wrong under mainFilter")
      val scans = fresh.queryExecution.executedPlan
        .collectWithSubqueries { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      val mainScan = scans.find(_.metadata("Location").contains("main")).get
      assert(mainScan.metadata("PartitionFilters").contains("dt"), mainScan.metadata("PartitionFilters"))
      val allFiles = new java.io.File(main).listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
      assert(mainScan.metrics("numFiles").value < allFiles,
        s"read ${mainScan.metrics("numFiles").value} of $allFiles main files — anti-join not pruned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // End-to-end: the filtered merge appends exactly the new key.
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock, Seq("dt"), wm)
    val out = spark.read.parquet(main)
    assert(out.count() == 4 && out.filter(col("id") === 4L).count() == 1)
    // Replay the same batch with the same filter: still a no-op.
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock, Seq("dt"), wm)
    assert(spark.read.parquet(main).count() == 4)
  }

  test("upsertToMain matches an in-memory reference merge across random scenarios (property)") {
    // Model-based check of the full MERGE contract: for random initial
    // tables and random revision batches — including keys that MOVE
    // partition, null partition values, pure inserts, pure updates, and
    // empty batches — the on-disk result must equal the trivial in-memory
    // model (staged wins by key; survivors keep their stamp). Runs the
    // partitioned path (where all the swap/pruning machinery lives);
    // the unpartitioned path shares the anti-join and is covered above.
    val rnd = new scala.util.Random(20260814L)
    val parts = Seq(Some("2024-01-01"), Some("2024-01-02"), Some("2024-01-03"), None)
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2026-02-01 00:00:00").cast("timestamp")
    for (scenario <- 1 to 6) {
      val base = Files.createTempDirectory(s"upsert_prop$scenario").toString
      val staging = s"$base/staging"
      val main = s"$base/main"
      def randRows(keys: Seq[Long]): Seq[(Long, Option[String], Double)] =
        keys.map(k => (k, parts(rnd.nextInt(parts.size)), rnd.nextInt(1000) / 10.0))
      val initKeys = rnd.shuffle((0L to 19L).toList).take(3 + rnd.nextInt(15))
      val batchKeys = rnd.shuffle((0L to 24L).toList).take(rnd.nextInt(12)) // may be empty
      val init = randRows(initKeys)
      val batch = randRows(batchKeys)

      StagingSink.stage(init.toDF("id", "dt", "v"), staging)
      StagingSink.mergeToMain(spark, staging, main, Seq("id"), t0, partitionCols = Seq("dt"))
      StagingSink.stage(batch.toDF("id", "dt", "v"), staging)
      StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1, partitionCols = Seq("dt"))

      val expected = (init.filterNot(r => batchKeys.contains(r._1)).map(r => (r._1, r._2, r._3, "2026-01-01")) ++
        batch.map(r => (r._1, r._2, r._3, "2026-02-01"))).toSet
      val got = spark.read.parquet(main).collect().map { r =>
        (r.getAs[Long]("id"),
          Option(r.getAs[Any]("dt")).map(String.valueOf),
          r.getAs[Double]("v"),
          r.getAs[java.sql.Timestamp]("date_added_utc").toString.take(10))
      }.toSet
      assert(got == expected,
        s"scenario $scenario diverged\n  init=$init\n  batch=$batch\n  missing=${expected -- got}\n  extra=${got -- expected}")
      // Replay idempotence: the same batch with the same clock is a no-op.
      if (batch.nonEmpty) {
        StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1, partitionCols = Seq("dt"))
        assert(spark.read.parquet(main).count() == expected.size, s"scenario $scenario replay changed rows")
      }
    }
  }

  test("matchedKeyPartitions reads ONLY the key columns from main (column-pruned scan)") {
    val base = Files.createTempDirectory("movedscan").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")
    StagingSink.stage(
      Seq((1L, "2024-01-01", "x" * 100, 1.0), (2L, "2024-01-02", "y" * 100, 2.0))
        .toDF("id", "dt", "payload", "v"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock, partitionCols = Seq("dt"))
    StagingSink.stage(Seq((1L, "2024-01-03", "z", 1.5)).toDF("id", "dt", "payload", "v"), staging)

    // The moved-key scan is the upsert's only touch of untouched history —
    // its 100 TB cost is a key-column read, so the wide payload columns
    // must be pruned from main's ReadSchema (the staged side broadcasts at
    // runtime via AQE; column pruning is the planning-time property to pin).
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val moved = StagingSink.matchedKeyPartitions(spark, staging, main, Seq("id"), Seq("dt"))
      assert(moved.collect().map(r => String.valueOf(r.get(0))).toSeq == Seq("2024-01-01"))
      val scans = moved.queryExecution.executedPlan
        .collectWithSubqueries { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      val mainScan = scans.find(_.metadata("Location").contains("main")).get
      val readSchema = mainScan.metadata("ReadSchema")
      assert(!readSchema.contains("payload") && !readSchema.contains("v:"),
        s"moved-key scan must read only keys, got $readSchema")
      assert(readSchema.contains("id"), readSchema)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("StagingSink append is idempotent on the business key and stamps the audit column") {
    val base = Files.createTempDirectory("sink").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")

    val batch1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
    StagingSink.stage(batch1, staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock)
    assert(spark.read.parquet(main).count() == 2)

    // Re-running the same batch must not duplicate rows.
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock)
    assert(spark.read.parquet(main).count() == 2)

    // A batch overlapping on key 2 only adds the new key 3.
    val batch2 = Seq((2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "k", "v")
    StagingSink.stage(batch2, staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock)
    val out = spark.read.parquet(main)
    assert(out.count() == 3)
    assert(out.columns.contains("date_added_utc"))
    assert(out.filter(col("date_added_utc") =!= clock).count() == 0)

    // Incremental cutoff discovery (reference check_last_added): absent
    // main → None (first load takes everything); after loads → the max
    // audit stamp, i.e. the watermark the next extract filters against.
    assert(StagingSink.lastAdded(spark, s"$base/nonexistent").isEmpty)
    val clock2 = lit("2026-02-01 00:00:00").cast("timestamp")
    StagingSink.stage(Seq((9L, "z", 90.0)).toDF("id", "k", "v"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), clock2)
    assert(StagingSink.lastAdded(spark, main).map(_.toString).contains("2026-02-01 00:00:00.0"))
  }

  test("upsertToMain replaces matched keys in place, inserts new ones, keeps survivors' audit") {
    val base = Files.createTempDirectory("upsert").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2026-02-01 00:00:00").cast("timestamp")

    StagingSink.stage(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "k", "v"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), t0)

    // Revision batch: key 2 updated in place, key 4 inserted.
    StagingSink.stage(Seq((2L, "b2", 21.0), (4L, "d", 40.0)).toDF("id", "k", "v"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1)

    // Collect once: the swap rewrites main's files, so a DataFrame listed
    // before an upsert cannot be re-executed after it (standard overwrite
    // staleness) — snapshot the rows instead.
    val rows = spark.read.parquet(main).collect()
    assert(rows.length == 4)
    val byId = rows.map(r => r.getAs[Long]("id") ->
      ((r.getAs[String]("k"), r.getAs[Double]("v"), r.getAs[java.sql.Timestamp]("date_added_utc").toString))).toMap
    assert(byId(2L) == (("b2", 21.0, "2026-02-01 00:00:00.0")), "matched key must take the staged row + new audit")
    assert(byId(4L) == (("d", 40.0, "2026-02-01 00:00:00.0")), "new key must insert")
    assert(byId(1L)._3 == "2026-01-01 00:00:00.0" && byId(3L)._3 == "2026-01-01 00:00:00.0",
      "survivors keep their original audit stamp")
    // Replaying the same revision with the same clock is a no-op.
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1)
    assert(spark.read.parquet(main).collect().toSet == rows.toSet)
    // No swap debris.
    assert(!new java.io.File(s"${main}__upsert").exists() && !new java.io.File(s"${main}__old").exists())

    // Crash recovery contract (same as compact): __old with no main IS the
    // table — the next upsert must restore it before merging.
    val fs = new org.apache.hadoop.fs.Path(main)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.rename(new org.apache.hadoop.fs.Path(main), new org.apache.hadoop.fs.Path(s"${main}__old")))
    StagingSink.stage(Seq((5L, "e", 50.0)).toDF("id", "k", "v"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1)
    assert(spark.read.parquet(main).count() == 5, "crashed-swap leftover must be recovered, not clobbered")
  }

  test("unpartitioned upsert recovers a crashed swap: __old without main is restored, beside main dropped") {
    val base = Files.createTempDirectory("upsert_recover").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val old = s"${main}__old"
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2026-02-01 00:00:00").cast("timestamp")
    val fs = new org.apache.hadoop.fs.Path(main).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ids: Set[Long] = spark.read.parquet(main).select("id").as[Long].collect().toSet

    StagingSink.stage(Seq((1L, "a"), (2L, "b")).toDF("id", "k"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), t0)

    // A swap that died between its renames: main sits at __old, no main.
    // It is the table, so the next upsert restores it before merging.
    require(fs.rename(new org.apache.hadoop.fs.Path(main), new org.apache.hadoop.fs.Path(old)))
    StagingSink.stage(Seq((3L, "c")).toDF("id", "k"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1)
    assert(ids == Set(1L, 2L, 3L), "an __old left without main must be restored")
    assert(!new java.io.File(old).exists())

    // A swap that died after its renames, before cleanup: __old beside
    // main is a superseded copy, dropped without reading it.
    StagingSink.stage(Seq((9L, "stale")).toDF("id", "k"), s"$base/stale")
    StagingSink.mergeToMain(spark, s"$base/stale", old, Seq("id"), t0)
    StagingSink.stage(Seq((4L, "d")).toDF("id", "k"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1)
    assert(ids == Set(1L, 2L, 3L, 4L), "an __old left beside main must not leak into main")
    assert(!new java.io.File(old).exists(), "an __old left beside main must be dropped")
  }

  test("partitioned upsert rewrites ONLY the touched partitions (per-partition swap)") {
    val base = Files.createTempDirectory("upsert_part").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2026-02-01 00:00:00").cast("timestamp")

    StagingSink.stage(
      Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0), (3L, "2024-01-02", 30.0))
        .toDF("id", "dt", "v"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), t0, partitionCols = Seq("dt"))

    def files(dt: String): Set[String] = {
      val d = new java.io.File(s"$main/dt=$dt")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val untouchedBefore = files("2024-01-01")

    // Revision touches only dt=2024-01-02: update key 3, insert key 4.
    StagingSink.stage(
      Seq((3L, "2024-01-02", 31.0), (4L, "2024-01-02", 40.0)).toDF("id", "dt", "v"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1, partitionCols = Seq("dt"))

    assert(files("2024-01-01") == untouchedBefore,
      "an untouched partition's files must not be rewritten")
    val out = spark.read.parquet(main)
    assert(out.count() == 4)
    assert(out.filter(col("dt") === "2024-01-02" && col("id") === 3L)
      .select("v").as[Double].head() == 31.0)
    assert(out.filter(col("dt") === "2024-01-01")
      .select("date_added_utc").distinct().as[java.sql.Timestamp].head().toString == "2026-01-01 00:00:00.0")
    assert(!new java.io.File(s"${main}__upsert").exists())
  }

  test("partitioned upsert removes the stale copy when a staged row moves a key's partition") {
    val base = Files.createTempDirectory("upsert_move").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2026-02-01 00:00:00").cast("timestamp")

    StagingSink.stage(
      Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0), (3L, "2024-01-02", 30.0))
        .toDF("id", "dt", "v"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), t0, partitionCols = Seq("dt"))

    // Key 1's revision lands in a DIFFERENT partition (a corrected event
    // date). The default path must find and rewrite dt=2024-01-01 too —
    // and since key 1 was its ONLY row, the partition must disappear, not
    // keep a stale duplicate.
    StagingSink.stage(Seq((1L, "2024-01-03", 11.0)).toDF("id", "dt", "v"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1, partitionCols = Seq("dt"))

    val rows = spark.read.parquet(main).collect()
    assert(rows.length == 3, s"stale moved-key copy must be deleted, got ${rows.mkString(";")}")
    val k1 = rows.filter(_.getAs[Long]("id") == 1L)
    // dt reads back as DATE via partition-value type inference.
    assert(k1.length == 1 && String.valueOf(k1.head.getAs[Any]("dt")) == "2024-01-03"
      && k1.head.getAs[Double]("v") == 11.0)
    assert(!new java.io.File(s"$main/dt=2024-01-01").exists(),
      "an emptied partition directory must be removed")
    assert(!new java.io.File(s"${main}__upsert").exists() && !new java.io.File(s"${main}__parked").exists())
  }

  test("upsert edge shapes: empty batch is a no-op; null partition values merge null-safely") {
    val base = Files.createTempDirectory("upsert_edge").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2026-02-01 00:00:00").cast("timestamp")

    StagingSink.stage(
      Seq((1L, Some("2024-01-01"), 10.0), (2L, None, 20.0), (3L, None, 30.0))
        .toDF("id", "dt", "v"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), t0, partitionCols = Seq("dt"))

    // Empty revision batch: the zero-new-rows incremental run must succeed
    // and touch nothing (the read-back of an empty partitioned temp write
    // used to crash schema inference here).
    StagingSink.stage(Seq.empty[(Long, Option[String], Double)].toDF("id", "dt", "v"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1, partitionCols = Seq("dt"))
    assert(spark.read.parquet(main).count() == 3)

    // A staged row in the NULL partition: the pruning predicate must be
    // null-safe — with plain === it reads zero survivors from
    // __HIVE_DEFAULT_PARTITION__ and the rewrite silently drops key 3.
    StagingSink.stage(Seq((2L, Option.empty[String], 21.0)).toDF("id", "dt", "v"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t1, partitionCols = Seq("dt"))
    val out = spark.read.parquet(main).collect()
    assert(out.length == 3, s"null-partition survivors must be kept, got ${out.mkString(";")}")
    assert(out.count(r => r.isNullAt(r.fieldIndex("dt"))) == 2)
    assert(out.filter(_.getAs[Long]("id") == 2L).head.getAs[Double]("v") == 21.0)
    assert(out.filter(_.getAs[Long]("id") == 3L).head.getAs[Double]("v") == 30.0)
  }

  test("partitioned upsert crash recovery restores a parked partition whose replacement never landed") {
    val base = Files.createTempDirectory("upsert_crash").toString
    val staging = s"$base/staging"
    val main = s"$base/main"
    val t0 = lit("2026-01-01 00:00:00").cast("timestamp")

    StagingSink.stage(
      Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0)).toDF("id", "dt", "v"), staging)
    StagingSink.mergeToMain(spark, staging, main, Seq("id"), t0, partitionCols = Seq("dt"))

    // Simulate a swap that died after parking dt=2024-01-02 under
    // __parked but before its replacement moved in: the next upsert must
    // restore the parked copy before merging (and then merge against it).
    // __parked, NOT __old: the whole-table __old suffix is compact()'s
    // protocol, whose recovery DELETES a __old found alongside main — the
    // partitioned parking must be invisible to it (pinned below).
    val fs = new org.apache.hadoop.fs.Path(main)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${main}__parked"))
    require(fs.rename(
      new org.apache.hadoop.fs.Path(s"$main/dt=2024-01-02"),
      new org.apache.hadoop.fs.Path(s"${main}__parked/dt=2024-01-02")))

    // A compaction scheduled between the crash and the re-run must NOT
    // destroy the parked copy (the __old/__parked collision would have).
    StagingSink.compact(spark, main)
    assert(new java.io.File(s"${main}__parked/dt=2024-01-02").exists(),
      "compact must leave the upsert's parked partitions alone")

    StagingSink.stage(Seq((3L, "2024-01-03", 30.0)).toDF("id", "dt", "v"), staging)
    StagingSink.upsertToMain(spark, staging, main, Seq("id"), t0, partitionCols = Seq("dt"))
    val out = spark.read.parquet(main)
    assert(out.count() == 3, "the parked partition must be restored, not lost")
    assert(out.filter(col("dt") === "2024-01-02").count() == 1)
    assert(!new java.io.File(s"${main}__parked").exists())
  }

  test("HtmlTable: document-order table indexing, entity decode, landscape transpose") {
    val html =
      """<html><body>
        |<table><tr><td>nav</td></tr></table>
        |<!-- <table><tr><td>commented out</td></tr></table> -->
        |<table><tr><td>outer A</td></tr>
        |  <table><tr><td>nested &amp; decoded</td></tr></table>
        |</table>
        |<table>
        |<tr><td colspan="9"><font>&nbsp;</font></td></tr>
        |<tr><td><font>Hour</font></td><td><font>01</font></td><td><font>02</font></td></tr>
        |<tr><td><font>Temp &deg;F</font></td><td><font>12</font></td><td><font>11</font></td></tr>
        |<tr><td colspan="9"><font>&nbsp;</font></td></tr>
        |<tr><td><font>Hour</font></td><td><font>03</font></td></tr>
        |<tr><td><font>Temp &deg;F</font></td><td><font>10</font></td></tr>
        |</table>
        |</body></html>""".stripMargin
    // find_all-style document order: nav, outer, nested, forecast — and the
    // commented-out table is invisible.
    import graft.sources.HtmlTable
    assert(HtmlTable.extractTable(html, 0) == Seq(Seq("nav")))
    assert(HtmlTable.extractTable(html, 2) == Seq(Seq("nested & decoded")))
    // Landscape transpose: divider rows skipped, repeated halves concatenate.
    val m = HtmlTable.parseLandscape(html, 3, cellTag = "font")
    assert(m("Hour") == Seq("01", "02", "03"))
    assert(m("Temp °F") == Seq("12", "11", "10"))
  }

  test("compact rewrites a many-small-files table into few files, data identical") {
    val base = Files.createTempDirectory("compact").toString
    val main = s"$base/main"
    // Simulate a year of tiny incremental appends: 40 single-row files.
    for (i <- 1 to 40)
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1).write.mode("append").parquet(main)
    def parquetFiles = new java.io.File(main).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles >= 40)
    val before = spark.read.parquet(main).collect().toSet

    val n = StagingSink.compact(spark, main, targetFileBytes = 1L << 30, sortCols = Seq("id"))
    assert(n == 1 && parquetFiles == 1, s"expected 1 compacted file, have $parquetFiles")
    assert(spark.read.parquet(main).collect().toSet == before, "compaction must not change data")
    // No stray staging dirs left behind.
    assert(!new java.io.File(s"${main}__compact").exists() && !new java.io.File(s"${main}__old").exists())
  }

  test("compact preserves Hive partitioning and recovers from a crashed swap") {
    val base = Files.createTempDirectory("compact2").toString
    val main = s"$base/main"
    for (i <- 1 to 6)
      Seq((i.toLong, s"d${i % 2}", s"v$i")).toDF("id", "date", "v")
        .coalesce(1).write.partitionBy("date").mode("append").parquet(main)
    val before = spark.read.parquet(main).select("id", "date", "v").collect().toSet

    // No partitionCols passed: the Hive layout must be auto-detected.
    StagingSink.compact(spark, main, targetFileBytes = 1L << 30)
    // Partition directories survive the rewrite (pruning still works),
    // each compacted to a single file (distribute-by-partition-col, not
    // round-robin)…
    val dirs = new java.io.File(main).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).toSet == Set("date=d0", "date=d1"),
      s"partition layout lost: ${dirs.map(_.getName).toSet}")
    for (dir <- dirs)
      assert(dir.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${dir.getName} not compacted to one file")
    assert(spark.read.parquet(main).select("id", "date", "v").collect().toSet == before)

    // Crashed swap: main renamed away, __old left behind. compact must
    // restore the table instead of compacting nothing / deleting the copy.
    val fs = new org.apache.hadoop.fs.Path(main)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(main), new org.apache.hadoop.fs.Path(s"${main}__old")))
    StagingSink.compact(spark, main, targetFileBytes = 1L << 30)
    assert(spark.read.parquet(main).select("id", "date", "v").collect().toSet == before,
      "crash recovery must restore and recompact the table")
    assert(!new java.io.File(s"${main}__old").exists() && !new java.io.File(s"${main}__compact").exists())
  }

  test("compact sizes files per partition: small ones to one file, oversized ones split") {
    val base = Files.createTempDirectory("compact4").toString
    val main = s"$base/main"
    // One oversized partition (well past the target), several tiny ones
    // written as many small appends.
    spark.range(200000).selectExpr("id", "'big' AS date", "uuid() AS v")
      .coalesce(1).write.partitionBy("date").mode("append").parquet(main)
    for (i <- 1 to 3; _ <- 1 to 3)
      Seq((i.toLong, s"small$i", "x")).toDF("id", "date", "v")
        .coalesce(1).write.partitionBy("date").mode("append").parquet(main)
    val before = spark.read.parquet(main).count()

    StagingSink.compact(spark, main, targetFileBytes = 512L * 1024)
    def files(d: String) = new java.io.File(s"$main/date=$d").listFiles().count(_.getName.endsWith(".parquet"))
    for (i <- 1 to 3)
      assert(files(s"small$i") == 1, s"small partition must compact to one file, got ${files(s"small$i")}")
    assert(files("big") > 1, "oversized partition must split toward the target size, not one task/file")
    assert(spark.read.parquet(main).count() == before)
  }

  test("compact auto-detects multi-level partitioning (date=/hour=)") {
    val base = Files.createTempDirectory("compact3").toString
    val main = s"$base/main"
    for (i <- 1 to 8)
      Seq((i.toLong, s"d${i % 2}", s"h${i % 2}", s"v$i")).toDF("id", "date", "hour", "v")
        .coalesce(1).write.partitionBy("date", "hour").mode("append").parquet(main)
    val before = spark.read.parquet(main).select("id", "date", "hour", "v").collect().toSet

    StagingSink.compact(spark, main, targetFileBytes = 1L << 30)
    // BOTH levels must survive — detecting only date= would write hour as
    // a data column and corrupt the directory depths.
    val leaf = new java.io.File(s"$main/date=d0/hour=h0")
    assert(leaf.isDirectory, "second partition level lost in rewrite")
    assert(leaf.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(main).select("id", "date", "hour", "v").collect().toSet == before)
  }

  test("full incremental lifecycle: streaming staged load → partitioned main → compact → prune") {
    // The production loop in one test: scheduled AvailableNow loads land
    // micro-batches in staging and merge (keyed, watermark-bounded) into a
    // date=/hour=-partitioned main; the accumulated small files compact in
    // place preserving the layout; watermark reads partition-prune; the
    // audit max drives the next extract; and a post-compact checkpoint
    // loss replays as a no-op.
    val base = Files.createTempDirectory("lifecycle").toString
    val src = s"$base/src"; val staging = s"$base/staging"
    val main = s"$base/main"; val ckpt = s"$base/ckpt"

    // hr is an INT partition column on purpose: partition-value type
    // inference would turn a "00" string into 0 on read-back and move the
    // directory on rewrite.
    val batch1 = Seq(
      (1L, "2024-01-01", 0, 1.0), (2L, "2024-01-01", 1, 2.0), (3L, "2024-01-02", 0, 3.0)
    ).toDF("id", "dt", "hr", "v")
    batch1.write.parquet(src)
    val schema = batch1.schema

    def load(clockLit: String): Unit = {
      val q = graft.streaming.StreamingJobs.stagedLoad(
        spark, src, schema, staging, main, Seq("id"), ckpt,
        clock = lit(clockLit).cast("timestamp"),
        partitionCols = Seq("dt", "hr"),
        mainFilter = Some(col("dt") >= "2024-01-01")
      )
      q.awaitTermination()
    }

    load("2026-01-01 00:00:00")
    assert(spark.read.parquet(main).count() == 3)
    assert(new java.io.File(s"$main/dt=2024-01-01/hr=0").isDirectory, "two-level layout expected")

    // Second scheduled run: one overlapping key, one new hour.
    Seq((3L, "2024-01-02", 0, 3.0), (4L, "2024-01-02", 1, 4.0))
      .toDF("id", "dt", "hr", "v").write.mode("append").parquet(src)
    load("2026-02-01 00:00:00")
    assert(spark.read.parquet(main).count() == 4, "overlap must not duplicate")

    // The audit max is the next extract's watermark (check_last_added).
    assert(StagingSink.lastAdded(spark, main).map(_.toString).contains("2026-02-01 00:00:00.0"))

    // Compact: incremental appends left multiple files across the leaves;
    // the rewrite must auto-detect BOTH levels and keep the data.
    val before = spark.read.parquet(main).select("id", "dt", "hr", "v").collect().toSet
    StagingSink.compact(spark, main, targetFileBytes = 1L << 30)
    val leaf = new java.io.File(s"$main/dt=2024-01-02/hr=0")
    assert(leaf.isDirectory && leaf.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(main).select("id", "dt", "hr", "v").collect().toSet == before)

    // Watermark reads prune whole date directories after the compact.
    val q = spark.read.parquet(main).filter(col("dt") === "2024-01-02")
    val scan = q.queryExecution.executedPlan
      .collectWithSubqueries { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .head
    assert(scan.metadata("PartitionFilters").contains("dt"))
    assert(q.count() == 2)

    // Checkpoint loss after the compact: the full source replays, the
    // keyed merge absorbs it — main unchanged.
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    load("2026-03-01 00:00:00")
    assert(spark.read.parquet(main).count() == 4, "post-compact replay must be a no-op")
  }

  test("full egress path: staging → main → sorted headered CSV export round-trips") {
    val base = Files.createTempDirectory("egress").toString
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")

    val batch = Seq((3L, "c", 30.0), (1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
    StagingSink.stage(batch, s"$base/staging")
    StagingSink.mergeToMain(spark, s"$base/staging", s"$base/main", Seq("id"), clock)

    graft.sources.CsvExport.write(
      spark.read.parquet(s"$base/main").select("id", "k", "v"),
      s"$base/export",
      sortCols = Seq("id"),
      singleFile = true
    )
    // Exactly one part file (the Kaggle-style single-file contract) …
    val parts = new java.io.File(s"$base/export").listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1)
    // … with a header line and rows in key order.
    val lines = scala.io.Source.fromFile(parts.head).getLines().toSeq
    assert(lines.head == "id,k,v")
    assert(lines.tail.map(_.takeWhile(_ != ',')) == Seq("1", "2", "3"))
    // Typed read-back returns the exported values.
    val back = graft.sources.CsvExport.read(spark, s"$base/export", "id BIGINT, k STRING, v DOUBLE")
    assert(back.as[(Long, String, Double)].collect().sorted.toSeq ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
  }

  test("OrcStore round-trips values, sorts within files, and fails loudly on type drift") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_orc_spec").toString
    val df = Seq((3L, "c", 30.0), (1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
    graft.sources.OrcStore.write(df.repartition(1), s"$base/t", sortCols = Seq("id"))
    val back = graft.sources.OrcStore.read(spark, s"$base/t", "id BIGINT, k STRING, v DOUBLE")
    assert(back.as[(Long, String, Double)].collect().sorted.toSeq ==
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // sortWithinPartitions: the single file's rows come back in id order
    // without any global sort in the plan.
    assert(back.select(col("id")).as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    // Column pruning is allowed: a subset projection reads fine.
    assert(graft.sources.OrcStore.read(spark, s"$base/t", "id BIGINT").count() == 3)
    // Type drift must fail loudly AT PLAN TIME: Spark's own ORC reader
    // silently converts (DOUBLE read as BIGINT truncates), so OrcStore
    // validates the DDL against the footer and throws before reading.
    val e = intercept[IllegalArgumentException](
      graft.sources.OrcStore.read(spark, s"$base/t", "id BIGINT, k STRING, v BIGINT"))
    assert(e.getMessage.contains("schema drift"))
    val m = intercept[IllegalArgumentException](
      graft.sources.OrcStore.read(spark, s"$base/t", "missing BIGINT"))
    assert(m.getMessage.contains("not present"))
  }

  test("JsonLines round-trips microsecond timestamps and fails fast on malformed rows") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    // Sub-millisecond timestamps: the default JSON timestamp format would
    // silently truncate to millis — the explicit format must round-trip
    // to the exact microsecond.
    val df = spark
      .range(3)
      .select(
        col("id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 1001L).as("ts"),
        (col("id") * 1.25 + 0.1).as("x")
      )
    graft.sources.JsonLines.write(df, s"$base/t", sortCols = Seq("id"), singleFile = true)
    val back = graft.sources.JsonLines.read(spark, s"$base/t", "id BIGINT, ts TIMESTAMP, x DOUBLE")
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq,
      "jsonl round trip must be value-exact, including microseconds and doubles")
    // FAILFAST: a malformed line is a loud error, never a silent null row.
    val badDir = java.nio.file.Files.createTempDirectory("graft_jsonl_bad")
    java.nio.file.Files.writeString(badDir.resolve("part-00000.json"),
      """{"id": 1, "ts": "2024-01-01T00:00:00.000000", "x": 1.0}
        |{"id": "not a number", "ts": 12, "x": []}""".stripMargin)
    intercept[org.apache.spark.SparkException] {
      graft.sources.JsonLines.read(spark, badDir.toString, "id BIGINT, ts TIMESTAMP, x DOUBLE").collect()
    }
  }
}
