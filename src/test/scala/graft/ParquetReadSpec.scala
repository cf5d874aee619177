package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ParquetRead, StagingSink}

class ParquetReadSpec extends AnyFunSuite with SparkSpec {
  private val tagKey = "graft.spec.jobTag"

  /** `body`'s result and the number of Spark jobs it started. A marker job
    * follows `body` through the same listener queue, so once the listener
    * has seen the marker it has seen every job `body` started.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tagKey)) match {
          case Some(`tag`)                    => started.incrementAndGet()
          case Some(t) if t == s"$tag-marker" => markerSeen.countDown()
          case _                              =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, tag)
      val out = body
      sc.setLocalProperty(tagKey, s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      (out, started.get)
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def freshDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** `df` as ONE parquet file at `file`, replacing whatever is there. */
  private def writeFile(df: DataFrame, file: String): Unit = {
    val tmp = freshDir("pq_file")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  private def sample(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 3).cast("string").as("k"), (col("id") * 0.5).as("v"))

  /** The layout `StagingSink.mergeToMain` gives a Hive-partitioned main. */
  private def partitionedMain(): String = {
    val base = freshDir("pq_part")
    StagingSink.stage(sample(30).withColumn("d", (col("id") % 4).cast("string")), s"$base/stg")
    StagingSink.mergeToMain(spark, s"$base/stg", s"$base/main", Seq("id"),
      clock = lit("2026-01-01 00:00:00").cast("timestamp"), partitionCols = Seq("d"))
    s"$base/main"
  }

  private def outputOf(df: DataFrame): Seq[(String, DataType, Boolean)] =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def layouts(): Seq[(String, String)] = {
    val file = s"${freshDir("pq_single")}/t.parquet"
    writeFile(sample(20), file)
    val dir = freshDir("pq_dir")
    sample(40).repartition(3).write.mode("overwrite").parquet(dir)
    Seq("single file" -> file, "unpartitioned directory" -> dir, "Hive-partitioned main" -> partitionedMain())
  }

  test("a remembered read has the schema, analyzed output and rows of spark.read.parquet") {
    layouts().foreach { case (layout, path) =>
      ParquetRead.load(spark, path)
      val (cached, jobs) = jobsDuring(ParquetRead.load(spark, path))
      val plain = spark.read.parquet(path)
      assert(jobs == 0, s"$layout: the second read re-inferred")
      assert(cached.schema == plain.schema, layout)
      assert(outputOf(cached) == outputOf(plain), layout)
      assert(rows(cached) == rows(plain), layout)
    }
  }

  test("a second read of an unchanged path starts no Spark job") {
    val dir = freshDir("pq_jobs")
    sample(10).write.mode("overwrite").parquet(dir)
    val (_, first) = jobsDuring(ParquetRead.load(spark, dir))
    assert(first >= 1, "the first read should infer (one job), or the counter is broken")
    val (_, second) = jobsDuring(ParquetRead.load(spark, dir))
    assert(second == 0)
    val (_, third) = jobsDuring(ParquetRead.schema(spark, dir))
    assert(third == 0)
  }

  test("a file overwritten with another schema, and a directory after an append, are re-inferred") {
    val file = s"${freshDir("pq_over")}/t.parquet"
    writeFile(sample(5), file)
    assert(ParquetRead.load(spark, file).columns.toSeq == Seq("id", "k", "v"))
    writeFile(sample(5).select(col("id"), col("v").as("w"), lit(true).as("flag")), file)
    val (over, jobs) = jobsDuring(ParquetRead.load(spark, file))
    assert(jobs >= 1)
    assert(over.schema == spark.read.parquet(file).schema)
    assert(over.columns.toSeq == Seq("id", "w", "flag"))

    val dir = freshDir("pq_append")
    sample(10).write.mode("overwrite").parquet(dir)
    assert(ParquetRead.load(spark, dir).count() == 10)
    sample(7).write.mode("append").parquet(dir)
    val (appended, appendJobs) = jobsDuring(ParquetRead.load(spark, dir))
    assert(appendJobs >= 1)
    assert(appended.count() == 17)
    assert(jobsDuring(ParquetRead.load(spark, dir))._2 == 0, "the appended listing replaces the entry")
  }

  /** The exception class, and the error condition when Spark names one. */
  private def failure(read: => DataFrame): (Class[_], Option[String]) = {
    val e = intercept[Exception](read)
    (e.getClass, Option(e).collect { case t: SparkThrowable => t.getCondition })
  }

  test("a missing path and an empty directory fail as spark.read.parquet does, remembered or not") {
    val missing = s"${freshDir("pq_missing")}/absent"
    assert(failure(ParquetRead.load(spark, missing)) == failure(spark.read.parquet(missing)))
    val empty = freshDir("pq_empty")
    assert(failure(ParquetRead.load(spark, empty)) == failure(spark.read.parquet(empty)))

    // Once remembered: deleting the table must not leave a stale schema
    // behind that reads as an empty DataFrame.
    val gone = freshDir("pq_gone")
    sample(5).write.mode("overwrite").parquet(gone)
    ParquetRead.load(spark, gone)
    Files.list(Paths.get(gone)).iterator().asScala.foreach(p => Files.delete(p))
    assert(failure(ParquetRead.load(spark, gone)) == failure(spark.read.parquet(gone)))
    Files.delete(Paths.get(gone))
    assert(failure(ParquetRead.load(spark, gone)) == failure(spark.read.parquet(gone)))
  }

  /** One unannotated BINARY column, written without Spark's schema
    * metadata, so `spark.sql.parquet.binaryAsString` decides its type.
    */
  private def writeRawBinary(file: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.Types
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
    val schema = Types.buildMessage().required(BINARY).named("b").named("raw")
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file)).withConf(conf).build()
    try Seq("a", "b").foreach(v => writer.write(new SimpleGroupFactory(schema).newGroup().append("b", v)))
    finally writer.close()
  }

  test("toggling a spark.sql.parquet conf does not serve the other setting's entry") {
    val file = s"${freshDir("pq_conf")}/raw.parquet"
    writeRawBinary(file)
    def typeUnder(asString: Boolean): (DataType, DataType) =
      Engine.withConf(spark, "spark.sql.parquet.binaryAsString" -> asString.toString) {
        (ParquetRead.schema(spark, file)("b").dataType, spark.read.parquet(file).schema("b").dataType)
      }
    assert(typeUnder(asString = false) == (BinaryType, BinaryType))
    assert(typeUnder(asString = true) == (StringType, StringType))
    assert(typeUnder(asString = false) == (BinaryType, BinaryType))
  }

  test("first reads racing on one path all get the schema spark.read.parquet infers") {
    val dir = freshDir("pq_race")
    sample(50).repartition(4).write.mode("overwrite").parquet(dir)
    val threads = 4
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val reads = (1 to threads).map(_ => Future { gate.await(); ParquetRead.load(spark, dir).schema })
      gate.countDown()
      val schemas = Await.result(Future.sequence(reads), 2.minutes)
      assert(schemas.forall(_ == spark.read.parquet(dir).schema))
    } finally pool.shutdown()
    assert(jobsDuring(ParquetRead.load(spark, dir))._2 == 0)
  }

  private val dashboard = Seq(
    "q_agg_pricing", "q_revenue_by_nation", "q_market_share", "q_rollup_sales", "q_cube_sales",
    "q_top_n_per_group", "q_pivot_events", "q_hourly_rollup", "q_semi_join_bloom")

  private def hash(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows(df).foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  test("the dashboard queries build twice on two threads with equal results") {
    // A fresh copy of the tables, so both threads make the first reads.
    val d = freshDir("pq_dash")
    Files.list(Paths.get(sfDir)).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, Paths.get(d, p.getFileName.toString)))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def run(): Map[String, String] =
      dashboard.map(q => q -> hash(QueryRegistry.queries(q)(spark, d))).toMap
    try {
      val Seq(a, b) = Await.result(Future.sequence(Seq(Future(run()), Future(run()))), 10.minutes)
      assert(a == b)
      assert(a == dashboard.map(q => q -> hash(QueryRegistry.queries(q)(spark, sfDir))).toMap)
    } finally pool.shutdown()
  }

  test("no source outside the loader reads parquet with spark.read.parquet") {
    val root = Paths.get("src/main/scala")
    val loader = root.resolve("graft/sources/ParquetRead.scala")
    val direct = """\.read\s*\.parquet\s*\(|\.read\s*\.format\(\s*"parquet"\s*\)""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != loader)
      .flatMap { p =>
        val text = Files.readString(p)
        direct.findAllMatchIn(text).map(m => s"$p:${text.take(m.start).count(_ == '\n') + 1}")
      }
      .toList
    assert(offenders.isEmpty, s"read parquet through graft.sources.ParquetRead: ${offenders.mkString(", ")}")
  }
}
