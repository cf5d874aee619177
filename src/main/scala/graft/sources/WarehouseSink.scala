package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** External-warehouse (JDBC) load surface — the reference loads every batch
  * to BigQuery via a staging table then `INSERT INTO main SELECT *,
  * CURRENT_TIMESTAMP() AS date_added_utc` with create-if-needed
  * (reference: airflow/dags/utils/utils.py:44-67 insert_table,
  * nws_dag.py load task). Re-expressed on Spark's public JDBC source so any
  * JDBC-speaking warehouse works; the parquet twin of this pattern lives in
  * [[StagingSink]].
  *
  * Scale notes: writes are executor-parallel (one JDBC connection per
  * partition — `df.repartition(n)` bounds the warehouse's connection
  * count; `batchsize` controls rows per INSERT round-trip). Reads
  * parallelize when partitionColumn/lowerBound/upperBound/numPartitions
  * are set. The idempotency anti-join selects ONLY the key columns from
  * main, which Spark pushes to the warehouse as a projection — main's
  * payload columns never cross the wire.
  */
object WarehouseSink {

  /** Staging table name for a main table (reference: `{table}_staging`). */
  def stagingTable(table: String): String = table + "_staging"

  /** Connection health check with timeout — the reference pings its source
    * and warehouse domains before running a DAG (utils.py:27-42
    * check_connection with a 5 s timeout). Returns the failure message
    * rather than throwing so callers can alert-and-skip like the DAG does.
    */
  private val loginTimeoutLock = new Object

  def checkConnection(url: String, props: Properties, timeoutSec: Int = 5): Either[String, Unit] =
    // setLoginTimeout is JVM-global: serialize the set/connect/restore so
    // concurrent health checks can't restore each other's temporary cap
    // as the "previous" value (other threads' connections made during the
    // window still see the cap — an unavoidable JDBC API limitation this
    // lock at least bounds to the health check's duration).
    loginTimeoutLock.synchronized {
      val prevTimeout = DriverManager.getLoginTimeout
      DriverManager.setLoginTimeout(timeoutSec)
      try {
        val c = DriverManager.getConnection(url, props)
        try Right(()) finally c.close()
      } catch {
        case e: Exception => Left(s"Connection to $url failed: ${e.getMessage}")
      } finally DriverManager.setLoginTimeout(prevTimeout)
    }

  /** Load a batch into the staging table (full overwrite — staging is
    * transient by contract, exactly like the reference's `_staging` load).
    */
  def stage(df: DataFrame, url: String, table: String, props: Properties): Unit =
    df.write.mode("overwrite").jdbc(url, stagingTable(table), props)

  /** True when `table` exists in the warehouse, per JDBC metadata. Checked
    * case-insensitively: Derby/Postgres fold unquoted identifiers to
    * upper/lower case respectively.
    */
  def tableExists(url: String, table: String, props: Properties): Boolean = {
    val c = DriverManager.getConnection(url, props)
    try {
      val md = c.getMetaData
      Seq(table, table.toUpperCase, table.toLowerCase).exists { t =>
        val rs = md.getTables(null, null, t, null)
        try rs.next() finally rs.close()
      }
    } finally c.close()
  }

  /** The incremental-extract cutoff from the warehouse: max
    * `date_added_utc` in main, None when the table doesn't exist (first
    * load takes everything). Mirrors check_last_added (uscrn_dag.py:96-113)
    * — issued as a pushed-down 1-row aggregate, not a table read.
    */
  def lastAdded(spark: SparkSession, url: String, table: String, props: Properties): Option[java.sql.Timestamp] =
    if (!tableExists(url, table, props)) None
    else {
      // Spark's JDBC writer emits the table name as given but quotes COLUMN
      // identifiers in the DDL, so columns are stored case-exact — quote
      // the column through the dialect (a case-folding engine like Derby
      // would otherwise look up DATE_ADDED_UTC) and pass the table name
      // through raw, exactly as the writer did.
      val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      val col = dialect.quoteIdentifier("date_added_utc")
      Option(
        spark.read
          .jdbc(url, s"(SELECT max($col) AS m FROM $table) t", props)
          .head().getTimestamp(0)
      )
    }

  /** The staged rows not yet in main — the anti-join the merge appends.
    * `mainFilter` bounds the main-side key read; Spark pushes both the
    * key projection AND this predicate down to the warehouse (visible as
    * PushedFilters on the JDBC scan), so an incremental load's
    * idempotency check issues `SELECT keys FROM main WHERE watermark…`
    * instead of reading every historical key over the wire.
    */
  def freshRows(
      spark: SparkSession,
      url: String,
      table: String,
      keyCols: Seq[String],
      props: Properties,
      mainFilter: Option[Column] = None
  ): DataFrame = {
    val staged = spark.read.jdbc(url, stagingTable(table), props)
    if (tableExists(url, table, props)) {
      val main = spark.read.jdbc(url, table, props)
      val bounded = mainFilter.fold(main)(main.where)
      staged.join(bounded.select(keyCols.map(col).toIndexedSeq: _*), keyCols, "left_anti")
    } else staged
  }

  /** Append staged rows to main with an audit timestamp, creating main if
    * missing (the reference's CREATE_IF_NEEDED branch is Spark's
    * SaveMode.Append creating absent JDBC tables). Re-running the same
    * batch is a no-op: rows whose `keyCols` already exist in main are
    * anti-joined away — the key-only main read pushes a projection to the
    * warehouse, and for a small staged batch AQE broadcasts it. Pass
    * `mainFilter` (the extract watermark) so that read also pushes a
    * bounding predicate instead of pulling every historical key.
    *
    * `clock` defaults to `current_timestamp()`; tests pass a fixed literal.
    */
  def mergeToMain(
      spark: SparkSession,
      url: String,
      table: String,
      keyCols: Seq[String],
      props: Properties,
      clock: Column = current_timestamp(),
      mainFilter: Option[Column] = None
  ): Unit = {
    freshRows(spark, url, table, keyCols, props, mainFilter)
      .withColumn("date_added_utc", clock)
      .write.mode("append").jdbc(url, table, props)
  }
}
