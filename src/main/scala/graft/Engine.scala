package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with scale-oriented defaults.
  *
  * Settings are chosen for a large multi-executor cluster and validated on
  * local[32]: AQE re-plans shuffles at runtime (coalescing + skew-join), a
  * modest shuffle-partition floor that AQE can grow, and auto broadcast for
  * dimension tables. See SURVEY.md §5.
  */
object Engine {
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      // Runtime bloom-filter join pruning: the selective side of a shuffle
      // join broadcasts a bloom of its keys so the big side's scan drops
      // non-matching rows before the shuffle — a fact-table win at scale.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // The testdata generator has shipped events.ts as TIMESTAMP(NANOS),
      // which Spark's reader only accepts under this legacy conf. Set once
      // at session build (r10 advice) so table loaders stay side-effect
      // free; [[Tables.normalizeTs]] handles whichever flavor loads.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local thread count of the command-line entry points:
    * `SPARK_GRAFT_CPUS` when set, else the host's cores.
    */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** [[session]] on `local[cpus]`, one shuffle partition per thread. */
  def localSession(): SparkSession = session(s"local[$cpus]", cpus)

  /** Runs `body` with the session-conf keys set, then gives each key back
    * its prior value, or unsets it if it had none — also when `body`
    * throws, so a failed build never leaks a setting to later queries.
    */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val explicit = spark.conf.getAll
    val prior = kvs.map { case (k, _) => k -> explicit.get(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Streaming state-store seam (SURVEY.md §5): runs `body` under the
    * RocksDB provider with changelog checkpointing. The default
    * HDFS-backed provider keeps every live state row ON-HEAP per executor
    * and uploads full snapshots to the checkpoint — fine for bounded
    * tests, a memory and upload ceiling for q_stream_join's four state
    * stores per shuffle partition at 100 TB. RocksDB keeps state on local
    * disk (executor heap no longer bounds live keys) and uploads only each
    * batch's delta, snapshotting in the background. Measured on
    * q_stream_join_outer at sf0.1 (local[32]), RocksDB with changelog
    * checkpointing runs level with the default provider, so the registry
    * uses it only where the operator requires it (q_stream_quota's
    * transformWithState).
    *
    * A streaming query binds its provider at START and the provider is
    * part of the checkpoint's identity, so start the query inside `body`
    * and never under a checkpoint made with the other provider.
    */
  def useRocksDbStateStore[A](spark: SparkSession)(body: => A): A =
    withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")(body)
}

/** Typed loaders for the driver testdata star schema (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst column pruning and filter
  * pushdown apply to every downstream operator.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The testdata generator has shipped `events.ts` in two parquet flavors
    * across rounds: TIMESTAMP(NANOS) (which Spark's vectorized reader only
    * accepts as int64 under the legacy conf) and plain timestamp[us]
    * (TIMESTAMP_NTZ under Spark's reader). [[normalizeTs]] converts whichever
    * flavor was loaded to session-zone TimestampType — with the session pinned
    * to UTC the wall-clock values are identical in all three cases, so oracle
    * hashes are stable across regenerations.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(tsCol).dataType match {
      case LongType =>
        // int64 nanos → truncate to µs (same truncation DuckDB applies).
        // Guard (r10 advice): an UNANNOTATED int64 micros/millis footer also
        // loads as LongType and would be silently misread 1000-6000x off.
        // Epoch magnitude separates the flavors cleanly — every post-1973
        // instant exceeds 1e17 in nanos, while a micros value cannot reach
        // 1e17 until year 5138 — so rows below the floor raise instead of
        // misconverting. Codegen'd conditional on the existing projection:
        // no extra scan, and it works on the streaming path too (where no
        // parquet footer is reachable from the DataFrame).
        df.withColumn(
          tsCol,
          timestamp_micros(
            // Null passes through as null (the pre-guard behavior): the
            // magnitude comparison is null for a null ts, and without this
            // arm a nullable nanos file would die in raise_error — with a
            // null message, no less, since concat propagates the null.
            when(col(tsCol).isNull, lit(null).cast("long"))
              .when(col(tsCol) >= 100000000000000000L, expr(s"`$tsCol` DIV 1000"))
              .otherwise(raise_error(concat(
                lit(s"events.$tsCol: int64 value "),
                col(tsCol).cast("string"),
                lit(" is too small to be an epoch-nanos timestamp — " +
                  "unannotated micros/millis footer? Extend Tables.normalizeTs for this flavor."))))))
      case TimestampNTZType =>
        // Naive µs: reinterpret in the session zone (UTC) — value-preserving.
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(s"events.$tsCol: unsupported parquet type $other")
    }
  }

  /** `events` with `ts` normalized to TimestampType via [[normalizeTs]]. */
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(eventsRaw(s, d))

  /** `events` with `ts` in its on-disk type: int64 nanos for a
    * TIMESTAMP(NANOS) footer (legacy conf), TIMESTAMP_NTZ for timestamp[us].
    * Predicates against the native column push to the parquet scan (and would
    * partition-prune a date-partitioned table at scale) — the converted view
    * in [[events]] wraps `ts` in an expression, which can block pushdown on
    * the legacy-nanos path. Callers must branch on `schema("ts").dataType`.
    *
    * Side-effect free (r10 advice): the `nanosAsLong` legacy conf the NANOS
    * footer needs is set once at [[Engine.session]] build, not mutated here
    * per load. A session built elsewhere must carry that conf itself — the
    * NANOS flavor then fails loudly in Spark's reader rather than quietly
    * changing session state from inside a loader.
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
