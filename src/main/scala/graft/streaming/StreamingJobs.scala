package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import graft.sources.ParquetRead

/** Stateful streaming jobs (SURVEY.md §2.4).
  *
  * [[sessionize]] is the `flatMapGroupsWithState` form of gap-based
  * sessionization (gap > `gapMinutes` starts a new session). The same
  * function runs in both execution modes:
  *
  *  - **batch**: Spark executes `flatMapGroupsWithState` per group within the
  *    single "batch epoch" — StreamingJobsSpec asserts the output is
  *    row-identical to the window-based batch formulation
  *    (`q_stream_sessionize`), which is itself DuckDB-oracled.
  *  - **streaming**: attach to `readStream` with a watermark and
  *    `GroupStateTimeout.EventTimeTimeout()`; state carries the open session
  *    across micro-batches and flushes it when the watermark passes the gap.
  *    (On bounded input the trailing open session is withheld until timeout —
  *    correct streaming semantics — which is why the spec pins the batch
  *    mode, where every session flushes.)
  *
  * State per key is one open session (4 longs), not the event list — the
  * state store stays O(active users), independent of history length.
  */
object StreamingJobs {

  /** `dir/events.parquet` as a file-stream source: the schema is read once
    * from the table, and `pathGlobFilter` keeps the stream off the other
    * tables that share its directory.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(ParquetRead.schema(spark, s"$dir/events.parquet"))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)

  /** Append-mode parquet file sink at `path`. */
  def fileSink[T](ds: Dataset[T], path: String): DataStreamWriter[T] =
    ds.writeStream.format("parquet").option("path", path).outputMode("append")

  /** Complete-mode sink: each micro-batch's full result, passed through
    * `report`, overwrites `path`, so the directory always holds the latest
    * result. The write is an executor-side parquet job — nothing collects
    * to the driver, unlike a memory sink.
    */
  def overwriteSink(df: DataFrame, path: String)(report: DataFrame => DataFrame = identity): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) => report(batch).write.mode("overwrite").parquet(path) }

  /** Starts `writer` as a bounded incremental run: checkpoint at `ckpt`,
    * `Trigger.AvailableNow` (process every file present at start, then
    * stop) — the scheduled-load deployment shape.
    */
  def start[T](writer: DataStreamWriter[T], ckpt: String): StreamingQuery =
    writer.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()

  /** [[start]], then block until the run has drained its input. */
  def runBounded[T](writer: DataStreamWriter[T], ckpt: String): Unit =
    start(writer, ckpt).awaitTermination()

  case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp)

  case class OpenSession(
      session_id: Long,
      n_events: Long,
      start_us: Long,
      end_us: Long
  )

  case class SessionOut(
      user_id: Long,
      session_id: Long,
      n_events: Long,
      session_start: Timestamp,
      session_end: Timestamp
  )

  private def micros(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
  private def fromMicros(us: Long): Timestamp = Timestamp.from(java.time.Instant.ofEpochSecond(
    Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
  private def toOut(userId: Long, open: OpenSession): SessionOut =
    SessionOut(userId, open.session_id, open.n_events, fromMicros(open.start_us), fromMicros(open.end_us))

  /** Folds one delivery of a user's events into the open session, emitting
    * every session a gap closes. Micro-batch iterators are not time-ordered;
    * the per-user sort is bounded by that user's events in THIS batch (not
    * global history). An admitted late event that lands inside the open
    * session (us ≤ end + gap but us < end) merges without moving the
    * session end backwards — start/end are min/max, never last-seen. An
    * admitted event OLDER than the open session's reach (us < start − gap)
    * is dropped as too-late: it belongs to an already-numbered earlier
    * span, and retro-inserting a session would invalidate emitted ids —
    * the standard streaming late-data policy (size the watermark delay ≤
    * gap and this cannot trigger; in batch mode the global per-user sort
    * makes it unreachable). `prior` may be a flushed-counter marker
    * (n_events == 0): no open session, but session numbering continues
    * from its session_id. Returns the still-open trailing session (null
    * only when every event was dropped and no session was open).
    */
  private def foldEvents(
      gapUs: Long,
      userId: Long,
      rows: Iterator[SessionEvent],
      prior: Option[OpenSession],
      out: scala.collection.mutable.Builder[SessionOut, Seq[SessionOut]]
  ): OpenSession = {
    val evs = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
    var open = prior.filter(_.n_events > 0).orNull
    var nextId = prior.map(_.session_id + 1L).getOrElse(1L)
    for (e <- evs) {
      val us = micros(e.ts)
      if (open == null) {
        open = OpenSession(nextId, 1L, us, us)
      } else if (us - open.end_us > gapUs) {
        out += toOut(userId, open)
        open = OpenSession(open.session_id + 1L, 1L, us, us)
      } else if (us >= open.start_us - gapUs) {
        open = open.copy(
          n_events = open.n_events + 1L,
          start_us = math.min(open.start_us, us),
          end_us = math.max(open.end_us, us)
        )
      }
      // else: too-late event, dropped (see scaladoc).
    }
    open
  }

  /** Batch mode: each group is delivered exactly once with no timeout, so
    * the trailing session is flushed on the spot.
    */
  private def sessionizeGroup(gapUs: Long)(
      userId: Long,
      rows: Iterator[SessionEvent],
      state: GroupState[OpenSession]
  ): Iterator[SessionOut] = {
    val out = Seq.newBuilder[SessionOut]
    val open = foldEvents(gapUs, userId, rows, state.getOption, out)
    if (open != null) {
      out += toOut(userId, open)
      state.remove()
    }
    out.result().iterator
  }

  /** Streaming mode: the trailing session stays OPEN in the state store
    * and flushes via `EventTimeTimeout` when the watermark passes its
    * end + gap. The flush does NOT drop the key's state: it leaves a
    * counter marker (same OpenSession, n_events = 0) with a second,
    * longer timeout, so a returning user's next session continues the
    * cumulative session_id numbering instead of restarting at 1 — without
    * the marker, (user_id, session_id) stops being a unique key over the
    * stream's lifetime. The marker itself times out after
    * `counterRetentionGaps` further gap-lengths of silence and is removed
    * without emitting, so the store stays O(users active within the
    * retention window), not O(all users ever). Requires `withWatermark`
    * upstream (sessionizeStream wires it).
    */
  private def sessionizeGroupStreaming(gapUs: Long, counterRetentionGaps: Int)(
      userId: Long,
      rows: Iterator[SessionEvent],
      state: GroupState[OpenSession]
  ): Iterator[SessionOut] = {
    // Spark rejects a timeout at or below the current watermark — clamp:
    // a very-late event can fold into state whose end + gap is already
    // behind the watermark, and the flush must then fire next batch, not
    // crash this one.
    def timeoutAt(us: Long): Long =
      math.max(Math.floorDiv(us, 1000L) + 1L, state.getCurrentWatermarkMs() + 1L)
    if (state.hasTimedOut) {
      val open = state.get
      if (open.n_events > 0) {
        // Watermark passed end + gap: no on-time event can extend this
        // session — emit it and keep only the numbering counter.
        state.update(open.copy(n_events = 0L, start_us = open.end_us))
        state.setTimeoutTimestamp(timeoutAt(open.end_us + counterRetentionGaps.toLong * gapUs))
        Iterator.single(toOut(userId, open))
      } else {
        // Retention passed with no new session: forget the counter.
        state.remove()
        Iterator.empty
      }
    } else {
      val out = Seq.newBuilder[SessionOut]
      val open = foldEvents(gapUs, userId, rows, state.getOption, out)
      if (open != null) {
        state.update(open)
        // Event-time timeout fires when the watermark passes end + gap.
        state.setTimeoutTimestamp(timeoutAt(open.end_us + gapUs))
      }
      out.result().iterator
    }
  }

  /** The reference's staging→main load as a streaming job: each micro-batch
    * lands in staging and merges into main with audit timestamp +
    * business-key idempotency (`StagingSink.mergeToMain`). With
    * `Trigger.AvailableNow` this is the incremental-batch deployment shape
    * (run on a schedule, process only new files, stop); as a continuous
    * query it is the always-on shape — the code is identical. The
    * checkpoint gives exactly-once file tracking, and the key anti-join
    * makes replayed batches no-ops, so end-to-end the load is idempotent
    * even across checkpoint loss.
    */
  def stagedLoad(
      spark: SparkSession,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      stagingPath: String,
      mainPath: String,
      keyCols: Seq[String],
      checkpoint: String,
      clock: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = Nil,
      mainFilter: Option[org.apache.spark.sql.Column] = None
  ): StreamingQuery =
    start(
      spark.readStream.schema(schema).parquet(srcDir).writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.StagingSink.stage(batch, stagingPath)
        graft.sources.StagingSink.mergeToMain(
          batch.sparkSession, stagingPath, mainPath, keyCols, clock, partitionCols, mainFilter)
      },
      checkpoint)

  /** One micro-batch of the CDC upsert — the foreachBatch body of
    * [[cdcUpsert]], exposed so a replayed batch (checkpoint loss, driver
    * restart mid-commit) can be re-driven directly in tests and
    * recovery tooling. Three steps, each scale-shaped:
    *
    *  1. within-batch last-wins: one partial-agg'd groupBy on the key
    *     collapsing each key to its max-`seqCol` row (`max(struct(seq,
    *     payload…))` — ties on seq resolve by the struct's lexicographic
    *     tail, deterministically);
    *  2. stale-guard: a column-pruned (key, seq) scan of main is semi-
    *     joined down to the batch's keys (batch keys broadcast — the
    *     probe is map-side, main never shuffles), partial-aggs to one
    *     max-seq row per matched key (batch-bounded), and that small
    *     result broadcasts back onto the batch, dropping staged rows
    *     with `seq` ≤ the copy main already holds. This is what makes
    *     ANY replay idempotent — not just the crashed-batch re-run, but
    *     a stale batch re-delivered after newer data landed (pure
    *     key-replacement would regress values); it is MERGE's
    *     `WHEN MATCHED AND s.seq > m.seq THEN UPDATE` arm;
    *  3. `StagingSink.upsertToMain` merges the survivors (replace
    *     matched keys, insert new ones, touched-partition-only rewrite
    *     on a partitioned main).
    *
    * An emptied batch (everything stale) short-circuits before staging.
    */
  def cdcUpsertBatch(
      batch: DataFrame,
      stagingPath: String,
      mainPath: String,
      keyCols: Seq[String],
      seqCol: String,
      clock: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = Nil
  ): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val payload = batch.columns.filterNot(keyCols.contains).toSeq
    require(payload.contains(seqCol), s"cdcUpsertBatch: seq column `$seqCol` must be a non-key column")
    val latest = batch
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct((seqCol +: payload.filterNot(_ == seqCol)).map(col): _*)).as("__m"))
      .select(keyCols.map(col) ++ payload.map(c => col(s"__m.$c")): _*)
    val guarded =
      if (!graft.sources.StagingSink.exists(spark, mainPath)) latest
      else {
        val matchedMaxSeq = ParquetRead.load(spark, mainPath)
          .select((keyCols :+ seqCol).map(col): _*)
          .join(broadcast(latest.select(keyCols.map(col): _*)), keyCols, "left_semi")
          .groupBy(keyCols.map(col): _*)
          .agg(max(col(seqCol)).as("__main_seq"))
        latest
          .join(broadcast(matchedMaxSeq), keyCols, "left")
          .filter(col("__main_seq").isNull || col(seqCol) > col("__main_seq"))
          .drop("__main_seq")
      }
    if (!guarded.isEmpty) {
      graft.sources.StagingSink.stage(guarded, stagingPath)
      graft.sources.StagingSink.upsertToMain(
        spark, stagingPath, mainPath, keyCols, clock, partitionCols)
    }
  }

  /** The CDC deployment shape one step past [[stagedLoad]]: each
    * micro-batch UPSERTS into main (replace matched keys with the
    * batch's latest image, insert new ones) instead of append-with-
    * dedup — the change-stream → warehouse-table pattern. Same
    * triggers/checkpoint contract as stagedLoad; idempotent under batch
    * replay by the seq-guarded upsert semantics of [[cdcUpsertBatch]]
    * (MultimodalStreamingSpec drives a replay through it and checks the
    * end state against the batch MERGE oracle).
    */
  def cdcUpsert(
      spark: SparkSession,
      srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      stagingPath: String,
      mainPath: String,
      keyCols: Seq[String],
      seqCol: String,
      checkpoint: String,
      clock: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = Nil,
      maxFilesPerTrigger: Option[Int] = None
  ): StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    start(
      reader.parquet(srcDir).writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        cdcUpsertBatch(batch, stagingPath, mainPath, keyCols, seqCol, clock, partitionCols)
      },
      checkpoint)
  }

  /** Gap-based sessionization with explicit per-user state (batch form). */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30): Dataset[SessionOut] = {
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[SessionOut]
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()
      )(sessionizeGroup(gapUs))
  }

  /** True streaming deployment of [[sessionize]]: attach to a `readStream`
    * source, watermark the event time, and let `EventTimeTimeout` flush
    * each open session once the watermark passes its end + gap. Sessions a
    * gap closes inside a batch emit immediately; the trailing session per
    * user survives micro-batch boundaries in the state store (one
    * OpenSession per active user — 4 longs, never the event list).
    *
    * `watermarkDelay` is the allowed event-time disorder across batches:
    * events later than that are the deployment's late-data budget, exactly
    * as in the windowed-agg query. `counterRetentionGaps` bounds how long
    * (in gap-lengths of event-time silence) a flushed user's session
    * counter survives so numbering stays cumulative across timeouts; after
    * that the counter evicts and a much-later return restarts at 1.
    */
  def sessionizeStream(
      events: Dataset[SessionEvent],
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes",
      counterRetentionGaps: Int = 48
  ): Dataset[SessionOut] = {
    implicit val stateEnc = Encoders.product[OpenSession]
    implicit val outEnc = Encoders.product[SessionOut]
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()
      )(sessionizeGroupStreaming(gapUs, counterRetentionGaps))
  }
}
