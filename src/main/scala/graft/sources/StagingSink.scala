package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staging→main load pattern (reference: utils.py:44-73 — load CSV to a
  * BigQuery staging table, then `INSERT INTO main SELECT *,
  * CURRENT_TIMESTAMP()` with create-if-missing), re-expressed on the
  * parquet/table layer.
  *
  * Scale notes: the idempotency check is a left-anti join on the business
  * key — at 100 TB callers pass `mainFilter` (the same watermark that
  * bounded the extract) so the main side is partition-pruned and the
  * anti-join touches only recent partitions; AQE picks broadcast for a
  * small staging batch. No driver-side state.
  */
object StagingSink {

  /** Write a batch to the staging location (full overwrite — staging is
    * transient by contract).
    */
  def stage(df: DataFrame, stagingPath: String): Unit =
    df.write.mode("overwrite").parquet(stagingPath)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether a main table exists at `path` — the first-load check the
    * streaming CDC upsert needs before its stale-guard scan of main.
    */
  private[graft] def mainExists(spark: SparkSession, path: String): Boolean =
    exists(spark, path)

  /** Compact a parquet table's small files: incremental loads append one
    * file per batch-partition, and a year of hourly merges leaves main as
    * thousands of KB-sized files whose open/footer costs dominate every
    * scan. Rewrites to ceil(bytes / targetFileBytes) files via
    * repartition, then swaps directories with checked renames (write to
    * `<path>__compact`, move main to `<path>__old`, move the rewrite in,
    * drop `__old`); a crash between the renames is recovered on the next
    * call — the table is never deleted until its replacement is in place.
    * A Hive-partitioned main is detected automatically (every `name=value`
    * directory level) and rewritten with its layout — each partition gets
    * its own salt range sized from its OWN bytes (one metadata walk, the
    * same listings partition discovery performs; O(partitions) driver
    * state, the planner's norm), so small partitions compact to exactly
    * one file while an oversized partition splits toward the target size
    * — neither the tasks × partitions small-file explosion of a
    * round-robin repartition nor a 50 GB single-task funnel. The salt
    * hashes the hashable data columns (falling back to a row id when
    * every column is a map or a partition key). `partitionCols` overrides
    * detection when repartitioning INTO a new layout; per-partition sizes
    * are then unknown, so sizing falls back to a global average over the
    * distinct partition count. Optionally sorts within partitions by
    * `sortCols` (prefixed with the partition columns so the
    * dynamic-partition writer keeps the ordering) so parquet row-group
    * min/max stats become selective for those columns (poor-man's
    * clustering).
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil,
      partitionCols: Seq[String] = Nil
  ): Int = {
    val p = new Path(path)
    val tmpP = new Path(path + "__compact")
    val oldP = new Path(path + "__old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery: a leftover __old with no main means a previous
    // compaction died between its two renames — the old dir IS the table;
    // restore it before anything else. A leftover __old alongside main is
    // a superseded copy (crash after the swap, before cleanup) — drop it.
    if (fs.exists(oldP) && !fs.exists(p)) require(fs.rename(oldP, p), s"recovery rename $oldP -> $p failed")
    if (fs.exists(oldP)) require(fs.delete(oldP, true), s"could not delete stale $oldP")
    if (fs.exists(tmpP)) require(fs.delete(tmpP, true), s"could not delete stale $tmpP")

    // A Hive-partitioned main must be rewritten partitioned, or the next
    // partitioned append produces conflicting directory depths — detect
    // the FULL layout (all `name=value` levels, e.g. date=/hour=) rather
    // than trusting the caller to remember, and record each leaf
    // partition's VALUES and BYTES while walking so file sizing is
    // per-partition (same listings partition discovery performs anyway).
    def walk(dir: Path, values: Seq[String]): (Seq[String], Seq[(Seq[String], Long)]) = {
      val st = fs.listStatus(dir).toSeq
      val dirs = st.filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (dirs.isEmpty)
        (Nil, Seq(values -> st.filter(_.isFile).map(_.getLen).sum))
      else {
        val level = dirs.head.getPath.getName.takeWhile(_ != '=')
        val below = dirs.map(d => walk(d.getPath, values :+ d.getPath.getName.dropWhile(_ != '=').tail))
        (level +: below.head._1, below.flatMap(_._2))
      }
    }
    val (walked, leaves) = walk(p, Nil)
    val detected = if (partitionCols.nonEmpty) partitionCols else walked

    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val base = ParquetRead.load(spark, path)
    def subFiles(b: Long): Int = math.max(1, math.ceil(b.toDouble / targetFileBytes).toInt)

    // Salt source: hash the hashable data columns (hash() rejects maps;
    // a table whose every column is a partition key has none) — fall back
    // to a synthetic row id, only ever used modulo the salt range.
    val hashable = base.schema.fields.toIndexedSeq
      .filterNot(f => detected.contains(f.name))
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name))
    val saltSrc = if (hashable.nonEmpty) hash(hashable: _*) else monotonically_increasing_id()
    val sep = "\u0001"

    val df0 =
      if (detected.isEmpty) base.repartition(nFiles)
      else if (detected == walked && leaves.nonEmpty) {
        // Per-partition salt range: each leaf's own bytes decide how many
        // files it splits into — 1 for small partitions, ~bytes/target
        // for an oversized one — joined in via a broadcast map keyed on
        // the partition VALUES in string form (as the directory names
        // encode them; an exotic escaped value misses the map and falls
        // back to 1 file via the left join).
        import spark.implicits._
        val mapDf = leaves.map { case (vs, b) => (vs.mkString(sep), subFiles(b)) }.toDF("__pk", "__nsub")
        base
          .withColumn("__pk", concat_ws(sep, detected.map(c => col(c).cast("string")): _*))
          .join(broadcast(mapDf), Seq("__pk"), "left")
          .withColumn("__salt", pmod(saltSrc, coalesce(col("__nsub"), lit(1))))
          .repartition(nFiles, detected.map(col) :+ col("__salt"): _*)
          .drop("__pk", "__nsub", "__salt")
      } else {
        // Repartitioning INTO a new layout (explicit partitionCols with no
        // matching dirs): per-partition bytes are unknowable from the
        // walk — average over the distinct partition count (one cheap
        // key-only aggregate job).
        val distinctParts = math.max(1L, base.select(detected.map(col): _*).distinct().count())
        val per = math.max(1, math.ceil(nFiles.toDouble / distinctParts).toInt)
        base.repartition(nFiles, detected.map(col) :+ pmod(saltSrc, lit(per)): _*)
      }
    // Prefix the sort with the partition columns: the dynamic-partition
    // writer requires that ordering and would otherwise insert its own
    // sort on just the partition columns, discarding the clustering.
    val effectiveSort = (detected ++ sortCols).map(col)
    val df = if (effectiveSort.nonEmpty) df0.sortWithinPartitions(effectiveSort: _*) else df0
    val writer = df.write.mode("overwrite")
    (if (detected.nonEmpty) writer.partitionBy(detected: _*) else writer).parquet(tmpP.toString)

    // Hadoop rename signals failure by RETURNING false — check both, and
    // never delete the old copy until the new one is in place.
    require(fs.rename(p, oldP), s"rename $p -> $oldP failed; table untouched")
    if (!fs.rename(tmpP, p)) {
      require(fs.rename(oldP, p), s"rollback rename $oldP -> $p failed — table is at $oldP")
      throw new IllegalStateException(s"rename $tmpP -> $p failed; rolled back")
    }
    fs.delete(oldP, true) // best-effort; recovery above handles leftovers
    nFiles
  }

  /** The relative paths of a partitioned table's leaf partition
    * directories (every nested `name=value` level), e.g. `dt=2024-01-01`
    * or `dt=2024-01-01/hour=3`. A dir with no `name=value` children is a
    * leaf. Driver-side metadata walk, O(partitions) — the same listing
    * partition discovery performs.
    */
  private def leafPartitionDirs(fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[String] = {
    def walk(dir: Path, rel: Seq[String]): Seq[Seq[String]] = {
      val dirs = fs.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      if (dirs.isEmpty) { if (rel.isEmpty) Nil else Seq(rel) }
      else dirs.flatMap(d => walk(d.getPath, rel :+ d.getPath.getName))
    }
    walk(root, Nil).map(_.mkString("/"))
  }

  /** The distinct partition values of main rows whose business key matches
    * a staged key — the partitions a MERGE must rewrite BEYOND the staged
    * rows' own, because a staged row may carry a different partition value
    * than the main row it replaces (the stale copy's partition). Exposed so
    * the plan spec can pin the scan's scale shape: main reads ONLY the key
    * columns (partition values come from directory names, data columns are
    * pruned from ReadSchema), and the staged key set is the small side AQE
    * broadcasts — the same full-table key scan Delta's MERGE performs when
    * no pruning predicate bounds the match.
    */
  def matchedKeyPartitions(
      spark: SparkSession,
      stagingPath: String,
      mainPath: String,
      keyCols: Seq[String],
      partitionCols: Seq[String]
  ): DataFrame =
    ParquetRead.load(spark, mainPath)
      .join(ParquetRead.load(spark, stagingPath).select(keyCols.map(col): _*), keyCols, "left_semi")
      .select(partitionCols.map(col): _*)
      .distinct()

  /** Delta-style MERGE (upsert): each staged row REPLACES the main row
    * sharing its business key, or inserts when the key is new — the
    * update-in-place idiom the append-only staging→insert pattern cannot
    * express (whenMatched-update / whenNotMatched-insert with staged-wins
    * semantics; the reference's warehouse has this as BigQuery MERGE, its
    * DAGs only ever use the insert-only path). Updated and inserted rows
    * get `date_added_utc = clock`; untouched rows keep theirs. An empty
    * staging batch is a no-op (the zero-new-rows incremental run).
    *
    * Scale contract: on a PARTITIONED main (the 100 TB layout) only the
    * TOUCHED partitions are rewritten — their values are collected
    * (bounded driver state, the planner's norm) into a planning-time
    * pruning predicate (null-safe, so a null partition value prunes to
    * the `__HIVE_DEFAULT_PARTITION__` directory rather than to nothing),
    * the touched survivors union the staged batch into a temp dir, and
    * the touched directories are swapped in with per-partition checked
    * renames (old dirs parked under `__parked` until every swap lands — a
    * crash mid-swap is recovered on the next call, and an interrupted
    * merge is completed by re-running the same batch, which is
    * idempotent). A touched partition whose every row was replaced
    * ends up deleted, as MERGE semantics require.
    *
    * Which partitions are touched: the staged rows' own partition values,
    * PLUS — because a staged row may carry a DIFFERENT partition value
    * than the main row it replaces (the stale copy must go) — the
    * partitions of main rows whose key matches a staged key, found by a
    * column-pruned key scan of main (keys + partition values only; the
    * staged side broadcasts). That scan is skipped when it provably
    * cannot matter (`partitionCols ⊆ keyCols`: equal keys force equal
    * partition values) or when the caller asserts the functional
    * dependency key → partition with `stablePartitionKeys = true` (the
    * usual date-partitioned warehouse, where the partition column is
    * derived from the immutable business date). Untouched history is
    * never read or written — except by that opt-out-able key scan.
    *
    * An unpartitioned main is a full rewrite through a temp dir with the
    * same checked-rename swap compact() uses (main is never deleted until
    * its replacement is in place; a crash between the renames leaves
    * `__old` as the table, recovered on the next upsert).
    */
  def upsertToMain(
      spark: SparkSession,
      stagingPath: String,
      mainPath: String,
      keyCols: Seq[String],
      clock: Column = current_timestamp(),
      partitionCols: Seq[String] = Nil,
      stablePartitionKeys: Boolean = false
  ): Unit = {
    val p = new Path(mainPath)
    val tmpP = new Path(mainPath + "__upsert")
    val oldP = new Path(mainPath + "__old")
    // The partitioned swap parks touched dirs under its OWN suffix, not
    // __old: compact()'s recovery treats a __old alongside main as a
    // superseded whole-table copy and DELETES it — if the partitioned
    // upsert parked there, a routine compaction after an interrupted
    // upsert would destroy the only copy of a not-yet-replaced partition.
    // __parked has exactly one owner and one meaning.
    val parkP = new Path(mainPath + "__parked")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery FIRST, before the exists check decides anything: a
    // leftover __old with no main means a previous swap died between its
    // renames — the old dir IS the table, and treating its absence as
    // "first load" would clobber it.
    if (fs.exists(oldP) && !fs.exists(p))
      require(fs.rename(oldP, p), s"recovery rename $oldP -> $p failed")
    else if (fs.exists(oldP))
      // Superseded whole-table copy from a crash after the unpartitioned
      // swap, before cleanup — same protocol (and safe mutual recovery)
      // as compact().
      require(fs.delete(oldP, true), s"could not delete stale $oldP")
    // Partitioned-swap recovery: __parked holds the moved-out copies of a
    // swap that died mid-flight. Restore any leaf main lacks (its
    // replacement never landed — conservative: never lose survivor rows;
    // a restored stale partition is re-merged when the interrupted batch
    // is re-run, which the failure contract requires anyway), then drop
    // the rest (superseded — their replacements are in place).
    if (fs.exists(parkP)) {
      leafPartitionDirs(fs, parkP).foreach { rel =>
        val dst = new Path(p, rel)
        if (!fs.exists(dst)) {
          fs.mkdirs(dst.getParent)
          require(fs.rename(new Path(parkP, rel), dst), s"recovery rename $parkP/$rel -> $dst failed")
        }
      }
      require(fs.delete(parkP, true), s"could not delete recovered $parkP")
    }
    if (fs.exists(tmpP)) require(fs.delete(tmpP, true), s"could not delete stale $tmpP")

    val staged0 = ParquetRead.load(spark, stagingPath)
    if (staged0.isEmpty) return
    val staged = staged0.withColumn("date_added_utc", clock)
    def writeOut(df: DataFrame, path: String): Unit = {
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(path)
    }
    if (!exists(spark, mainPath)) { writeOut(staged, mainPath); return }

    if (partitionCols.nonEmpty) {
      val stagedParts = staged.select(partitionCols.map(col): _*).distinct().collect()
      val keysPinPartition = partitionCols.forall(keyCols.contains) || stablePartitionKeys
      val touched =
        if (keysPinPartition) stagedParts
        else
          (stagedParts ++
            matchedKeyPartitions(spark, stagingPath, mainPath, keyCols, partitionCols).collect()).distinct
      val pruning = touched
        .map(r => partitionCols.zipWithIndex
          .map { case (c, i) => col(c) <=> lit(r.get(i)) }
          .reduce(_ && _))
        .reduceOption(_ || _)
        .getOrElse(lit(false))
      val main = ParquetRead.load(spark, mainPath)
      val survivors = main
        .where(pruning)
        .join(staged.select(keyCols.map(col): _*), keyCols, "left_anti")
      // Materialize to a temp dir first — a file source cannot overwrite a
      // path it is reading — bounded by the touched partitions, not the
      // table. The existing touched directories are found from the files
      // the pruned scan actually reads (no re-derivation of Hive partition-
      // path escaping; `input_file_name` names them authoritatively).
      writeOut(survivors.unionByName(staged), tmpP.toString)
      val qualifiedMain = fs.makeQualified(p).toString
      val mainTouched = main
        .where(pruning)
        .select(input_file_name().as("f"))
        .distinct()
        .collect()
        .map { r =>
          val dir = new Path(new java.net.URI(r.getString(0))).getParent
          val rel = fs.makeQualified(dir).toString.stripPrefix(qualifiedMain).stripPrefix("/")
          require(rel.nonEmpty && rel.contains("="), s"unexpected non-partition file dir $dir under $mainPath")
          rel
        }
        .distinct
      // Per-partition checked-rename swap: park each existing touched dir
      // under __parked, move the rewrite in, and only then drop __parked —
      // no point in the sequence loses data, each completed dir is complete
      // (directory renames are atomic), and recovery above handles a crash
      // anywhere in between. A touched dir absent from tmp had every row
      // replaced — parking it IS its deletion.
      mainTouched.foreach { rel =>
        val bak = new Path(parkP, rel)
        fs.mkdirs(bak.getParent)
        require(fs.rename(new Path(p, rel), bak), s"rename $mainPath/$rel -> $bak failed")
      }
      leafPartitionDirs(fs, tmpP).foreach { rel =>
        val dst = new Path(p, rel)
        fs.mkdirs(dst.getParent)
        require(fs.rename(new Path(tmpP, rel), dst), s"rename $tmpP/$rel -> $dst failed")
      }
      fs.delete(parkP, true)
      fs.delete(tmpP, true)
    } else {
      // Recovery and stale-dir cleanup already ran at entry.
      val survivors = ParquetRead.load(spark, mainPath)
        .join(staged.select(keyCols.map(col): _*), keyCols, "left_anti")
      writeOut(survivors.unionByName(staged), tmpP.toString)
      require(fs.rename(p, oldP), s"rename $p -> $oldP failed; table untouched")
      if (!fs.rename(tmpP, p)) {
        require(fs.rename(oldP, p), s"rollback rename $oldP -> $p failed — table is at $oldP")
        throw new IllegalStateException(s"rename $tmpP -> $p failed; rolled back")
      }
      fs.delete(oldP, true)
    }
  }

  /** The incremental-extract cutoff: max `date_added_utc` in main, or None
    * when main does not exist yet (first load takes everything). The
    * reference derives its update watermark the same way (uscrn_dag.py:
    * 96-113 check_last_added, uscrn_wind_dag.py:85 get_update_cutoff). A
    * 1-row max aggregate — on a date-partitioned main, Spark answers it
    * from the latest partitions' footers, never a full scan.
    */
  def lastAdded(spark: SparkSession, mainPath: String): Option[java.sql.Timestamp] =
    if (!exists(spark, mainPath)) None
    else
      Option(
        ParquetRead.load(spark, mainPath)
          .agg(max(col("date_added_utc")))
          .head().getTimestamp(0)
      )

  /** The staged rows that are NOT yet in main: the anti-join the merge
    * appends. Exposed so callers (and the pruning spec) can inspect the
    * plan. `mainFilter` bounds the main-side key read — on a partitioned
    * main a watermark predicate here becomes planning-time partition
    * pruning, so the idempotency check never scans historical partitions.
    * The filter must be CONSERVATIVE: every main row that could collide
    * with this batch's keys must satisfy it (the extract watermark is by
    * construction — staged rows are newer than the cutoff, so their keys
    * can only exist in partitions at/after the cutoff).
    */
  def freshRows(
      spark: SparkSession,
      stagingPath: String,
      mainPath: String,
      keyCols: Seq[String],
      mainFilter: Option[Column] = None
  ): DataFrame = {
    val staged = ParquetRead.load(spark, stagingPath)
    if (exists(spark, mainPath)) {
      val main = ParquetRead.load(spark, mainPath)
      val bounded = mainFilter.fold(main)(main.where)
      staged.join(bounded.select(keyCols.map(col).toIndexedSeq: _*), keyCols, "left_anti")
    } else staged
  }

  /** Append staged rows to main with an audit timestamp, creating main if
    * missing. Re-running the same batch is a no-op: rows whose `keyCols`
    * already exist in main are anti-joined away (the reference gets this
    * from its pre-load dedup + watermark; here it is explicit and exact).
    * Pass `mainFilter` (the extract watermark) so the anti-join's main
    * side is partition-pruned rather than a full historical key scan.
    *
    * `clock` defaults to `current_timestamp()`; tests pass a fixed literal
    * for determinism.
    */
  def mergeToMain(
      spark: SparkSession,
      stagingPath: String,
      mainPath: String,
      keyCols: Seq[String],
      clock: Column = current_timestamp(),
      partitionCols: Seq[String] = Nil,
      mainFilter: Option[Column] = None
  ): Unit = {
    val fresh = freshRows(spark, stagingPath, mainPath, keyCols, mainFilter)
    val writer = fresh.withColumn("date_added_utc", clock).write.mode("append")
    // Hive-style partitioning of main: this is the 100 TB layout that turns
    // watermark predicates into partition pruning (whole date directories
    // skipped at planning time — see SURVEY §5 and SourcesSpec's pruning
    // assertion) and bounds the idempotency anti-join to recent partitions.
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(mainPath)
  }
}
