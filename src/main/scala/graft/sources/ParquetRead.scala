package graft.sources

import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The one way a batch Parquet path becomes a DataFrame.
  *
  * `spark.read.parquet(path)` runs one Spark job (and about 60 ms) to infer
  * the schema on every call — Spark merges footers in parallel even for a
  * single file. The loader infers a path's schema once and hands the
  * remembered schema to later reads, which then start no job.
  *
  * An entry is keyed by the session (held weakly), the qualified path and
  * the session's `*parquet*` conf values, and is valid only for the listing
  * it was inferred from: the (relative path, length, mtime) of every data
  * file. A read under a remembered schema takes that fingerprint from the
  * listing its own file index made, and on any difference falls back to a
  * plain read, which re-infers and replaces the entry — one entry per
  * (session, path, conf). A missing path fails either read the same way,
  * and a listing with no data files never matches an entry, so it goes to
  * the plain read and fails as `spark.read.parquet` does instead of
  * yielding an empty DataFrame under a stale schema.
  */
object ParquetRead {
  private type Key = (String, Map[String, String])
  private final case class Entry(schema: StructType, files: Set[(String, Long, Long)])

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, Entry]]()

  def load(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val root = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    val conf = spark.conf.getAll.filter { case (k, _) => k.toLowerCase(Locale.ROOT).contains("parquet") }
    val key = (root, conf)
    val cache = sessions.synchronized(sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[Key, Entry]()))
    Option(cache.get(key))
      .map(e => e -> spark.read.schema(e.schema).parquet(path))
      .collect { case (e, df) if listing(df, root).contains(e.files) => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        listing(df, root).foreach(files => cache.put(key, Entry(df.schema, files)))
        df
      }
  }

  /** The schema [[load]] gives `path`: a stream source over a Parquet
    * directory takes it from here.
    */
  def schema(spark: SparkSession, path: String): StructType = load(spark, path).schema

  /** The data files the read's file index listed, relative to `root`;
    * None when the plan is not a file-index scan. An entry never holds an
    * empty listing (the plain read fails on one), so a table emptied or
    * deleted since it was remembered always differs from its entry.
    */
  private def listing(df: DataFrame, root: String): Option[Set[(String, Long, Long)]] =
    Some(df.queryExecution.analyzed)
      .collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case index: PartitioningAwareFileIndex =>
        index.allFiles().map(f => (f.getPath.toString.stripPrefix(root), f.getLen, f.getModificationTime)).toSet
      }
}
