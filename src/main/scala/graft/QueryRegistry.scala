package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered capability: a Spark query plus (when SQL-expressible) a
  * DuckDB oracle over the same parquet tables. Names in the Spark result and
  * the oracle SQL must match exactly (driver sorts columns by name, then
  * hashes values).
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryRegistry {
  // lazy vals, not defs: construction is pure but builds every closure and
  // oracle string — callers hit these inside timed loops (Bench, Explain,
  // ScaleGrowth) and a def would rebuild the whole registry per access.
  lazy val all: Seq[Q] = {
    val qs = EtlQueries.all ++ AnalyticQueries.all ++ TextQueries.all ++
      SimilarityQueries.all ++ StreamQueries.all
    // Fail duplicate names loudly (the config-loader convention): toMap
    // would silently keep the LAST registration — one implementation never
    // benched or verified, and possibly paired with the other's oracle.
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names registered: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
