package graft.tools

/** Writes `.explain("formatted")` output for the named registered queries to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan artifacts of an
  * optimization round (the judge checks plan claims against these files).
  *
  * Usage: runMain graft.tools.PlanDump <suffix> <outDir> <query> [query...]
  * Reads $SPARK_GRAFT_SF_DIR (default sf0.1).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.localSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (n <- names) {
      val df = graft.QueryRegistry.queries(n)(spark, sfDir)
      val txt = df.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      System.err.println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
