package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan inspector: prints the formatted physical plan
  * (`explainString(FormattedMode)`: the operator tree, then each operator's
  * inputs, outputs and arguments) of the named queries, all of them with
  * no args — the "explain, then iterate until it's the plan you'd want"
  * loop, and the before/after plan artifact of a change (redirect stdout
  * to a file and diff two checkouts). Plans are printed on demand, not
  * committed; PlanAuditSpec pins the load-bearing shapes.
  * `sbt "runMain graft.Explain q_oov_rate q_corr_stats"`; pass `-x` to
  * EXECUTE each query first and print the final adaptive plan (stage
  * reuse and AQE re-plans only appear there); `-l` alone lists the
  * registry without starting Spark. Reads `$SPARK_GRAFT_SF_DIR` (default
  * sf0.01).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val execute = args.contains("-x")
    val rest = args.toSeq.filterNot(_ == "-x")
    if (rest == Seq("-l")) { // registry inventory, no Spark session
      val all = QueryRegistry.all
      all.foreach(q => println(s"${q.name}\t${if (q.oracle.isDefined) "oracle" else "spec"}"))
      println(s"total=${all.size} oracled=${all.count(_.oracle.isDefined)}")
      return
    }
    val spark = Engine.localSession()
    val names = if (rest.nonEmpty) rest else QueryRegistry.all.map(_.name)
    for (n <- names) {
      val df = QueryRegistry.queries(n)(spark, sfDir)
      // collect() (not a noop write): a write executes a COPIED
      // QueryExecution — this df's own adaptive plan must run for
      // isFinalPlan/stage-reuse markers to appear below.
      if (execute) df.collect()
      println(s"===== $n =====")
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
