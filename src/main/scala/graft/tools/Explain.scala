package graft.tools

/** Dump formatted physical plans for plan-quality review: pushdown,
  * pruning, join strategies, codegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    args.drop(1).foreach { q =>
      println(s"\n========== $q ==========")
      try println(graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
