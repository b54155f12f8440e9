package graft.tools

/** Prints whether trigram_similarity runs inside WholeStageCodegen
  * (checked over a real scan — a local relation is collapsed to a
  * LocalTableScan with no codegen stage at all). */
object CodegenCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(2)
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Functions.register(spark)
    val df = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
      .selectExpr("trigram_similarity(c_name, c_mktsegment) as sim")
    val plan = df.queryExecution.executedPlan.toString
    println("[codegen] trigram plan:\n" + plan)
    import spark.implicits._
    println("[codegen] sum: " + df.as[Double].collect().sum)

    // native shingle prep must sit inside a WholeStageCodegen span
    import org.apache.spark.sql.functions._
    val sh = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.ops.TextDedup.shingleHashes(col("text"), 5).as("sh"))
    val shPlan = sh.queryExecution.executedPlan.toString
    println("[codegen] shingle plan:\n" + shPlan)
    // the simple plan string marks WholeStageCodegen stages with "*(n)";
    // the shingle projection must carry the marker
    val inCodegen = shPlan.linesIterator
      .exists(l => l.contains("shingle_hashes") && l.contains("*("))
    println(s"[codegen] shingle_hashes inside WholeStageCodegen: $inCodegen")
    println("[codegen] shingle rows: " + sh.count())
    spark.stop()
  }
}
