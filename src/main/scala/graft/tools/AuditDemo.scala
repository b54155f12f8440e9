package graft.tools

/** Drives the DatabaseAudit surface over real parquet (demo/evidence). */
object AuditDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val rep = graft.operators.DatabaseAudit.audit(customer,
      coverageColumns = Seq("c_name", "c_mktsegment", "c_acctbal"),
      distributionColumns = Seq("c_mktsegment"))
    println(rep)
    println("[audit] distribution: " + rep.distributions("c_mktsegment"))
    spark.stop()
  }
}
