package graft.tools

object Debug {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    args.drop(1).foreach { q =>
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        // GRAFT_DEBUG_OUT=<dir>: also dump the result like Verify does,
        // so a single gate can be DuckDB-compared without a full run
        val n = sys.env.get("GRAFT_DEBUG_OUT") match {
          case Some(out) =>
            df.write.mode("overwrite").parquet(s"$out/$q")
            spark.read.parquet(s"$out/$q").count()
          case None => df.count()
        }
        println(f"[debug] $q: $n rows in ${(System.nanoTime()-t0)/1e9}%.1fs")
      } catch { case e: Throwable =>
        println(s"[debug] $q FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
      }
      spark.catalog.clearCache()
      graft.Gateway.releaseAllCaches()
    }
    spark.stop()
  }
}
