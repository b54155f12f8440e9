package graft.tools
import org.apache.spark.sql.functions._
import graft.ops.{Clusters, TextDedup}
object CCProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(32)
    val dir = "/root/testdata/sf0.1"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def tme[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[cc] $tag%-28s ${(System.nanoTime()-t0)/1e9}%.2f s"); r }
    val pairs = tme("build pairs plan") {
      TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 5, 0.5) }
    val n = tme("count pairs") { pairs.count() }
    println(s"[cc] n_pairs = $n")
    val assign = tme("connectedComponents") {
      Clusters.connectedComponents(pairs, "id_a", "id_b") }
    tme("assign count") { assign.count() }
    val joined = docs.select(col("doc_id"))
      .join(assign.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
    tme("final join noop") { joined.write.format("noop").mode("overwrite").save() }
    spark.stop()
  }
}
