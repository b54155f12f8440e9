package graft.tools
import org.apache.spark.sql.functions._
import graft.ops.Similarity
object PqTune {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(8)
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    for ((m, k, it, sf) <- Seq((8,16,2,8), (16,16,2,8), (16,32,3,8), (16,32,3,16), (8,32,3,16), (16,64,3,16))) {
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, k, it)
      val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", cb, 3, sf)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      println(f"[pq] m=$m k=$k it=$it sf=$sf recall=${(pq & bf).size.toDouble / bf.size}%.3f")
    }
    spark.stop()
  }
}
