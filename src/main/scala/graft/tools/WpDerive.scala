package graft.tools

/** One-off derivation helper for the WordPiece vocab pin: trains on
  * the fixture and prints the induced vocab as Scala source. */
object WpDerive {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val merges = graft.ops.TextAnalysis.trainWordPiece(docs, "text", 40)
    println("=== merges ===")
    merges.foreach { case (rk, l, r, c, cl, cr) =>
      println(s"""($rk, "$l", "$r", ${c}L, ${cl}L, ${cr}L),""")
    }
    val vocab = graft.ops.TextAnalysis.wordPieceVocab(docs, "text", merges)
    println(s"=== vocab (${vocab.size}) ===")
    println(vocab.toSeq.sorted.map(p => "\"" + p + "\"")
      .grouped(8).map(_.mkString(", ")).mkString(",\n"))
    spark.stop()
  }
}
