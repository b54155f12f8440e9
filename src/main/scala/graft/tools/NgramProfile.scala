package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.TextDedup

/** Stage-by-stage cost decomposition of the freq-ordered prefix join
  * (candidate volume vs verify cost) — profiling harness, not a gate. */
object NgramProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val threshold = 0.5
    val df = spark.read.parquet(s"$dir/documents.parquet")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val prepared = df
      .select(col("doc_id"), TextDedup.shingleHashes(col("text"), 5).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .persist()
    time("prep (shingle)") { prepared.count() }
    println("[prof] docs=" + prepared.count() +
      " avgShingles=" + prepared.agg(avg(size(col("__sh")))).head.getDouble(0))

    val toks = prepared.select(col("doc_id"), explode(col("__sh")).as("__h"))
    val freqs = toks.groupBy(col("__h")).agg(count(lit(1)).as("__c"))
    time("freqs") { freqs.count() }

    val prefixKernel = udf((ch: Seq[Long], hh: Seq[Long]) => {
      val n = ch.length
      val keys = new Array[(Long, Long)](n)
      var i = 0
      while (i < n) { keys(i) = (ch(i), hh(i)); i += 1 }
      java.util.Arrays.sort(keys, implicitly[Ordering[(Long, Long)]])
      val p = math.max(1, math.min(n - math.ceil(threshold * n).toInt + 1, n))
      Array.tabulate(p)(i => (i, keys(i)._2, n))
    })
    val prefixes = toks.hint("shuffle_hash").join(freqs, Seq("__h"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("__c")).as("__cs"), collect_list(col("__h")).as("__hs"))
      .select(col("doc_id"), explode(prefixKernel(col("__cs"), col("__hs"))).as("__p"))
      .select(col("doc_id"), col("__p._1").as("__pos"), col("__p._2").as("__h"),
        col("__p._3").as("__n"))
      .persist()
    time("prefixes") {
      println("[prof] prefixRows=" + prefixes.count())
    }

    // bucket-size distribution of the prefix join keys
    val buckets = prefixes.groupBy("__h").agg(count(lit(1)).as("c"))
    println("[prof] prefixVocab=" + buckets.count())
    println("[prof] sumCnt2=" +
      buckets.agg(sum(col("c") * col("c"))).head.get(0))
    buckets.orderBy(desc("c")).limit(20).collect()
      .foreach(r => println("[prof] topBucket h=" + r.get(0) + " c=" + r.get(1)))
    println("[prof] lenStats=" + prepared.select(size(col("__sh")).as("n"))
      .agg(min("n"), expr("percentile(n, 0.5)"), max("n")).head)

    val joined = prefixes.as("a").hint("shuffle_hash")
      .join(prefixes.as("b"),
        col("a.__h") === col("b.__h") && col("a.doc_id") < col("b.doc_id"))
    time("raw candidate rows") { println("[prof] rawCand=" + joined.count()) }

    val filtered = joined.filter(
      least(col("a.__n") - col("a.__pos"), col("b.__n") - col("b.__pos"))
        .cast("double") >= lit(threshold) * greatest(col("a.__n"), col("b.__n")))
    time("after positional") { println("[prof] posCand=" + filtered.count()) }

    val candidates = filtered
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")).distinct()
    time("distinct pairs") { println("[prof] pairs=" + candidates.count()) }

    val full = TextDedup.ngramJaccardPairs(df, "doc_id", "text", 5, threshold)
    time("full query") { println("[prof] result=" + full.count()) }
    spark.stop()
  }
}
