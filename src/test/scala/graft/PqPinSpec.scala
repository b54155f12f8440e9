package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/**
 * Guards behind the r11 PQ/OPQ outcome pins (`gates.VectorGates.SimsearchPins`
 * → the five `q_simsearch_{pq,ivfpq,indexed,append,opq}` oracles):
 *
 *  - `pqTrain`'s centroid updates accumulate order-free QUANTIZED
 *    LONGS (the Pca.train discipline), so the trained codebook — and
 *    therefore every downstream code, shortlist and rank — is
 *    bit-identical across partition layouts. That purity is what
 *    makes pinning the gate outputs as oracle constants honest: a
 *    k-means float iteration has no independent SQL recompute (the
 *    necessity argument those gates carried as rows-only), but a
 *    PURE function's output is a well-defined property of the
 *    fixture, not an accident of scheduling.
 *  - the tripwire: each pinned gate re-derives at the driver's
 *    correctness SF and must equal the pin map VERBATIM (the oracle
 *    SQL is GENERATED from the same map, so spec and oracle cannot
 *    drift). A fixture regeneration or a training change fails HERE
 *    with a named reason instead of as an opaque oracle hash
 *    mismatch.
 */
class PqPinSpec extends SparkSpec {
  import spark.implicits._

  test("pqTrain is bit-identical across partition layouts (order-free " +
    "quantized-long centroid sums)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 8, k = 16, iterations = 3)
    val b = Similarity.pqTrain(emb.repartition(13), "vec_id", "embedding",
      m = 8, k = 16, iterations = 3)
    val c = Similarity.pqTrain(emb.coalesce(1), "vec_id", "embedding",
      m = 8, k = 16, iterations = 3)
    def flat(cb: Array[Array[Array[Double]]]): Seq[Double] =
      cb.flatten.flatten.toSeq
    assert(flat(a) == flat(b),
      "codebook differs under repartition — the centroid sum is not " +
        "order-free")
    assert(flat(a) == flat(c), "codebook differs under coalesce(1)")
    spark.catalog.clearCache()
  }

  test("QualityClassifier.train is bit-identical across partition " +
    "layouts (order-free quantized-long epoch gradients), and the " +
    "sf0.01 negative-prediction set IS the pinned oracle list") {
    import graft.ops.{QualityClassifier, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val labeled = docs.select(col("doc_id"), col("text"),
      (TextAnalysis.qualityScore(col("text")) >= 0.9).cast("int")
        .as("weak_label"))
    def weights(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      QualityClassifier.train(df, "text", "weak_label",
        dim = 1024, epochs = 4, lr = 4.0).weights.toSeq
    assert(weights(labeled) == weights(labeled.repartition(13)),
      "weights differ under repartition — the gradient is not order-free")
    // the tripwire: the gate's exact pipeline at the driver's
    // correctness SF must reproduce the pinned negative set
    val docs01 = spark.read.parquet(
      "/root/testdata/sf0.01/documents.parquet")
    val labeled01 = docs01.select(col("doc_id"), col("text"),
      (TextAnalysis.qualityScore(col("text")) >= 0.9).cast("int")
        .as("weak_label"))
    val model = QualityClassifier.train(labeled01, "text", "weak_label",
      dim = 4096, epochs = 8, lr = 4.0)
    val pred0 = QualityClassifier
      .score(labeled01, "doc_id", "text", model)
      .filter(col("quality_pred") === 0)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(pred0 == gates.TextGates.QualityClassifierPred0,
      s"negative set moved off its pin (${pred0.size} ids) — " +
        "re-derive and update QualityClassifierPred0 WITH this tripwire")
    spark.catalog.clearCache()
  }

  test("q_pca re-derives EXACTLY the pinned whitened projections at " +
    "the driver's correctness SF — bit-equal doubles via shortest " +
    "round-trip decimals") {
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q_pca")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), (1 until r.length).map(r.getDouble)))
      .sortBy(_._1).toSeq
    val pinned = gates.VectorGates.PcaPins.map { case (id, a, b, c, d) =>
      (id, Seq(a, b, c, d).map(java.lang.Double.parseDouble))
    }.sortBy(_._1)
    assert(got.size == pinned.size)
    got.zip(pinned).foreach { case ((gi, gp), (pi, pp)) =>
      assert(gi == pi && gp == pp,
        s"q_pca moved off its pin at vec_id $gi: $gp vs $pp — " +
          "re-derive and update PcaPins WITH this tripwire")
    }
    spark.catalog.clearCache()
  }

  test("q_unigram_train and q_sketch_rollup re-derive their pins at " +
    "the driver's correctness SF, and the unigram trainer is " +
    "layout-invariant") {
    import graft.ops.TextAnalysis
    val dir = "/root/testdata/sf0.01"
    // unigram: trainer invariance under repartition, then the pin
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val a = TextAnalysis.trainUnigramLm(docs, "text", vocabSize = 60)
    val b = TextAnalysis.trainUnigramLm(docs.repartition(13), "text",
      vocabSize = 60)
    assert(a.toSeq == b.toSeq,
      "unigram vocab differs under repartition")
    val gotUg = SparkEntry.queries("q_unigram_train")(spark, dir)
      .collect().map(r => (r.getString(0),
        java.lang.Double.toString(r.getDouble(1))))
      .sortBy(_._1).toSeq
    assert(gotUg == gates.TokenGates.UnigramTrainPins.sortBy(_._1),
      "q_unigram_train moved off its pin — re-derive and update " +
        "UnigramTrainPins WITH this tripwire")
    // sketch rollup: register maxes are order-invariant; the pin
    val gotSk = SparkEntry.queries("q_sketch_rollup")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(gotSk == gates.StatsGates.SketchRollupPins.sortBy(_._1),
      "q_sketch_rollup moved off its pin — re-derive and update " +
        "SketchRollupPins WITH this tripwire")
    spark.catalog.clearCache()
  }

  test("the five pinned simsearch gates re-derive EXACTLY the pin map " +
    "at the driver's correctness SF (fixture-regeneration tripwire)") {
    val dir = "/root/testdata/sf0.01"
    gates.VectorGates.SimsearchPins.foreach { case (name, pinned) =>
      val got = SparkEntry.queries(name)(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(got == pinned.sortBy(t => (t._1, t._3)),
        s"$name moved off its pin (${got.size} rows vs " +
          s"${pinned.size}) — re-derive and update SimsearchPins " +
          "WITH this tripwire")
      spark.catalog.clearCache()
    }
  }
}
