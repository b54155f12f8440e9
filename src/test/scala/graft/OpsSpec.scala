package graft

import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Retrieval, Similarity, TextAnalysis, TextDedup}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("exact dedup keeps one survivor per distinct content") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("id", "t")
    val out = TextDedup.exactDedup(df, "id", "t")
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 3L))
  }

  test("duplicate spans: cross-doc runs found, merged, intra-doc excluded") {
    // docs 1 and 2 share the 6-token run "a b c d e f" (doc 2 shifted);
    // doc 3 repeats its own trigram (intra-doc only → no span); doc 4
    // is unrelated. k=3 → doc 1/2 hits at every window inside the run.
    val df = Seq(
      (1L, "a b c d e f x y z"),
      (2L, "p q a b c d e f"),
      (3L, "m n o m n o m n o"),
      (4L, "unrelated words entirely here today")
    ).toDF("id", "t")
    val spans = TextDedup.duplicateSpans(df, "id", "t", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // doc 1: tokens 0..5; doc 2: tokens 2..7 — one merged span each
    assert(spans.toSeq == Seq((1L, 0L, 5L, 6L), (2L, 2L, 7L, 6L)))
    // stable across partition layouts
    val spans7 = TextDedup.duplicateSpans(df.repartition(7), "id", "t", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(spans7.toSeq == spans.toSeq)
    // adjacent/overlapping hits merge into ONE maximal span, and a gap
    // splits islands: docs 5/6 share two runs separated by a unique gap
    val df2 = Seq(
      (5L, "a b c GAPFIVE d e f"),
      (6L, "a b c GAPSIX d e f")
    ).toDF("id", "t")
    val spans2 = TextDedup.duplicateSpans(df2, "id", "t", k = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(spans2.toSeq == Seq(
      (5L, 0L, 2L, 3L), (5L, 4L, 6L, 3L),
      (6L, 0L, 2L, 3L), (6L, 4L, 6L, 3L)))

    // clean face: span tokens removed, normalized rebuild, accounting
    val cleaned = TextDedup.stripDuplicateSpans(df, "id", "t", k = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(cleaned(1L)._2 == "x y z" && cleaned(1L)._3 == 3 && cleaned(1L)._4 == 6)
    assert(cleaned(2L)._2 == "p q" && cleaned(2L)._3 == 2 && cleaned(2L)._4 == 6)
    assert(cleaned(3L)._2 == "m n o m n o m n o" && cleaned(3L)._4 == 0)
    assert(cleaned(4L)._2 == "unrelated words entirely here today")
    // a fully-duplicated doc empties out but stays in the corpus
    val df3 = Seq((7L, "z z z z"), (8L, "z z z z")).toDF("id", "t")
    val all = TextDedup.stripDuplicateSpans(df3, "id", "t", k = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(all(7L)._2 == "" && all(7L)._3 == 0 && all(7L)._4 == 4)
  }

  test("minhash LSH finds near-identical pairs, verified by exact jaccard") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and agaim" // 1 char off
    val c = "completely unrelated content about spark catalyst optimizer rules"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "t")
    val pairs = TextDedup.minhashLshPairs(df, "id", "t",
      jaccardThreshold = 0.7).as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 > 0.8)
  }

  test("ngram jaccard pairs agree with direct set computation") {
    val a = "abcdefghijklmnop"
    val b = "abcdefghijklmnoq"
    val df = Seq((1L, a), (2L, b)).toDF("id", "t")
    // prefix-filter threshold join
    val out = TextDedup.ngramJaccardPairs(df, "id", "t",
      shingleLen = 5, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1)
    // shingles: 12 each, 11 shared → J = 11/13
    assert(math.abs(out.head._3 - 11.0 / 13.0) < 1e-9)
  }

  test("dense and prefix jaccard paths return identical pairs") {
    // real corpus slice: small vocabulary → default dispatch is dense;
    // denseVocabLimit = 0 forces the rarest-first prefix path
    val slice = docs.limit(80)
    val dense = TextDedup.ngramJaccardPairs(slice, "doc_id", "text",
      shingleLen = 5, threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val prefix = TextDedup.ngramJaccardPairs(slice, "doc_id", "text",
      shingleLen = 5, threshold = 0.4, denseVocabLimit = 0)
      .as[(Long, Long, Double)].collect().toSet
    assert(dense == prefix)
    assert(dense.nonEmpty) // the sf0.001 corpus has planted near-dups
  }

  test("prefix threshold join finds pairs across disparate lengths") {
    // same prefix content, one doc twice as long: banded blocking with a
    // narrow band would miss this; the threshold join must evaluate it
    val a = "abcdefghijklmnopqrstuvwxyz"
    val b = a + a.toUpperCase // normalized: lowercased → high overlap
    val df = Seq((1L, a), (2L, b)).toDF("id", "t")
    val out = TextDedup.ngramJaccardPairs(df, "id", "t",
      shingleLen = 5, threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(out.length == 1 && out.head._3 >= 0.3)
  }

  test("simhash: identical texts collide, near texts are close") {
    val df = Seq(
      (1L, "spark catalyst optimizer rules engine for dataframes"),
      (2L, "spark catalyst optimizer rules engine for dataframes"),
      (3L, "spark catalyst optimizer rule engine for dataframes")
    ).toDF("id", "t")
    val pairs = TextDedup.simhashPairs(df, "id", "t", maxHamming = 16)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).forall(_ > 0))
  }

  test("dense and piece-blocked simhash paths return identical pairs") {
    val slice = docs.limit(120)
    val dense = TextDedup.simhashPairs(slice, "doc_id", "text", maxHamming = 12)
      .as[(Long, Long, Int)].collect().toSet
    val pieces = TextDedup.simhashPairs(slice, "doc_id", "text",
      maxHamming = 12, denseLimit = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(dense == pieces)
    assert(dense.nonEmpty)
  }

  test("simhash rejects radii beyond the lossless blocking bound") {
    val df = Seq((1L, "a b c")).toDF("id", "t")
    intercept[IllegalArgumentException] {
      TextDedup.simhashPairs(df, "id", "t", maxHamming = 21).collect()
    }
  }

  test("brute-force top-k: self-similarity excluded, ranks deterministic") {
    val out = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
    val rows = out.collect()
    assert(rows.length == 15)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val cos = rows.map(_.getDouble(3))
    assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
  }

  test("brute-force top-k path parity: heap≡window, broadcast≡replicate-nl") {
    val queries = emb.filter(col("vec_id") % 40 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("rank"), col("cosine"))
      .as[(Long, Long, Int, Double)].collect().toSet
    // long ids → heap aggregate + broadcast queries
    val base = rows(Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 5))
    assert(Similarity.lastBruteForceQueryMode.get() == "broadcast-kernel")
    assert(base.nonEmpty)
    // forced replicate-nl (query side above the broadcast limit):
    // identical rows INCLUDING rank and cosine
    val nl = rows(Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 5, queryBroadcastLimit = 1L))
    assert(Similarity.lastBruteForceQueryMode.get() == "replicate-nl")
    assert(nl == base, "replicate-nl path diverges from broadcast kernel")
    // string ids → the WindowGroupLimit window path; same rows after
    // casting the ids back (the two ranking implementations must agree
    // bit-for-bit on scores and on the (cosine DESC, id ASC) tiebreak)
    val strIds = emb.select(col("vec_id").cast("string").as("vec_id"),
      col("embedding"))
    val win = rows(Similarity.bruteForceTopK(strIds,
      strIds.filter(col("vec_id").cast("long") % 40 === 0),
      "vec_id", "embedding", k = 5))
    assert(win == base, "window path diverges from heap aggregate")
  }

  test("topKAuto dispatches on corpus size; full-probe flip is exact") {
    val queries = emb.filter(col("vec_id") % 40 === 0)
    def ids(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = ids(Similarity.topKAuto(emb, queries,
      "vec_id", "embedding", k = 3))
    assert(Similarity.lastTopKAutoMode.get() == "exact")
    assert(exact == ids(Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", k = 3)))
    // above the limit the plan flips to the IVF shortlist; with
    // nProbe == nCells the shortlist is the whole corpus → EXACT
    val flipped = ids(Similarity.topKAuto(emb, queries,
      "vec_id", "embedding", k = 3, exactCorpusLimit = 1L,
      nCells = 8, nProbe = 8))
    assert(Similarity.lastTopKAutoMode.get() == "ivf-shortlist")
    assert(flipped == exact, "full-probe IVF flip diverges from exact")
  }

  test("IVF top-k recall vs brute force is reasonable") {
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val ivf = Similarity.ivfTopK(assigned, queries, "vec_id", "embedding",
      k = 3, nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    assert(recall >= 0.5, s"IVF recall too low: $recall") // probing half the cells
    // the large-query-table plan (no probe broadcast, cell-keyed
    // shuffle join) must return the identical result set
    val big = Similarity.ivfTopK(assigned, queries, "vec_id", "embedding",
      k = 3, nCells = 8, nProbe = 4, queryCollectLimit = 0L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(big == ivf, "shuffle-join ivfTopK diverges from broadcast plan")
  }

  test("Lloyd refinement keeps a valid assignment and helps recall") {
    val seed = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
    val refined = Similarity.ivfRefine(seed, "vec_id", "embedding", 2)
    assert(refined.count() == emb.count())          // no rows lost
    assert(refined.select("cell_id").distinct().count() <= 8)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfR = Similarity.ivfTopK(refined, queries, "vec_id", "embedding",
      k = 3, nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivfR & bf).size.toDouble / bf.size
    assert(recall >= 0.5, s"refined IVF recall too low: $recall")
  }

  test("PQ encodes to m bytes and ADC+rerank recall beats the shortlist bar") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, k = 32,
      iterations = 3)
    assert(cb.length == 16 && cb(0).length == 32 && cb(0)(0).length == 4)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    assert(codes.count() == emb.count())
    assert(codes.select("pq_codes").head().getAs[Array[Byte]](0).length == 16)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", cb,
      k = 3, shortlistFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (pq & bf).size.toDouble / bf.size
    assert(recall >= 0.5, s"PQ recall too low: $recall")
    // determinism: same codebook, same result
    val again = Similarity.pqTopK(emb, queries, "vec_id", "embedding", cb,
      k = 3, shortlistFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq == again)
  }

  test("IVF-PQ composition: probed-cell pruning with sane recall") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, k = 32,
      iterations = 3)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(assigned, queries, "vec_id", "embedding",
      cb, k = 3, nProbe = 4, shortlistFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ivfpq & bf).size.toDouble / bf.size
    assert(recall >= 0.4, s"IVF-PQ recall too low: $recall")
    // probing ALL cells must dominate the pruned recall (pure-PQ bound)
    val allCells = Similarity.ivfPqTopK(assigned, queries, "vec_id",
      "embedding", cb, k = 3, nProbe = 8, shortlistFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", cb,
      k = 3, shortlistFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(allCells == pq,
      "nProbe = nCells must equal the pure PQ answer")
    // determinism across runs
    val again = Similarity.ivfPqTopK(assigned, queries, "vec_id", "embedding",
      cb, k = 3, nProbe = 4, shortlistFactor = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivfpq == again)
  }

  test("IVF-PQ cell-join query path: no driver collect, output identical") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16, k = 32,
      iterations = 3)
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val kernel = Similarity.ivfPqTopK(assigned, queries, "vec_id",
      "embedding", cb, k = 3, nProbe = 4, shortlistFactor = 8)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(Similarity.lastIvfPqQueryMode.get() == "broadcast-kernel")
    // queryCollectLimit = 0 forces every query batch onto the join
    // path — the large-query-table plan with no query-side collect
    val joinPath = Similarity.ivfPqTopK(assigned, queries, "vec_id",
      "embedding", cb, k = 3, nProbe = 4, shortlistFactor = 8,
      queryCollectLimit = 0L)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(Similarity.lastIvfPqQueryMode.get() == "cell-join")
    // bit-exact parity including the cosine doubles: shared probe
    // selector, same ADC expression tree, same selection orders
    assert(joinPath == kernel,
      s"cell-join path diverges: ${joinPath.size} vs ${kernel.size} rows")
    // and through the persisted index too (probe union + split prune
    // feeding the join path)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_join").toString
    try {
      Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", dir,
        nCells = 8, m = 16, k = 32, iterations = 3)
      val idxKernel = Similarity.ivfPqTopKIndexed(spark, dir, queries,
        "vec_id", "embedding", k = 3, nProbe = 4)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet
      val idxJoin = Similarity.ivfPqTopKIndexed(spark, dir, queries,
        "vec_id", "embedding", k = 3, nProbe = 4, queryCollectLimit = 0L)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().toSet
      assert(Similarity.lastIvfPqQueryMode.get() == "cell-join")
      assert(idxJoin == idxKernel, "indexed cell-join path diverges")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("persisted IVF-PQ index: probes prune input splits, results match") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_idx").toString
    try {
      Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", dir,
        nCells = 8, m = 16, k = 32, iterations = 3)
      // the layout prunes at the INPUT-SPLIT level: a 2-cell probe
      // filter must never open the other cells' files — measured from
      // the scan's own metrics (numFiles/numOutputRows), the z-order
      // spec's technique
      val all = spark.read.parquet(s"$dir/codes")
      val totalRows = all.count()
      val totalFiles = all.select(input_file_name()).distinct().count()
      val want = all.filter(col("cell_id").isin(0L, 1L)).count()
      assert(want > 0 && want < totalRows)
      val probedDf = spark.read.parquet(s"$dir/codes")
        .filter(col("cell_id").isin(0L, 1L))
      probedDf.collect() // drives THIS Dataset's QueryExecution
      val scans = probedDf.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      val rowsRead = scans.map(_.metrics("numOutputRows").value).sum
      val filesRead = scans.map(_.metrics("numFiles").value).sum
      assert(rowsRead == want,
        s"scan read $rowsRead rows, expected only the probed cells' $want")
      assert(filesRead < totalFiles,
        s"scan opened $filesRead of $totalFiles files — no split pruning")
      // and the indexed query path equals the in-memory composition
      // (same codebook/assignment seeding is deterministic; the probe
      // union provably preserves each query's own probe set)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 16,
        k = 32, iterations = 3)
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
      val direct = Similarity.ivfPqTopK(assigned, queries, "vec_id",
        "embedding", cb, k = 3, nProbe = 2, shortlistFactor = 8)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val indexed = Similarity.ivfPqTopKIndexed(spark, dir, queries,
        "vec_id", "embedding", k = 3, nProbe = 2, shortlistFactor = 8)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      assert(indexed == direct,
        s"indexed path diverges: ${indexed.size} vs ${direct.size} rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF-PQ index append: saved-geometry routing, appended rows retrievable") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_app").toString
    try {
      val base = emb.filter(col("vec_id") % 3 =!= 0)
      val extra = emb.filter(col("vec_id") % 3 === 0)
      Similarity.saveIvfPqIndex(base, "vec_id", "embedding", dir,
        nCells = 8, m = 16, k = 32, iterations = 3)
      val before = spark.read.parquet(s"$dir/codes").count()
      Similarity.appendIvfPqIndex(extra, "vec_id", "embedding", dir)
      val codes = spark.read.parquet(s"$dir/codes")
      // every appended row landed, nothing rewritten or lost
      assert(codes.count() == emb.count())
      assert(before == base.count())
      // appended rows carry valid cells and byte-compatible codes
      val cells = spark.read.parquet(s"$dir/cells")
        .select("cell_id").as[Long].collect().toSet
      assert(codes.select("cell_id").as[Long].collect().toSet.subsetOf(cells))
      // a replica of an APPENDED vector (fresh id) must come back
      // rank-1 with its original through the pruned layout
      val probes = extra.limit(20)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding"))
      val hits = Similarity.ivfPqTopKIndexed(spark, dir, probes,
        "vec_id", "embedding", k = 1, nProbe = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      assert(hits.length == 20)
      assert(hits.forall { case (q, n) => n == q - 1000000L },
        s"appended vectors not retrieved as their own nearest: ${hits.take(5).toSeq}")
      // tombstone lifecycle: a deleted vector is never returned, its
      // exact-duplicate probe falls to the next-best neighbor
      val deadIds = hits.take(5).map(_._2)
      Similarity.ivfPqIndex(dir).tombstone(
        deadIds.toSeq.toDF("vec_id"), "vec_id")
      val afterDel = Similarity.ivfPqTopKIndexed(spark, dir, probes,
        "vec_id", "embedding", k = 1, nProbe = 2)
        .select("neighbor_id").as[Long].collect().toSet
      assert(deadIds.forall(!afterDel.contains(_)),
        "a tombstoned vector was returned as a neighbor")
      // compaction erases the rows, clears the list, changes no answer
      val totalBefore = spark.read.parquet(s"$dir/codes").count()
      Similarity.ivfPqIndex(dir).compact(spark)
      assert(spark.read.parquet(s"$dir/codes").count() ==
        totalBefore - deadIds.length)
      assert(!new java.io.File(s"$dir/tombstones").exists())
      val afterCompact = Similarity.ivfPqTopKIndexed(spark, dir, probes,
        "vec_id", "embedding", k = 1, nProbe = 2)
        .select("neighbor_id").as[Long].collect().toSet
      assert(afterCompact == afterDel,
        "compaction changed a live answer")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF-PQ index trained on a content-hash sample keeps sane recall") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_sample").toString
    try {
      // codebook from ~half the corpus (deterministic hash sample) —
      // the 100 TB shape, where Lloyd passes can't read every row
      Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", dir,
        nCells = 8, m = 16, k = 32, iterations = 3, trainFraction = 0.5)
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val hits = Similarity.ivfPqTopKIndexed(spark, dir, queries,
        "vec_id", "embedding", k = 3, nProbe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (hits & bf).size.toDouble / bf.size
      assert(recall >= 0.4, s"sample-trained recall too low: $recall")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compression ratio orders repetitive below diverse text") {
    val repeated = ("lorem ipsum " * 100).trim
    val diverse = (1 to 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val df = Seq((1L, repeated), (2L, diverse), (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    val r = df.select($"doc_id",
      TextAnalysis.compressionRatio($"text").as("cr"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) < 0.1, s"repeated text should compress hard: ${r(1L)}")
    assert(r(2L) > r(1L) * 3, s"diverse ${r(2L)} vs repeated ${r(1L)}")
    assert(r(3L) == 1.0 && r(4L) == 1.0) // blank/null convention
    // deterministic across partition layouts (same JVM zlib)
    val r2 = df.repartition(5).select($"doc_id",
      TextAnalysis.compressionRatio($"text").as("cr"))
      .as[(Long, Double)].collect().toMap
    assert(r == r2)
  }

  test("GIF LZW decode: round trip + ImageIO cross-implementation") {
    // synthesis round trip with the closed-form mean
    Seq(0L, 7L, 123L, 4567L).foreach { id =>
      val Some(f) = Multimodal.decodeGif(Multimodal.gifBytes(id))
      val w = 8 + (id % 8).toInt
      val h = 8 + (id % 5).toInt
      assert(f(0) == w && f(1) == h && f(2) == 8.0)
      val mean = (w.toLong * h * (id % 200) + h.toLong * w * (w - 1) / 2 +
        w.toLong * h * (h - 1) / 2).toDouble / (w * h)
      assert(math.abs(f(3) - mean) < 1e-9, s"id=$id mean ${f(3)} != $mean")
    }
    // the JDK's own GIF writer is an independent, genuinely-compressing
    // LZW implementation — our general decoder must agree with it
    val w = 31; val h = 17
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var sum = 0.0
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 7 + y * 5) % 256
      img.getRaster.setSample(x, y, 0, v)
      sum += v
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", bos))
    val Some(g) = Multimodal.decodeGif(bos.toByteArray)
    assert(g(0) == w && g(1) == h)
    assert(math.abs(g(3) - sum / (w * h)) < 1e-9,
      s"ImageIO-encoded mean ${g(3)} != ${sum / (w * h)}")
    // malformed payloads refuse instead of crashing
    assert(Multimodal.decodeGif(null).isEmpty)
    assert(Multimodal.decodeGif("GIF87a junk".getBytes).isEmpty)
    assert(Multimodal.decodeGif(
      Multimodal.gifBytes(5L).take(40)).isEmpty)
  }

  test("PMI collocations match hand-computed values and ordering") {
    // corpus: "a b" x4, "a c" x2, "c c" x2 (as separate docs so the
    // only bigrams are the ones planted)
    val df = (Seq.fill(4)("a b") ++ Seq.fill(2)("a c") ++ Seq.fill(2)("c c"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(df, "text", minCount = 2, k = 10)
      .as[(String, Long, Double)].collect()
    // N=8 bigrams; starts: a->6, c->2; ends: b->4, c->4
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Map(
      "a b" -> r6(math.log(4.0 * 8 / (6.0 * 4))),
      "a c" -> r6(math.log(2.0 * 8 / (6.0 * 4))),
      "c c" -> r6(math.log(2.0 * 8 / (2.0 * 4))))
    assert(out.map(r => r._1 -> r._3).toMap == expected)
    // ordering: "c c" (ln 2) > "a b" (ln 4/3) > "a c" (ln 2/3)
    assert(out.map(_._1).toSeq == Seq("c c", "a b", "a c"))
    // minCount suppresses rare pairs
    val strict = TextAnalysis.pmiCollocations(df, "text", minCount = 3, k = 10)
      .as[(String, Long, Double)].collect()
    assert(strict.map(_._1).toSeq == Seq("a b"))
  }

  test("text profile fields") {
    val df = Seq((1L, "The quick brown fox, it jumps!")).toDF("doc_id", "text")
    val r = TextAnalysis.profile(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("n_chars") == 30)
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[String]("lang_pred") == "en")
    assert(r.getAs[Int]("n_subwords") == 8) // 6 words + ',' + '!'
    val q = r.getAs[Double]("quality")
    assert(q > 0 && q <= 1.0)
    assert(r.getAs[String]("fingerprint").length == 32)
  }

  test("language id votes across lists with deterministic ties") {
    val df = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "xyzzy plugh qwerty")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.profile(df, "doc_id", "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "unknown")
  }

  test("jpeg decode via the JDK reader recovers dims and gradient mean") {
    (0L to 5L).foreach { id =>
      val bytes = Multimodal.jpegBytes(id)
      // SOI magic present; a real JFIF stream, not a stub token
      assert((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8)
      val Some(f) = Multimodal.decodeJpeg(bytes)
      assert(f(0) == 16.0 && f(1) == 16.0)
      // gradient v = id%128 + 4x + 2y (no wrap for these ids), so the
      // true mean is base + 45; JPEG is lossy — bound, don't equate
      val want = (id % 128) + 45.0
      assert(math.abs(f(2) - want) < 3.0, s"id $id meanR ${f(2)} vs $want")
      // grayscale source: channel means agree within codec error
      assert(math.abs(f(2) - f(3)) < 2.0 && math.abs(f(3) - f(4)) < 2.0)
    }
    // non-JPEG and degenerate payloads are refused, not mis-decoded
    assert(Multimodal.decodeJpeg(null).isEmpty)
    assert(Multimodal.decodeJpeg(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeJpeg(
      Array(0xFF, 0xD8, 0xFF, 0x00).map(_.toByte)).isEmpty)
    // and the decodeMedia chain routes JPEGs to the real decoder
    val media = Multimodal.synthesizeJpeg(docs.limit(6), "doc_id")
    val out = Multimodal.decodeMedia(media, "doc_id").collect()
    assert(out.nonEmpty && out.forall(_.getString(1) == "image/jpeg"))
  }

  test("thread-local JPEG codec path is byte- and feature-identical " +
    "to the one-shot ImageIO path on a fixed payload set") {
    // encode parity: the reused writer with default params must emit
    // exactly what ImageIO.write(img, "jpg", stream) emits
    (0L to 7L).foreach { id =>
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val base = (id % 128).toInt
      for (y <- 0 until 16; x <- 0 until 16) {
        val v = (base + 4 * x + 2 * y) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val ref = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", ref)
      assert(java.util.Arrays.equals(Multimodal.jpegBytes(id),
        ref.toByteArray), s"id $id: shared-writer bytes diverged")
    }
    // decode parity: the reused reader must recover identical features
    (0L to 7L).foreach { id =>
      val bytes = Multimodal.jpegBytes(id)
      val refImg = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      var (r, g, b) = (0L, 0L, 0L)
      for (y <- 0 until refImg.getHeight; x <- 0 until refImg.getWidth) {
        val p = refImg.getRGB(x, y)
        r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
      }
      val n = refImg.getWidth.toLong * refImg.getHeight
      val want = Array(refImg.getWidth.toDouble, refImg.getHeight.toDouble,
        r.toDouble / n, g.toDouble / n, b.toDouble / n)
      val Some(got) = Multimodal.decodeJpeg(bytes)
      assert(got.sameElements(want),
        s"id $id: shared-reader features ${got.mkString(",")} vs " +
          s"${want.mkString(",")}")
    }
  }

  test("multimodal payload + metadata + stub decode plumbing") {
    val withPayload = Multimodal.attachPayload(docs.limit(10), "doc_id", "text")
    assert(withPayload.schema("payload").dataType.typeName == "binary")
    val meta = withPayload.select("media_meta.*").collect()
    assert(meta.forall(_.getLong(1) > 0))
    assert(meta.forall(_.getString(2).length == 32))
    val feats = Multimodal.decodeFeatures(withPayload, "doc_id")
    assert(feats.schema == Multimodal.FeatureSchema)
    val rows = feats.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getSeq[Double](3).length == 4))
    // deterministic: byte length feature equals metadata byte length
    assert(rows.forall(r => r.getSeq[Double](3).head == r.getLong(2).toDouble))
  }

  test("real media decode round-trips synthesized BMP and WAV") {
    val media = Multimodal.synthesizeMedia(docs.limit(30), "doc_id", "text")
    val decoded = Multimodal.decodeMedia(media, "doc_id").collect()
    decoded.foreach { r =>
      val id = r.getLong(0)
      val f = r.getSeq[Double](3)
      (id % 3) match {
        case 0 =>
          val w = 8 + (id % 8).toDouble
          val h = 8 + (id % 5).toDouble
          assert(r.getString(1) == "image/bmp")
          assert(f(0) == w && f(1) == h && f(2) == 24.0)
          // closed-form mean: base + mean(x) + mean(y), no mod wrap
          val want = ((id % 200) * w * h + h * (w * (w - 1) / 2) +
            w * (h * (h - 1) / 2)) / (w * h)
          assert(math.abs(f(3) - want) < 1e-9, s"doc $id bmp mean")
        case 1 =>
          assert(r.getString(1) == "audio/wav")
          assert(f(0) == 8000 + (id % 4) * 4000.0 && f(1) == 1.0 && f(2) == 200.0)
          assert(math.abs(f(3) - ((200 * (id % 100) - 100.0) / 200)) < 1e-9)
        case _ =>
          assert(r.getString(1) == "application/octet-stream") // stub fallback
      }
    }
    // corrupted payloads fall back to the stub, not a crash
    assert(Multimodal.decodeBmp("BMgarbage".getBytes).isEmpty)
    assert(Multimodal.decodeWav("RIFFxxxxWAVEtrunc".getBytes).isEmpty)
  }

  test("PNG decode round-trips zlib-compressed payloads; stereo WAV leg") {
    (0L to 40L).foreach { id =>
      val f = Multimodal.decodePng(Multimodal.pngBytes(id))
        .getOrElse(fail(s"png $id did not decode"))
      val w = 8 + (id % 8).toDouble
      val h = 8 + (id % 5).toDouble
      assert(f(0) == w && f(1) == h && f(2) == 8.0)
      val want = ((id % 200) * w * h + h * (w * (w - 1) / 2) +
        w * (h * (h - 1) / 2)) / (w * h)
      assert(f(3) == want, s"png $id mean") // exact: mean is a x.25 multiple
      val wv = Multimodal.decodeWav(Multimodal.wavStereoBytes(id))
        .getOrElse(fail(s"stereo wav $id did not decode"))
      assert(wv(0) == 8000 + (id % 4) * 4000.0 && wv(1) == 2.0 &&
        wv(2) == 120.0)
      assert(wv(3) == 1.5 * (id % 100), s"wav $id interleaved mean")
    }
    assert(Multimodal.decodePng("PNGgarbage".getBytes("ISO-8859-1")).isEmpty)
  }

  test("PNG scanline reconstruction handles all five filter types") {
    import java.nio.ByteBuffer
    // known 5x5 image, row y encoded with filter type y (0..4)
    val w = 5; val h = 5
    val img = Array.tabulate(h, w)((y, x) => (x * 40 + y * 23) % 256)
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val ft = y % 5
      raw.write(ft)
      for (x <- 0 until w) {
        val cur = img(y)(x)
        val a = if (x > 0) img(y)(x - 1) else 0
        val up = if (y > 0) img(y - 1)(x) else 0
        val c = if (x > 0 && y > 0) img(y - 1)(x - 1) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) / 2
          case 4 =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        raw.write((cur - pred) & 0xFF)
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val buf = new Array[Byte](256); var n = 0
    while (!defl.finished()) n += defl.deflate(buf, n, buf.length - n)
    defl.end()
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = ByteBuffer.allocate(12 + data.length)
      out.putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      out.putInt(crc.getValue.toInt).array()
    }
    val ihdr = ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", java.util.Arrays.copyOf(buf, n)) ++
      chunk("IEND", Array.emptyByteArray)
    val f = Multimodal.decodePng(png).getOrElse(fail("filtered png"))
    val wantMean = img.flatten.map(_.toLong).sum.toDouble / (w * h)
    assert(f(0) == 5.0 && f(1) == 5.0 && f(2) == 8.0 && f(3) == wantMean)
  }

  test("cosine near-dup: LSH path finds planted near-duplicates") {
    // plant true near-dups (the synthetic corpus has none: max pairwise
    // cosine ~0.51, below the regime sign-LSH is designed for)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(5)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val dup = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((i.toLong * 2, v.toSeq), (i.toLong * 2 + 1, dup.toSeq))
    }.toSeq
    val df = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact == (0 until 5).map(i => (i.toLong * 2, i.toLong * 2 + 1)).toSet)
    val lsh = Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding",
      0.99, dim = 64).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // exact verification → no false positives
    assert(lsh.size >= 4, s"LSH missed too many planted pairs: $lsh")
  }

  test("cosine LSH signature buckets identical vectors together") {
    val sig = Similarity.cosineLshSignature(col("embedding"), dim = 64)
    val sigs = emb.limit(50).select(col("vec_id"), sig.as("s")).collect()
    assert(sigs.map(_.getLong(1)).distinct.length > 1) // non-degenerate
  }

  test("content-hash split is deterministic, exhaustive, and ~proportional") {
    val split = TextAnalysis.assignSplit(col("doc_id"), 0.8, 0.1)
    val counts = docs.withColumn("s", split).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    assert(counts.keySet.subsetOf(Set("train", "valid", "test")))
    assert(counts("train").toDouble / n > 0.7 && counts("train").toDouble / n < 0.9)
    // rerun = identical assignment (content-hash, not random())
    val again = docs.withColumn("s", split).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == again)
    // 100% train edge: "zz" sentinel sorts above every hex bucket
    val all = docs.withColumn("s", TextAnalysis.assignSplit(col("doc_id"), 1.0, 0.0))
      .select("s").distinct().collect().map(_.getString(0)).toSeq
    assert(all == Seq("train"))
  }

  test("hash sampling is deterministic, ~proportional, nested, and exact at 0/1") {
    def ids(frac: Double): Set[Long] =
      docs.filter(TextAnalysis.sampleByHash(col("doc_id"), frac))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val n = docs.count().toDouble
    val half = ids(0.5)
    val quarter = ids(0.25)
    assert(math.abs(half.size / n - 0.5) < 0.15)
    assert(math.abs(quarter.size / n - 0.25) < 0.12)
    // same hash axis ⇒ smaller fractions are SUBSETS of larger ones
    assert(quarter.subsetOf(half))
    assert(ids(0.5) == half)          // rerun identical
    assert(ids(0.0).isEmpty && ids(1.0).size == n.toLong)
  }

  test("urlParts extracts first URL, domain, path; empty when absent") {
    import spark.implicits._
    val rows = Seq(
      (1L, "go to https://a.example.org/x/y now or http://b.org/z"),
      (2L, "https://bare-host.net trailing"),
      (3L, "no links at all")).toDF("id", "t")
      .select(col("id"), TextAnalysis.urlParts(col("t")).as("u"))
      .select(col("id"), col("u.url"), col("u.domain"), col("u.path"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(rows(1L) == ("https://a.example.org/x/y", "a.example.org", "/x/y"))
    assert(rows(2L) == ("https://bare-host.net", "bare-host.net", ""))
    assert(rows(3L) == ("", "", ""))
  }

  test("int8 quantization bounds reconstruction error by scale/2") {
    val q = Similarity.quantizeInt8(emb.limit(50), "vec_id", "embedding")
    val joined = q.join(
      emb.limit(50).select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x"))),
      Seq("vec_id", "dim"))
      .select(col("x").cast("double").as("x"),
        Similarity.dequantize(col("q"), col("scale")).as("xhat"),
        col("scale"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val err = math.abs(r.getDouble(0) - r.getDouble(1))
      assert(err <= r.getDouble(2) / 2 + 1e-12,
        s"reconstruction error $err exceeds half-step ${r.getDouble(2) / 2}")
    }
  }

  test("vocab + tokenize: rank ids, OOV fallback, stable positions") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "  the   the  rare ")).toDF("doc_id", "text")
    val vocab = TextAnalysis.buildVocab(docs, "text", maxSize = 3)
    // counts: the=5, sat=2, then alphabetical among count-1 terms → cat
    assert(vocab.map(_._1).toSeq == Seq("the", "sat", "cat"))
    assert(vocab.map(_._2).toSeq == Seq(5L, 2L, 1L))
    val enc = TextAnalysis.tokenize(docs, "doc_id", "text", vocab)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    // doc 1: the(0) cat(2) sat(1) on(OOV) the(0) mat(OOV)
    assert(enc((1L, 0)) == 0 && enc((1L, 1)) == 2 && enc((1L, 2)) == 1)
    assert(enc((1L, 3)) == -1 && enc((1L, 4)) == 0 && enc((1L, 5)) == -1)
    // doc 3: leading blank keeps slot 0 empty-filtered; positions come
    // from the raw split so "rare" sits at its whitespace-derived index
    assert(enc.keys.filter(_._1 == 3L).map(_._2).toSet.size == 3)
    assert(enc.count { case ((d, _), tid) => d == 3L && tid == 0 } == 2)
  }

  test("mixture sampling: rates honored, nested across reweights") {
    val byLang = docs.select($"doc_id", $"lang")
    def kept(rates: Seq[(String, Double)]) = byLang
      .filter(TextAnalysis.mixtureSample($"doc_id", $"lang", rates))
      .select($"doc_id").as[Long].collect().toSet
    val full = kept(Seq("en" -> 1.0))           // default 0: only en kept
    val half = kept(Seq("en" -> 0.5))
    val enIds = byLang.filter($"lang" === "en")
      .select($"doc_id").as[Long].collect().toSet
    assert(full == enIds)
    assert(half.subsetOf(full), "raising a rate must only ADD rows")
    val frac = half.size.toDouble / full.size
    assert(frac > 0.3 && frac < 0.7, s"0.5 rate sampled $frac")
    // zero-rate class contributes nothing; unknown classes use default
    assert(kept(Seq("en" -> 0.0)).isEmpty)
  }

  test("deterministic shuffle: dense permutation, salt-sensitive, stable") {
    import graft.ops.Packing
    val ids = docs.select($"doc_id")
    def pos(salt: String) = Packing.shufflePositions(ids, "doc_id", salt)
      .as[(Long, Long)].collect().toMap
    val a = pos("epoch0")
    assert(a.values.toSet == (0L until a.size.toLong).toSet,
      "positions are not a dense 0..n-1 permutation")
    assert(a == pos("epoch0"), "same salt must reproduce the same order")
    val b = pos("epoch1")
    // a different salt reshuffles essentially everything
    val moved = a.count { case (id, p) => b(id) != p }
    assert(moved > a.size * 9 / 10, s"only $moved of ${a.size} moved")
  }

  test("curriculumInterleave: easiest-first within domain, round-robin " +
    "across domains, injective closed-form positions") {
    import graft.ops.Packing
    val in = Seq(
      (1L, "b", 30L), (2L, "b", 10L), (3L, "b", 20L),
      (4L, "a", 5L), (5L, "a", 50L),
      (6L, "c", 1L)).toDF("id", "dom", "score")
    val out = Packing.curriculumInterleave(in, "id", "dom", "score")
      .select($"id", $"dom", $"domain_idx", $"domain_rank", $"global_pos")
      .as[(Long, String, Int, Int, Long)].collect().sortBy(_._5)
    // domains a=0 b=1 c=2; rank within domain ascending by score
    assert(out.map(_._1).toSeq == Seq(4L, 2L, 6L, 5L, 3L, 1L),
      s"order: ${out.toSeq}")
    // round-robin: the first nDomains positions cover distinct domains
    assert(out.take(3).map(_._2).toSet == Set("a", "b", "c"))
    // injective
    assert(out.map(_._5).distinct.length == out.length)
    // gaps allowed once a domain exhausts (a and c are done by round
    // 3, so b's rank-3 doc sits at (3-1)*3+1 = 7); order by global_pos
    // is the contract, not contiguity
    assert(out.map(_._5).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 7L))
  }

  test("curriculumInterleave: no window touches corpus rows, and no " +
    "single task holds a whole domain on a skewed 2-domain corpus " +
    "(r11 weak: the partitionBy(domain) rank was a one-task-per-" +
    "domain funnel at scale)") {
    import graft.ops.Packing
    // 95%/5% two-domain skew — under the r11 window rank the 'hot'
    // domain's entire row set sorted in ONE task; the distributed
    // range rank must spread it across tasks like any other data
    val n = 20000
    val in = spark.range(n.toLong).selectExpr(
      "id",
      "CASE WHEN id % 20 = 0 THEN 'rare' ELSE 'hot' END AS dom",
      "(id * 2654435761) % 1000003 AS score")
    val out = Packing.curriculumInterleave(in, "id", "dom", "score")
    // (a) the plan is window-free — the rank comes from the range
    // layout + broadcast offsets, so WindowExec never appears
    val wins = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty, s"curriculum plan contains a window:\n$wins")
    // (b) the hot domain's rows live in MANY output partitions, and
    // no single partition holds more than half of them — the direct
    // form of the no-funnel property (asserted on the data layout
    // itself rather than a task listener, so parallel suites sharing
    // the session can't pollute the measurement)
    val dist = out
      .withColumn("pid", spark_partition_id())
      .groupBy($"dom", $"pid").count()
      .as[(String, Int, Long)].collect()
    val hot = dist.filter(_._1 == "hot").map(_._3)
    assert(hot.length > 1,
      s"hot domain funneled into ${hot.length} partition(s)")
    assert(hot.max.toDouble / hot.sum <= 0.5,
      s"one partition holds ${hot.max} of ${hot.sum} hot rows")
    // (c) values still equal the window-rank semantics, replayed
    // driver-side: rank within domain by (score, id), closed-form
    // global_pos = (rank−1)·nDomains + domain_idx
    val got = out.select($"id", $"dom", $"domain_idx", $"domain_rank",
        $"global_pos")
      .as[(Long, String, Int, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    val byDom = (0L until n.toLong)
      .map(id => (id, if (id % 20 == 0) "rare" else "hot",
        (id * 2654435761L) % 1000003L))
      .groupBy(_._2)
    val domIdx = byDom.keys.toSeq.sorted.zipWithIndex.toMap
    byDom.foreach { case (dom, rows) =>
      rows.sortBy(r => (r._3, r._1)).zipWithIndex.foreach {
        case ((id, _, _), i) =>
          val exp = (id, dom, domIdx(dom), i + 1,
            i.toLong * domIdx.size + domIdx(dom))
          assert(got(id) == exp, s"id=$id: got ${got(id)}, want $exp")
      }
    }
  }

  test("prefix-sum/rank family persists release in one sweep: no " +
    "lingering persisted block after results are consumed and " +
    "releaseCaches() runs (r12 verdict #4 — the cache contract is " +
    "self-enforcing, not ContextCleaner timing)") {
    import graft.ops.{Packing, Timeseries}
    // settle: async unpersists from earlier tests may still be in
    // flight; snapshot only after the set is stable
    def rddIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = rddIds
    // three operators of the family, results fully consumed (collected)
    val a = Packing.curriculumInterleave(
      spark.range(500L).selectExpr("id",
        "CAST(id % 3 AS STRING) AS dom", "id * 7 % 97 AS score"),
      "id", "dom", "score")
    assert(a.count() == 500L)
    val b = Packing.withPrefixSum(
      spark.range(300L).selectExpr("id", "id % 5 AS w"),
      "id", col("w"), "cum")
    assert(b.count() == 300L)
    val c = Timeseries.mergeIntervals(
      spark.range(400L).selectExpr("id % 4 AS k", "id AS s", "id + 3 AS e"),
      "k", "s", "e")
    assert(c.count() > 0L)
    assert((rddIds -- before).nonEmpty,
      "the family must persist its range layouts while plans are live")
    Packing.releaseCaches()
    assert(rddIds.subsetOf(before),
      s"releaseCaches left persisted blocks: ${rddIds -- before}")
    // end-of-life is ENFORCED, not documented: a plan re-evaluated
    // after release must throw (its base-offset broadcast is
    // destroyed), never silently rank against a re-sampled layout
    val loud = intercept[Exception] { a.count() }
    assert(loud.getMessage != null,
      s"post-release re-evaluation must fail loudly: $loud")
  }

  test("Gateway.releaseAllCaches: ONE facade sweeps every registry — " +
    "Packing-family plans die (enforced), Hnsw/Retrieval/DatasetCard " +
    "plans recompute (r13 verdict #4: callers must not need to know " +
    "which family's release kills which plans)") {
    import graft.ops.{DatasetCard, Hnsw, Packing, Retrieval, Timeseries}
    def rddIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = rddIds
    // Packing family — one member directly, one via the
    // Timeseries→Packing registry coupling the facade hides
    val ranked = Packing.withPrefixSum(
      spark.range(300L).selectExpr("id", "id % 5 AS w"),
      "id", col("w"), "cum")
    assert(ranked.count() == 300L)
    val merged = Timeseries.mergeIntervals(
      spark.range(400L).selectExpr("id % 4 AS k", "id AS s", "id + 3 AS e"),
      "k", "s", "e")
    assert(merged.count() > 0L)
    // Retrieval: persisted candidate-score frame behind the result
    val docs = Seq((1L, "alpha beta", "en"), (2L, "beta gamma", "en"),
      (3L, "alpha delta", "es")).toDF("doc_id", "text", "lang")
    val bm = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq((7L, "alpha")), 2)
    val bmRows = bm.collect().toSet
    assert(bmRows.nonEmpty)
    // DatasetCard: prepared-corpus cache behind the card
    val card = DatasetCard.build(docs, "text", "lang")
    val cardRows = card.collect().toSet
    assert(cardRows.nonEmpty)
    // Hnsw: pruned-tombstone probe persists its candidate frame
    val hdir = java.nio.file.Files
      .createTempDirectory("graft_facade_hnsw").toString + "/idx"
    val vecs = (0 until 40).map(i => (i.toLong,
      Array.tabulate(4)(j => ((i * (j + 3) + 1) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    Hnsw.saveHnswIndex(vecs, "vec_id", "embedding", hdir,
      m = 4, efConstruction = 8, nShards = 1)
    Hnsw.hnswIndex(hdir).tombstone(
      vecs.filter(col("vec_id") % 5 === 0L).select(col("vec_id")),
      "vec_id")
    spark.conf.set("graft.hnsw.tombstonePruneBytes", "0")
    val probe = try Hnsw.hnswTopKIndexed(spark, hdir,
      vecs.filter(col("vec_id") === 1L), "vec_id", "embedding",
      k = 3, efSearch = 8)
    finally spark.conf.unset("graft.hnsw.tombstonePruneBytes")
    val probeRows = probe.collect().toSet
    assert(probeRows.nonEmpty)
    assert((rddIds -- before).nonEmpty,
      "the families must hold persisted frames while plans are live")
    graft.Gateway.releaseAllCaches()
    assert(rddIds.subsetOf(before),
      s"the facade left persisted blocks: ${rddIds -- before}")
    // per-family end-of-life, as the facade documents: Packing plans
    // are dead (destroyed broadcasts — both the direct member and the
    // Timeseries-coupled one)…
    assert(intercept[Exception] { ranked.count() }.getMessage != null)
    assert(intercept[Exception] { merged.count() }.getMessage != null)
    // …while the speed-pinned families recompute bit-identically
    assert(bm.collect().toSet == bmRows)
    assert(card.collect().toSet == cardRows)
    assert(probe.collect().toSet == probeRows)
    graft.Gateway.releaseAllCaches() // hygiene: drop the recomputes
  }

  test("the clearCache hole is defended at SCAN time: a Packing plan " +
    "re-evaluated against a re-materialized layout throws at the " +
    "partition seam instead of silently mis-ranking (r13 ADVICE — " +
    "clearCache drops the layout but not the offset broadcasts)") {
    import graft.ops.Packing
    // big enough that range-boundary SAMPLING is lossy (reservoir
    // ~2400 rows/input partition), so a re-planned execution draws a
    // different sample (the sampler is seeded per execution) and the
    // cut points shift — the exact silent-wrong-offsets scenario
    val src = spark.range(400000L).selectExpr("id", "id % 5 + 1 AS w")
    val ranked = Packing.withPrefixSum(src, "id", col("w"), "cum")
    assert(ranked.count() == 400000L) // served by the persisted layout
    // the hole: clearCache() unpersists the range layout but leaves
    // the baked-in offset broadcast alive; the next ACTION re-plans,
    // re-shuffles, re-samples — pre-r14 this silently streamed the
    // shifted layout against the stale bases; now every partition seam
    // validates its accumulated weight against the next baked-in
    // offset and throws on the mismatch
    spark.catalog.clearCache()
    val e = intercept[Exception] { ranked.count() }
    def chain(t: Throwable): String = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(chain(e).contains("range-layout drift"),
      s"expected the seam validation to fire, got: ${chain(e).take(500)}")
    Packing.releaseCaches() // hygiene for the rest of the suite
  }

  test("equiDepthBuckets equals window ntile row for row — ragged " +
    "allocation, c<n domains — with a window-free plan") {
    import graft.ops.Packing
    import org.apache.spark.sql.expressions.Window
    // counts chosen so allocation is ragged (23 % 4 = 3, 17 % 4 = 1)
    // and one domain has fewer rows than buckets (3 < 4)
    val in = spark.range(43L).selectExpr(
      "id",
      "CASE WHEN id < 23 THEN 'a' WHEN id < 40 THEN 'b' ELSE 'c' END " +
        "AS dom",
      "(id * 48271) % 101 AS score")
    val got = Packing.equiDepthBuckets(in, "dom",
      Seq(col("score"), col("id")), 4, "b")
    assert(got.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, "equiDepthBuckets plan contains a window")
    val exp = in.withColumn("b",
      ntile(4).over(Window.partitionBy($"dom")
        .orderBy($"score".asc, $"id".asc)))
    val g = got.select($"id", $"b").as[(Long, Int)].collect().toMap
    val e = exp.select($"id", $"b").as[(Long, Int)].collect().toMap
    assert(g == e, s"diff: ${e.toSeq.filter(kv => g(kv._1) != kv._2)}")
    // every bucket within a domain differs in size by at most one,
    // earlier buckets never smaller (the SQL allocation)
    val sizes = got.groupBy($"dom", $"b").count()
      .as[(String, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    sizes.values.foreach { s =>
      assert(s.max - s.min <= 1 && s.toSeq == s.sortBy(x => -x).toSeq,
        s"sizes ${s.toSeq}")
    }
  }

  test("unimaxAllocation: caps bind smallest-first, leftovers " +
    "waterfall, budget is never exceeded") {
    import graft.ops.Packing
    val counts = Seq(("small", 100L), ("mid", 500L), ("big", 10000L))
      .toDF("lang", "tokens")
    val out = Packing.unimaxAllocation(counts, "lang", "tokens",
      budget = 3000L, maxEpochs = 2)
      .select($"lang", $"alloc_tokens", $"epochs")
      .as[(String, Long, Double)].collect()
      .map { case (l, a, e) => l -> ((a, e)) }.toMap
    // small: fair 3000/3=1000, cap 200 binds; mid: fair 2800/2=1400,
    // cap 1000 binds; big: fair 1800, cap 20000 — budget binds
    assert(out("small") == ((200L, 2.0)))
    assert(out("mid") == ((1000L, 2.0)))
    assert(out("big") == ((1800L, 0.18)))
    // budget exactly exhausted when caps don't starve it
    assert(out.values.map(_._1).sum == 3000L)
    // cap-starved budget: tiny corpus, huge budget
    val starved = Packing.unimaxAllocation(counts, "lang", "tokens",
      budget = 1000000L, maxEpochs = 1)
      .select(sum($"alloc_tokens")).as[Long].head()
    assert(starved == 10600L, s"caps must bound the total: $starved")
    intercept[IllegalArgumentException] {
      Packing.unimaxAllocation(counts, "lang", "tokens", -1L, 1)
    }
  }

  test("writeShards: one file per shard, membership matches shardPositions") {
    import graft.ops.Packing
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val in = docs.select($"doc_id", $"lang")
    Packing.writeShards(in, "doc_id", dir, "epoch0", docsPerShard = 64)
    val onDisk = spark.read.parquet(dir)
    val expect = Packing.shardPositions(in, "doc_id", "epoch0", 64)
      .select($"doc_id", $"shard").as[(Long, Long)].collect().toSet
    assert(onDisk.select($"doc_id", $"shard".cast("long"))
      .as[(Long, Long)].collect().toSet == expect)
    // exactly ONE file per shard — the loader's shard→file contract
    val perShard = onDisk
      .select($"shard".cast("long"), input_file_name().as("f"))
      .distinct().groupBy($"shard").count()
      .as[(Long, Long)].collect()
    assert(perShard.nonEmpty && perShard.forall(_._2 == 1L),
      s"shards with multiple files: ${perShard.filter(_._2 != 1L).toSeq}")
    // every shard is full except possibly the last
    val sizes = onDisk.groupBy($"shard".cast("long").as("s")).count()
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(sizes.dropRight(1).forall(_._2 == 64L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("sequence packing: contiguous layout, boundary spans, full seqs") {
    import graft.ops.Packing
    val df = Seq(
      (1L, "a b c"),          // stream 0-2: all in seq0
      (2L, "d e f g h"),      // stream 3-7: doc toks 0 in seq0, 1-4 in seq1
      (3L, "   "),            // empty — dropped
      (4L, "i"),              // stream 8: doc tok 0 in seq2
      (5L, "j k l m n o")     // stream 9-14: doc toks 0-2 seq2, 3-5 seq3
    ).toDF("doc_id", "text")
    val out = Packing.packSequences(df, "doc_id", "text", seqLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc_start is the token index INSIDE the document where the slice
    // of sequence seq_id begins (what an index-mapped loader reads)
    assert(out == Set(
      (1L, 0L, 0L, 3L), (2L, 0L, 0L, 1L), (2L, 1L, 1L, 4L),
      (4L, 2L, 0L, 1L), (5L, 2L, 0L, 3L), (5L, 3L, 3L, 3L)))
    // every sequence holds exactly seqLen tokens except the last
    val stats = Packing.packStats(
      Packing.packSequences(docs, "doc_id", "text", seqLen = 512))
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(stats.init.forall(_._2 == 512L), "non-final sequence not full")
    assert(stats.last._2 <= 512L && stats.last._2 > 0L)
  }

  test("distributed prefix sum matches single-partition window") {
    import graft.ops.Packing
    val df = docs.select($"doc_id",
      length($"text").cast("long").as("w")).repartition(7)
    // coalesce(1) before the action: a collapsed parent partition runs
    // the pass-2 closure under ONE task id — offsets must still come
    // from the row-carried pids (regression: Verify's single-file
    // write produced per-partition restarts)
    val got = Packing.withPrefixSum(df, "doc_id", $"w", "cum")
      .select($"doc_id", $"cum").coalesce(1).as[(Long, Long)].collect().toMap
    val rows = df.orderBy($"doc_id").as[(Long, Long)].collect()
    val want = rows.zip(rows.scanLeft(0L)(_ + _._2))
      .map { case ((id, _), acc) => (id, acc) }.toMap
    assert(got == want)
  }

  test("prefix sum treats null weights as zero (no NPE)") {
    import graft.ops.Packing
    val df = Seq((1L, Some(3L)), (2L, None), (3L, Some(5L)), (4L, None))
      .toDF("doc_id", "w").repartition(3)
    val got = Packing.withPrefixSum(df, "doc_id", $"w", "cum")
      .select($"doc_id", $"cum").as[(Long, Long)].collect().toMap
    // null rows occupy no stream positions but still carry an offset
    assert(got == Map(1L -> 0L, 2L -> 3L, 3L -> 3L, 4L -> 8L))
  }

  test("pqTopK shortlist ADC ties resolve identically across partition layouts") {
    // 60 IDENTICAL vectors → every corpus row has the SAME adc distance
    // to the query; with shortlist = k·factor = 4 the heap boundary is
    // all ties, so any arrival-order eviction would leak the partition
    // layout into the result
    val base = Array.tabulate(8)(i => (i + 1).toFloat)
    val tied = (1L to 60L).map(i => (i, base)) :+ (999L, base.map(-_))
    val queries = Seq((0L, base)).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(tied.toDF("vec_id", "embedding"),
      "vec_id", "embedding", m = 4, k = 4, iterations = 2)
    val runs = Seq(1, 5, 13).map { n =>
      val corpus = tied.toDF("vec_id", "embedding").repartition(n)
      Similarity.pqTopK(corpus, queries, "vec_id", "embedding", cb,
        k = 2, shortlistFactor = 2)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    }
    assert(runs.forall(_ == runs.head))
    // ties break toward the smallest neighbor ids end to end
    assert(runs.head == Set((0L, 1L, 1), (0L, 2L, 2)))
  }

  test("BPE trainer learns the classic merge sequence; encoder round-trips") {
    // the canonical BPE example: {low×5, lower×2, newest×6, widest×3}
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
    val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = TextAnalysis.trainBpeMerges(df, "text", nMerges = 4)
    // hand-computed: es(9) → est(9) → lo(7, beats "we"=6/"st"=0 after est;
    // tie candidates counted over {l o w ×7, n e w est ×6, w i d est ×3})
    // round 1 pair counts: es=9, st=9, we=8(lower 2 + newest 6), lo=7...
    // max=9 tie (es, st) → lexicographically smaller "es" wins
    assert(merges(0)._2 == "e" && merges(0)._3 == "s" && merges(0)._4 == 9L)
    assert(merges(1)._2 == "es" && merges(1)._3 == "t" && merges(1)._4 == 9L)
    assert(merges(2)._2 == "l" && merges(2)._3 == "o" && merges(2)._4 == 7L)
    assert(merges(3)._2 == "lo" && merges(3)._3 == "w" && merges(3)._4 == 7L)
    // encoder: subtokens concatenate back to the word; learned units appear
    val enc = TextAnalysis.applyBpe(df, "doc_id", "text", merges)
      .select("doc_id", "subtokens").as[(Long, Seq[String])].collect()
    enc.foreach { case (id, toks) =>
      assert(toks.mkString == corpus(id.toInt), s"doc $id reassembly")
    }
    val newestToks = enc.find(e => corpus(e._1.toInt) == "newest").get._2
    assert(newestToks == Seq("n", "e", "w", "est"))
    assert(enc.find(e => corpus(e._1.toInt) == "low").get._2 == Seq("low"))
    // more merges never increase a word's token count
    val fewer = TextAnalysis.applyBpe(df, "doc_id", "text", merges.take(2))
      .select("doc_id", "subtokens").as[(Long, Seq[String])].collect()
      .map(e => e._1 -> e._2.length).toMap
    enc.foreach { case (id, toks) => assert(toks.length <= fewer(id)) }
    // determinism across runs on the real corpus slice
    val m1 = TextAnalysis.trainBpeMerges(docs.limit(200), "text", 15)
    val m2 = TextAnalysis.trainBpeMerges(docs.limit(200), "text", 15)
    assert(m1.toSeq == m2.toSeq && m1.length == 15)
  }

  test("unigram-LM tokenizer: Viterbi semantics, whole-word pieces, determinism") {
    // viterbiPieces directly: greedy-beating path choice
    val sc = Map("ab" -> math.log(0.5), "c" -> math.log(0.3),
      "abc" -> math.log(0.1), "a" -> math.log(0.05), "b" -> math.log(0.05))
    assert(TextAnalysis.viterbiPieces("abc", sc, 6, -1e3) == Seq("ab", "c"))
    // exact score tie (p(ab)=p(a)p(b)) prefers the longer trailing piece
    val tie = Map("ab" -> math.log(0.25),
      "a" -> math.log(0.5), "b" -> math.log(0.5))
    assert(TextAnalysis.viterbiPieces("ab", tie, 6, -1e3) == Seq("ab"))
    // OOV chars fall back to UNK singles, never crash
    assert(TextAnalysis.viterbiPieces("xy", Map.empty[String, Double], 6, -1e3)
      == Seq("x", "y"))
    assert(TextAnalysis.viterbiPieces("", sc, 6, -1e3).isEmpty)

    // trainer on the classic corpus: frequent whole words become pieces
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
    val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    // seedFactor 16: at vocabSize 8 the default seed (4×8−10 chars = 22
    // multi pieces) prunes the rarer words before EM can score them
    val vocab = TextAnalysis.trainUnigramLm(df, "text", vocabSize = 8,
      seedFactor = 16)
    val pieces = vocab.map(_._1).toSet
    // single-term paths dominate multi-term ones (each extra piece adds a
    // negative log), so every corpus word survives as its own piece
    assert(Set("low", "lower", "newest", "widest").subsetOf(pieces))
    // single chars are always retained
    assert(corpus.flatMap(_.toSeq).map(_.toString).toSet.subsetOf(pieces))
    // renormalized: probabilities sum to 1
    assert(math.abs(vocab.map(v => math.exp(v._2)).sum - 1.0) < 1e-9)

    // segmenter: pieces reassemble; known words encode as one piece
    val seg = TextAnalysis.applyUnigram(df, "doc_id", "text", vocab)
      .select("doc_id", "pieces").as[(Long, Seq[String])].collect()
    seg.foreach { case (id, ps) =>
      assert(ps.mkString == corpus(id.toInt), s"doc $id reassembly")
    }
    assert(seg.find(e => corpus(e._1.toInt) == "newest").get._2 == Seq("newest"))

    // determinism across runs and partition layouts on real data
    val v1 = TextAnalysis.trainUnigramLm(docs.limit(200).repartition(7), "text", 40)
    val v2 = TextAnalysis.trainUnigramLm(docs.limit(200).repartition(3), "text", 40)
    assert(v1.toSeq == v2.toSeq)
  }

  test("chunking covers every token with stride overlap and stable ids") {
    val df = Seq(
      (1L, (1 to 50).map(i => s"w$i").mkString(" ")), // 50 tokens
      (2L, "single"),                                 // 1 token
      (3L, "   "),                                    // blank → no chunks
      (4L, null.asInstanceOf[String])                 // null → no chunks
    ).toDF("doc_id", "text")
    val out = Retrieval.chunk(df, "doc_id", "text", 8, 6)
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1)
    assert(!out.contains(3L) && !out.contains(4L))
    assert(out(2L).map(c => (c._2, c._3, c._4, c._5)).toSeq ==
      Seq((0L, 0L, 1L, "single")))
    val c1 = out(1L).sortBy(_._2)
    // starts at every multiple of 6 below 50
    assert(c1.map(_._3).toSeq == (0L until 50L by 6L).toSeq)
    // all full except the tail; windows overlap by chunkSize - stride
    assert(c1.init.forall(_._4 == 8L) && c1.last._4 == 50L - 48L)
    // token coverage is exact: every position appears in some chunk
    val covered = c1.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0L until 50L).toSet)
    // chunk text is the slice it claims
    assert(c1(1)._5 == (7 to 14).map(i => s"w$i").mkString(" "))
  }

  test("bm25 ranks term-dense short docs first and respects k") {
    // track cache identity, not count: Spark's ContextCleaner may
    // asynchronously unpersist unreferenced cached RDDs left behind by
    // OTHER suites (PlanAuditSpec constructs eager gates) at any
    // moment, so a global size comparison is racy — only the entries
    // bm25 itself adds must be gone after releaseCaches
    val cachesBefore = spark.sparkContext.getPersistentRDDs.keySet
    val df = Seq(
      (1L, "spark spark spark join"),          // dense in query terms
      (2L, "spark join " + ("pad " * 60).trim), // same terms, long doc
      (3L, "spark alone here"),
      (4L, "nothing relevant at all"),
      (5L, "join join spark spark")
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(df, "doc_id", "text",
      Seq(7L -> "spark join"), k = 3)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(out.length == 3 && out.forall(_._1 == 7L))
    // doc 4 has no query terms → never a candidate
    assert(!out.map(_._2).contains(4L))
    // both-term docs beat the one-term doc; short beats long
    val rank = out.map(_._2).toSeq
    assert(Set(rank(0), rank(1)) == Set(1L, 5L))
    assert(out.find(_._2 == 2L).forall(s =>
      s._3 < out.find(_._2 == 1L).get._3))
    // deterministic across partition layouts
    val out2 = Retrieval.bm25TopK(df.repartition(7), "doc_id", "text",
      Seq(7L -> "spark join"), k = 3)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    assert(out.toSeq == out2.toSeq)
    // cache contract: results consumed → releaseCaches drops the
    // persisted candidate frames; a long-lived session doesn't leak
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachesBefore)
      .nonEmpty)
    Retrieval.releaseCaches()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachesBefore)
      .isEmpty)
  }

  test("persisted BM25 index: bit-equal to direct search, buckets prune") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_idx").toString
    try {
      Retrieval.saveBm25Index(docs, "doc_id", "text", dir, nBuckets = 8)
      val queries = Seq(7L -> "data spark table", 9L -> "filter")
      val direct = Retrieval.bm25TopK(docs, "doc_id", "text", queries, 5)
        .as[(Long, Long, Double)].collect().toSet
      val indexed = Retrieval
        .bm25TopKIndexed(spark, dir, "doc_id", queries, 5)
        .as[(Long, Long, Double)].collect().toSet
      assert(indexed == direct, // bit-equal: ONE scoring kernel
        s"indexed diverges: ${indexed.size} vs ${direct.size}")
      Retrieval.releaseCaches()
      // bucket filter prunes input splits: a 1-bucket probe must not
      // open the other buckets' files (z-order spec's technique)
      val all = spark.read.parquet(s"$dir/postings")
      val totalFiles = all.select(input_file_name()).distinct().count()
      val want = all.filter(col("bucket") === 0).count()
      assert(want > 0 && want < all.count())
      val probed = spark.read.parquet(s"$dir/postings")
        .filter(col("bucket") === 0)
      probed.collect()
      val scans = probed.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.map(_.metrics("numOutputRows").value).sum == want)
      assert(scans.map(_.metrics("numFiles").value).sum < totalFiles,
        "bucket filter did not prune input splits")
      // empty-term and no-hit queries behave like the direct path
      val oddQ = Seq(1L -> "zzzznotaterm", 2L -> "")
      val odd = Retrieval.bm25TopKIndexed(spark, dir, "doc_id", oddQ, 5)
        .as[(Long, Long, Double)].collect()
      assert(odd.isEmpty)
      Retrieval.releaseCaches()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("BM25 index append equals a full rebuild, bit for bit") {
    val dirA = java.nio.file.Files
      .createTempDirectory("graft_bm25_app").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft_bm25_full").toString
    try {
      val half1 = docs.filter(col("doc_id") % 2 === 0)
      val half2 = docs.filter(col("doc_id") % 2 === 1)
      Retrieval.saveBm25Index(half1, "doc_id", "text", dirA, nBuckets = 8)
      Retrieval.appendBm25Index(half2, "doc_id", "text", dirA)
      Retrieval.saveBm25Index(docs, "doc_id", "text", dirB, nBuckets = 8)
      val queries = Seq(7L -> "data spark table", 9L -> "filter")
      val appended = Retrieval
        .bm25TopKIndexed(spark, dirA, "doc_id", queries, 5)
        .as[(Long, Long, Double)].collect().toSet
      val rebuilt = Retrieval
        .bm25TopKIndexed(spark, dirB, "doc_id", queries, 5)
        .as[(Long, Long, Double)].collect().toSet
      assert(appended == rebuilt, "append diverges from rebuild")
      Retrieval.releaseCaches()
      // stats carry the merged corpus scalars (idf/avgdl inputs)
      val st = spark.read.parquet(s"$dirA/stats")
        .as[(Long, Long, Int)].head()
      val stFull = spark.read.parquet(s"$dirB/stats")
        .as[(Long, Long, Int)].head()
      assert(st == stFull, s"$st vs $stFull")
      // a second append keeps compounding (three generations total)
      val extra = Seq((9001L, "spark table filter data spark"))
        .toDF("doc_id", "text")
      Retrieval.appendBm25Index(extra, "doc_id", "text", dirA)
      Retrieval.appendBm25Index(extra, "doc_id", "text", dirB)
      val a2 = Retrieval.bm25TopKIndexed(spark, dirA, "doc_id", queries, 5)
        .as[(Long, Long, Double)].collect().toSet
      val b2 = Retrieval.bm25TopKIndexed(spark, dirB, "doc_id", queries, 5)
        .as[(Long, Long, Double)].collect().toSet
      assert(a2 == b2)
      Retrieval.releaseCaches()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirA))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirB))
    }
  }

  test("table diff classifies added/removed/changed with column lists") {
    import graft.operators.Audits
    val before = Seq(
      (1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, null, 4.0)
    ).toDF("k", "s", "v")
    val after = Seq(
      (1L, "a", 1.0),      // unchanged
      (2L, "B", 2.5),      // both columns changed
      (4L, "x", 4.0),      // null -> value counts as a change
      (5L, "new", 5.0)     // added; 3 removed
    ).toDF("k", "s", "v")
    val out = Audits.tableDiff(before, after, "k")
      .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "unchanged" && out(1L)._3 == "")
    assert(out(2L)._2 == "changed" && out(2L)._3 == "s,v")
    assert(out(3L)._2 == "removed")
    assert(out(4L)._2 == "changed" && out(4L)._3 == "s")
    assert(out(5L)._2 == "added" && out(5L)._3 == "")
    assert(out.size == 5)
  }

  test("rrf fusion matches hand computation and handles missing docs") {
    // ranking A: d1, d2, d3; ranking B: d3, d1 (d2 absent from B)
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("qid", "doc_id", "rank")
    val b = Seq((1L, 30L, 1), (1L, 10L, 2))
      .toDF("qid", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "qid", "doc_id", topK = 3)
      .as[(Long, Long, Double)].collect().sortBy(-_._3)
    def term(r: Int) =
      BigDecimal(1.0 / (60 + r)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    // d1: 1/61 + 1/62; d3: 1/63 + 1/61; d2: 1/62 only
    val d1 = (term(1) + term(2)).toDouble
    val d3 = (term(3) + term(1)).toDouble
    val d2 = term(2).toDouble
    assert(out.map(_._2).toSeq == Seq(10L, 30L, 20L))
    assert(math.abs(out(0)._3 - d1) < 1e-15 &&
      math.abs(out(1)._3 - d3) < 1e-15 && math.abs(out(2)._3 - d2) < 1e-15)
    // topK truncates per query deterministically
    val top1 = Retrieval.rrfFuse(Seq(a, b), "qid", "doc_id", topK = 1)
      .as[(Long, Long, Double)].collect()
    assert(top1.toSeq.map(_._2) == Seq(10L))
  }

  test("evalRanking computes recall/mrr/ndcg per query, trec conventions") {
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val log2_3 = math.log(3) / math.log(2)
    // q1: rel = {d1:2, d2:1, d3:1}; run = d5(9), d1(8), d2(7); k=2
    //   -> only d1 hits, at rank 2 (d2 is cut by k)
    // q2: rel = {d9:1}; run = d5 only -> zero row
    // q3: run rows but no positive qrels (rel 0 negative) -> absent
    val run = Seq(
      (1L, 5L, 9.0), (1L, 1L, 8.0), (1L, 2L, 7.0),
      (2L, 5L, 1.0), (3L, 7L, 1.0))
      .toDF("qid", "doc_id", "score")
    val qrels = Seq(
      (1L, 1L, 2), (1L, 2L, 1), (1L, 3L, 1),
      (2L, 9L, 1), (3L, 7L, 0))
      .toDF("qid", "doc_id", "rel")
    val out = Retrieval.evalRanking(run, "qid", "doc_id", "score",
      qrels, "rel", k = 2)
      .as[(Long, Long, Long, Double, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(out.keySet == Set(1L, 2L))
    val (_, nRel, hits, recall, mrr, ndcg) = out(1L)
    assert(nRel == 3 && hits == 1)
    assert(recall == r(1.0 / 3, 6))
    assert(mrr == 0.5)
    val dcg = r(3.0 / log2_3, 7)            // gain 2^2-1 at rank 2
    val idcg = r(3.0, 7) + r(1.0 / log2_3, 7) // rel 2 @1, rel 1 @2
    assert(ndcg == r(dcg / idcg, 6), s"ndcg $ndcg")
    assert(out(2L) == ((2L, 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("edit join finds exactly the brute-force pair set") {
    import graft.operators.EditJoin
    // a mix that exercises every path: normal words (gram prefix),
    // short strings below the run bound (length replication), the
    // empty string, repetitive low-entropy strings, near-duplicates
    val words = Seq(
      "kitten", "sitting", "kitchen", "mitten", "mittens", "bitten",
      "abcdefghij", "abcdefghix", "xbcdefghij", "zzzzzzzzzz",
      "aaaaaaaaaaaa", "aaaabaaaaaaa", "abababababab",
      "ab", "abc", "ba", "b", "", "xy", "xyz",
      "the quick brown fox", "the quick brown fax", "a quick brown fox")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "s")
    val a = df.select(col("id").as("a_id"), col("s").as("a_s"))
    val b = df.select(col("id").as("b_id"), col("s").as("b_s"))
    for (k <- Seq(1, 2, 3)) {
      val got = EditJoin.editJoin(a, "a_id", "a_s", b, "b_id", "b_s", k)
        .filter(col("a_id") < col("b_id"))
        .as[(Long, Long, Int)].collect().toSet
      val want = a.crossJoin(b)
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_s"), col("b_s")).as("d"))
        .filter(col("d") <= k)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == want,
        s"k=$k missing=${want -- got} extra=${got -- want}")
      assert(got.nonEmpty)
    }
    // cross-frame flavor with q=3, layout-shuffled input
    val got3 = EditJoin.editJoin(a.repartition(7), "a_id", "a_s",
      b.repartition(5), "b_id", "b_s", maxDist = 2, q = 3)
      .filter(col("a_id") < col("b_id"))
      .as[(Long, Long, Int)].collect().toSet
    val want2 = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_s"), col("b_s")).as("d"))
      .filter(col("d") <= 2).as[(Long, Long, Int)].collect().toSet
    assert(got3 == want2)
  }

  test("pagerank matches hand-computed iterations and is layout-stable") {
    import graft.ops.Graphs
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r = Graphs.pageRank(edges, "src", "dst", iterations = 2)
      .as[(Long, Double)].collect().toMap
    // it1: r = (1.0, 0.575, 1.425); it2 below (base .15, damping .85)
    assert(math.abs(r(1L) - 1.36125) < 1e-6, r.toString)
    assert(math.abs(r(2L) - 0.575) < 1e-6)
    assert(math.abs(r(3L) - 1.06375) < 1e-6)
    // source-only node keeps base rank; sink contributes nothing back
    val edges2 = Seq((10L, 11L)).toDF("src", "dst")
    val r2 = Graphs.pageRank(edges2, "src", "dst", iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(r2(10L) == 0.15 && math.abs(r2(11L) - (0.15 + 0.85 * 0.15)) < 1e-6)
    val r3 = Graphs.pageRank(edges.repartition(7), "src", "dst", 2)
      .as[(Long, Double)].collect().toMap
    assert(r3 == r)
  }

  test("resample fills gaps with the last observed total, per key") {
    import graft.ops.Timeseries
    // bucket = 10us; user 1 observes buckets 0, 3 (gap 1-2), user 2
    // only bucket 5; null ts/key rows drop
    val df = Seq(
      (Some(1L), Some(2L), 10.0),   // u1 b0
      (Some(1L), Some(7L), 5.0),    // u1 b0 (same bucket)
      (Some(1L), Some(31L), 2.5),   // u1 b3
      (Some(2L), Some(55L), 7.0),   // u2 b5
      (Some(1L), None, 99.0),       // null ts → dropped
      (None, Some(5L), 99.0)        // null key → dropped
    ).toDF("user_id", "tsus", "value")
      .select($"user_id", timestamp_micros($"tsus").as("ts"), $"value")
    val out = Timeseries.resampleFfill(df, "user_id", "ts", "value", 10L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, 0L, 2L, 15.0),   // observed: 10 + 5
      (1L, 10L, 0L, 15.0),  // gap → carried
      (1L, 20L, 0L, 15.0),  // gap → carried
      (1L, 30L, 1L, 2.5),   // observed
      (2L, 50L, 1L, 7.0)))  // single bucket, no spine beyond it
    // stable across partition layouts
    val out2 = Timeseries
      .resampleFfill(df.repartition(7), "user_id", "ts", "value", 10L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out2 == out)
  }

  test("interpolate fills interior gaps on the line between neighbors") {
    import graft.ops.Timeseries
    // key 1 observes buckets 0 (total 10) and 3 (total 40): buckets 1,2
    // sit on the line at 20, 30; key 2 has no gap; an observed bucket
    // keeps its exact total even when it's off any line
    val micros = Seq((1L, 5L, 10.0), (1L, 35L, 40.0), (2L, 50L, 7.0),
      (2L, 55L, 1.0)).toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        col("value"))
    val out = Timeseries.interpolate(micros, "user_id", "ts", "value", 10L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (1L, 0L, 1L, 10.0),   // observed
      (1L, 10L, 0L, 20.0),  // gap → line
      (1L, 20L, 0L, 30.0),  // gap → line
      (1L, 30L, 1L, 40.0),  // observed
      (2L, 50L, 2L, 8.0)))  // both events in one bucket, no gap
    // layout invariance
    val out2 = Timeseries.interpolate(micros.repartition(7),
      "user_id", "ts", "value", 10L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out2 == out)
    // a non-midpoint gap interpolates fractionally: observed at buckets
    // 0 (0.0) and 4 (10.0) → bucket 3 = 7.5
    val frac = Seq((9L, 0L, 0.0), (9L, 45L, 10.0))
      .toDF("user_id", "us", "value")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
        col("value"))
    val f = Timeseries.interpolate(frac, "user_id", "ts", "value", 10L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(f == Map(0L -> 0.0, 10L -> 2.5, 20L -> 5.0, 30L -> 7.5,
      40L -> 10.0))
  }

  test("binaryFile source: on-disk media decodes to closed-form features") {
    val dir = java.nio.file.Files.createTempDirectory("graft_binsrc")
    val ids = Seq(3L, 12L, 200L)
    ids.foreach(id => java.nio.file.Files.write(
      dir.resolve(s"img_$id.bmp"), Multimodal.bmpBytes(id)))
    val bin = spark.read.format("binaryFile")
      .load(dir.toString + "/*.bmp")
      .select(regexp_extract(col("path"), "img_(\\d+)\\.bmp$", 1)
        .cast("long").as("doc_id"), col("content").as("payload"))
    val out = Multimodal.decodeMedia(bin, "doc_id")
      .select(col("doc_id"), col("media_type"),
        element_at(col("feature"), 1), element_at(col("feature"), 2),
        element_at(col("feature"), 4))
      .as[(Long, String, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == ids.toSet)
    ids.foreach { id =>
      val (w, h, base) = (8 + id % 8, 8 + id % 5, id % 200)
      val mean = (w * h * base + h * (w * (w - 1) / 2) +
        w * (h * (h - 1) / 2)).toDouble / (w * h)
      assert(out(id) == ((id, "image/bmp", w.toDouble, h.toDouble, mean)),
        out(id).toString)
    }
  }

  test("sentence chunks: boundary-atomic packing, overshoot, long sentence") {
    import graft.ops.Retrieval
    // budget 10: "Aaaa bbb." (9) fills chunk 0; "Cc dd." (6) starts at
    // cum 9 < 10 → still chunk 0 (overshoot by one sentence);
    // "Eee ff!" starts at cum 15 → chunk 1; a 25-char monster sentence
    // starts at 22 → chunk 2, and the sentence after it jumps to
    // chunk 4 (ids stable, not dense)
    val mono = "M" * 24 + "." // 25 chars
    val docs = Seq(
      (1L, s"Aaaa bbb. Cc dd. Eee ff! $mono Tail end.")
    ).toDF("doc_id", "text")
    val out = Retrieval.sentenceChunks(docs, "doc_id", "text", budget = 10)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5))).toMap
    assert(out(0L) == ((2L, 15L, "Aaaa bbb. Cc dd.")))
    assert(out(1L) == ((1L, 7L, "Eee ff!")))
    assert(out(2L) == ((1L, 25L, mono)))
    assert(out(4L) == ((1L, 9L, "Tail end.")))
    assert(out.size == 4)
    // a doc with no terminator is one sentence, one chunk; blank yields
    // nothing; layout invariance
    val more = Seq((2L, "no punctuation here"), (3L, " "),
      (1L, s"Aaaa bbb. Cc dd. Eee ff! $mono Tail end."))
      .toDF("doc_id", "text")
    val r2 = Retrieval.sentenceChunks(more, "doc_id", "text", 10)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(r2.filter(_._1 == 2L).toSeq ==
      Seq((2L, 0L, 1L, 19L, "no punctuation here")))
    assert(!r2.exists(_._1 == 3L))
    val r3 = Retrieval.sentenceChunks(more.repartition(5), "doc_id",
      "text", 10).as[(Long, Long, Long, Long, String)].collect()
    assert(r3.sortBy(r => (r._1, r._2)).toSeq ==
      r2.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("script profile counts characters per writing system exactly") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "Hello 42!"),
      (2L, "你好 world да"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // "Hello 42!": 9 chars, 5 latin, 2 digit, 1 space
    assert(out(1L) == ((1L, 9L, 5L, 2L, 1L, 0L, 0L)))
    // "你好 world да": 11 chars, 5 latin, 2 space, 2 cjk, 2 cyrillic
    assert(out(2L) == ((2L, 11L, 5L, 0L, 2L, 2L, 2L)))
    // null text profiles as empty, not absent
    assert(out(3L) == ((3L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("feature hashing: fixed dim, signed counts, no vocabulary state") {
    import graft.ops.TextAnalysis
    // replicate the hash chain in-test: bucket/sign must be a pure
    // function of the term — no dictionary anywhere
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    def bucket(t: String, dim: Int) =
      java.lang.Long.parseLong(md5hex(s"b:$t").take(8), 16) % dim
    def sign(t: String) =
      if (java.lang.Long.parseLong(md5hex(s"s:$t").take(1), 16) % 2 == 0)
        1L else -1L
    val docs = Seq((1L, "a b a c"), (2L, "b b"), (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.hashingVectorize(docs, "doc_id", "text", dim = 32)
      .as[(Long, Long, Long)].collect()
    val expect = Seq(
      1L -> Seq("a", "b", "a", "c"), 2L -> Seq("b", "b"))
      .flatMap { case (d, ts) =>
        ts.map(t => (d, bucket(t, 32)) -> sign(t))
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(out.map(r => (r._1, r._2) -> r._3).toMap == expect)
    assert(out.forall(r => r._2 >= 0 && r._2 < 32))
    assert(!out.exists(_._1 == 3L))
    // layout invariance
    val out2 = TextAnalysis.hashingVectorize(docs.repartition(7),
      "doc_id", "text", dim = 32).as[(Long, Long, Long)].collect()
    assert(out2.toSet == out.toSet)
  }

  test("textrank: co-occurrence edges match a hand build; hub word wins") {
    import graft.ops.{Graphs, TextAnalysis}
    // "spark" neighbors everything; filler words only touch spark —
    // the hub must out-rank every filler; blanks keep positions
    val docs = Seq(
      (1L, "spark joins  spark groups"), // \s+ split: no blank slots
      (2L, "fast spark"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.textRankKeywords(docs, "doc_id", "text",
      window = 2, iterations = 2, k = 10)
      .as[(String, Double)].collect()
    assert(out.head._1 == "spark", out.mkString(","))
    assert(out.map(_._1).toSet ==
      Set("spark", "joins", "groups", "fast"))
    // rank parity with pageRank over the hand-built co-occurrence list
    // (doc 1 positions: spark@0 joins@1 spark@2 groups@3; the 0→2
    // spark-spark pair is same-word-excluded)
    val hand = Seq(
      ("spark", "joins"), // 0→1
      ("joins", "spark"), // 1→2
      ("joins", "groups"), // 1→3 (window 2)
      ("spark", "groups"), // 2→3
      ("fast", "spark")) // doc 2
    val both = hand ++ hand.map(_.swap)
    val expect = Graphs.pageRank(both.toDF("src", "dst"), "src", "dst",
      iterations = 2).as[(String, Double)].collect().toMap
    out.foreach { case (w, r) => assert(r == expect(w), s"$w: $r") }
  }

  test("geo join: brute-force parity, high-lat losslessness, polar reject") {
    import graft.operators.GeoJoin
    def hav(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
      val (p1, p2) = (math.toRadians(lat1), math.toRadians(lat2))
      val dp = math.toRadians(lat2 - lat1) / 2.0
      val dl = math.toRadians(lon2 - lon1) / 2.0
      val a = math.sin(dp) * math.sin(dp) +
        math.cos(p1) * math.cos(p2) * math.sin(dl) * math.sin(dl)
      BigDecimal(2.0 * GeoJoin.EarthRadiusKm * math.asin(math.sqrt(a)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // scattered points at mixed latitudes, radius 150 km
    val pts = (0 until 60).map { i =>
      (i.toLong, (i * 37 % 120) - 60 + i * 0.31 % 1.0,
        (i * 91 % 360) - 180 + i * 0.17 % 1.0)
    }
    val l = pts.toDF("lid", "lat", "lon")
    val r = pts.map { case (i, la, lo) => (i + 1000L, la, lo) }
      .toDF("rid", "rlat", "rlon")
    val got = GeoJoin.withinDistance(l, "lat", "lon", Seq("lid"),
      r, "rlat", "rlon", Seq("rid"), radiusKm = 150.0)
      .as[(Long, Long, Double)].collect().toSet
    val want = (for {
      (i, la1, lo1) <- pts; (j, la2, lo2) <- pts
      d = hav(la1, lo1, la2, lo2) if d <= 150.0
    } yield (i, j + 1000L, d)).toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    // high latitude: at 82° one lon degree ≈ 15.5 km, so 100 km spans
    // ~6.5° — a fixed ±1-cell lon block would miss this pair
    val hl = Seq((1L, 82.0, 10.0)).toDF("lid", "lat", "lon")
    val hr = Seq((2L, 82.0, 16.0)).toDF("rid", "rlat", "rlon")
    val hlPairs = GeoJoin.withinDistance(hl, "lat", "lon", Seq("lid"),
      hr, "rlat", "rlon", Seq("rid"), radiusKm = 100.0)
      .as[(Long, Long, Double)].collect()
    assert(hlPairs.length == 1 &&
      hlPairs.head._3 == hav(82.0, 10.0, 82.0, 16.0))
    // polar rows refuse rather than silently under-block
    val polar = Seq((3L, 88.0, 0.0)).toDF("lid", "lat", "lon")
    val ex = intercept[Exception] {
      GeoJoin.withinDistance(polar, "lat", "lon", Seq("lid"),
        hr, "rlat", "rlon", Seq("rid"), radiusKm = 100.0).collect()
    }
    assert(ex.getMessage.contains("unsupported"))
    // layout invariance
    val got2 = GeoJoin.withinDistance(l.repartition(7), "lat", "lon",
      Seq("lid"), r.repartition(5), "rlat", "rlon", Seq("rid"), 150.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(got2 == got)
  }

  test("rolling anomalies: spike flags, constant window z=0, minN guard") {
    import graft.ops.Timeseries
    // five 10s then a 100 within one window: the spike's z =
    // (100-25)/sqrt(1125) ≈ 2.236 > 2 → flagged; the constant prefix
    // scores z = 0 (σ = 0), and early rows are under minN anyway
    val rows = (1L to 5L).map(i => (i, 1L, i * 10L, 10.0)) :+
      ((6L, 1L, 60L, 100.0))
    val df = rows.toDF("event_id", "user_id", "us", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("value"))
    val out = Timeseries.rollingAnomalies(df, "user_id", "ts", "value",
      windowMicros = 1000L, k = 2.0, minN = 5, idCols = Seq("event_id"))
      .as[(Long, Long, Long, Double, Long, Double, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(6L)._7 == 1 && out(6L)._5 == 6L)
    assert(math.abs(out(6L)._6 - 2.236068) < 1e-6, out(6L).toString)
    (1L to 5L).foreach { i =>
      assert(out(i)._6 == 0.0 && out(i)._7 == 0, out(i).toString)
    }
    // a spike without enough history stays unflagged (minN guard)
    val few = Seq((1L, 2L, 1L, 10.0), (2L, 2L, 2L, 100.0))
      .toDF("event_id", "user_id", "us", "value")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("value"))
    val f = Timeseries.rollingAnomalies(few, "user_id", "ts", "value",
      1000L, k = 2.0, minN = 5, idCols = Seq("event_id"))
      .as[(Long, Long, Long, Double, Long, Double, Int)].collect()
    assert(f.forall(_._7 == 0))
    // layout invariance
    val out2 = Timeseries.rollingAnomalies(df.repartition(7), "user_id",
      "ts", "value", 1000L, k = 2.0, minN = 5, idCols = Seq("event_id"))
      .as[(Long, Long, Long, Double, Long, Double, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out2 == out)
  }

  test("schema drift reports added, removed and retyped columns") {
    import graft.operators.Audits
    val before = Seq((1L, "a", 1.0)).toDF("id", "s", "v")
    val after = Seq((1L, 2, true)).toDF("id", "v", "fresh")
    val out = Audits.schemaDrift(before, after)
      .as[(String, String, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(out("fresh") == (("fresh", "added", None, Some("boolean"))))
    assert(out("s") == (("s", "removed", Some("string"), None)))
    assert(out("v") == (("v", "type_changed", Some("double"), Some("int"))))
    assert(out.size == 3)
    assert(Audits.schemaDrift(before, before).count() == 0)
  }

  test("bitext mining pairs true translations and penalizes hubs") {
    import graft.ops.Similarity
    // src: x-axis and y-axis vectors; tgt: near-copies + a hub equally
    // close to everything — margin must prefer the true matches
    val src = Seq(
      (10L, Seq(1.0f, 0.0f)), (12L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val tgt = Seq(
      (11L, Seq(1.0f, 0.01f)), (13L, Seq(0.02f, 1.0f)),
      (15L, Seq(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .mineBitext(src, tgt, "vec_id", "embedding", k = 2, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out == Map(10L -> 11L, 12L -> 13L))
    // layout-stable
    val out2 = Similarity.mineBitext(src.repartition(3), tgt.repartition(2),
        "vec_id", "embedding", k = 2, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out2 == out)
  }

  test("edge invariants: idempotent canonicalization, degenerate inputs") {
    import graft.ops.{TextAnalysis, TextDedup}
    import graft.operators.Audits
    // canonical urls are a fixpoint: canonical(canonical(u)) == canonical(u)
    val urls = Seq(
      "https://WWW.A.org:443/p/1/?utm_a=1&id=2#f",
      "http://b.org:80/", "https://c.org/x?q=1",
      "https://www.d.org/p/2/?utm_x=9").toDF("u")
    val once = urls.select(TextAnalysis.canonicalUrl($"u").as("c"))
    val twice = once.select(TextAnalysis.canonicalUrl($"c").as("c"))
    assert(once.as[String].collect().toSeq ==
      twice.as[String].collect().toSeq)
    // diffing a table against itself reports everything unchanged
    val t0 = Seq((1L, "a", 1.0), (2L, null, 2.0)).toDF("k", "s", "v")
    val self = Audits.tableDiff(t0, t0, "k")
      .select($"status").as[String].collect()
    assert(self.length == 2 && self.forall(_ == "unchanged"))
    // incremental dedup: empty batch → empty; empty corpus → all unique
    val corpus = Seq((1L, "some corpus text here")).toDF("doc_id", "text")
    val batch = Seq((2L, "some corpus text here")).toDF("doc_id", "text")
    assert(TextDedup.incrementalDedup(corpus, batch.limit(0),
      "doc_id", "text", 5, 0.5).count() == 0)
    val vsEmpty = TextDedup.incrementalDedup(corpus.limit(0), batch,
      "doc_id", "text", 5, 0.5)
      .as[(Long, String, Option[Long])].collect()
    assert(vsEmpty.toSeq == Seq((2L, "unique", None)))
  }

  test("join fan-out audit predicts the exact join output size") {
    import graft.operators.Audits
    val l = Seq(1L, 1L, 1L, 2L, 3L).map(k => (k, "l")).toDF("k", "s")
    val r = Seq(1L, 1L, 2L, 4L).map(k => (k, "r")).toDF("j", "s2")
    val audit = Audits.joinFanout(l, "k", r, "j")
    // the estimates are DECIMAL(38,0), not long: a hot key with ~1e10
    // rows on both sides multiplies past Long range, and a silent
    // non-ANSI wraparound is exactly the blow-up this audit exists to
    // catch
    assert(audit.schema("est_output_rows").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    assert(audit.schema("max_key_fanout").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    val row = audit.collect().head
    val actual = l.join(r, col("k") === col("j")).count()
    assert(row.getLong(0) == 5 && row.getLong(1) == 3)  // left rows/keys
    assert(row.getLong(2) == 4 && row.getLong(3) == 3)  // right rows/keys
    assert(row.getLong(4) == 2)                         // matched keys
    assert(row.getDecimal(5).longValueExact == actual && actual == 7)
    assert(row.getDecimal(6).longValueExact == 6)       // hot key 1
    // disjoint keys → zero prediction, no nulls
    val z = Audits.joinFanout(l, "k", r.filter(col("j") > 100), "j")
      .collect().head
    assert(z.getLong(4) == 0 && z.getDecimal(5).longValueExact == 0 &&
      z.getDecimal(6).longValueExact == 0)
  }

  test("quality-aware dedup keeps the best row per component") {
    import graft.ops.Clusters
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 99L),  // component {1,2,3}: 2 wins (tie→id)
      (4L, 5L),                          // singleton survives
      (5L, 1L), (6L, 7L)                 // component {5,6}: 6 wins
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Clusters.dedupByPairsBest(docs, "doc_id", pairs,
      Seq($"quality".desc, $"doc_id".asc))
      .as[(Long, Long)].collect().map(_._1).sorted.toSeq
    assert(out == Seq(2L, 4L, 6L))
    val out2 = Clusters.dedupByPairsBest(docs.repartition(5), "doc_id",
      pairs.repartition(3), Seq($"quality".desc, $"doc_id".asc))
      .as[(Long, Long)].collect().map(_._1).sorted.toSeq
    assert(out2 == out)
  }

  test("gif frame sampling decodes every k-th frame of a real animation") {
    import graft.ops.Multimodal
    // id=2 → 10x10, base=2; 5 frames, sample every 2nd → frames 0,2,4
    val anim = Multimodal.gifAnimBytes(2L, 5)
    val all = Multimodal.decodeGifFrames(anim).get
    assert(all.length == 5)
    val sampled = Multimodal.frameSample(anim, 2).get
    assert(sampled.length == 3)
    // frame f mean = base + 3f + 2*mean(0..9) = 2 + 3f + 9
    sampled.zipWithIndex.foreach { case (f, i) =>
      assert(f(0) == 10.0 && f(1) == 10.0 && f(2) == 8.0)
      assert(f(3) == 2.0 + 3.0 * (i * 2) + 9.0)
    }
    // k=1 keeps all; single-frame decode still works via the delegate
    assert(Multimodal.frameSample(anim, 1).get.length == 5)
    assert(Multimodal.decodeGif(Multimodal.gifBytes(2L)).get
      .sameElements(all.head))
    // non-gif refuses
    assert(Multimodal.frameSample("nope".getBytes, 2).isEmpty)
  }

  test("wav decimation keeps every k-th frame across channels") {
    import graft.ops.Multimodal
    // mono: id=1 → 200 samples base=1, rate 12000
    val mono = Multimodal.decimateWav(Multimodal.wavBytes(1L), 4).get
    val f = Multimodal.decodeWav(mono).get
    assert(f(0) == 3000.0 && f(1) == 1.0 && f(2) == 50.0)
    val expMean = (50 * 1 - 1250 +
      (0 until 50).map(k => (4 * k) % 50).sum).toDouble / 50
    assert(f(3) == expMean)
    // factor 1 is the identity
    val id1 = Multimodal.decimateWav(Multimodal.wavBytes(7L), 1).get
    assert(Multimodal.decodeWav(id1).get.sameElements(
      Multimodal.decodeWav(Multimodal.wavBytes(7L)).get))
    // stereo: frames (not raw samples) decimate together
    val st = Multimodal.decimateWav(Multimodal.wavStereoBytes(3L), 2).get
    val fs = Multimodal.decodeWav(st).get
    assert(fs(1) == 2.0 && fs(2) == 60.0) // 120 frames → 60
    // non-wav refuses
    assert(Multimodal.decimateWav("junk".getBytes, 2).isEmpty)
  }

  test("compaction collapses small files and preserves every row") {
    import graft.ops.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .resolve("t").toString
    val df = (1 to 10000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
    df.repartition(40).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val sumBefore = before.agg(sum($"id")).as[Long].first
    val stats = Layout.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(stats.filesBefore == 40)
    assert(stats.filesAfter == 1) // everything fits one target file
    val after = spark.read.parquet(dir)
    assert(after.count() == 10000)
    assert(after.agg(sum($"id")).as[Long].first == sumBefore)
    assert(after.columns.sorted.sameElements(Array("id", "s")))
    // a partitioned layout refuses a root-level compaction
    val pdir = java.nio.file.Files.createTempDirectory("graft_compact_p")
      .resolve("t").toString
    df.limit(100).write.partitionBy("id").parquet(pdir)
    intercept[IllegalArgumentException] {
      Layout.compact(spark, pdir)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(pdir).getParentFile)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir).getParentFile)
  }

  test("pq codebook round-trips parquet bit-exactly and reranks the same") {
    import graft.ops.Similarity
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, k = 8,
      iterations = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqcb").toString
    try {
      Similarity.savePqCodebook(spark, cb, dir)
      val back = Similarity.loadPqCodebook(spark, dir)
      assert(back.length == cb.length)
      cb.indices.foreach { s =>
        assert(back(s).length == cb(s).length)
        cb(s).indices.foreach { c =>
          assert(java.util.Arrays.equals(back(s)(c), cb(s)(c)),
            s"centroid ($s,$c) changed across the round-trip")
        }
      }
      // identical codebook ⇒ identical search results
      val q = emb.filter($"vec_id" % 20 === 0)
      def hits(b: Similarity.PqCodebook) =
        Similarity.pqTopK(emb, q, "vec_id", "embedding", b, k = 3)
          .select($"query_id", $"neighbor_id", $"rank")
          .as[(Long, Long, Int)].collect().sorted.toSeq
      assert(hits(back) == hits(cb))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("label propagation takes the weighted-majority neighbor label") {
    import graft.ops.Graphs
    // triangle {1,2,3} + pendant 4-3; doubled edge 1-2 weights the count
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val r1 = Graphs.labelPropagation(edges, "src", "dst", 1)
      .as[(Long, Long)].collect().toMap
    // round 1: node 1 sees {2,2,3} → 2; node 2 sees {1,1,3} → 1;
    // node 3 sees {2,1,4} tie → min 1; node 4 sees {3} → 3
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L))
    val r2 = Graphs.labelPropagation(edges.repartition(7), "src", "dst", 2)
      .as[(Long, Long)].collect().toMap
    // round 2 from r1: node 1 sees l(2)=1,l(2)=1,l(3)=1 → 1;
    // node 2 sees l(1)=2,l(1)=2,l(3)=1 → 2; node 3 sees l(2)=1,l(1)=2,
    // l(4)=3 tie(1,2,3 each once) → 1; node 4 sees l(3)=1 → 1
    assert(r2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
  }

  test("label propagation argmax is an aggregate, not a window") {
    import graft.ops.Graphs
    // structural hub-safety: a row_number window partition cannot be
    // split, so a hub node with millions of distinct neighbor labels
    // would funnel one task; the per-node argmax must be a min_by
    // aggregate (map-side partial combine) — same discipline as
    // Merger.bestPerTarget. Scenario 8 of tools/Stress drives the
    // 1.5M-degree case; this pins the plan shape per-commit.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val out = Graphs.labelPropagation(edges, "src", "dst", 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "labelPropagation must not use a per-node window for its argmax")
    assert(plan.contains("min_by"),
      "expected the min_by(label, struct(-count, label)) aggregate")
  }

  test("triangle counts: cliques, bowties, multi-edge collapse, layout") {
    import graft.ops.Graphs
    // K4: 4 triangles, every node corners 3 of them; pendant 5-1 joins
    // none; self-loops and parallel/reversed duplicates collapse
    val k4 = for {
      a <- 1L to 4L; b <- 1L to 4L if a < b
    } yield (a, b)
    val edges = (k4 ++ Seq((2L, 1L), (1L, 1L), (5L, 1L), (1L, 5L)))
      .toDF("src", "dst")
    val r = Graphs.triangleCount(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), r.toString)
    // bowtie {1,2,3} + {1,4,5}: the shared corner counts both
    val bow = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 5L), (1L, 5L))
      .toDF("src", "dst")
    val rb = Graphs.triangleCount(bow, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(rb == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    val rb2 = Graphs.triangleCount(bow.repartition(7), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(rb2 == rb)
  }

  test("dataset card: totals, langs, quantiles, blanks, layout-invariant") {
    import graft.ops.DatasetCard
    val docs = Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "uno dos", "es"),
      (3L, "", "en"),
      (4L, null, null),
      (5L, "one two three four", "en")
    ).toDF("doc_id", "text", "lang")
    def card(df: org.apache.spark.sql.DataFrame) =
      DatasetCard.build(df, "text", "lang")
        .as[(String, Double)].collect().toMap
    val m = card(docs)
    DatasetCard.unpersistCaches()
    assert(m("corpus/n_docs") == 5.0)
    assert(m("corpus/blank_docs") == 2.0)
    assert(m("corpus/total_tokens") == 3 + 2 + 0 + 0 + 4)
    assert(m("corpus/total_chars") == 16 + 7 + 0 + 0 + 18)
    assert(m("corpus/mean_doc_tokens") == 9.0 / 5.0)
    assert(m("lang/en/docs") == 3.0 && m("lang/es/docs") == 1.0 &&
      m("lang/_null/docs") == 1.0)
    // p50 of lengths {0,0,7,16,18} is the 3rd value (7) within α
    assert(math.abs(m("length/chars_p50") - 7.0) / 7.0 <= 0.02 + 1e-9)
    assert(math.abs(m("length/chars_p95") - 18.0) / 18.0 <= 0.02 + 1e-9)
    // layout cannot move a number
    val m2 = card(docs.repartition(7))
    DatasetCard.unpersistCaches()
    assert(m2 == m)
  }

  test("personalized pagerank matches a dense reference bit for bit") {
    import graft.ops.Graphs
    // reference loop with the operator's exact arithmetic: round-12
    // contributions summed exactly, round-7 ranks, IEEE 1−d
    def ref(edges: Seq[(Long, Long)], seeds: Set[Long],
            iters: Int): Map[Long, Double] = {
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val outdeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      val eVal = BigDecimal(1.0 / seeds.size)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      val restart = 1.0 - 0.85
      def e(n: Long) = if (seeds(n)) eVal else 0.0
      var rank = nodes.map(n => n -> e(n)).toMap
      (1 to iters).foreach { _ =>
        val contrib = collection.mutable.Map[Long, BigDecimal]()
        edges.foreach { case (u, v) =>
          val m = BigDecimal(rank(u) / outdeg(u))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP)
          contrib(v) = contrib.getOrElse(v, BigDecimal(0)) + m
        }
        rank = nodes.map { n =>
          val m = contrib.get(n).map(_.toDouble).getOrElse(0.0)
          n -> BigDecimal(restart * e(n) + 0.85 * m)
            .setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toMap
      }
      rank
    }
    // cycle + feeder + a parallel edge (counts once per occurrence)
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (1L, 3L), (1L, 2L))
    val expected = ref(es, Set(1L, 4L), 3)
    val got = Graphs.personalizedPageRank(es.toDF("src", "dst"),
      "src", "dst", Seq(1L, 4L), iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(got == expected, s"$got vs $expected")
    // partition layout cannot move a bit
    val got2 = Graphs.personalizedPageRank(
      es.toDF("src", "dst").repartition(7), "src", "dst",
      Seq(1L, 4L), iterations = 3).as[(Long, Double)].collect().toMap
    assert(got2 == expected)
    // restart mass only enters at seeds: with an unreachable seedless
    // component, its nodes hold rank 0
    val es2 = es ++ Seq((10L, 11L), (11L, 10L))
    val got3 = Graphs.personalizedPageRank(es2.toDF("src", "dst"),
      "src", "dst", Seq(1L), iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(got3(10L) == 0.0 && got3(11L) == 0.0)
    assert(got3(2L) > 0.0 && got3(3L) > 0.0)
    // a caller-repeated seed must not shrink anyone's restart mass:
    // e sums to 1 over the seed SET
    val got4 = Graphs.personalizedPageRank(es.toDF("src", "dst"),
      "src", "dst", Seq(1L, 1L, 4L), iterations = 3)
      .as[(Long, Double)].collect().toMap
    assert(got4 == expected)
    // an off-graph seed keeps its share (the shortestPaths convention)
    // and holds exactly its restart mass — not silently zeroing ranks
    val got5 = Graphs.personalizedPageRank(es.toDF("src", "dst"),
      "src", "dst", Seq(1L, 77L), iterations = 2)
      .as[(Long, Double)].collect().toMap
    assert(got5(77L) == BigDecimal((1.0 - 0.85) * 0.5)
      .setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble, got5(77L))
    assert(got5(2L) > 0.0)
  }

  test("weighted shortest paths relax past expensive direct edges") {
    import graft.ops.Graphs
    // direct 1→2 costs 5; the two-hop detour 1→3→2 costs 2; a parallel
    // 1→2 at cost 7 collapses to the min-5 edge and changes nothing
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L),
      (1L, 2L, 7L)).toDF("src", "dst", "w")
    val r = Graphs.weightedShortestPaths(edges, "src", "dst", "w",
      Seq(1L), rounds = 4).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 0L, 2L -> 2L, 3L -> 1L), r.toString)
    // one round can only take the direct edge (BF ≤k-edge invariant)
    val r1 = Graphs.weightedShortestPaths(edges, "src", "dst", "w",
      Seq(1L), rounds = 1).as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 5L, 3L -> 1L), r1.toString)
    // layout invariance + multi-source min
    val r2 = Graphs.weightedShortestPaths(edges.repartition(7), "src",
      "dst", "w", Seq(1L, 3L), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 0L, 2L -> 1L, 3L -> 0L), r2.toString)
    // negative weights refuse fast
    intercept[IllegalArgumentException] {
      Graphs.weightedShortestPaths(
        Seq((1L, 2L, -1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", Seq(1L))
    }
  }

  test("shortest paths: chain, multi-source min, horizon, early exit, layout") {
    import graft.ops.Graphs
    // directed chain 1→2→3→4→5 plus a shortcut 1→4; parallel edge noise
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = Graphs.shortestPaths(edges, "src", "dst", Seq(1L), maxIter = 4)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L), r.toString)
    // horizon cuts the tail: 1 hop from node 1 reaches only 2 and 4
    val r2 = Graphs.shortestPaths(edges, "src", "dst", Seq(1L), maxIter = 1)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 0L, 2L -> 1L, 4L -> 1L), r2.toString)
    // multi-source: a seed mid-chain wins the min; a seed absent from
    // the edge list still reports dist 0
    val r3 = Graphs.shortestPaths(edges, "src", "dst", Seq(1L, 4L, 99L),
      maxIter = 4).as[(Long, Long)].collect().toMap
    assert(r3(5L) == 1L && r3(4L) == 0L && r3(99L) == 0L && r3(3L) == 2L)
    // early exit: a converged graph returns the fixpoint under a huge
    // horizon, and the result is partition-layout invariant
    val r4 = Graphs.shortestPaths(edges.repartition(7), "src", "dst",
      Seq(1L), maxIter = 100).as[(Long, Long)].collect().toMap
    assert(r4 == r)
  }

  test("mrl truncation renormalizes the slice and guards zero vectors") {
    import graft.ops.Similarity
    val df = Seq(
      (1L, Seq(3.0f, 4.0f, 100.0f)),  // slice (3,4) → norm 5
      (2L, Seq(0.0f, 0.0f, 9.0f))     // zero prefix → zero vector
    ).toDF("vec_id", "embedding")
    val out = Similarity.mrlTruncate(df, "embedding", 2)
      .select($"vec_id", $"embedding_mrl")
      .as[(Long, Seq[Double])].collect().toMap
    assert(out(1L) == Seq(0.6, 0.8))
    assert(out(2L) == Seq(0.0, 0.0))
    // truncated-then-normalized vectors are unit length (when nonzero)
    val n = out(1L).map(x => x * x).sum
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("k-anonymity audit reports only under-k quasi-identifier groups") {
    import graft.operators.Audits
    val df = Seq(
      ("en", "web"), ("en", "web"), ("en", "web"),
      ("de", "web"), ("de", "book"),
      ("fr", null.asInstanceOf[String])
    ).toDF("lang", "source")
    val out = Audits.kAnonymity(df, Seq("lang", "source"), k = 3)
      .as[(String, Option[String], Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // (en, web) has 3 >= k → absent; the others violate
    assert(out.size == 3)
    assert(out(("de", Some("web"))) == 1 && out(("de", Some("book"))) == 1)
    assert(out(("fr", None)) == 1) // null quasi values group too
  }

  test("heavy hitters finds exactly the items above N/k at any layout") {
    import graft.ops.HeavyHitters
    // 1000 rows: 'a' x400, 'b' x300, 'c' x200, 100 unique fillers
    val data = (Seq.fill(400)("a") ++ Seq.fill(300)("b") ++
      Seq.fill(200)("c") ++ (1 to 100).map("u" + _))
    val df = data.toDF("tok")
    def run(d: org.apache.spark.sql.DataFrame, k: Int) =
      HeavyHitters.frequentItems(d, "tok", k)
        .as[(String, Long)].collect().sorted.toSeq
    // k=4: threshold 250 → a, b only (c == 200 not > 250)
    assert(run(df, 4) == Seq(("a", 400L), ("b", 300L)))
    // k=10: threshold 100 → a, b, c
    assert(run(df, 10) == Seq(("a", 400L), ("b", 300L), ("c", 200L)))
    // layout independence: adversarial partitioning, same answer
    assert(run(df.repartition(13), 4) == run(df, 4))
    assert(run(df.repartition(1), 10) == run(df, 10))
    // nothing above threshold → empty
    assert(run((1 to 50).map("x" + _).toDF("tok"), 5).isEmpty)
  }

  test("bloom prefiltered join equals the plain join and prunes the probe") {
    import graft.ops.BloomJoin
    val probe = (1L to 5000L).map(i => (i % 1000, i)).toDF("k", "rid")
    val dim = Seq((3L, "a"), (7L, "b"), (999L, "c")).toDF("k", "name")
    val out = BloomJoin.prefiltered(probe, dim, "k")
      .select($"rid", $"name").as[(Long, String)].collect().sorted.toSeq
    val plain = probe.join(dim, Seq("k"))
      .select($"rid", $"name").as[(Long, String)].collect().sorted.toSeq
    assert(out == plain && out.size == 15)
    // empty build side → empty result, no crash
    assert(BloomJoin.prefiltered(probe, dim.filter($"k" < 0), "k")
      .count() == 0)
    // build-side budget is enforced
    intercept[IllegalArgumentException] {
      BloomJoin.prefiltered(probe, probe.select($"k", $"rid".as("name")),
        "k", maxBuildRows = 10)
    }
    // the bloom actually prunes: with fpp 1% and 3/1000 true keys the
    // surviving probe fraction must be well under 10%
    val bf = dim.stat.bloomFilter("k", 3, 0.01)
    val kept = (0L until 1000L).count(bf.mightContainLong)
    assert(kept < 100)
  }

  test("kmeans converges on separated blobs and is layout-deterministic") {
    import graft.ops.KMeans
    // two tight blobs around (0,0) and (10,10); ids 1,2 seed the init
    val pts = Seq(
      (1L, Seq(0.0f, 0.1f)), (2L, Seq(10.0f, 10.1f)),
      (3L, Seq(0.2f, -0.1f)), (4L, Seq(9.9f, 10.0f)),
      (5L, Seq(-0.1f, 0.0f)), (6L, Seq(10.2f, 9.8f))
    ).toDF("vec_id", "embedding")
    val out = KMeans.fit(pts, "vec_id", "embedding", k = 2, iters = 2)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(out(1L) == 0 && out(3L) == 0 && out(5L) == 0)
    assert(out(2L) == 1 && out(4L) == 1 && out(6L) == 1)
    val out2 = KMeans.fit(pts.repartition(5), "vec_id", "embedding", 2, 2)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(out2 == out)
    // an emptied cluster keeps its previous centroid (k=3 over 2 blobs:
    // cluster of id=3's seed empties once 0-blob collapses into c0)
    val k3 = KMeans.fit(pts, "vec_id", "embedding", k = 3, iters = 3)
      .as[(Long, Int, Double)].collect()
    assert(k3.length == 6) // still a total assignment, no crash
  }

  test("interval overlap join emits each overlapping pair exactly once") {
    import graft.operators.RangeJoin
    val a = Seq(
      (1L, Some(0L), Some(100L)),   // spans many bins (width 10)
      (2L, Some(50L), Some(60L)),
      (3L, Some(200L), Some(210L)), // disjoint from all b
      (4L, Some(30L), Some(20L)),   // inverted → dropped
      (5L, None, Some(9L))          // null bound → dropped
    ).toDF("a_id", "a_lo", "a_hi")
    val b = Seq(
      (10L, 90L, 130L),   // overlaps a1 in [90,100]
      (11L, 100L, 100L),  // touches a1 exactly at 100 (inclusive)
      (12L, 55L, 58L),    // inside a1 AND a2 — multi-bin a1 must not dup
      (13L, 300L, 400L)
    ).toDF("b_id", "b_lo", "b_hi")
    val out = RangeJoin
      .overlapBinned(a, "a_lo", "a_hi", b, "b_lo", "b_hi", 10.0)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq
    assert(out == Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 12L)))
    // equals the nested-loop reference on random-ish data, any layout
    val bigA = (1L to 300L).map(i => (i, i * 7 % 500, i * 7 % 500 + i % 40))
      .toDF("a_id", "a_lo", "a_hi").repartition(7)
    val bigB = (1L to 200L).map(i => (i, i * 13 % 500, i * 13 % 500 + i % 25))
      .toDF("b_id", "b_lo", "b_hi").repartition(3)
    val binned = RangeJoin
      .overlapBinned(bigA, "a_lo", "a_hi", bigB, "b_lo", "b_hi", 16.0)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq
    val ref = bigA.crossJoin(bigB)
      .filter($"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi")
      .select($"a_id", $"b_id").as[(Long, Long)].collect().sorted.toSeq
    assert(binned == ref && ref.nonEmpty)
  }

  test("bmp resize maps nearest-neighbor in image space with real stride") {
    import graft.ops.Multimodal
    // source: id=1 → 9x9, base=1, pixel v = base + x + imgTopRow
    val src = Multimodal.bmpBytes(1L)
    val rz = Multimodal.resizeBmp(src, 4, 4).get
    val f = Multimodal.decodeBmp(rz).get
    assert(f(0) == 4.0 && f(1) == 4.0 && f(2) == 24.0)
    // mean = base + mean(sx) + mean(sy); sx=sy=(k*9)/4 for k=0..3
    val m = (0 until 4).map(k => k * 9 / 4)
    assert(f(3) == 1.0 + 2.0 * m.sum / 4.0)
    // identity resize reproduces the source decode exactly
    val same = Multimodal.resizeBmp(src, 9, 9).get
    assert(Multimodal.decodeBmp(same).get.sameElements(
      Multimodal.decodeBmp(src).get))
    // upscale stays in range and valid
    val up = Multimodal.resizeBmp(src, 16, 16).get
    val fu = Multimodal.decodeBmp(up).get
    assert(fu(0) == 16.0 && fu(1) == 16.0)
    // non-BMP bytes refuse
    assert(Multimodal.resizeBmp("nope".getBytes, 4, 4).isEmpty)
  }

  test("image dHash: determinism, brightness invariance, key separation") {
    import graft.ops.Multimodal
    // equal keys ⇒ byte-identical BMPs ⇒ identical hashes
    assert(Multimodal.dHash64(Multimodal.bmpPatternBytes(7L)) ==
      Multimodal.dHash64(Multimodal.bmpPatternBytes(7L)))
    // brightness shift preserves gradient signs: bmpBytes gradients
    // with different base but same dims hash identically
    assert(Multimodal.dHash64(Multimodal.bmpBytes(3L)) ==
      Multimodal.dHash64(Multimodal.bmpBytes(163L)))
    // the q_image_neardup oracle's soundness: every cross-key pair of
    // the 50 gate patterns sits STRICTLY above the gate threshold (4)
    val hashes = (0L until 50L).map(k =>
      Multimodal.dHash64(Multimodal.bmpPatternBytes(k)).get)
    val minCross = (for {
      i <- hashes.indices; j <- hashes.indices if i < j
    } yield java.lang.Long.bitCount(hashes(i) ^ hashes(j))).min
    assert(minCross > 4, s"cross-key hamming floor $minCross")
    // every bundled synthesizer decodes through the imageio path
    assert(Multimodal.dHash64(Multimodal.pngBytes(5L)).isDefined)
    assert(Multimodal.dHash64(Multimodal.gifBytes(5L)).isDefined)
    assert(Multimodal.dHash64(Multimodal.jpegBytes(5L)).isDefined)
    // garbage refuses instead of crashing
    assert(Multimodal.dHash64("not an image".getBytes).isEmpty)
    assert(Multimodal.dHash64(Array.emptyByteArray).isEmpty)
  }

  test("image near-dup links same-pattern images on both join paths") {
    import graft.ops.{Multimodal, TextDedup}
    // 30 images over 10 patterns (3 each) + one undecodable payload
    val imgs = ((0L until 30L).map(i =>
      (i, Multimodal.bmpPatternBytes(i % 10))) :+
      (99L, "broken bytes".getBytes))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDup(imgs, "doc_id", maxHamming = 4)
      .as[(Long, Long, Int)].collect()
    val expected = (for {
      a <- 0L until 30L; b <- 0L until 30L if a < b && a % 10 == b % 10
    } yield (a, b, 0)).toSet
    assert(pairs.toSet == expected, s"${pairs.length} pairs")
    // blocked path (dense dispatch off) agrees exactly
    val viaBlocked = TextDedup.hammingPairs64(
      Multimodal.imageDHashes(imgs, "doc_id"), "doc_id", "dhash",
      maxHamming = 4, denseLimit = 0)
      .as[(Long, Long, Int)].collect().toSet
    assert(viaBlocked == expected)
  }

  test("audio fingerprint: determinism, key separation, stereo, refusal") {
    import graft.ops.Multimodal
    assert(Multimodal.audioFingerprint64(Multimodal.wavPatternBytes(3L)) ==
      Multimodal.audioFingerprint64(Multimodal.wavPatternBytes(3L)))
    // the q_audio_neardup oracle's soundness: 40-key cross floor > 4
    val fps = (0L until 40L).map(k =>
      Multimodal.audioFingerprint64(Multimodal.wavPatternBytes(k)).get)
    val minCross = (for {
      i <- fps.indices; j <- fps.indices if i < j
    } yield java.lang.Long.bitCount(fps(i) ^ fps(j))).min
    assert(minCross > 4, s"cross-key fingerprint floor $minCross")
    // multi-channel clips fingerprint through the same path
    assert(Multimodal
      .audioFingerprint64(Multimodal.wavStereoBytes(5L)).isDefined)
    // non-WAV bytes and too-short clips refuse
    assert(Multimodal.audioFingerprint64("not audio".getBytes).isEmpty)
    assert(Multimodal
      .audioFingerprint64(Multimodal.bmpPatternBytes(1L)).isEmpty)
    // end-to-end pairs: 20 clips over 5 keys, hamming-0 within key
    val clips = (0L until 20L).map(i =>
      (i, Multimodal.wavPatternBytes(i % 5))).toDF("doc_id", "payload")
    val pairs = Multimodal.audioNearDup(clips, "doc_id", maxHamming = 4)
      .as[(Long, Long, Int)].collect().toSet
    val expected = (for {
      a <- 0L until 20L; b <- 0L until 20L if a < b && a % 5 == b % 5
    } yield (a, b, 0)).toSet
    assert(pairs == expected)
  }

  test("zorder interleaves bits and tightens per-chunk column spans") {
    import graft.ops.Layout
    // x=3 (011), y=5 (101): z = x0 + y0<<1 + x1<<2 + y2<<5 = 39
    val z = Seq((3, 5)).toDF("x", "y")
      .select(Layout.zOrder2($"x", $"y")).as[Long].first
    assert(z == 39L)
    // zero stays zero; single high bit lands at 2*i (x) / 2*i+1 (y)
    val probes = Seq((0, 0), (1 << 20, 0), (0, 1 << 20)).toDF("x", "y")
      .select(Layout.zOrder2($"x", $"y")).as[Long].collect()
    assert(probes.sameElements(Array(0L, 1L << 40, 1L << 41)))
    // locality: sort a 64x64 grid by z, cut into 16 contiguous chunks;
    // every chunk must span ≤ a quarter of each axis (perfect z-curve
    // on a power-of-two grid gives 16 aligned 16x16 tiles)
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
      .toDF("x", "y")
    val chunks = grid
      .select($"x", $"y", Layout.zOrder2($"x", $"y").as("z"))
      .orderBy($"z").as[(Int, Int, Long)].collect()
      .grouped(256).toSeq
    assert(chunks.size == 16)
    chunks.foreach { c =>
      val (xs, ys) = (c.map(_._1), c.map(_._2))
      assert(xs.max - xs.min <= 15 && ys.max - ys.min <= 15)
    }
  }

  test("zorder layout skips row groups for single-column predicates") {
    import graft.ops.Layout
    import org.apache.spark.sql.execution.FileSourceScanExec
    // 64x64 grid; z-order means a tight x-predicate touches only the
    // files whose x-span intersects — measured as rows READ from the
    // scan (parquet row-group stats pruning), not rows after filter
    val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x, y))
      .toDF("x", "y")
    def rowsReadWith(dir: String): Long = {
      val df = spark.read.parquet(dir).filter($"x" < 8)
      // collect() drives THIS Dataset's QueryExecution — count() would
      // build a different plan whose metrics we couldn't read back
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val zdir = java.nio.file.Files
      .createTempDirectory("graft_zprune").toString
    val rdir = java.nio.file.Files
      .createTempDirectory("graft_rprune").toString
    try {
      Layout.zOrderWrite(grid, "x", "y", zdir, numFiles = 16)
      grid.orderBy(rand(7)).repartition(16)
        .write.mode("overwrite").parquet(rdir)
      val zRead = rowsReadWith(zdir)
      val rRead = rowsReadWith(rdir)
      // random layout: every row group spans all x → reads everything;
      // z layout: x<8 lives in the first z-range files only
      assert(rRead == 4096, s"random layout read $rRead")
      assert(zRead <= 1024, s"z layout read $zRead of 4096")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(zdir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rdir))
    }
  }

  test("bloom-filter layout skips row groups for point lookups") {
    import graft.ops.Layout
    import org.apache.spark.sql.execution.FileSourceScanExec
    // 8 files x 150k rows of a scrambled unique key: every file's
    // min/max spans ~the full 64-bit range (stats prune nothing) and
    // 150k distinct longs overflow parquet's 1 MB dictionary page
    // mid-chunk (exact dictionary row-group filtering unavailable) —
    // the regime bloomFilterWrite exists for. Measured exactly like
    // the z-order spec: rows READ from the scan's own metrics.
    val keyed = spark.range(0, 1200000)
      .select($"id", xxhash64($"id").as("key"), ($"id" % 97).as("payload"))
    val probe = keyed.filter($"id" === 777L).select($"key").as[Long].head()
    def rowsReadWith(dir: String): (Long, Seq[Long]) = {
      val df = spark.read.parquet(dir).filter($"key" === probe)
      // collect THIS Dataset — a derived select would execute a
      // different QueryExecution whose metrics we couldn't read back
      val got = df.collect().map(_.getAs[Long]("id")).toSeq
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      (scans.map(_.metrics("numOutputRows").value).sum, got)
    }
    val bdir = java.nio.file.Files
      .createTempDirectory("graft_bloomprune").toString
    val pdir = java.nio.file.Files
      .createTempDirectory("graft_plainprune").toString
    try {
      Layout.bloomFilterWrite(keyed, Map("key" -> 150000L), bdir,
        numFiles = 8)
      keyed.repartition(8).write.mode("overwrite").parquet(pdir)
      val (bRead, bGot) = rowsReadWith(bdir)
      val (pRead, pGot) = rowsReadWith(pdir)
      assert(bGot == Seq(777L) && pGot == Seq(777L))
      assert(pRead == 1200000L,
        s"plain layout read $pRead — expected all rows (nothing prunes)")
      assert(bRead <= 300000L,
        s"bloom layout read $bRead of 1200000 — no bloom skipping")
      info(s"bloom layout read $bRead of 1200000 rows (plain read $pRead)")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(bdir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pdir))
    }
  }

  test("zorder write produces range-disjoint sorted files") {
    import graft.ops.Layout
    val dir = java.nio.file.Files
      .createTempDirectory("graft_zorder").toString
    try {
      val df = (1 to 4096).map(i => (i % 61, (i * 7) % 53, i)).toDF("x", "y", "id")
      Layout.zOrderWrite(df, "x", "y", dir, numFiles = 4)
      val back = spark.read.parquet(dir)
      assert(back.count() == 4096 && back.columns.sorted.sameElements(
        Array("id", "x", "y")))
      // per-file z ranges are disjoint (range partitioning on z)
      val ranges = back
        .select(Layout.zOrder2($"x", $"y").as("z"),
          input_file_name().as("f"))
        .groupBy($"f").agg(min($"z").as("lo"), max($"z").as("hi"))
        .as[(String, Long, Long)].collect().map(r => (r._2, r._3))
        .sortBy(_._1)
      assert(ranges.size > 1)
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
        case _ =>
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("canonical url collapses syntactic variants and keeps real query") {
    import graft.ops.TextAnalysis
    val urls = Seq(
      "https://WWW.Example-Site.org/p/7/",
      "https://example-site.org:443/p/7?utm_source=x",
      "https://www.example-site.org/p/7#frag",
      "http://example-site.org:80/p/7/?utm_a=1&utm_b=2",
      "https://Example-site.ORG/p/7?id=7&utm_campaign=c&x=2",
      "https://a.org/x?utm_only=1",
      "https://a.org/",
      "https://a.org/UPPER/Case?Q=v"
    ).toDF("u")
    val out = urls.select(TextAnalysis.canonicalUrl($"u")).as[String].collect()
    assert(out(0) == "https://example-site.org/p/7")
    assert(out(1) == "https://example-site.org/p/7")
    assert(out(2) == "https://example-site.org/p/7")
    assert(out(3) == "http://example-site.org/p/7") // scheme differs: kept
    assert(out(4) == "https://example-site.org/p/7?id=7&x=2")
    assert(out(5) == "https://a.org/x")
    assert(out(6) == "https://a.org")  // root slash stripped too
    assert(out(7) == "https://a.org/UPPER/Case?Q=v") // path case kept
  }

  test("clean text strips tags, decodes entities, NFC-composes accents") {
    import graft.ops.TextAnalysis
    val df = Seq(
      "<p class=\"x\">a  b</p> &amp; cafe" + "\u0301" + " &lt;tag&gt;",
      "plain   text\n\tok",
      "&amp;lt; stays literal-ish"
    ).toDF("t")
    val out = df.select(TextAnalysis.cleanText($"t")).as[String].collect()
    assert(out(0) == "a b & caf\u00e9 <tag>") // composed, tags gone
    assert(out(1) == "plain text ok")
    // &amp; decodes last: "&lt;" appears but is NOT re-decoded
    assert(out(2) == "&lt; stays literal-ish")
  }

  test("incremental dedup flags batch docs against the corpus only") {
    import graft.ops.TextDedup
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "entirely different corpus content about spark engines"),
      (11L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact
      (20L, "the quick brown fox jumps over the lazy dog tonite"),  // near
      (30L, "completely unrelated new material with novel words"),  // unique
      (40L, "")                                                     // blank
    ).toDF("doc_id", "text")
    val out = TextDedup
      .incrementalDedup(corpus, batch, "doc_id", "text", 5, 0.5)
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(10L) == (("exact_dup", Some(1L)))) // min of {1,11}
    assert(out(20L) == (("near_dup", Some(1L))))
    assert(out(30L) == (("unique", None)))
    assert(out(40L) == (("unique", None)))
    assert(out.size == 4)
    val out2 = TextDedup.incrementalDedup(corpus.repartition(5),
        batch.repartition(3), "doc_id", "text", 5, 0.5)
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out2 == out)
  }

  test("cohort retention counts per-offset actives against cohort size") {
    import graft.ops.Timeseries
    // bucket = 10us. u1,u2 first in b0; u1 returns b1 and b2, u2 never.
    // u3 first in b1, returns b2.
    val df = Seq(
      (1L, 1L), (1L, 12L), (1L, 25L), (2L, 3L), (3L, 15L), (3L, 22L),
      (3L, 29L) // same bucket as 22 → one distinct active
    ).toDF("user_id", "tsus")
      .select($"user_id", timestamp_micros($"tsus").as("ts"))
    val out = Timeseries.cohortRetention(df, "user_id", "ts", 10L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      (0L, 0L, 2L, 1.0),   // cohort b0: u1,u2
      (0L, 1L, 1L, 0.5),   // only u1 back
      (0L, 2L, 1L, 0.5),
      (10L, 0L, 1L, 1.0),  // cohort b1: u3
      (10L, 1L, 1L, 1.0)))
    val out2 = Timeseries
      .cohortRetention(df.repartition(5), "user_id", "ts", 10L)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(out2 == out)
  }

  test("rolling range window sums the trailing interval inclusively") {
    import graft.ops.Timeseries
    val df = Seq(
      (1L, 1L, 0L, 1.0), (2L, 1L, 5L, 2.0), (3L, 1L, 10L, 4.0),
      (4L, 1L, 10L, 8.0),  // duplicate ts → peer rows share a frame
      (5L, 1L, 21L, 16.0), // 21-10=11 > 10 → drops rows at ts 0,5,10
      (6L, 2L, 10L, 1.0)
    ).toDF("event_id", "user_id", "tsus", "value")
      .select($"event_id", $"user_id",
        timestamp_micros($"tsus").as("ts"), $"value")
    val out = Timeseries
      .rollingAgg(df, "user_id", "ts", "value", 10L, Seq("event_id"))
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 0L, 1L, 1.0)))
    assert(out(2L) == ((2L, 1L, 5L, 2L, 3.0)))
    // both ts=10 rows see the full frame incl. each other (peers)
    assert(out(3L) == ((3L, 1L, 10L, 4L, 15.0)))
    assert(out(4L) == ((4L, 1L, 10L, 4L, 15.0)))
    assert(out(5L) == ((5L, 1L, 21L, 1L, 16.0))) // window slid past all
    assert(out(6L) == ((6L, 2L, 10L, 1L, 1.0)))  // keys isolated
  }

  test("transition matrix: keyed sequences, tie-broken order, row-normalized") {
    import graft.ops.Timeseries
    // user 1: a -> b -> a (ties at tsus=5 broken by event_id: 2 then 3)
    // user 2: b -> b; a lone event contributes no transition
    val df = Seq(
      (1L, 1L, 0L, "a"), (2L, 1L, 5L, "b"), (3L, 1L, 5L, "a"),
      (4L, 2L, 0L, "b"), (5L, 2L, 9L, "b"), (6L, 3L, 0L, "c")
    ).toDF("event_id", "user_id", "tsus", "event_type")
      .select($"event_id", $"user_id",
        timestamp_micros($"tsus").as("ts"), $"event_type")
    val out = Timeseries
      .transitionMatrix(df, "user_id", "event_type", "ts", "event_id")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out == Map(
      ("a", "b") -> ((1L, 1.0)),
      ("b", "a") -> ((1L, 0.5)),
      ("b", "b") -> ((1L, 0.5))))
    // layout-invariant (the tie column pins the sequence)
    val out7 = Timeseries
      .transitionMatrix(df.repartition(7), "user_id", "event_type", "ts",
        "event_id")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(out7 == out)
  }

  test("orphan-key audit separates orphans from null FKs") {
    import graft.operators.Audits
    val fact = Seq(Some(1L), Some(1L), Some(2L), Some(9L), Some(8L), None)
      .toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val r = Audits.orphanKeys(fact, "fk", dim, "pk").collect().head
    assert(r.getAs[Long]("fact_rows") == 5)       // null FK excluded
    assert(r.getAs[Long]("fact_keys") == 4)
    assert(r.getAs[Long]("orphan_rows") == 2)     // keys 8, 9
    assert(r.getAs[Long]("orphan_keys") == 2)
    assert(r.getAs[String]("sample_orphan_key") == "8")
    assert(r.getAs[Long]("null_fk_rows") == 1)
    // fully-covered fact: zero orphans, null exemplar
    val clean = Audits.orphanKeys(
      Seq(1L, 2L).toDF("fk"), "fk", dim, "pk").collect().head
    assert(clean.getAs[Long]("orphan_rows") == 0 &&
      clean.getAs[Long]("orphan_keys") == 0 &&
      clean.getAs[String]("sample_orphan_key") == null)
  }

  test("key skew report flags a hot key and ignores null keys") {
    import graft.operators.Audits
    val df = (Seq.fill(6)(Option(7L)) ++ Seq(Some(1L), Some(2L), None))
      .toDF("k")
    val out = Audits.keySkew(df, "k").collect().head
    assert(out.getLong(0) == 8 && out.getLong(1) == 3) // nulls excluded
    assert(out.getLong(2) == 6 && out.getString(3) == "7")
    assert(out.getDouble(4) == 8.0 / 3.0)
    assert(out.getDouble(5) == 6.0 * 3.0 / 8.0)
    // tie on count → largest key string wins, any layout
    val tied = Seq("a", "b", "b", "c", "c").toDF("k").repartition(4)
    assert(Audits.keySkew(tied, "k").collect().head.getString(3) == "c")
  }

  test("grouped top-k keeps k rows per group under a total order") {
    import graft.ops.Ranking
    val df = Seq(
      (1L, "s1", 10L), (2L, "s1", 30L), (3L, "s1", 20L), (4L, "s1", 30L),
      (5L, "s2", 1L)
    ).toDF("id", "grp", "sz")
    val out = Ranking.groupedTopK(df, Seq("grp"),
      Seq($"sz".desc, $"id".asc), k = 2)
      .as[(Long, String, Long, Int)].collect().toSet
    // tie at sz=30 broken by id: 2 before 4; id 4 takes rank 2
    assert(out == Set((2L, "s1", 30L, 1), (4L, "s1", 30L, 2),
      (5L, "s2", 1L, 1)))
    val out2 = Ranking.groupedTopK(df.repartition(3), Seq("grp"),
      Seq($"sz".desc, $"id".asc), k = 2)
      .as[(Long, String, Long, Int)].collect().toSet
    assert(out2 == out)
  }

  test("mixtureRates: deficit caps at 1, proportional else, absent -> 0") {
    import graft.ops.TextAnalysis
    // class a: 100 tokens, class b: 400 tokens
    val df = Seq(("a", 60), ("a", 40), ("b", 150), ("b", 250))
      .toDF("cls", "tok")
    val r = TextAnalysis.mixtureRates(df, "cls", "tok", budget = 400L,
      weights = Seq("a" -> 0.5, "b" -> 0.5, "c" -> 0.1)).toMap
    // a's share (200) exceeds its 100 tokens -> cap 1; b: 200/400;
    // c has no rows -> 0
    assert(r == Map("a" -> 1.0, "b" -> 0.5, "c" -> 0.0), r.toString)
    // applying the rates through mixtureSample keeps ALL of the
    // capped class (rate 1 = the always-true bucket)
    val kept = df.filter(TextAnalysis.mixtureSample(col("tok"),
      col("cls"), TextAnalysis.mixtureRates(df, "cls", "tok", 400L,
        Seq("a" -> 0.5, "b" -> 0.5))))
    assert(kept.filter(col("cls") === "a").count() == 2)
    intercept[IllegalArgumentException] {
      TextAnalysis.mixtureRates(df, "cls", "tok", 0L, Seq("a" -> 1.0))
    }
  }

  test("hashSampleK: exact per-group counts, nested budgets, stable") {
    import graft.ops.Ranking
    val df = (1L to 300L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val k10 = Ranking.hashSampleK(df.repartition(7), Seq("source"),
      "doc_id", 10)
    val counts = k10.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    assert(counts.size == 3 && counts.values.forall(_ == 10), counts)
    // content-hash order nests budgets: the k=10 pick is a strict
    // subset of the k=20 pick, regardless of partition layout
    val s10 = k10.select("doc_id").as[Long].collect().toSet
    val s20 = Ranking.hashSampleK(df.repartition(3), Seq("source"),
      "doc_id", 20).select("doc_id").as[Long].collect().toSet
    assert(s10.size == 30 && s20.size == 60 && s10.subsetOf(s20))
    // groups smaller than k pass through whole
    val tiny = Ranking.hashSampleK(df.filter($"doc_id" <= 5),
      Seq("source"), "doc_id", 10)
    assert(tiny.count() == 5)
  }

  test("salted join equals plain join and spreads a hot key across salts") {
    import graft.operators.SkewJoin
    // 2000 fact rows, 90% on one hot key
    val fact = (1L to 2000L)
      .map(i => (i, if (i % 10 == 0) (i % 3) + 1 else 0L, i * 1.5))
      .toDF("rid", "k", "v")
    val dim = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "name")
    val salted = SkewJoin.salted(fact, dim, Seq("k"), saltFactor = 8)
    val plain = fact.join(dim, Seq("k"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"rid", $"name").as[(Long, String)].collect().sorted.toSeq
    assert(key(salted) == key(plain))
    assert(key(salted).size == 2000)
    // the hot key's rows actually land on several salts
    val hotSalts = fact.filter($"k" === 0L)
      .withColumn("__salt",
        pmod(xxhash64(fact.columns.map(col).toSeq: _*), lit(8L)).cast("int"))
      .select($"__salt").distinct().count()
    assert(hotSalts >= 6, s"hot key spread over only $hotSalts salts")
    // deterministic: same salts on re-run
    assert(key(SkewJoin.salted(fact.repartition(13), dim, Seq("k"), 8)) ==
      key(plain))
  }

  test("scd2 merge closes changed versions, keeps history, is idempotent") {
    import graft.operators.Scd2
    def tgt(rows: Seq[(Long, String, Long, Option[Long])]) =
      rows.toDF("k", "v", "valid_from", "valid_to")
    // gen 0: keys 1..3 current since t=0, key 1 has a closed v0 row
    val t0 = tgt(Seq(
      (1L, "a0", -5L, Some(0L)),
      (1L, "a1", 0L, None),
      (2L, "b1", 0L, None),
      (3L, "c1", 0L, None)))
    // snapshot at t=10: key 1 changed, key 2 identical, key 4 new
    // (key 3 absent → stays open)
    val s1 = Seq((1L, "a2"), (2L, "b1"), (4L, "d1")).toDF("k", "v")
    val t1 = Scd2.merge(t0, s1, "k", Seq("v"), lit(10L))
    val rows = t1.as[(Long, String, Long, Option[Long])]
      .collect().toSet
    assert(rows == Set(
      (1L, "a0", -5L, Some(0L)),  // old history untouched
      (1L, "a1", 0L, Some(10L)),  // closed
      (1L, "a2", 10L, None),      // new version
      (2L, "b1", 0L, None),       // identical → untouched
      (3L, "c1", 0L, None),       // absent from snapshot → open
      (4L, "d1", 10L, None)))     // new key
    // idempotent: replaying the same snapshot changes nothing
    val t2 = Scd2.merge(t1, s1, "k", Seq("v"), lit(20L))
    assert(t2.as[(Long, String, Long, Option[Long])].collect().toSet == rows)
    // exactly one current row per key, always
    val curPerKey = t2.filter($"valid_to".isNull)
      .groupBy($"k").count().as[(Long, Long)].collect().toMap
    assert(curPerKey.values.forall(_ == 1L))
    // null-safe comparison: null -> value and value -> null both close
    val tn = tgt(Seq((7L, null, 0L, None)))
    val sn = Seq((7L, "x")).toDF("k", "v")
    val closed = Scd2.merge(tn, sn, "k", Seq("v"), lit(5L))
      .as[(Long, String, Long, Option[Long])].collect().toSet
    assert(closed == Set((7L, null, 0L, Some(5L)), (7L, "x", 5L, None)))
  }

  test("binned range join equals brute force, handles edges, no nested loop") {
    import graft.operators.RangeJoin
    val pts = Seq(
      (1L, -3.0), (2L, 0.0), (3L, 2.5), (4L, 7.0), (5L, 100.0),
      (6L, Double.NaN), (7L, 5.0)
    ).toDF("pid", "p")
      .union(Seq((8L, Option.empty[Double])).toDF("pid", "p"))
    val ivs = Seq(
      (10L, -5.0, -1.0),  // negative range
      (11L, 0.0, 0.0),    // degenerate single point (boundary inclusive)
      (12L, 2.0, 7.0),    // spans several bins
      (13L, 9.0, 4.0),    // inverted → empty
      (14L, 4.5, 5.5)     // overlaps 12
    ).toDF("iid", "lo", "hi")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"pid", $"iid").as[(Long, Long)].collect().toSet
    val got = key(RangeJoin.binned(pts, "p", ivs, "lo", "hi", 2.0))
    val brute = key(pts.crossJoin(ivs)
      .filter($"p" >= $"lo" && $"p" <= $"hi"))
    assert(got == brute)
    assert(got == Set((1L, 10L), (2L, 11L), (3L, 12L), (4L, 12L),
      (7L, 12L), (7L, 14L)))
    // auto bin width picks the same pairs
    assert(key(RangeJoin.binnedAuto(pts, "p", ivs, "lo", "hi")) == brute)
    // extreme widths stay correct (bins only change the plan, not rows)
    assert(key(RangeJoin.binned(pts, "p", ivs, "lo", "hi", 0.25)) == brute)
    assert(key(RangeJoin.binned(pts, "p", ivs, "lo", "hi", 1000.0)) == brute)
    // the point of the operator: an equi-join, not a nested loop
    val plan = RangeJoin.binned(pts, "p", ivs, "lo", "hi", 2.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("dsir weights rank target-like documents above off-domain ones") {
    // target domain: "spark sql" talk; raw pool: one in-domain doc, one
    // off-domain doc, one blank
    val df = Seq(
      (1L, "spark sql spark sql spark sql", true),
      (2L, "spark sql spark sql", false),   // looks like the target
      (3L, "cats dogs cats dogs", false),   // off-domain
      (4L, "  ", false)                     // blank → weight 0
    ).toDF("doc_id", "text", "t")
    val out = TextAnalysis
      .dsirWeights(df, "doc_id", "text", $"t", n = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 4)
    assert(out(2L)._3 > 0, "in-domain raw doc should score positive")
    assert(out(3L)._3 < 0, "off-domain raw doc should score negative")
    assert(out(2L)._3 > out(3L)._3)
    assert(out(4L)._2 == 0 && out(4L)._3 == 0.0)
    // weight scales with evidence: doc 1 has more target grams than 2
    assert(out(1L)._3 > out(2L)._3)
    // deterministic across partition layouts
    val out2 = TextAnalysis
      .dsirWeights(df.repartition(5), "doc_id", "text", $"t", n = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out == out2)
  }

  test("bigram LM matches hand-computed add-alpha probabilities") {
    val df = Seq(
      (1L, "a b a b"), // bigrams: "a b","b a","a b"
      (2L, "a b"),
      (3L, "c"),       // 1 token → no bigrams → no row
      (4L, "  ")       // blank → excluded from vocab too
    ).toDF("doc_id", "text")
    // duplicates kept, order preserved
    assert(df.filter($"doc_id" === 1L)
      .select(TextAnalysis.wordBigrams($"text")).as[Seq[String]].head() ==
      Seq("a b", "b a", "a b"))
    // n=1 on blank/whitespace matches the tokenCount=0 convention
    // (no phantom "" unigram from split on an empty trim)
    assert(df.filter($"doc_id" === 4L)
      .select(TextAnalysis.wordGramsOccur($"text", 1)).as[Seq[String]]
      .head().isEmpty)
    assert(df.filter($"doc_id" === 3L)
      .select(TextAnalysis.wordGramsOccur($"text", 1)).as[Seq[String]]
      .head() == Seq("c"))
    val out = TextAnalysis.bigramLmScore(df, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    // V=3 {a,b,c}; cnt: "a b"→3, "b a"→1; ctx: a→3, b→1; α=0.1
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pab = r6(math.log((3 + 0.1) / (3 + 0.1 * 3)))
    val pba = r6(math.log((1 + 0.1) / (1 + 0.1 * 3)))
    assert(out(1L)._2 == 3L && math.abs(out(1L)._3 - (2 * pab + pba) / 3) < 1e-12)
    assert(out(2L)._2 == 1L && math.abs(out(2L)._3 - pab) < 1e-12)
    // repeated rare transitions score lower than the common one
    assert(out(1L)._3 < out(2L)._3 && out(1L)._4 > out(2L)._4)
    // stable across partition layouts
    val out2 = TextAnalysis.bigramLmScore(df.repartition(5), "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out2 == out)
  }

  test("semdedup drops planted near-dups and keeps min-id survivors") {
    // four well-separated axis clusters of 64-dim vectors; ids 100+
    // are near-copies of ids 0-3 (tiny perturbation on one off-axis
    // coordinate keeps cosine ≈ 1)
    val dim = 64
    def vec(axis: Int, eps: Float): Array[Float] = {
      val v = new Array[Float](dim)
      v(axis) = 1f
      v(axis + 8) = eps
      v
    }
    val rows =
      (0 until 4).map(a => (a.toLong, vec(a, 0f))) ++          // originals
      (0 until 4).map(a => (100L + a, vec(a, 0.05f))) ++        // near-dups
      (0 until 40).map(i => (200L + i, vec(8 + i % 4, 0.3f)))   // fillers
    val df = rows.toDF("vec_id", "embedding")
    val survivors = Similarity.semDedup(df, "vec_id", "embedding",
      nCells = 8, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    // each near-copy collapses onto its min-id original
    (0 until 4).foreach { a =>
      assert(survivors.contains(a.toLong) && !survivors.contains(100L + a))
    }
    // cells achieve full recall here: pairs match the exact baseline
    val exact = Similarity.cosineNearDupPairs(df, "vec_id", "embedding",
      threshold = 0.95).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cell = Similarity.semDedupPairs(df, "vec_id", "embedding",
      nCells = 8, threshold = 0.95).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(cell.subsetOf(exact), "cell pairs must be a subset of exact pairs")
    assert((0 until 4).forall(a => cell.contains((a.toLong, 100L + a))))
  }

  test("semdedup cell cap: giant clique still collapses, small cells exact") {
    val dim = 16
    def vec(axis: Int, eps: Float): Array[Float] = {
      val v = new Array[Float](dim)
      v(axis) = 1f
      v((axis + 4) % dim) = eps
      v
    }
    // one EXACT-duplicate clique of 600 vectors (identical embeddings
    // → deterministic single-cell routing, lowest cell id on ties) —
    // the hub cell — plus two 2-member near-dup clusters that become
    // their own seed cells (ids 1/2/3 are the three seeds)
    val clique = (Seq(2L) ++ (1000L until 1599L)).map(i => (i, vec(0, 0.02f)))
    val smalls = Seq((1L, vec(4, 0f)), (5L, vec(4, 0.03f)),
      (3L, vec(8, 0f)), (6L, vec(8, 0.03f)))
    val df = (clique ++ smalls).toDF("vec_id", "embedding").repartition(8)
    val capped = Similarity.semDedup(df, "vec_id", "embedding",
      nCells = 3, threshold = 0.95, maxCellSize = 100)
      .select("vec_id").as[Long].collect().toSet
    // the clique's cell is oversized (600 > 100) yet stays fully
    // connected through the 8 salted-min reps: only min id 2 survives;
    // sub-cap cells keep exact all-pairs semantics (1 and 3 survive
    // their planted near-dups 5 and 6)
    assert(capped == Set(1L, 2L, 3L),
      s"expected {1,2,3}, got ${capped.toSeq.sorted.take(10)}…")
    // with the cap disabled the survivor set is identical here —
    // star connectivity loses no component on a clique
    val uncapped = Similarity.semDedup(df, "vec_id", "embedding",
      nCells = 3, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(capped == uncapped)
  }

  test("jacobi eigensolve recovers a known 2x2 spectrum") {
    import graft.ops.Pca
    val (eig, v) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val order = (0 until 2).sortBy(i => -eig(i))
    assert(math.abs(eig(order(0)) - 3.0) < 1e-12)
    assert(math.abs(eig(order(1)) - 1.0) < 1e-12)
    // top eigenvector is ±(1,1)/sqrt2
    val c = Array(v(0)(order(0)), v(1)(order(0)))
    assert(math.abs(math.abs(c(0)) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(c(0) - c(1)) < 1e-12)
  }

  test("pca recovers planted rotated directions; projection whitens") {
    import graft.ops.Pca
    val dim = 6
    // rank-2 data on rotated axes u=(.6,.8,0..), v=(-.8,.6,0..):
    // a has ~33x the variance of b, so u must come out first
    val rows = (0 until 1200).map { i =>
      val a = ((i * 37) % 201 - 100) / 10.0f   // roughly uniform [-10,10]
      val b = ((i * 53) % 41 - 20) / 10.0f     // roughly uniform [-2,2]
      val x = new Array[Float](dim)
      x(0) = 0.6f * a - 0.8f * b
      x(1) = 0.8f * a + 0.6f * b
      (i.toLong, x)
    }
    val df = (rows :+ (9999L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val m = Pca.train(df, "embedding", k = 2)
    assert(m.n == 1200 && m.dim == dim)          // null row skipped
    assert(m.eigenvalues(0) > m.eigenvalues(1) && m.eigenvalues(1) > 0)
    // components orthonormal and aligned with the planted axes
    def dot(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (p, q) => p * q }.sum
    assert(math.abs(dot(m.components(0), m.components(0)) - 1) < 1e-9)
    assert(math.abs(dot(m.components(1), m.components(1)) - 1) < 1e-9)
    assert(math.abs(dot(m.components(0), m.components(1))) < 1e-9)
    val u = Array(0.6, 0.8, 0, 0, 0, 0)
    val v = Array(-0.8, 0.6, 0, 0, 0, 0)
    assert(math.abs(math.abs(dot(m.components(0), u)) - 1) < 1e-3)
    assert(math.abs(math.abs(dot(m.components(1), v)) - 1) < 1e-3)
    // whitened projection: each direction has ~unit population variance
    val pcs = Pca.project(df, "vec_id", "embedding", m, whiten = true)
    assert(pcs.columns.toSeq == Seq("vec_id", "pc0", "pc1"))
    val stats = pcs.filter(col("pc0").isNotNull)
      .agg(avg(col("pc0")), avg(col("pc0") * col("pc0")),
        avg(col("pc1") * col("pc1")))
      .as[(Double, Double, Double)].head()
    assert(math.abs(stats._1) < 1e-3)
    assert(math.abs(stats._2 - 1.0) < 0.02, s"pc0 var ${stats._2}")
    assert(math.abs(stats._3 - 1.0) < 0.02, s"pc1 var ${stats._3}")
    // null vector projects to null scalars
    assert(pcs.filter(col("vec_id") === 9999L && col("pc0").isNull)
      .count() == 1)
  }

  test("opq: eigen allocation balances, rotation orthonormal, recall lifts") {
    // spectrum with 4 strong directions: each of the 4 subspaces must
    // receive exactly one (greedy min-log-product allocation)
    val alloc = Similarity.allocateEigen(
      Array(8.0, 4.0, 2.0, 1.0) ++ Array.fill(12)(1e-4), m = 4)
    assert(alloc.sorted.toSeq == (0 until 16))
    val bySub = alloc.grouped(4).toArray
    assert(bySub.forall(_.count(_ < 4) == 1),
      s"strong components not spread: ${bySub.map(_.toSeq).toSeq}")
    // sub-1 eigenvalues (every normalized-vector spectrum): adding a
    // component SHRINKS a bucket's product, which defeated an
    // unrestricted min-product greedy — the least-filled restriction
    // must still deal one strong component per subspace
    val allocSub1 = Similarity.allocateEigen(
      Array(0.5, 0.25, 0.12, 0.06) ++ Array.fill(12)(1e-6), m = 4)
    assert(allocSub1.grouped(4).toArray.forall(_.count(_ < 4) == 1),
      s"sub-1 spectrum not spread: ${allocSub1.toSeq}")

    // adversarial-for-PQ corpus: ALL variance lives in dims 0-3 = raw
    // subspace 0, the rest is low-amplitude noise — plain PQ burns
    // three codebooks on noise while one codebook quantizes a 4-D
    // signal with 16 centroids
    val dim = 16
    // splitmix-style mix — a LINEAR i·a+j·b mod m generator makes the
    // "independent" dims perfectly correlated across i (difference is
    // a constant), collapsing the data to 1-D and the OPQ advantage
    // with it; the signal must actually span 4 dimensions
    def h(i: Int, j: Int): Double = {
      var z = i.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= (z >>> 31)
      (z & 0x3FF).toDouble / 512.0 - 1.0
    }
    val amp = Array(10.0, 8.0, 6.0, 5.0)
    val rows = (0 until 1500).map { i =>
      val x = new Array[Float](dim)
      var d = 0
      while (d < 4) { x(d) = (h(i, d) * amp(d)).toFloat; d += 1 }
      while (d < dim) { x(d) = (h(i, d) * 0.05).toFloat; d += 1 }
      (i.toLong, x)
    }
    val df = rows.toDF("vec_id", "embedding").repartition(6)

    val rot = Similarity.opqRotation(df, "embedding", m = 4)
    assert(rot.length == dim && rot.forall(_.length == dim))
    for (i <- 0 until dim; j <- i until dim) {
      val d = rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-6, s"R not orthonormal at ($i,$j): $d")
    }
    // parquet round-trip is bit-exact (train once, rotate anywhere)
    val rotDir = java.nio.file.Files
      .createTempDirectory("graft_opq_rot").toString
    try {
      Similarity.saveOpqRotation(spark, rot, rotDir)
      val loaded = Similarity.loadOpqRotation(spark, rotDir)
      assert(loaded.map(_.toSeq).toSeq == rot.map(_.toSeq).toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(rotDir))
    }

    val queries = df.filter(col("vec_id") % 30 === 0)
    val bf = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cb = Similarity.pqTrain(df, "vec_id", "embedding", m = 4, k = 16)
    val pq = Similarity.pqTopK(df, queries, "vec_id", "embedding", cb,
      k = 10, shortlistFactor = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val opq = Similarity.opqTopK(df, queries, "vec_id", "embedding",
      k = 10, m = 4, kCent = 16, shortlistFactor = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pqRecall = (pq & bf).size.toDouble / bf.size
    val opqRecall = (opq & bf).size.toDouble / bf.size
    info(f"recall@10, shortlist 4x: pq $pqRecall%.3f  opq $opqRecall%.3f")
    assert(opqRecall >= pqRecall,
      s"rotation hurt recall: opq $opqRecall < pq $pqRecall")
    assert(opqRecall >= 0.7, s"opq recall too low: $opqRecall")
  }

  test("perplexity buckets: ordered tiers cover every doc, sample guard") {
    import graft.ops.TextAnalysis
    // bucket logic is LM-independent — feed synthetic distinct
    // perplexities (7i mod 97 is a permutation; 97 prime)
    val scored = (1L to 90L).map(i => (i, (i * 7 % 97 + 1).toDouble))
      .toDF("doc_id", "perplexity")
    val b = TextAnalysis.perplexityBuckets(scored, "doc_id",
      sampleFraction = 1.0).persist()
    assert(b.count() == 90 && b.select("doc_id").distinct().count() == 90)
    val by = b.groupBy("bucket").count().as[(String, Long)]
      .collect().toMap
    assert(by.keySet == Set("head", "middle", "tail"))
    // trained on the full set with thirds cuts → tier sizes near 30
    assert(by.values.forall(c => c >= 25 && c <= 35), by.toString)
    // tiers are ORDERED: head ppl <= middle ppl <= tail ppl
    def agg2(bucket: String, f: org.apache.spark.sql.Column) =
      b.filter(col("bucket") === bucket).agg(f).head().getDouble(0)
    assert(agg2("head", max(col("perplexity"))) <=
      agg2("middle", min(col("perplexity"))))
    assert(agg2("middle", max(col("perplexity"))) <=
      agg2("tail", min(col("perplexity"))))
    b.unpersist()
    // an empty threshold sample must refuse, not silently tail-bucket
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityBuckets(scored, "doc_id",
        sampleFraction = 0.0)
    }
  }

  test("pca training is bit-identical across partition layouts") {
    import graft.ops.Pca
    val rows = (0 until 500).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (((i * 31 + d * 17) % 97) - 48) / 7.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m3 = Pca.train(df.repartition(3), "embedding", k = 3)
    val m13 = Pca.train(df.repartition(13), "embedding", k = 3)
    // quantized-long moments make the model exactly reproducible —
    // not approximately: the doubles must be bit-equal
    assert(m3.mean.toSeq == m13.mean.toSeq)
    assert(m3.eigenvalues.toSeq == m13.eigenvalues.toSeq)
    assert(m3.components.map(_.toSeq).toSeq ==
      m13.components.map(_.toSeq).toSeq)
    intercept[IllegalArgumentException] {
      Pca.train(df, "embedding", k = 9)
    }
  }

  test("quality classifier separates planted vocabularies") {
    val good = Seq("clean prose article", "well written prose",
      "clean article text", "prose with clean structure",
      "article of well formed text")
    val bad = Seq("buy spam click now", "click spam offer buy",
      "spam now buy click", "offer click buy spam",
      "now spam offer click")
    // replicate with ids so both classes span partitions
    val rows = (0 until 20).flatMap { r =>
      good.zipWithIndex.map { case (t, i) => (r * 100L + i, t, 1) } ++
      bad.zipWithIndex.map { case (t, i) => (r * 100L + 50 + i, t, 0) }
    }
    val df = rows.toDF("doc_id", "text", "label").repartition(8)
    val model = graft.ops.QualityClassifier.train(df, "text", "label",
      dim = 1 << 12, epochs = 40)
    val scored = graft.ops.QualityClassifier
      .score(df, "doc_id", "text", model)
      .join(df.select($"doc_id", $"label"), "doc_id")
      .select($"label", $"quality_pred", $"quality_prob")
      .as[(Int, Int, Double)].collect()
    val acc = scored.count(r => r._1 == r._2).toDouble / scored.length
    assert(acc >= 0.95, s"classifier accuracy $acc on separable data")
    val meanGood = scored.filter(_._1 == 1).map(_._3).sum / 100
    val meanBad = scored.filter(_._1 == 0).map(_._3).sum / 100
    assert(meanGood > 0.7 && meanBad < 0.3,
      s"probabilities not separated: good=$meanGood bad=$meanBad")
    // featurize: deterministic, normalized, null/blank-safe
    val (i1, v1) = graft.ops.QualityClassifier.featurize("a b a", 64)
    val (i2, v2) = graft.ops.QualityClassifier.featurize("a b a", 64)
    assert(i1.toSeq == i2.toSeq && v1.toSeq == v2.toSeq)
    assert(math.abs(v1.sum - 1.0) < 1e-12) // L1-normalized
    assert(graft.ops.QualityClassifier.featurize(null, 64)._1.isEmpty)
    assert(graft.ops.QualityClassifier.featurize("   ", 64)._1.isEmpty)
  }

  test("classifier train rejects labels outside {0,1}") {
    val df = Seq((1L, "good text", 1.0), (2L, "bad text", 2.0))
      .toDF("doc_id", "text", "label")
    val e = intercept[Exception] {
      graft.ops.QualityClassifier.train(df, "text", "label",
        dim = 64, epochs = 1)
    }
    // require fires on an executor; Spark wraps it — match the message
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("labels must be 0/1")), msgs(e).toString)
  }

  test("hashed doc vectors: unit norm, cosine tracks text similarity") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),    // exact dup
      (3L, "the quick brown fox jumps over the lazy cat"),    // near dup
      (4L, "catalyst optimizer rewrites logical plans into physical ones"),
      (5L, "   ")
    ).toDF("doc_id", "text")
    val v = df.select($"doc_id",
      graft.ops.QualityClassifier.hashedDocVector($"text", 256).as("e"))
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    def norm(a: Array[Float]): Double = math.sqrt(cos(a, a))
    assert(math.abs(norm(v(1L)) - 1.0) < 1e-5)
    assert(norm(v(5L)) == 0.0) // blank → zero vector
    assert(cos(v(1L), v(2L)) > 0.999)              // identical text
    assert(cos(v(1L), v(3L)) > cos(v(1L), v(4L)))  // near > unrelated
    assert(cos(v(1L), v(4L)) < 0.5)
    // composes with semDedup: the exact dup collapses onto min id
    val surv = Similarity.semDedup(
      df.select($"doc_id",
        graft.ops.QualityClassifier.hashedDocVector($"text", 256)
          .as("embedding")),
      "doc_id", "embedding", nCells = 2, threshold = 0.99)
      .select("doc_id").as[Long].collect().toSet
    assert(surv.contains(1L) && !surv.contains(2L))
    assert(surv.contains(4L))
  }

  test("trigram stupid backoff hits all three branches as hand-computed") {
    val train = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    // "a b c" seen; "b c z"/"c z b" fall through to unigram (z is OOV /
    // "z b" unseen); "z b c" backs off to the seen bigram "b c"
    val score = Seq((10L, "a b c z b c")).toDF("doc_id", "text")
    val out = TextAnalysis.trigramLmScore(train, score, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect()
    assert(out.length == 1 && out.head._2 == 4L)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // N=6 train tokens, V=3; ctx(b)=2; c("b c")=2; c3(b)=2
    val pSeen = r6(math.log(2.0 / 2.0))                        // "a b c"
    val pUniOov = r6(math.log(0.4 * 0.4 * (1.0 / 9.0)))        // "b c z", z OOV
    val pUniB = r6(math.log(0.4 * 0.4 * (3.0 / 9.0)))          // "c z b"
    val pBi = r6(math.log(0.4 * (2.0 / 2.0)))                  // "z b c"
    val expected = (pSeen + pUniOov + pUniB + pBi) / 4
    assert(math.abs(out.head._3 - expected) < 1e-9,
      s"avg_logprob ${out.head._3} != $expected")
    val r4 = BigDecimal(math.exp(-out.head._3))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head._4 == r4)
  }

  test("cosine LSH buckets prune: candidates well below all-pairs") {
    // full sf0.001 embeddings corpus (random-ish vectors): if the
    // buckets carried no signal the candidate count would approach
    // n(n-1)/2 and the "scale path" would be brute force in disguise
    val n = emb.count()
    val cand = Similarity.cosineLshCandidates(emb, "vec_id", "embedding",
      dim = 64).count()
    assert(cand < n * (n - 1) / 2 / 20,
      s"LSH candidates $cand not pruning vs ${n * (n - 1) / 2} pairs")
  }

  test("c4Filter applies the published line and document rules") {
    val good = "This sentence has plenty of words in it."
    val df = Seq(
      // survives: 3 clean lines kept, short/unpunct/javascript dropped
      (1L, s"$good\ntiny line\nno terminal punctuation on this line\n" +
        s"A javascript mention drops this whole line.\n$good\n$good"),
      // dropped: only 2 lines survive the line rules
      (2L, s"$good\n$good"),
      // dropped: lorem ipsum in the ORIGINAL text (even though the
      // offending line itself would also be dropped by punctuation)
      (3L, s"$good\n$good\n$good\nlorem ipsum dolor sit amet"),
      // dropped: code brace
      (4L, s"$good\n$good\n$good\nvar x = {}.")
    ).toDF("id", "t")
    val out = TextAnalysis.c4Filter(df, "id", "t")
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L))
    val (_, text, kept, dropped) = out.head
    assert(text == s"$good\n$good\n$good" && kept == 3 && dropped == 3)
    // case-insensitivity of the javascript rule; quote counts as
    // terminal punctuation
    val df2 = Seq((5L, "He said \"stop right there now\"\n" +
      s"Calling JavaScript from here drops the line.\n$good\n$good")).toDF("id", "t")
    val o2 = TextAnalysis.c4Filter(df2, "id", "t")
      .as[(Long, String, Int, Int)].collect()
    assert(o2.head._3 == 3 && !o2.head._2.toLowerCase.contains("javascript"))
  }

  test("gopherMetrics counts symbols/lines/stopwords; pass gates") {
    val text = "The quick brown fox # jumps... over 42 lazy dogs …\n" +
      "- bullet line here\nplain line trails off ..."
    val m = Seq((1L, text)).toDF("id", "t")
      .select(TextAnalysis.gopherMetrics(col("t")).as("m"))
      .select("m.n_words", "m.mean_word_len", "m.frac_alpha_words",
        "m.symbol_ratio", "m.frac_bullet_lines", "m.frac_ellipsis_lines",
        "m.n_stopwords")
      .as[(Int, Double, Double, Double, Double, Double, Int)].head()
    // 20 whitespace words; symbols: one '#', two '...' (one inside
    // 'jumps...'), one '…' = 4
    assert(m._1 == 20)
    assert(m._4 == BigDecimal(4.0 / 20).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    // words without a letter: '#', '42', '…', '-', '...' → 15 of 20
    assert(m._3 == BigDecimal(15.0 / 20).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(m._5 == BigDecimal(1.0 / 3).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble) // 1 of 3 lines bullet
    assert(m._6 == BigDecimal(2.0 / 3).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble) // '…' and '...' enders
    assert(m._7 == 1) // only 'the'
    // empty text: all-zero metrics, no nulls
    val z = Seq((2L, "")).toDF("id", "t")
      .select(TextAnalysis.gopherMetrics(col("t")).as("m"))
      .select("m.n_words", "m.mean_word_len", "m.n_stopwords")
      .as[(Int, Double, Int)].head()
    assert(z == ((0, 0.0, 0)))
    // pass: thresholds bind — a clean 60-word doc passes, the symbol-
    // heavy one fails on symbol_ratio
    val clean = (1 to 60).map(i => s"word$i the of").mkString(" ")
    val pass = Seq((1L, clean), (2L, ("### " * 30) + "the of end here"))
      .toDF("id", "t")
      .select(col("id"),
        TextAnalysis.gopherPass(TextAnalysis.gopherMetrics(col("t")))
          .as("p")).as[(Long, Boolean)].collect().toMap
    assert(pass(1L) && !pass(2L))
  }

  test("weightedSampleK: deterministic, weight-proportional, exact k") {
    val rows = (1L to 2000L).map(i =>
      (i, if (i % 2 == 0) 50.0 else 1.0)) // heavy evens, light odds
    val df = rows.toDF("id", "w")
    val picked = graft.ops.Ranking.weightedSampleK(df, "id", col("w"), 200)
      .as[(Long, Double, Double)].collect()
    assert(picked.length == 200)
    // 50x weight ⇒ evens dominate (E-S inclusion ∝ weight): expect
    // ≫ the unweighted 100, allow slack for hash noise
    val evens = picked.count(_._1 % 2 == 0)
    assert(evens > 170, s"evens $evens not dominating at 50x weight")
    // stable across partition layouts and row order
    val again = graft.ops.Ranking
      .weightedSampleK(df.repartition(13).orderBy(col("id").desc),
        "id", col("w"), 200)
      .as[(Long, Double, Double)].collect()
    assert(again.map(_._1).toSet == picked.map(_._1).toSet)
    // k >= n returns everything
    assert(graft.ops.Ranking.weightedSampleK(df.limit(5), "id", col("w"),
      100).count() == 5)
  }

  test("dedupLinesWithMetrics keeps first occurrence, exact fractions") {
    val df = Seq(
      (1L, "nav bar\nreal content here\nnav bar\nmore content\nnav bar"),
      (2L, "alpha\nbeta\ngamma")).toDF("id", "t")
    val out = TextAnalysis.dedupLinesWithMetrics(df, "id", "t")
      .as[(Long, String, Int, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val d1 = out(1L)
    // order preserved, duplicates gone
    assert(d1._2 == "nav bar\nreal content here\nmore content")
    assert(d1._3 == 5 && d1._4 == 0.4) // 2 of 5 lines were repeats
    // char fraction: 2 repeated 'nav bar' lines = 14 of 56 chars
    val tot = "nav bar".length * 3 + "real content here".length +
      "more content".length
    assert(d1._5 == BigDecimal(14.0 / tot).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    val d2 = out(2L)
    assert(d2._2 == "alpha\nbeta\ngamma" && d2._4 == 0.0 && d2._5 == 0.0)
  }

  test("unigram vocab persists bit-exactly; vocabCoverage counts OOV") {
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(6)("newest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val vocab = TextAnalysis.trainUnigramLm(corpus, "text", vocabSize = 6)
    val dir = java.nio.file.Files
      .createTempDirectory("uni").toString + "/vocab"
    TextAnalysis.saveUnigramVocab(spark, vocab, dir)
    val back = TextAnalysis.loadUnigramVocab(spark, dir)
    assert(back.toSeq == vocab.toSeq) // order AND doubles bit-exact
    // reloaded vocab segments byte-identically
    val a = TextAnalysis.applyUnigram(corpus, "doc_id", "text", vocab)
      .select("doc_id", "pieces").as[(Long, Seq[String])].collect().toSet
    val b = TextAnalysis.applyUnigram(corpus, "doc_id", "text", back)
      .select("doc_id", "pieces").as[(Long, Seq[String])].collect().toSet
    assert(a == b)

    val df = Seq(
      (1L, "the cat and the dog"), // all in vocab
      (2L, "the qxzv"),            // 1 of 2 OOV
      (3L, "   "),                 // blank → zero counts, row kept
      (4L, "zzz yyy")).toDF("id", "t")
    val out = TextAnalysis.vocabCoverage(df, "id", "t",
        Seq("the", "cat", "and", "dog"))
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 5, 0, 0.0)))
    assert(out(2L) == ((2L, 2, 1, 0.5)))
    assert(out(3L) == ((3L, 0, 0, 0.0)))
    assert(out(4L) == ((4L, 2, 2, 1.0)))
    assert(out.size == 4)
  }

  test("ngramOverlap: clipped bigram precision/recall/F1, hand-computed") {
    val df = Seq(
      // overlap 4 of 5 both sides ("the cat" clips at min(1,2)=1)
      (1L, "the cat sat on the mat", "the cat sat on the cat"),
      // multiset clipping: cand has "a b"x2, ref only 1 → overlap 1
      (2L, "a b a b a", "a b c"),
      // disjoint → zero overlap, zero scores, nonzero totals
      (3L, "x y", "p q"),
      // empty candidate → no grams, total guards kick in
      (4L, "", "a b")).toDF("id", "cand", "ref")
    val out = TextAnalysis.ngramOverlap(df, "id", "cand", "ref", n = 2)
      .as[(Long, Int, Int, Int, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 5, 5, 4, 0.8, 0.8, 0.8)))
    assert(out(2L) == ((2L, 4, 2, 1, 0.25, 0.5, 0.333333)))
    assert(out(3L) == ((3L, 1, 1, 0, 0.0, 0.0, 0.0)))
    assert(out(4L) == ((4L, 0, 1, 0, 0.0, 0.0, 0.0)))
    // ROUGE-1: unigram recall on a containment pair is exact
    val u = TextAnalysis.ngramOverlap(
      Seq((1L, "alpha beta", "alpha beta gamma delta")).toDF("id", "cand", "ref"),
      "id", "cand", "ref", n = 1)
      .as[(Long, Int, Int, Int, Double, Double, Double)].collect().head
    assert(u == ((1L, 2, 4, 2, 1.0, 0.5, 0.666667)))
  }

  test("stripBoilerplate drops cross-doc lines, keeps unique and blank lines") {
    // banner in all 4 docs (one indented — trim-matched); "shared by
    // two" sits below the bar; unique lines and blanks survive
    val df = Seq(
      (1L, "banner line\ncontent one\n\nshared by two"),
      (2L, "  banner line\ncontent two\nshared by two"),
      (3L, "banner line\ncontent three"),
      (4L, "content four\nbanner line")).toDF("id", "t")
    val bl = TextAnalysis.boilerplateLines(df, "id", "t", minDocs = 3)
      .as[(String, Long)].collect().toMap
    assert(bl == Map("banner line" -> 4L))
    val out = TextAnalysis.stripBoilerplate(df, "id", "t", minDocs = 3)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, "content one\n\nshared by two", 4, 1)))
    assert(out(2L) == ((2L, "content two\nshared by two", 3, 1)))
    assert(out(3L) == ((3L, "content three", 2, 1)))
    assert(out(4L) == ((4L, "content four", 2, 1)))
    // a doc that is ALL boilerplate comes back empty, not missing
    val df2 = df.union(Seq((5L, "banner line")).toDF("id", "t"))
    val out2 = TextAnalysis.stripBoilerplate(df2, "id", "t", minDocs = 3)
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out2.size == 5 && out2(5L) == ((5L, "", 1, 1)))
    // distinct-docs evidence: intra-doc repetition is NOT boilerplate
    val spam = Seq((1L, Seq.fill(50)("own footer").mkString("\n")),
      (2L, "other")).toDF("id", "t")
    assert(TextAnalysis.boilerplateLines(spam, "id", "t", 3).count() == 0)
  }

  test("charEntropy: exact bits for uniform distributions") {
    val df = Seq((1L, "aabb"), (2L, "abcd"), (3L, "aaaa")).toDF("id", "t")
    val out = TextAnalysis.charEntropy(df, "id", "t")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 1.0)))   // two chars, p=1/2 each
    assert(out(2L) == ((2L, 4L, 2.0)))   // four chars, p=1/4 each
    assert(out(3L)._3 == 0.0)            // degenerate: one symbol
    // partition-layout invariance (the DECIMAL sum is order-free)
    val big = (1L to 50L).map(i => (i, s"text sample number $i with spread"))
      .toDF("id", "t")
    val a = TextAnalysis.charEntropy(big, "id", "t")
      .as[(Long, Long, Double)].collect().toSet
    val b = TextAnalysis.charEntropy(big.repartition(7), "id", "t")
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("hardNegatives excludes qrels and ranks densely after") {
    import graft.ops.Similarity
    // query 0 at e0; corpus: 1 (relevant, nearest), 2, 3, 4 at
    // decreasing alignment — with 1 excluded the negatives are 2,3,4
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val emb = Seq(
      (0L, v(1, 0)), (1L, v(0.99, 0.14)), (2L, v(0.9, 0.44)),
      (3L, v(0.7, 0.71)), (4L, v(0.1, 0.99))).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0L)
    val qrels = Seq((0L, 1L)).toDF("query_id", "rel_id")
    val out = Similarity.hardNegatives(emb, queries, "vec_id",
        "embedding", qrels, k = 3)
      .as[(Long, Long, Int, Double)].collect().sortBy(_._3)
    assert(out.map(_._2).toSeq == Seq(2L, 3L, 4L))
    assert(out.map(_._3).toSeq == Seq(1, 2, 3)) // dense after exclusion
  }

  test("knnClassify: majority vote, deterministic tie to smallest label") {
    import graft.ops.Similarity
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val seeds = Seq(
      (10L, v(1, 0), 5), (11L, v(0.95, 0.1), 5),
      (20L, v(0, 1), 3), (21L, v(0.1, 0.95), 3)).toDF(
      "vec_id", "embedding", "label")
    // near +x: top-3 seeds are 10, 11, then one y-seed → 5 wins 2:1
    val qx = Seq((1L, v(1, 0.05))).toDF("vec_id", "embedding")
    val ox = Similarity.knnClassify(qx, seeds, "vec_id", "embedding",
      "label", k = 3).as[(Long, Int, Int)].collect().head
    assert(ox == ((1L, 5, 2)))
    // diagonal query, k=2 with one axis seed each: 1–1 vote tie →
    // smaller label (3) wins
    val seeds2 = Seq((10L, v(1, 0), 5), (20L, v(0, 1), 3)).toDF(
      "vec_id", "embedding", "label")
    val qd = Seq((2L, v(1, 1))).toDF("vec_id", "embedding")
    val od = Similarity.knnClassify(qd, seeds2, "vec_id", "embedding",
      "label", k = 2).as[(Long, Int, Int)].collect().head
    assert(od == ((2L, 3, 1)))
    // string labels order lexicographically in the same tiebreak
    val seeds3 = Seq((10L, v(1, 0), "zeta"), (20L, v(0, 1), "alpha"))
      .toDF("vec_id", "embedding", "label")
    val os = Similarity.knnClassify(qd, seeds3, "vec_id", "embedding",
      "label", k = 2).as[(Long, String, Int)].collect().head
    assert(os == ((2L, "alpha", 1)))
  }

  test("zipfStats: exact slope -1 on a perfect Zipf corpus") {
    // counts 12/r for ranks 1..4 → ln n = ln 12 − ln r, exactly linear
    val words = Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    val out = TextAnalysis.zipfStats(df, "text", topN = 200)
      .as[(Long, Long, Double, Double)].collect().head
    assert(out._1 == 25L && out._2 == 4L)
    assert(out._3 == 0.16)        // 4/25
    assert(out._4 == -1.0)        // collinear points → exact LS slope
    // partition-layout invariance (driver fold is rank-ordered)
    val a = TextAnalysis.zipfStats(df.repartition(7), "text")
      .as[(Long, Long, Double, Double)].collect().head
    assert(a == out)
  }

  test("leakSafeSplit keeps near-dup components in one split") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val df = (1L to 12L).toDF("id")
    val out = graft.ops.Clusters.leakSafeSplit(df, "id", pairs)
      .as[(Long, Long, String)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // components collapse to min-id representative
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(10L, 11L).map(byId(_)._2).distinct == Seq(10L))
    // all members share the representative's split
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.size == 1)
    assert(Seq(10L, 11L).map(byId(_)._3).distinct.size == 1)
    // unpaired rows: own id, own split — identical to the row-level
    // hash split, so the leak-safe split degrades to it gracefully
    val solo = byId(7L)
    assert(solo._2 == 7L)
    val expected = df.select(col("id"),
      TextAnalysis.assignSplit(col("id")).as("s"))
      .as[(Long, String)].collect().toMap
    assert(solo._3 == expected(7L))
  }

  test("k-core: peel order, chain collapse, convergence, layout") {
    import graft.ops.Graphs
    // K4 {1..4} with a pendant chain 4-5-6: 2-core must peel 6 (deg 1),
    // THEN 5 (deg drops to 1 only after 6 leaves) — two rounds — and
    // keep exactly the K4 with all degrees 3
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame, k: Int, r: Int) = {
      val out = Graphs.kCore(df, "src", "dst", k, maxRounds = r)
      val m = out.as[(Long, Long)].collect().toMap
      out.unpersist(); m
    }
    assert(run(edges, 2, 8) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // bounded semantics: ONE round peels 6 but not yet 5 — 5 keeps its
    // (now reduced) degree 1 in the round-1 induced edge set
    val r1 = run(edges, 2, 1)
    assert(r1(5L) == 1L && r1(1L) == 3L && !r1.contains(6L))
    // early exit == bounded run once converged; a pure chain has no
    // 2-core at all; multigraph noise (self-loop, reversed dup) inert
    assert(run(edges, 2, 2) == run(edges, 2, 8))
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"), 2, 8)
      .isEmpty)
    val noisy = (k4 ++ Seq((4L, 5L), (5L, 6L), (2L, 1L), (3L, 3L)))
      .toDF("src", "dst")
    assert(run(noisy, 2, 8) == run(edges, 2, 8))
    assert(run(edges.repartition(7), 2, 8) == run(edges, 2, 8))
  }

  test("clustering coefficient: exact ratios, triangle-free zeros, layout") {
    import graft.ops.Graphs
    // K4 corner: deg 3, tri 3 → cc = 2·3/(3·2) = 1.0; pendant 5 on 4:
    // 4 gets deg 4 tri 3 → 0.5, 5 gets deg 1 → 0.0; chain middle 6 in
    // 5-6-7: deg 2 tri 0 → 0.0
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))).toDF("src", "dst")
    val out = Graphs.clusteringCoefficient(edges, "src", "dst")
    val m = out.as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out.unpersist()
    assert(m(1L) == ((3L, 3L, 1.0)) && m(2L) == ((3L, 3L, 1.0)))
    assert(m(4L) == ((4L, 3L, 0.5)))
    assert(m(5L) == ((2L, 0L, 0.0)) && m(7L) == ((1L, 0L, 0.0)))
    assert(m(6L) == ((2L, 0L, 0.0)))
    val out2 = Graphs.clusteringCoefficient(edges.repartition(7), "src", "dst")
    val m2 = out2.as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    out2.unpersist()
    assert(m2 == m)
  }

  test("hits: hub/authority separation, normalization, layout") {
    import graft.ops.Graphs
    // node 1 points at 3 sinks (pure hub); node 5 pointed at by 3
    // sources (pure authority); 9->9 self-loop stays a real edge;
    // a 10->11 parallel edge collapses
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L),
      (6L, 5L), (7L, 5L), (8L, 5L),
      (9L, 9L), (10L, 11L), (10L, 11L)).toDF("src", "dst")
    val out = Graphs.hits(edges, "src", "dst", iterations = 2)
    val m = out.as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    out.unpersist()
    assert(m.size == 11)
    // the 3-fan hub carries the max hub score; its sinks carry no hub
    assert(m(1L)._1 == m.values.map(_._1).max)
    assert(m(2L)._1 == 0.0 && m(2L)._2 > 0.0)
    // the 3-fan authority carries the max authority; its sources none
    assert(m(5L)._2 == m.values.map(_._2).max)
    assert(m(6L)._2 == 0.0 && m(6L)._1 > 0.0)
    // L1 normalization on both scores
    assert(math.abs(m.values.map(_._1).sum - 1.0) < 1e-6)
    assert(math.abs(m.values.map(_._2).sum - 1.0) < 1e-6)
    // layout invariance
    val out2 = Graphs.hits(edges.repartition(7), "src", "dst", iterations = 2)
    val m2 = out2.as[(Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    out2.unpersist()
    assert(m2 == m)
  }

  test("lDiversity flags low-diversity groups; null sensitives don't count") {
    import graft.operators.Audits
    val df = Seq(
      ("g1", "s1"), ("g1", "s2"), ("g1", "s3"),   // diverse: passes
      ("g2", "s1"), ("g2", "s1"), ("g2", "s2"),   // 2 distinct: fails l=3
      ("g3", null), ("g3", null)                  // 0 distinct: fails
    ).toDF("q", "sens")
    val out = Audits.lDiversity(df, Seq("q"), "sens", l = 3)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set("g2", "g3"))
    assert(out("g2") == (("g2", 3L, 2L)))
    assert(out("g3") == (("g3", 2L, 0L)))
  }

  test("fdConfidence: exact FD = 1.0, near-FD counts dirty rows") {
    import graft.operators.Audits
    val df = Seq(
      (1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"),
      (4L, "a", "x"), (5L, "a", "z")  // a maps x,x,z -> best 2 of 3
    ).toDF("id", "k", "v")
    val out = Audits.fdConfidence(df, Seq("id" -> "k", "k" -> "v"))
      .as[(String, String, Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    // id is a key: exact FD
    assert(out("id") == (("id", "k", 5L, 5L, 5L, 1.0)))
    // k->v: a: best 2/3, b: 1/1, c: 1/1 -> 4/5
    assert(out("k") == (("k", "v", 5L, 3L, 4L, 0.8)))
  }

  test("madOutliers: robust fence, zero-MAD guard, null values drop") {
    import graft.ops.Ranking
    val df = Seq[(Long, String, java.lang.Double)](
      // group a: 1..9 plus a wild 1000 — med = (5+6)/2 = 5.5;
      // |x-med| sorted = 0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5
      // -> mad = 2.5; fence 3.5·1.4826·2.5 ≈ 12.97
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "a", 4.0),
      (5L, "a", 5.0), (6L, "a", 6.0), (7L, "a", 7.0), (8L, "a", 8.0),
      (9L, "a", 9.0), (10L, "a", 1000.0),
      // group b: constant -> MAD 0, nothing flags, z null
      (11L, "b", 7.0), (12L, "b", 7.0), (13L, "b", 99.0),
      (14L, "a", null))
      .toDF("id", "g", "v")
    val out = Ranking.madOutliers(df, "g", "v", k = 3.5)
      .select("id", "med", "mad", "robust_z", "is_outlier")
      .as[(Long, Double, Double, Option[Double], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(!out.contains(14L)) // null value dropped
    assert(out(5L)._2 == 5.5 && out(5L)._3 == 2.5)
    assert(!out(5L)._5 && out(10L)._5) // only the 1000 flags in a
    assert(out(1L)._4.isDefined && !out(1L)._5)
    // group b: med 7, mad 0 -> no flags even for the 99
    assert(out(13L)._3 == 0.0 && out(13L)._4.isEmpty && !out(13L)._5)
    assert(!out(11L)._5)
  }

  test("temperatureMixtureRates: sqrt flattening, rate cap, zero drop") {
    val df = Seq(("a", 9), ("b", 1), ("c", 0), (null, 5))
      .toDF("cls", "nt")
    val out = TextAnalysis
      .temperatureMixtureRates(df, "cls", "nt", budget = 8L, alpha = 0.5)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // weights: sqrt(9)=3, sqrt(1)=1 -> 0.75/0.25 (class c and null drop)
    assert(out.keySet == Set("a", "b"))
    assert(out("a") == (("a", 9L, 0.75, 0.666666667)))
    // b's fair share (2 tokens) exceeds its 1 token -> rate caps at 1
    assert(out("b") == (("b", 1L, 0.25, 1.0)))
  }

  test("kCenterGreedy: cluster coverage, seed, determinism") {
    import graft.ops.Similarity
    // three tight clusters around orthogonal directions + a zero vector
    def jitter(base: Array[Double], eps: Double) =
      base.map(_ + eps).toSeq
    val rows =
      (0 to 2).map(i => (i.toLong, jitter(Array(1.0, 0, 0), i * 0.001))) ++
      (10 to 12).map(i => (i.toLong, jitter(Array(0, 1.0, 0), (i - 10) * 0.001))) ++
      (20 to 22).map(i => (i.toLong, jitter(Array(0, 0, 1.0), (i - 20) * 0.001))) ++
      Seq((30L, Seq(0.0, 0.0, 0.0)))
    val df = rows.toDF("vec_id", "emb")
      .withColumn("emb", col("emb").cast("array<float>"))
    val out = Similarity.kCenterGreedy(df, "vec_id", "emb", k = 3)
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    // seed is the smallest id; k=3 covers one point per cluster
    assert(out(0) == ((0L, 0L, None)))
    assert(out.map(_._2 / 10).toSet == Set(0L, 1L, 2L))
    // dist sequence monotone non-increasing after the seed
    val ds = out.drop(1).map(_._3.get)
    assert(ds.sorted.reverse.toSeq == ds.toSeq)
    // the zero vector reads dist 0 everywhere and is never picked
    assert(!out.map(_._2).contains(30L))
    // determinism under a different layout
    val re = Similarity.kCenterGreedy(df.repartition(7), "vec_id", "emb", 3)
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(re.toSeq == out.toSeq)
    // batching preserves the SEQUENTIAL output bit for bit: the
    // threshold guard only accepts in-window picks that provably beat
    // every outside point, so any batch size replays the same greedy
    Seq(1, 2, 100).foreach { p =>
      val batched = Similarity
        .kCenterGreedy(df, "vec_id", "emb", k = 3, batchSize = p)
        .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
      assert(batched.toSeq == out.toSeq, s"batchSize=$p diverged")
    }
    // k > distinct directions: selection continues into the jittered
    // duplicates, never the zero vector, at every batch size
    val deep = Similarity.kCenterGreedy(df, "vec_id", "emb", k = 8)
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    val deepB = Similarity
      .kCenterGreedy(df, "vec_id", "emb", k = 8, batchSize = 3)
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1)
    assert(deep.toSeq == deepB.toSeq)
    assert(!deep.map(_._2).contains(30L))
  }

  test("embeddingDrift: identical halves cosine 1, planted shift") {
    import graft.ops.Similarity
    val before = Seq(
      (1L, "x", Seq(1.0f, 0.0f)), (2L, "x", Seq(0.0f, 1.0f)),
      (3L, "y", Seq(2.0f, 2.0f)))
      .toDF("id", "k", "emb")
    val afterSame = Seq(
      (4L, "x", Seq(0.5f, 0.5f)), // == centroid of before's x
      (5L, "y", Seq(2.0f, 2.0f)), (6L, "y", Seq(2.0f, 2.0f)))
      .toDF("id", "k", "emb")
    val out = Similarity.embeddingDrift(before, afterSame, "k", "emb")
      .as[(String, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    // same centroid: cosine 1 up to the sqrt(x)·sqrt(x) ulp, shift 0
    assert(out("x")._2 == 2L && out("x")._3 == 1L && out("x")._5 == 0.0)
    assert(math.abs(out("x")._4 - 1.0) < 1e-12)
    assert(out("y")._2 == 1L && out("y")._3 == 2L && out("y")._5 == 0.0)
    assert(math.abs(out("y")._4 - 1.0) < 1e-12)
    // planted 90-degree shift on x
    val afterShift = Seq((7L, "x", Seq(-0.5f, 0.5f)))
      .toDF("id", "k", "emb")
    val drift = Similarity.embeddingDrift(before, afterShift, "k", "emb")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(drift.keySet == Set("x")) // y absent from after: no row
    assert(math.abs(drift("x")._4 - 0.0) < 1e-9) // orthogonal centroids
    assert(drift("x")._5 == 1.0) // |(0.5,0.5)-(-0.5,0.5)| = 1
  }

  test("mergeIntervals: overlap, touch, disjoint, degenerate, layout") {
    import graft.ops.Timeseries
    val df = Seq(
      // key a: [1,5) [3,7) overlap -> [1,7); [7,9) touches -> [1,9);
      //        [20,25) disjoint
      ("a", 1L, 5L), ("a", 3L, 7L), ("a", 7L, 9L), ("a", 20L, 25L),
      // duplicate span merges in, degenerate drops
      ("a", 3L, 7L), ("a", 30L, 30L),
      // key b: contained span
      ("b", 10L, 40L), ("b", 15L, 20L))
      .toDF("k", "s", "e")
    val out = Timeseries.mergeIntervals(df, "k", "s", "e")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(out == Set(("a", 1L, 9L, 4L), ("a", 20L, 25L, 1L),
      ("b", 10L, 40L, 2L)))
    val re = Timeseries.mergeIntervals(df.repartition(7), "k", "s", "e")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(re == out)
  }

  test("mergeIntervals: mixed-type bounds keep their input types") {
    // the sweep's event union compares a DATE start and TIMESTAMP end
    // in the wider type internally, but the OUTPUT schema must match
    // the input columns (r13 ADVICE: the old min(start)/max(end)
    // formulation returned the input types; the rewrite must too)
    import graft.ops.Timeseries
    import org.apache.spark.sql.types.{DateType, TimestampType}
    val df = Seq(
      ("a", java.sql.Date.valueOf("2024-01-01"),
        java.sql.Timestamp.valueOf("2024-01-03 12:00:00")),
      ("a", java.sql.Date.valueOf("2024-01-02"),
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00")),
      ("a", java.sql.Date.valueOf("2024-02-01"),
        java.sql.Timestamp.valueOf("2024-02-02 00:00:00")))
      .toDF("k", "s", "e")
    val out = Timeseries.mergeIntervals(df, "k", "s", "e")
    assert(out.schema("s").dataType == DateType,
      s"start widened: ${out.schema("s").dataType}")
    assert(out.schema("e").dataType == TimestampType)
    val rows = out.as[(String, java.sql.Date, java.sql.Timestamp, Long)]
      .collect().sortBy(_._2.toString)
    assert(rows.map(r => (r._1, r._2.toString, r._3.toString, r._4)).toSeq ==
      Seq(("a", "2024-01-01", "2024-01-05 00:00:00.0", 2L),
        ("a", "2024-02-01", "2024-02-02 00:00:00.0", 1L)))
  }

  test("annotatorAccuracy: contrarian scored against the majority") {
    import graft.ops.Features
    val ratings = Seq(
      // items 1..3: annots 1,2 vote "x"; annot 3 votes "y" every time
      (1L, 1L, "x"), (1L, 2L, "x"), (1L, 3L, "y"),
      (2L, 1L, "x"), (2L, 2L, "x"), (2L, 3L, "y"),
      (3L, 1L, "x"), (3L, 2L, "x"), (3L, 3L, "y"))
      .toDF("item", "annot", "label")
    val out = Features.annotatorAccuracy(ratings, "item", "annot", "label")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 3L, 1.0)))
    assert(out(2L) == ((2L, 3L, 3L, 1.0)))
    assert(out(3L) == ((3L, 3L, 0L, 0.0)))
  }

  test("tokenDistributionDrift: identical halves zero, moved vocab tops") {
    val a = Seq((1L, "alpha beta beta"), (2L, "gamma alpha"))
      .toDF("doc_id", "text")
    val same = TextAnalysis.tokenDistributionDrift(a, a, "text", 10)
      .as[(String, Long, Long, Double, Double, Double)].collect()
    assert(same.nonEmpty && same.forall(_._6 == 0.0))
    // disjoint vocab: every token maximally drifted; hand-check one:
    // before {x:2}, after {y:2}: for x: e1 = 2*2/4 = 1, chi2 = 1+1 = 2
    val b1 = Seq((1L, "x x")).toDF("doc_id", "text")
    val b2 = Seq((2L, "y y")).toDF("doc_id", "text")
    val dr = TextAnalysis.tokenDistributionDrift(b1, b2, "text", 10)
      .as[(String, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(dr("x") == (("x", 2L, 0L, 1.0, 0.0, 2.0)))
    assert(dr("y") == (("y", 0L, 2L, 0.0, 1.0, 2.0)))
  }

  test("dialogTurnAudit: repeats, opening role, total order") {
    val df = Seq(
      // conv 1: u,a,u,a — clean alternation
      (1L, 1L, 10L, "user"), (1L, 2L, 20L, "asst"),
      (1L, 3L, 30L, "user"), (1L, 4L, 40L, "asst"),
      // conv 2: a,a,u — opens wrong, one repeat; tie on ts broken by id
      (2L, 5L, 10L, "asst"), (2L, 6L, 10L, "asst"), (2L, 7L, 30L, "user"),
      // null role dropped
      (3L, 8L, 10L, null))
      .toDF("conv", "eid", "ts", "role")
    val out = TextAnalysis.dialogTurnAudit(df, "conv", "ts", "eid", "role")
      .as[(Long, Long, Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 4L, 0L, "user", 2L)))
    assert(out(2L) == ((2L, 3L, 1L, "asst", 2L)))
    assert(!out.contains(3L))
  }

  test("rocAuc: hand-computed tie case, perfect ranking, degenerate") {
    import graft.operators.Audits
    // pos scores {2,3}, neg {1,2}: U = 1*(1+0.5) + 1*2 = 3.5 -> 0.875
    val df = Seq((1.0, false), (2.0, false), (2.0, true), (3.0, true))
      .toDF("s", "y")
    val out = Audits.rocAuc(df, "s", "y")
      .as[(Long, Long, Option[Double])].collect()(0)
    assert(out == ((2L, 2L, Some(0.875))))
    // perfect separation -> 1.0; reversed -> 0.0
    val perfect = Seq((0.1, false), (0.2, false), (0.8, true), (0.9, true))
      .toDF("s", "y")
    assert(Audits.rocAuc(perfect, "s", "y")
      .as[(Long, Long, Option[Double])].collect()(0)._3.contains(1.0))
    // single-class input -> NULL auc, not a crash or a fake number
    val onlyPos = Seq((0.5, true), (0.7, true)).toDF("s", "y")
    assert(Audits.rocAuc(onlyPos, "s", "y")
      .as[(Long, Long, Option[Double])].collect()(0)._3.isEmpty)
    // layout invariance (distributed prefix sum)
    val big = (1 to 1000).map(i => (i % 37 / 37.0, i % 3 == 0))
    val a = Audits.rocAuc(big.toDF("s", "y"), "s", "y").collect()(0)
    val b = Audits.rocAuc(big.toDF("s", "y").repartition(7), "s", "y")
      .collect()(0)
    assert(a == b)
  }

  test("calibrationTable: bin edges, 1.0 lands in the top bin, range") {
    import graft.operators.Audits
    val df = Seq(
      (0.05, false), (0.15, true), (0.15, false),
      (0.95, true), (1.0, true),
      (1.5, true), (-0.1, false)) // out of range: excluded
      .toDF("s", "y")
    val out = Audits.calibrationTable(df, "s", "y", bins = 10)
      .as[(Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(0L, 1L, 9L))
    assert(out(0L) == ((0L, 1L, 0.05, 0.0, -0.05)))
    assert(out(1L) == ((1L, 2L, 0.15, 0.5, 0.35)))
    assert(out(9L) == ((9L, 2L, 0.975, 1.0, 0.025)))
  }

  test("tokenBudgetSample: prefix under budget, monotone, layout") {
    val df = Seq(
      (1L, "one two three"), (2L, "four five"), (3L, "six"),
      (4L, "seven eight nine ten"), (5L, ""), (6L, "  ")
    ).toDF("doc_id", "text")
    // budget covers everything: all non-empty docs, cum = total
    val all = TextAnalysis.tokenBudgetSample(df, "doc_id", "text", 100L)
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(all.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    assert(all.last._3 == 10L)
    // offsets are a permutation-consistent cumsum: each cum = prev + n
    assert(all.scanLeft(0L)(_ + _._2).tail.toSeq == all.map(_._3).toSeq)
    // smaller budgets nest: kept(b1) subset of kept(b2) for b1 < b2
    val keeps = Seq(3L, 5L, 7L, 10L).map { b =>
      TextAnalysis.tokenBudgetSample(df, "doc_id", "text", b)
        .as[(Long, Long, Long)].collect().map(_._1).toSet
    }
    keeps.sliding(2).foreach { case Seq(a, b) => assert(a.subsetOf(b)) }
    // every kept doc fits entirely: max cum <= budget
    val five = TextAnalysis.tokenBudgetSample(df, "doc_id", "text", 5L)
      .as[(Long, Long, Long)].collect()
    assert(five.isEmpty || five.map(_._3).max <= 5L)
    // layout invariance
    val re = TextAnalysis.tokenBudgetSample(df.repartition(7), "doc_id",
      "text", 100L).as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(re.toSeq == all.toSeq)
  }

  test("keywordTags: Aho–Corasick matches indexOf semantics exactly") {
    // the classic suffix-link family: in "ushers", she@2, he@3, hers@3
    val df = Seq(
      (1L, "ushers"),
      (2L, "aaaa"),          // "aa" overlaps at 1,2,3 — non-overlap count 2
      (3L, "no x here"),   // "he" inside "here" — substring, not token
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val out = TextAnalysis.keywordTags(df, "id", "t",
        Seq("he", "she", "hers", "aa"))
      .as[(Long, String, Int, Int)].collect().toSet
    assert(out == Set(
      (1L, "she", 2, 1), (1L, "he", 3, 1), (1L, "hers", 3, 1),
      (2L, "aa", 1, 2), (3L, "he", 6, 1)))
    // brute-force parity on fixture text: first_pos = indexOf + 1,
    // n_hits = repeated-indexOf count (the SQL position/replace pair)
    val kws = Seq("scan", "scan slow", "table table", "fast", "ast", "a row")
    val got = TextAnalysis.keywordTags(docs, "doc_id", "text", kws)
      .as[(Long, String, Int, Int)].collect().toSet
    val want = docs.select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (id, t) =>
        kws.flatMap { k =>
          val f = t.indexOf(k)
          if (f < 0) None
          else {
            var n = 0
            var i = f
            while (i >= 0) { n += 1; i = t.indexOf(k, i + k.length) }
            Some((id, k, f + 1, n))
          }
        }
      }.toSet
    assert(got == want)
    assert(got.nonEmpty) // the fixture genuinely exercises the automaton
    // and the plan is a narrow scan: tagging shuffles nothing
    val plan = TextAnalysis.keywordTags(docs, "doc_id", "text", kws)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("manifest pruning: exact rows, files actually skipped, nulls safe") {
    import graft.ops.Layout
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_spec").toString
    // 1000 rows over a clean range + 20 null-key rows (range
    // partitioning clusters the nulls into the first file, whose
    // stats are then null → kept conservatively, rows dropped by the
    // residual predicate)
    val df = spark.range(1000)
      .select(col("id"), (col("id") * 3).as("v"))
      .unionByName(spark.range(20).select((col("id") + 5000).as("id"),
        lit(null).cast("long").as("v")))
    Layout.writeWithManifest(df, Seq("v"), dir, numFiles = 10)
    // manifest exists and carries one row per data file
    val mf = spark.read.parquet(s"$dir/${Layout.ManifestDir}")
    assert(mf.columns.sorted.toSeq == Seq("file", "max_v", "min_v"))
    val got = Layout.readPruned(spark, dir, "v", 600L, 899L)
      .as[(Long, Long)].collect().toSet
    val want = spark.read.parquet(dir)
      .filter(col("v") >= 600L && col("v") <= 899L)
      .as[(Long, Long)].collect().toSet
    assert(got == want && got.size == 100) // 600,603,...,897
    // pruning genuinely pruned: a 100-wide slice of a 3000-wide range
    // split over 10 files must not read them all
    val Array(kept, total) = Layout.lastManifestPrune.get()
      .split("/").map(_.toInt)
    assert(total >= 10 && kept < total && kept >= 1,
      s"manifest decision $kept/$total")
    // empty intersection → empty frame, schema intact
    val none = Layout.readPruned(spark, dir, "v", 100000L, 200000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "v"))
    // refresh after compaction keeps the contract
    Layout.compact(spark, dir)
    Layout.refreshManifest(spark, dir, Seq("v"))
    val afterCompact = Layout.readPruned(spark, dir, "v", 600L, 899L)
      .as[(Long, Long)].collect().toSet
    assert(afterCompact == want)
    // incremental append: batch-cost manifest growth, same answers
    val mfRows0 = spark.read.parquet(s"$dir/${Layout.ManifestDir}").count()
    val batch = spark.range(100)
      .select((col("id") + 10000).as("id"), (col("id") + 250).as("v"))
    Layout.appendWithManifest(batch, Seq("v"), dir, numFiles = 4)
    val mfRows1 = spark.read.parquet(s"$dir/${Layout.ManifestDir}").count()
    assert(mfRows1 > mfRows0, "append must grow the manifest")
    val afterAppend = Layout.readPruned(spark, dir, "v", 600L, 899L)
      .as[(Long, Long)].collect().toSet
    // appended v spans 250..349: none lands in [600, 899] but the
    // window straddling both generations must see both
    assert(afterAppend == want)
    val straddle = Layout.readPruned(spark, dir, "v", 300L, 320L)
      .as[(Long, Long)].collect().toSet
    val straddleWant = spark.read.parquet(dir)
      .filter(col("v") >= 300L && col("v") <= 320L)
      .as[(Long, Long)].collect().toSet
    assert(straddle == straddleWant && straddle.exists(_._1 >= 10000) &&
      straddle.exists(_._1 < 10000),
      "straddling read must return rows from both generations")
  }

  test("manifest over z-order: a 2-D range probe prunes on both columns") {
    import graft.ops.Layout
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_zorder").toString
    // 64x64 grid — Morton clustering gives every file a tight span on
    // BOTH x and y; a small 2-D window must not touch most files
    val df = spark.range(4096)
      .select((col("id") % 64).as("x"), expr("id DIV 64").as("y"),
        col("id").as("payload"))
    Layout.zOrderWrite(df, "x", "y", dir, numFiles = 16)
    Layout.refreshManifest(spark, dir, Seq("x", "y"))
    val got = Layout.readPrunedRanges(spark, dir,
        Seq(("x", 10L, 20L), ("y", 50L, 60L)))
      .as[(Long, Long, Long)].collect().toSet
    val want = spark.read.parquet(dir)
      .filter(col("x").between(10, 20) && col("y").between(50, 60))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want && got.size == 11 * 11)
    val Array(kept, total) = Layout.lastManifestPrune.get()
      .split("/").map(_.toInt)
    assert(total == 16 && kept < total,
      s"2-D window over z-ordered files must prune: $kept/$total")
    // the SAME window on a layout clustered by x alone cannot prune on
    // y — the z-order advantage is observable, not assumed
    val dirX = java.nio.file.Files
      .createTempDirectory("graft_manifest_xonly").toString
    Layout.writeWithManifest(df, Seq("x"), dirX, numFiles = 16,
      statsCols = Seq("x", "y"))
    val gotX = Layout.readPrunedRanges(spark, dirX,
        Seq(("x", 10L, 20L), ("y", 50L, 60L)))
      .as[(Long, Long, Long)].collect().toSet
    assert(gotX == want)
    val keptX = Layout.lastManifestPrune.get().split("/")(0).toInt
    // x-only clustering: every x-selected file spans all of y, so the
    // y predicate prunes nothing extra; z-order must do strictly
    // better on this workload
    assert(kept <= keptX,
      s"z-order kept $kept files, x-clustered kept $keptX")
  }

  test("concurrent manifest appenders serialize: no lost manifest " +
    "union, no double-counted file (r9 verdict #5)") {
    import graft.ops.Layout
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_conc").toString
    Layout.writeWithManifest(
      spark.range(100).select(col("id"), col("id").as("v")),
      Seq("v"), dir, numFiles = 2)
    // two appenders race with DISJOINT row sets; a lost manifest union
    // would drop one appender's files from every pruned read, a
    // double-stat would duplicate rows
    val gate = new java.util.concurrent.CountDownLatch(1)
    def appender(offset: Long) = Future {
      gate.await()
      Layout.appendWithManifest(
        spark.range(100).select((col("id") + offset).as("id"),
          (col("id") + offset).as("v")),
        Seq("v"), dir, numFiles = 3)
    }
    val fs = Seq(appender(1000L), appender(2000L))
    gate.countDown()
    fs.foreach(Await.result(_, 120.seconds))
    // full-range pruned read sees every row exactly once
    val got = Layout.readPruned(spark, dir, "v", 0L, 3000L)
      .select(col("id")).as[Long].collect().sorted.toSeq
    val want = ((0L until 100L) ++ (1000L until 1100L) ++
      (2000L until 2100L)).sorted
    assert(got == want,
      s"pruned read lost/duplicated rows: ${got.size} vs ${want.size}")
    // the manifest tracks every data file exactly once
    val manifestFiles = spark.read
      .parquet(s"$dir/${Layout.ManifestDir}")
      .select(col("file")).as[String].collect().toSeq
    assert(manifestFiles.distinct.size == manifestFiles.size,
      "duplicate manifest rows")
    val dataFiles = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.getName).toSet
    assert(manifestFiles.map(_.split("/").last).toSet == dataFiles,
      "manifest file set diverged from the directory")
    // the lease is released — a third appender proceeds immediately
    Layout.appendWithManifest(
      spark.range(10).select((col("id") + 5000L).as("id"),
        (col("id") + 5000L).as("v")),
      Seq("v"), dir, numFiles = 1, lockTimeoutMs = 5000L)
    assert(Layout.readPruned(spark, dir, "v", 5000L, 5009L).count() == 10L)
  }

  test("manifest append lease: a fresh foreign lease times the waiter " +
    "out; a stale one is broken and the append proceeds") {
    import graft.ops.Layout
    val dir = java.nio.file.Files
      .createTempDirectory("graft_manifest_lease").toString
    Layout.writeWithManifest(
      spark.range(50).select(col("id"), col("id").as("v")),
      Seq("v"), dir, numFiles = 1)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/${Layout.AppendLease}")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plantLease(ageMs: Long): Unit = {
      val out = fs.create(lock, true)
      try out.write(
        s"foreign-owner ${System.currentTimeMillis() - ageMs}"
          .getBytes("UTF-8"))
      finally out.close()
      // staleness is judged from the FILE's fs mtime (r10 advice: a
      // holder-embedded clock stamp breaks LIVE leases under cross-
      // driver clock skew), so aging the lease means aging the file
      fs.setTimes(lock, System.currentTimeMillis() - ageMs, -1L)
    }
    // fresh foreign lease: the waiter must NOT break it — it times out
    plantLease(ageMs = 0L)
    val e = intercept[IllegalStateException] {
      Layout.appendWithManifest(
        spark.range(10).select((col("id") + 100L).as("id"),
          (col("id") + 100L).as("v")),
        Seq("v"), dir, numFiles = 1,
        lockTimeoutMs = 500L, leaseMs = 60000L)
    }
    assert(e.getMessage.contains("lease"))
    assert(Layout.readPruned(spark, dir, "v", 100L, 109L).count() == 0L)
    // clock-skew immunity (r10 advice): a LIVE lease whose holder's
    // embedded clock stamp reads far in the past (skewed writer clock)
    // must NOT be broken — staleness is the file's fs mtime, and this
    // file is fresh
    val out2 = fs.create(lock, true)
    try out2.write(
      s"skewed-owner ${System.currentTimeMillis() - 3600000L}"
        .getBytes("UTF-8"))
    finally out2.close()
    val e2 = intercept[IllegalStateException] {
      Layout.appendWithManifest(
        spark.range(10).select((col("id") + 100L).as("id"),
          (col("id") + 100L).as("v")),
        Seq("v"), dir, numFiles = 1,
        lockTimeoutMs = 500L, leaseMs = 60000L)
    }
    assert(e2.getMessage.contains("lease"))
    // stale foreign lease (older than leaseMs): broken, append lands,
    // and the lease is released afterwards
    plantLease(ageMs = 10000L)
    Layout.appendWithManifest(
      spark.range(10).select((col("id") + 100L).as("id"),
        (col("id") + 100L).as("v")),
      Seq("v"), dir, numFiles = 1,
      lockTimeoutMs = 5000L, leaseMs = 1000L)
    assert(Layout.readPruned(spark, dir, "v", 100L, 109L).count() == 10L)
    assert(!fs.exists(lock), "lease must be released after the append")
  }

  test("lease: a torn data/crc pair cannot wedge the lock past its " +
    "term, and contended handoffs stay live (r11 stress-leg-18 wedge)") {
    import graft.ops.Lease
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lease_torn").toString
    val lock = new org.apache.hadoop.fs.Path(s"$dir/lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant the observed wedge state: a complete, valid-looking lease
    // whose .crc sibling belongs to DIFFERENT bytes (two concurrent
    // create()s on ChecksumFileSystem raced the pair) — every read
    // throws ChecksumException, and no one owns it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "lock"),
      "dead-owner 123".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".lock.crc"),
      Array[Byte]('c', 'r', 'c', 0, 0, 0, 0, 2, 1, 2, 3, 4))
    fs.setTimes(lock, System.currentTimeMillis() - 10000L, -1L)
    // unreadable-but-existing must still AGE OUT and break — the
    // pre-fix protocol could also reach this state spontaneously and
    // then sat on it for the full default term
    val tok = Lease.acquire(fs, lock, timeoutMs = 15000L, leaseMs = 1000L)
    assert(Lease.holds(fs, lock, tok))
    Lease.release(fs, lock, tok)
    assert(!fs.exists(lock))
    // r12: a torn pair with a FRESH mtime and staleness DISABLED must
    // still heal (the unreadable-grace break): two claims racing the
    // rename itself can interleave one's data with the other's crc,
    // and waiting out the full term wedged the contended-handoff spec
    // on a loaded host. Nobody can own an unreadable lease, so ~1 s
    // of continuous unreadability is proof of tear/crash, not a race.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "lock"),
      "torn-fresh 456".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".lock.crc"),
      Array[Byte]('c', 'r', 'c', 0, 0, 0, 0, 2, 9, 9, 9, 9))
    val t0 = System.currentTimeMillis()
    val tok2 = Lease.acquire(fs, lock, timeoutMs = 15000L,
      leaseMs = 3600000L)
    val healMs = System.currentTimeMillis() - t0
    assert(Lease.holds(fs, lock, tok2))
    assert(healMs < 10000L,
      s"fresh torn pair took ${healMs}ms to heal — the unreadable-" +
        "grace break should clear it in about a second")
    Lease.release(fs, lock, tok2)
    assert(!fs.exists(lock))
    // contended handoffs: 8 threads x 12 acquire/release cycles on one
    // lock, staleness breaks DISABLED (huge leaseMs) — under the old
    // create-exclusive claim this tore a data/crc pair within a few
    // hundred handoffs and every later acquire timed out; the
    // temp+rename claim must stay live to the end. The overlap
    // counter asserts MUTUAL EXCLUSION, not just liveness: a claim
    // that steals a live holder's lease (the clobbering-rename hole —
    // r12 advice) would put two threads inside the hold at once and
    // trip the assertion even though every cycle "succeeds".
    // Run on BOTH filesystems: the checksum local fs (whose rename
    // refuses an existing destination on this deployment) and the RAW
    // local fs (POSIX rename — silently overwrites), so the
    // observed-absent gate is exercised where the clobber is real.
    val rawFs = new org.apache.hadoop.fs.RawLocalFileSystem()
    rawFs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    Seq(("checksum", fs), ("raw", rawFs)).foreach { case (fsName, f) =>
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val handoffs = new java.util.concurrent.atomic.AtomicInteger(0)
      val inHold = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxHold = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 8).map { _ =>
        new Thread(() =>
          try {
            (0 until 12).foreach { _ =>
              val t = Lease.acquire(f, lock, timeoutMs = 60000L,
                leaseMs = 3600000L)
              val depth = inHold.incrementAndGet()
              maxHold.getAndUpdate(m => math.max(m, depth))
              assert(Lease.holds(f, lock, t),
                "lease not held inside the critical section")
              Thread.sleep(1) // widen the window a steal would need
              inHold.decrementAndGet()
              handoffs.incrementAndGet()
              Lease.release(f, lock, t)
            }
          } catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join(120000L))
      assert(errs.isEmpty, s"[$fsName] lease handoff died: ${errs.peek()}")
      assert(maxHold.get() == 1,
        s"[$fsName] mutual exclusion broken: ${maxHold.get()} threads " +
          "held the lease at once")
      assert(handoffs.get() == 96, s"[$fsName] handoffs: ${handoffs.get()}")
      assert(!f.exists(lock),
        s"[$fsName] lock must be free after the last release")
    }
  }

  test("lease: a claimant stalled between its absent-check and its " +
    "rename clobbers a live holder on a POSIX-rename filesystem, and " +
    "the holder's pre-mutation FENCE is what keeps exactly one " +
    "mutation committing (r12 verdict #1 — stall-injection proof of " +
    "the documented backstop)") {
    import graft.ops.Lease
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lease_stall").toString
    val lock = new org.apache.hadoop.fs.Path(s"$dir/lock")
    val rawFs = new org.apache.hadoop.fs.RawLocalFileSystem()
    rawFs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val parked = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val aTok = new java.util.concurrent.atomic.AtomicReference[String]()
    val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      // park claimant A in the one window no raw filesystem can make
      // atomic: AFTER it observed the lock absent, BEFORE its rename
      Lease.stallBeforeRename = { _ => parked.countDown(); resume.await() }
      val a = new Thread(() =>
        try aTok.set(Lease.acquire(rawFs, lock,
          timeoutMs = 60000L, leaseMs = 3600000L))
        catch { case t: Throwable => aErr.set(t) })
      a.start()
      assert(parked.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "claimant A never reached the stall point")
      // B claims (un-stalled) and enters its critical section
      Lease.stallBeforeRename = _ => ()
      val bTok = Lease.acquire(rawFs, lock,
        timeoutMs = 60000L, leaseMs = 3600000L)
      assert(Lease.holds(rawFs, lock, bTok),
        "B must hold before the stalled rename lands")
      // A resumes mid-hold: POSIX rename(2) silently overwrites B's
      // LIVE lease — the residual steal the protocol comment documents
      resume.countDown()
      a.join(30000L)
      assert(aErr.get() == null, s"stalled claimant died: ${aErr.get()}")
      assert(aTok.get() != null &&
        Lease.holds(rawFs, lock, aTok.get()),
        "the stalled claimant's rename must clobber on the raw fs — " +
          "if it cannot, this deployment needs no fence backstop")
      // both sides believe they acquired; the FENCE (ownership
      // re-verify immediately before the shared mutation) is the
      // backstop: B's fails, A's passes — exactly one mutation commits
      var commits = List.empty[String]
      if (Lease.holds(rawFs, lock, bTok)) commits ::= "B"
      if (Lease.holds(rawFs, lock, aTok.get())) commits ::= "A"
      assert(commits == List("A"),
        s"exactly one fenced mutation must commit, got: $commits")
      Lease.release(rawFs, lock, aTok.get())
      assert(!rawFs.exists(lock))
    } finally Lease.stallBeforeRename = _ => ()
  }

  test("mineBitext evaluates each direction's scoring subtree exactly " +
    "once (r9 verdict #4)") {
    import graft.ops.Similarity
    val acc = spark.sparkContext.longAccumulator("graft_tgt_evals")
    val src = Seq(
      (10L, Seq(1.0f, 0.0f)), (12L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // instrument the tgt side: every evaluation of its (single)
    // partition bumps the accumulator, so the count IS the number of
    // jobs that scanned tgt
    val tgt = spark.createDataset(Seq(
        (11L, Seq(1.0f, 0.01f)), (13L, Seq(0.02f, 1.0f)),
        (15L, Seq(0.7f, 0.7f))))
      .coalesce(1)
      .mapPartitions { it => acc.add(1); it }
      .toDF("vec_id", "embedding")
    val out = Similarity
      .mineBitext(src, tgt, "vec_id", "embedding", k = 2, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.map(r => r._1 -> r._2).toMap == Map(10L -> 11L, 12L -> 13L))
    // expected evaluations of tgt: the fwd direction's bounded-scan
    // test + its scoring checkpoint, the bwd direction's bounded-scan
    // test + its broadcast build. Before the r10 checkpoint the final
    // collect re-evaluated each direction's Ω(N·Q) scoring subtree a
    // second time — one more tgt scan (and one more src scan) on top.
    assert(acc.value <= 4,
      s"tgt evaluated ${acc.value} times — scoring subtree re-ran")
  }
}
