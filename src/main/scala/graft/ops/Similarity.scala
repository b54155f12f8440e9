package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`) —
 * training-data-pipeline extension (BASELINE.json north-star).
 *
 * The vector math runs in JIT-compiled Scala UDF kernels with
 * sequential (index-order) accumulation: bit-deterministic,
 * oracle-comparable, and much faster than the equivalent
 * aggregate/zip_with expressions (higher-order functions are
 * CodegenFallback — interpreted per element).
 *
 * Scale design: brute force is the correctness baseline (broadcast the
 * query side — cost |Q|·N, embarrassingly parallel, zero shuffle on the
 * corpus side). The scale path is IVF: a coarse quantizer assigns every
 * vector to its nearest centroid (one narrow pass), queries probe only
 * `nProbe` cells — the corpus join is pruned to the probed cells' rows.
 * Cosine LSH (random hyperplane signs) gives a hash-bucket route for
 * near-dup-style lookups.
 */
object Similarity {

  // Written-layout schemas for the IVF-PQ index's fixed-shape metadata
  // (cells, codebook, tombstones), pinned so their reads skip parquet
  // schema inference — one driver footer job per bare read; the
  // Retrieval/TextDedup convention. codes/ keeps its inferred read
  // (caller-data-typed id column).
  private val CellsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("__centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))))
  private val CodebookSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("subspace",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("center",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))))


  /**
   * Matryoshka (MRL) truncation: slice an embedding to its leading
   * `dims` components and L2-renormalize — the storage/recall
   * trade-off switch for MRL-trained embedding models (use 64 of 768
   * dims at 12× less memory, re-rank survivors with the full vector).
   *
   * Engine-exact by construction: the squared norm is a SEQUENTIAL
   * left fold from 0.0 (fixed IEEE tree), sqrt and the per-component
   * division are single IEEE ops. All-zero prefixes return the zero
   * vector (guarded division) rather than NaN.
   *
   * Output: input row + `<vecCol>_mrl` (array<double>, length `dims`).
   */
  def mrlTruncate(df: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    val sliced = transform(slice(col(vecCol), 1, dims),
      x => x.cast("double"))
    val norm = sqrt(aggregate(sliced, lit(0.0), (acc, x) => acc + x * x))
    df.withColumn(s"${vecCol}_mrl",
      when(norm === 0.0, sliced)
        .otherwise(transform(sliced, x => x / norm)))
  }

  /** Widen array<float> → array<double> (deterministic element cast). */
  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  /** Query batches at or below this row count take the broadcast-kernel
    * ADC path in [[ivfPqTopK]] (queries collected once, corpus
    * streamed — the right plan for serving-style top-k batches); above
    * it the plan flips to a probe-cell equijoin with per-partition heap
    * pruning, so a query TABLE never funnels through the driver. The
    * two paths produce identical output by construction (one shared
    * probe selector, the same ADC expression tree, the same
    * (distance, id) selection order). */
  val DefaultQueryCollectLimit: Long = 65536L

  /** Diagnostic mirror of [[graft.operators.Fuzzy.lastAssignMode]]:
    * "broadcast-kernel" or "cell-join" for the last ivfPqTopK on this
    * JVM (spec hook for the no-driver-funnel assertion). */
  private[graft] val lastIvfPqQueryMode =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Sequential-fold dot product — same IEEE op order as the SQL
    * oracle's list fold, so results are bit-identical across engines.
    * JIT'd UDF kernel: the aggregate/zip_with expression formulation is
    * interpreted per element (higher-order functions are
    * CodegenFallback) and an order of magnitude slower in the
    * query-corpus hot loop. */
  private val dotKernel = udf((a: Array[Double], b: Array[Double]) => {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  })

  /** cosine = dot/(sqrt(na)*sqrt(nb)), each sum accumulated in index
    * order exactly like the oracle SQL. */
  private val cosineKernel = udf((a: Array[Double], b: Array[Double]) => {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i)
      na += a(i) * a(i)
      nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  })

  /** Driver-side twin of [[cosineKernel]] — IDENTICAL op order, so a
    * driver-replayed distance (kCenterGreedy's batch window) equals
    * the distributed column's value bit for bit. */
  private def cosineDD(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i)
      na += a(i) * a(i)
      nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: Column, b: Column): Column = dotKernel(a, b)

  def norm(a: Column): Column = sqrt(dotKernel(a, a))

  def cosine(a: Column, b: Column): Column = cosineKernel(a, b)

  /** Diagnostic mirror of [[lastIvfPqQueryMode]] for the exact-top-k
    * family: "broadcast-kernel" (queries broadcast) or "replicate-nl"
    * (query TABLE — shuffle-replicated cross score) for the last
    * [[bruteForceTopK]] plan built on this JVM. */
  private[graft] val lastBruteForceQueryMode =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** "exact" or "ivf-shortlist" for the last [[topKAuto]] dispatch. */
  private[graft] val lastTopKAutoMode =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** True iff `df` has at most `limit` rows, decided by a
    * limit+1-bounded scan — never a full `count()` of a possibly
    * expensive derived lineage (the collect-with-limit discipline). */
  private[ops] def atMost(df: DataFrame, limit: Long): Boolean = {
    val cap = math.min(limit, Int.MaxValue.toLong - 1L).toInt
    df.limit(cap + 1).count() <= limit
  }

  /** Bounded-heap global top-k over a scored frame: groups `scored` by
    * `query_id` and keeps the k best `neighbor_id`s by (`cosine` DESC,
    * id ASC) via the [[org.apache.spark.sql.graftshim.TopKPairsAgg]]
    * O(k)-state aggregate — partial heaps combine map-side under hash
    * aggregation, so no task ever sorts (or holds) more than k rows
    * per query and the shuffle carries ≤ tasks·k rows per query.
    * `idType` restores the caller's neighbor-id type (integral
    * widening round-trips exactly). Null cosines are dropped (callers
    * without null vectors are unaffected). */
  private[ops] def heapTopK(scored: DataFrame, k: Int,
                            idType: org.apache.spark.sql.types.DataType): DataFrame =
    scored
      .filter(col("cosine").isNotNull)
      .groupBy(col("query_id"))
      .agg(org.apache.spark.sql.graftshim.TopKColumns
        .topKPairs(col("cosine"), col("neighbor_id").cast("long"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__s")))
      .select(col("query_id"),
        col("__s.neighbor_id").cast(idType).as("neighbor_id"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__s.cosine").as("cosine"))

  /**
   * Brute-force cosine top-k: for each query vector, the k nearest
   * corpus vectors (self-pairs excluded). Rank ties break on corpus id
   * for determinism. Returns (query_id, neighbor_id, rank, cosine).
   *
   * Scale shape (r8 verdict item #1 — the window funnel is gone):
   * ranking is a bounded-heap `TypedImperativeAggregate` (O(k) state
   * per query, map-side partial combine), not a per-query
   * `row_number` window. Catalyst's `WindowGroupLimit` (SPARK-37099)
   * already made the old window map-side-limited on Spark 4, but it
   * still fully SORTS every scored partition first; the heap
   * aggregate does no sort at all and ships ≤ tasks·k rows per query.
   * The query side broadcasts below `queryBroadcastLimit` rows
   * (bounded-scan test, not a full count); above it the two sides meet
   * in a shuffle-replicated nested-loop (both sides partitioned —
   * no driver collect, no single-executor build side). Both plans are
   * bit-identical by construction (same kernel, same heap order).
   * Exact top-k is inherently Ω(|corpus|·|queries|) compute; for the
   * sub-linear scale path see [[topKAuto]] / [[ivfTopK]] /
   * [[ivfPqTopK]].
   *
   * Rows whose cosine is null (null vector on either side) are not
   * ranked. NaN cosines (zero vectors) rank first, matching Spark's
   * descending double sort — [[ivfTopK]] documents the contrast.
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     queryBroadcastLimit: Long = DefaultQueryCollectLimit
                    ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val idType = corpus.schema(idCol).dataType
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("__qv"))
    // the Ω(N·Q) scoring kernel runs on the corpus side's partitions;
    // fan a single-split scan out first (Dispatch.fanOut scaladoc) so
    // the broadcast-join kernel isn't one serial task
    val c = Dispatch.fanOut(corpus.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(vecCol)).as("__cv")), col("neighbor_id"))
    val qSide =
      if (atMost(q, queryBroadcastLimit)) {
        lastBruteForceQueryMode.set("broadcast-kernel"); broadcast(q)
      } else {
        lastBruteForceQueryMode.set("replicate-nl")
        q.hint("shuffle_replicate_nl")
      }
    val scored = c.join(qSide, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    if (Dispatch.integralType(idType)) heapTopK(scored, k, idType)
    else {
      // non-integral ids can't ride the long-payload heap; the window
      // path is still map-side bounded via Catalyst's WindowGroupLimit.
      // Null cosines are dropped exactly like the heap path (Spark's
      // descending sort would otherwise rank them LAST but still emit
      // them, making the two paths diverge on null-vector rows)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored
        .filter(col("cosine").isNotNull)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("cosine"))
    }
  }

  /**
   * Size-dispatched exact/approximate top-k — the family's standard
   * threshold flip applied to the exhaustive kernel: at or below
   * `exactCorpusLimit` corpus rows (bounded-scan test) the result is
   * [[bruteForceTopK]] exactly; above it, exhaustive scoring would be
   * Ω(N·Q) compute no matter how well it parallelizes, so the plan
   * flips to the IVF route — assign `nCells` cells, probe the
   * `nProbe` nearest per query, exact cosine re-rank inside probed
   * cells ([[ivfTopK]]). With `nProbe == nCells` the shortlist is the
   * whole corpus and the flip is EXACT (path-parity spec'd); with
   * `nProbe < nCells` it is the documented recall/cost trade every
   * ANN variant in this file shares.
   *
   * EAGERNESS CONTRACT: the ivf-shortlist branch materializes its
   * queries×k result via `localCheckpoint` before returning — the
   * call blocks until that job runs, and the returned frame's blocks
   * live in executor storage with NO lineage (an executor loss after
   * the call makes it unrecoverable; in local mode — this library's
   * stated deployment for the dispatching caller — executor loss is
   * process death). This is deliberate: it is what lets the branch
   * release the corpus-sized `ivfAssign` cache before returning
   * instead of pinning one per call with no owner. The exact branch
   * stays lazy and replayable. Callers needing a recoverable frame on
   * a real cluster should persist/write the result themselves.
   *
   * WHY HNSW IS NOT A DISPATCH PATH (r10 verdict #3, the contract):
   * [[graft.ops.Hnsw.topK]] builds its per-shard graphs ON EVERY CALL
   * — O(corpus · efConstruction · log corpus) distance evaluations
   * before the first candidate comes back. That is the right trade
   * for a one-shot batch join against a corpus that changes under
   * you, and the wrong one everywhere this dispatcher is used:
   * below `exactCorpusLimit` the exhaustive kernel is already optimal
   * (no build cost at all), and above it the IVF shortlist reuses its
   * cell assignment across the whole query batch for a fraction of a
   * graph build's work. Repeated serving against a STABLE corpus —
   * the one shape where HNSW's build cost amortizes — is what the
   * PERSISTED index families are for ([[saveIvfPqIndex]] /
   * [[ivfPqTopKIndexed]]: build once, probe forever, with the delete
   * lifecycle attached). So HNSW stays an explicit, caller-chosen
   * batch operator, not a size-triggered surprise with a hidden
   * rebuild inside.
   */
  def topKAuto(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               exactCorpusLimit: Long = DefaultQueryCollectLimit,
               nCells: Int = 256, nProbe: Int = 32): DataFrame = {
    if (atMost(corpus, exactCorpusLimit)) {
      lastTopKAutoMode.set("exact")
      bruteForceTopK(corpus, queries, idCol, vecCol, k)
    } else {
      lastTopKAutoMode.set("ivf-shortlist")
      val assigned = ivfAssign(corpus, idCol, vecCol, nCells)
      // ivfAssign persists the corpus-sized assignment (ivfTopK reads
      // it twice); materialize the queries×k result and RELEASE that
      // cache here — repeated topKAuto/mineBitext calls would
      // otherwise pin a corpus-sized block per call with no owner
      val out = ivfTopK(assigned, queries, idCol, vecCol, k, nCells,
        nProbe).localCheckpoint()
      assigned.unpersist()
      out
    }
  }

  /**
   * Hard-negative mining for retrieval/contrastive training: for each
   * query, the k HIGHEST-cosine corpus vectors that are NOT relevant
   * (per `qrels`) — the near-miss examples a dual encoder or reranker
   * trains against (random negatives are too easy; the hard ones sit
   * just past the relevant set). Ranks are assigned AFTER the
   * exclusion, so the output is a dense 1..k per query.
   *
   * `qrels` carries (query_id, rel_id); self-pairs are always
   * excluded. Scale: the scoring pass is [[bruteForceTopK]]'s
   * broadcast-queries kernel (swap in the IVF/PQ shortlist for large
   * corpora); the exclusion is one anti-join on (query, neighbor) —
   * qrels is judgment-sized (human labels), so Catalyst broadcasts
   * it. Output: (query_id, neighbor_id, rank, cosine).
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, qrels: DataFrame,
                    k: Int,
                    queryBroadcastLimit: Long = DefaultQueryCollectLimit
                   ): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val idType = corpus.schema(idCol).dataType
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("__qv"))
    // same serial-kernel fan-out as bruteForceTopK (see there)
    val c = Dispatch.fanOut(corpus.select(col(idCol).as("neighbor_id"),
      toDoubleVec(col(vecCol)).as("__cv")), col("neighbor_id"))
    val qSide =
      if (atMost(q, queryBroadcastLimit)) broadcast(q)
      else q.hint("shuffle_replicate_nl")
    val scored = c.join(qSide, col("query_id") =!= col("neighbor_id"))
      .join(qrels.select(col("query_id"), col("rel_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    // ranks assigned AFTER the exclusion (dense 1..k per query); the
    // bounded-heap aggregate replaces the per-query window — same
    // (cosine DESC, id ASC) order, O(k) state, map-side combine
    if (Dispatch.integralType(idType)) heapTopK(scored, k, idType)
    else {
      // null cosines dropped — heap-path parity (see bruteForceTopK)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored
        .filter(col("cosine").isNotNull)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("cosine"))
    }
  }

  /**
   * kNN label spread — classify unlabeled vectors by majority vote of
   * their k nearest LABELED seeds (cosine): the standard cheap way to
   * scale a small human-labeled quality/topic/language set to a full
   * corpus before training a real classifier (and the baseline said
   * classifier must beat). Vote ties break to the smallest label, so
   * the result is deterministic end to end.
   *
   * Scale: seeds are label-budget sized (humans labeled them) →
   * broadcast; the corpus side is one narrow scored pass, a top-k
   * window partitioned by the corpus id (bounded at |seeds| rows per
   * partition — no hub risk), and the argmax vote is the merge
   * family's `min_by(struct(-votes, label))` aggregate, not a second
   * window. Swap the scored pass for the IVF/PQ shortlist when the
   * seed set outgrows a broadcast.
   *
   * Output: (id, pred_label, votes).
   */
  def knnClassify(unlabeled: DataFrame, seeds: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // same serial-kernel fan-out as bruteForceTopK (see there)
    val q = Dispatch.fanOut(unlabeled.select(col(idCol),
      toDoubleVec(col(vecCol)).as("__qv")), col(idCol))
    val s = seeds.select(col(idCol).as("__sid"),
      toDoubleVec(col(vecCol)).as("__sv"), col(labelCol).as("__lb"))
    val scored = q.join(broadcast(s), col(idCol) =!= col("__sid"))
      .withColumn("__cos", cosine(col("__qv"), col("__sv")))
    val sidType = seeds.schema(idCol).dataType
    // the bounded-heap aggregate shrinks the shuffle from
    // |unlabeled|·|seeds| scored rows to k longs per corpus vector
    // (map-side partial heaps); labels rejoin from the broadcast seed
    // frame after selection
    val topk =
      if (Dispatch.integralType(sidType))
        scored
          .filter(col("__cos").isNotNull)
          .groupBy(col(idCol))
          .agg(org.apache.spark.sql.graftshim.TopKColumns
            .topKPairs(col("__cos"), col("__sid").cast("long"), k)
            .as("__top"))
          .select(col(idCol),
            explode(col("__top.neighbor_id")).as("__pick"))
          .join(broadcast(s.select(col("__sid").cast("long").as("__pick"),
            col("__lb"))), Seq("__pick"))
      else {
        // null cosines dropped — heap-path parity (see bruteForceTopK)
        val w = Window.partitionBy(col(idCol))
          .orderBy(col("__cos").desc, col("__sid").asc)
        scored
          .filter(col("__cos").isNotNull)
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= k)
      }
    topk
      .groupBy(col(idCol), col("__lb"))
      .agg(count(lit(1)).as("__votes"))
      .groupBy(col(idCol))
      .agg(min(struct((-col("__votes")).as("nv"),
        col("__lb").as("lb"))).as("__w"))
      .select(col(idCol), col("__w.lb").as("pred_label"),
        (-col("__w.nv")).cast("int").as("votes"))
  }

  /**
   * Margin-based bitext mining (Artetxe & Schwenk 2019, ratio
   * margin): align two embedding sets (source/target language) by
   * scoring each forward nearest-neighbor candidate against how
   * "promiscuous" both endpoints are —
   * `margin(x,y) = cos(x,y) / ((avgK(x) + avgK(y)) / 2)` with avgK
   * the mean cosine of the endpoint's top-k in the OTHER side. A hub
   * vector that is everyone's neighbor gets a high denominator and
   * stops winning — the fix that makes raw-cosine mining usable.
   *
   * Keeps each source's best candidate by margin (ties → smallest
   * target id) at `margin >= threshold`. Engine-exact: cosines are
   * the sequential kernel (proven bit-identical to the SQL oracle),
   * the top-k mean folds in RANK order from 0.0, and the margin is a
   * fixed IEEE expression tree.
   *
   * Scale: two top-k passes via [[topKAuto]] — exact bounded-heap
   * kernel while the scored (corpus) side is at or below
   * `exactSideLimit` rows, IVF shortlist + exact re-rank above it
   * (margin re-ranks the shortlist exactly; recall of the shortlist is
   * the documented ANN trade) — then two k-row-per-id aggregates and
   * two joins on candidate ids. The final best-by-margin window is
   * k-bounded per src id (never a funnel). Output: (src_id, tgt_id,
   * cosine, margin).
   */
  def mineBitext(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int = 4,
                 threshold: Double = 1.0,
                 exactSideLimit: Long = DefaultQueryCollectLimit): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // each direction's top-k is consumed TWICE below (candidate base +
    // its own avgK aggregate); materialize the k-rows-per-id frame so
    // the Ω(N·Q) scoring kernel runs exactly once per direction. On
    // the exact path this halves the dominant cost; on the ivf path
    // (already materialized inside topKAuto) it adds one result-sized
    // copy — k·|side| rows, noise next to the scoring pass.
    val fwd = topKAuto(tgt, src, idCol, vecCol, k,
      exactCorpusLimit = exactSideLimit).localCheckpoint()
    val bwd = topKAuto(src, tgt, idCol, vecCol, k,
      exactCorpusLimit = exactSideLimit).localCheckpoint()
    def avgK(df: DataFrame, outId: String, outAvg: String) =
      df.groupBy(col("query_id"))
        .agg(sort_array(collect_list(struct(col("rank"), col("cosine"))))
          .as("__cs"))
        .select(col("query_id").as(outId),
          (aggregate(col("__cs"), lit(0.0),
            (acc, s) => acc + s.getField("cosine")) / lit(k.toDouble))
            .as(outAvg))
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    fwd.select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("cosine"))
      .join(avgK(fwd, "__src", "__af"), col("src_id") === col("__src"))
      .join(avgK(bwd, "__tgt", "__ab"), col("tgt_id") === col("__tgt"))
      .withColumn("margin",
        col("cosine") / ((col("__af") + col("__ab")) / lit(2.0)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("margin") >= threshold)
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"))
  }

  /** Cosine between a float vector and a double centroid (sequential
    * accumulation, shared by the assign/probe kernels). */
  private def cosineFD(v: Array[Float], c: Array[Double]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(v.length, c.length)
    while (i < n) {
      val x = v(i).toDouble
      val y = c(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (cell ids ascending, centroid matrix) for broadcast into kernels. */
  /** Probe selection for ONE query vector, same rule as ivfTopK's
    * kernel: the top-nProbe cells by (cosine-to-cell-mean desc, lowest
    * cell id on ties). The single shared selector behind the driver
    * batch form below AND the distributed probe UDF, so the paths can
    * never drift. */
  private def probeCellsFor(qv: Array[Float], cellIds: Array[Long],
                            centroids: Array[Array[Double]],
                            nProbe: Int): Array[Long] = {
    val sims = centroids.map(c => cosineFD(qv, c))
    val picked = new Array[Long](math.min(nProbe, centroids.length))
    val used = new Array[Boolean](centroids.length)
    var p = 0
    var exhausted = false
    while (p < picked.length && !exhausted) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < centroids.length) {
        if (!used(i) && sims(i) > bestSim) { bestSim = sims(i); best = i }
        i += 1
      }
      if (best < 0) exhausted = true
      else { used(best) = true; picked(p) = cellIds(best); p += 1 }
    }
    if (p < picked.length) java.util.Arrays.copyOf(picked, p) else picked
  }

  /** Driver-side batch probe selection over an already-collected
    * query array (the small-batch kernel path). */
  private def selectProbes(qArr: Array[(Long, Array[Float])],
                           cellIds: Array[Long],
                           centroids: Array[Array[Double]],
                           nProbe: Int): Array[Array[Long]] =
    qArr.map { case (_, qv) => probeCellsFor(qv, cellIds, centroids, nProbe) }

  private def collectCentroids(cells: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = cells.collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray)
    }.sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Per-cell mean vectors via a JIT'd reduceGroups (elementwise sums
    * with map-side partial combine — no interpreted array expressions,
    * no per-dimension explode). Returns (cell_id, __centroid). */
  private def cellMeans(corpusWithCells: DataFrame, vecCol: String): DataFrame = {
    val spark = corpusWithCells.sparkSession
    import spark.implicits._
    corpusWithCells
      .filter(col(vecCol).isNotNull)
      .select(col("cell_id").cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (c, v) =>
        val d = new Array[Double](v.length)
        var i = 0
        while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
        (c, d, 1L)
      }
      .groupByKey(_._1)
      .reduceGroups { (a, b) =>
        val (c, sa, na) = a
        val sb = b._2
        val s = new Array[Double](math.max(sa.length, sb.length))
        var i = 0
        while (i < s.length) {
          s(i) = (if (i < sa.length) sa(i) else 0.0) +
            (if (i < sb.length) sb(i) else 0.0)
          i += 1
        }
        (c, s, na + b._3)
      }
      .map { case (c, (_, s, n)) =>
        val m = new Array[Double](s.length)
        var i = 0
        while (i < s.length) { m(i) = s(i) / n; i += 1 }
        (c, m)
      }
      .toDF("cell_id", "__centroid")
  }

  /** Nearest-centroid kernel: one narrow pass per vector (ties break to
    * the lowest cell id — centroids arrive sorted ascending and only a
    * strictly greater cosine replaces the best). */
  private def assignKernel(cellIds: Array[Long], centroids: Array[Array[Double]]) =
    udf((v: Array[Float]) => {
      var best = 0
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < centroids.length) {
        val s = cosineFD(v, centroids(i))
        if (s > bestSim) { bestSim = s; best = i }
        i += 1
      }
      cellIds(best)
    })

  /**
   * IVF (inverted-file) coarse quantization: centroids are the first
   * `nCells` corpus vectors by id — a deterministic pseudo-k-means
   * seeding (good enough for cell routing; a Lloyd refinement can be
   * layered on without changing the plan shape).
   * Returns the corpus tagged with `cell_id`.
   *
   * Plan shape: centroids are collected once (nCells · dim doubles —
   * broadcast-size by construction) and the assignment is a single
   * narrow kernel pass over the corpus — no nCells-fold cross-join
   * blowup, no per-vector window shuffle.
   */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                nCells: Int): DataFrame = {
    // fan a single-split corpus out before the kernel pass: the
    // persisted assignment inherits the partitioning, so the
    // nearest-centroid kernel AND every downstream cache consumer
    // (within-cell pair joins, probed scans) parallelize instead of
    // running on the scan's one task (Dispatch.fanOut scaladoc)
    val nonNull = Dispatch.fanOut(
      corpus.filter(col(vecCol).isNotNull), col(idCol))
    val seeds = nonNull.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).cast("long"), toDoubleVec(col(vecCol)))
    val (cellIds, centroids) = collectCentroids(seeds)
    nonNull
      .withColumn("cell_id", assignKernel(cellIds, centroids)(col(vecCol)))
      // materialize: ivfTopK reads the assignment twice (probe-center
      // means + cell-pruned scan); without a barrier the assignment
      // would run per consumer
      .persist()
  }

  /**
   * Lloyd refinement of an IVF assignment: recompute each cell's
   * centroid as the mean of its members (JIT'd partial-combining
   * aggregation, one shuffle on cell_id), then reassign every vector
   * with the nearest-centroid kernel (narrow). Centroids stay
   * broadcast-size. Returns the corpus re-tagged with `cell_id`.
   */
  def ivfRefine(corpusWithCells: DataFrame, idCol: String, vecCol: String,
                iterations: Int = 1): DataFrame = {
    var current = corpusWithCells
    (0 until iterations).foreach { _ =>
      val (cellIds, centroids) = collectCentroids(cellMeans(current, vecCol))
      val next = current.drop("cell_id")
        .filter(col(vecCol).isNotNull) // external assignments may carry nulls
        .withColumn("cell_id", assignKernel(cellIds, centroids)(col(vecCol)))
        .persist()
      next.count() // materialize before releasing the previous cache
      // don't unpersist the caller's input (e.g. ivfAssign's), only
      // the intermediate generations this loop created
      if (current ne corpusWithCells) current.unpersist()
      current = next
    }
    current
  }

  /**
   * IVF top-k: probe the `nProbe` nearest cells per query, then exact
   * cosine only within probed cells. At scale the corpus is
   * pre-partitioned by cell_id, so a probe touches nProbe/nCells of the
   * data. Approximate: recall measured against bruteForceTopK in tests.
   *
   * Probe centers are per-cell MEANS — correct for both the seed
   * assignment and a Lloyd-refined one (where a seed member may have
   * migrated out of its own cell). Cell selection is a per-query kernel
   * over the broadcast centroid matrix (top-nProbe by cosine, lowest
   * cell id on ties); only the exact in-cell scoring touches the
   * cluster.
   */
  def ivfTopK(corpusWithCells: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCells: Int, nProbe: Int,
              queryCollectLimit: Long = DefaultQueryCollectLimit): DataFrame = {
    val (cellIds, centroids) = collectCentroids(cellMeans(corpusWithCells, vecCol))
    val probeKernel = udf((v: Array[Float]) => {
      // top-nProbe by (cosine desc, cell id asc): selection over the
      // (small) centroid set, stable because ids arrive ascending
      val sims = new Array[Double](centroids.length)
      var i = 0
      while (i < centroids.length) { sims(i) = cosineFD(v, centroids(i)); i += 1 }
      val picked = new Array[Long](math.min(nProbe, centroids.length))
      val used = new Array[Boolean](centroids.length)
      var p = 0
      var exhausted = false
      while (p < picked.length && !exhausted) {
        var best = -1
        var bestSim = Double.NegativeInfinity
        i = 0
        while (i < centroids.length) {
          if (!used(i) && sims(i) > bestSim) { bestSim = sims(i); best = i }
          i += 1
        }
        if (best < 0) exhausted = true // all remaining sims NaN (zero vectors)
        else {
          used(best) = true
          picked(p) = cellIds(best)
          p += 1
        }
      }
      if (p < picked.length) java.util.Arrays.copyOf(picked, p) else picked
    })
    val qNN = queries.filter(col(vecCol).isNotNull)
    val probes = qNN
      .select(col(idCol).as("query_id"),
      toDoubleVec(col(vecCol)).as("__qv"),
      explode(probeKernel(col(vecCol))).as("__probe_cell"))
    val c = corpusWithCells.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"),
        col("cell_id"), toDoubleVec(col(vecCol)).as("__cv"))
    val idType = corpusWithCells.schema(idCol).dataType
    // broadcast is the serving-batch plan (probes fit on every
    // executor, corpus never shuffles); a query TABLE above the limit
    // instead meets the corpus in a cell-keyed shuffle-hash join —
    // everything downstream (cosine before the shuffle, per-query
    // window) is already distributed, so dropping the broadcast is the
    // whole fix; join strategy cannot change the result set
    val probeSide =
      if (atMost(qNN, queryCollectLimit)) broadcast(probes)
      else probes.hint("shuffle_hash")
    val scored = c.join(probeSide, col("cell_id") === col("__probe_cell") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      // drop NaN cosines (zero-norm rows) BEFORE ranking: descending
      // double order puts NaN first (heap and window alike), which
      // would rank a zero vector above every real neighbor — the JVM
      // brute-force kernel path never selects NaN, and the paths must
      // agree
      .filter(!isnan(col("cosine")))
    // bounded-heap ranking (O(k) state, map-side combine) — the same
    // funnel-free shape as bruteForceTopK
    if (Dispatch.integralType(idType)) heapTopK(scored, k, idType)
    else {
      // null cosines dropped — heap-path parity (see bruteForceTopK)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id").asc)
      scored
        .filter(col("cosine").isNotNull)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          col("cosine"))
    }
  }

  /**
   * Embedding-cosine near-duplicate pairs, EXACT: all (id_a < id_b)
   * pairs with cosine ≥ threshold — the correctness baseline for the
   * LSH scale path below. Physical plan: tiled block-pair compare
   * (the Afrati–Ullman replication scheme shared with the dense
   * Jaccard/simhash paths) — norms precomputed once per vector, one
   * sequential-fold dot kernel per pair, no per-pair array widening.
   * The accumulation order matches the SQL oracle's list folds
   * bit-for-bit (dot and each squared norm are independent sequential
   * sums; cosine = dot / (√na·√nb)). Non-integral id types fall back
   * to a broadcast nested-loop join over the same kernel.
   */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, blocks: Int = 32): DataFrame = {
    val idIntegral = Dispatch.integralType(corpus.schema(idCol).dataType)
    if (!idIntegral) {
      val nonNull = corpus.filter(col(vecCol).isNotNull)
      val a = nonNull.select(col(idCol).as("id_a"),
        toDoubleVec(col(vecCol)).as("__va"))
      val b = nonNull.select(col(idCol).as("id_b"),
        toDoubleVec(col(vecCol)).as("__vb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cosine", cosine(col("__va"), col("__vb")))
        .filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    } else {
      val spark = corpus.sparkSession
      import spark.implicits._
      val orig = corpus.schema(idCol).dataType
      val t = threshold
      val docs = corpus
        .filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
        .as[(Long, Array[Float])]
        .map { case (id, v) =>
          // norm once per vector — same sequential fold as the per-pair form
          var na = 0.0
          var i = 0
          while (i < v.length) { na += v(i).toDouble * v(i).toDouble; i += 1 }
          (id, (math.sqrt(na), v))
        }
      val pairs = Tiles.selfPairs[(Double, Array[Float]), (Long, Long, Double)](
        docs, blocks) {
        case ((ida, (nrmA, va)), (idb, (nrmB, vb)), out) =>
          var dot = 0.0
          var i = 0
          val n = math.min(va.length, vb.length)
          while (i < n) { dot += va(i).toDouble * vb(i).toDouble; i += 1 }
          val cos = dot / (nrmA * nrmB)
          if (cos >= t) {
            if (ida < idb) out += ((ida, idb, cos)) else out += ((idb, ida, cos))
          }
      }.toDF("id_a", "id_b", "cosine")
      pairs.select(col("id_a").cast(orig).as("id_a"),
        col("id_b").cast(orig).as("id_b"), col("cosine"))
    }
  }

  /**
   * All-tables random-hyperplane signature kernel: one JIT'd pass per
   * vector computing nTables × nBits sign bits (vs one interpreted
   * array-cast + one UDF dot PER PLANE — 128 expression evals per row
   * at 16×8). The plane matrix is closure-captured (nTables·nBits·dim
   * doubles — a few KB, shipped once per executor with the task
   * closure).
   */
  private def lshSignaturesKernel(dim: Int, nBits: Int, nTables: Int,
                                  seed: Long) = {
    val planes = Array.tabulate(nTables) { t =>
      val rnd = new scala.util.Random(seed + t)
      Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
    }
    udf((v: Array[Float]) => {
      val out = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        val table = planes(t)
        var sig = 0L
        var b = 0
        while (b < nBits) {
          val plane = table(b)
          var s = 0.0
          var i = 0
          val n = math.min(v.length, plane.length)
          while (i < n) { s += v(i) * plane(i); i += 1 }
          if (s > 0) sig |= 1L << b
          b += 1
        }
        out(t) = sig
        t += 1
      }
      out
    })
  }

  /** Candidate pairs sharing any sign-LSH bucket (the prune stage of
    * [[cosineNearDupPairsLsh]], exposed so specs can assert candidate
    * volume ≪ n²/2 — an LSH whose buckets don't prune silently degrades
    * to brute force with extra steps). */
  def cosineLshCandidates(corpus: DataFrame, idCol: String, vecCol: String,
                          dim: Int, nBits: Int = 16,
                          nTables: Int = 8, seed: Long = 42L): DataFrame = {
    val kernel = lshSignaturesKernel(dim, nBits, nTables, seed)
    val withBuckets = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol),
      posexplode(kernel(col(vecCol))).as(Seq("__t", "__b")))
      .persist()
    withBuckets.as("a")
      .hint("shuffle_hash")
      .join(withBuckets.as("b"),
        col("a.__t") === col("b.__t") && col("a.__b") === col("b.__b") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /**
   * Embedding-cosine near-dup, LSH-bucketed scale path: candidates are
   * pairs sharing a random-hyperplane sign bucket (probability rises
   * with cosine: P(bit agrees) = 1 − θ/π per plane), verified exactly.
   * Probabilistic recall — measured against [[cosineNearDupPairs]] in
   * the specs; bucket count/width trade recall vs candidate volume.
   * Defaults (16 bits × 8 tables): a random orthogonal-ish pair
   * collides with probability ≈ 8·2⁻¹⁶ ≈ 10⁻⁴ (buckets genuinely
   * prune), while a 0.95-cosine near-dup still collides in ≥ 1 table
   * with probability ≈ 0.98.
   */
  def cosineNearDupPairsLsh(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, dim: Int, nBits: Int = 16,
                            nTables: Int = 8): DataFrame = {
    val candidates =
      cosineLshCandidates(corpus, idCol, vecCol, dim, nBits, nTables)
    val vecs = corpus.select(col(idCol), toDoubleVec(col(vecCol)).as("__v"))
    candidates
      .join(vecs.withColumnRenamed(idCol, "id_a")
        .withColumnRenamed("__v", "__va"), Seq("id_a"))
      .join(vecs.withColumnRenamed(idCol, "id_b")
        .withColumnRenamed("__v", "__vb"), Seq("id_b"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      // NaN guard as in semDedupPairs: Spark sorts NaN above numbers,
      // so zero-norm vectors would otherwise pass the threshold
      .filter(col("cosine") >= threshold && !isnan(col("cosine")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /**
   * Symmetric int8 quantization of an embedding column — the
   * storage/bandwidth path of an embedding pipeline (4× smaller than
   * float32; brute-force/IVF scoring can run on the quantized codes).
   * Per vector: scale = maxAbs/127, q_i = clamp(round(v_i/scale),
   * −127, 127). Returned exploded to scalar rows
   * (id, dim, q, scale) so external engines can verify hash-exactly;
   * max-abs is an order-free reduction (no float-sum ordering hazard)
   * and the per-element arithmetic keeps the oracle's expression tree.
   */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = udf((v: Array[Float]) => {
      if (v == null) 0.0
      else {
        var m = 0.0
        var i = 0
        while (i < v.length) {
          val a = math.abs(v(i).toDouble)
          if (a > m) m = a
          i += 1
        }
        m
      }
    })
    df.filter(col(vecCol).isNotNull)
      .withColumn("__maxabs", maxAbs(col(vecCol)))
      .select(col(idCol), col("__maxabs"),
        posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col(idCol), col("dim"),
        when(col("__maxabs") === 0, lit(0))
          .otherwise(least(greatest(
            round(col("__x").cast("double") / (col("__maxabs") / lit(127.0))),
            lit(-127.0)), lit(127.0)))
          .cast("int").as("q"),
        (col("__maxabs") / lit(127.0)).as("scale"))
  }

  /** Reconstruction of a quantized row: v̂ = q·scale (error ≤ scale/2,
    * spec-asserted). */
  def dequantize(q: Column, scale: Column): Column =
    q.cast("double") * scale

  /**
   * Random-hyperplane cosine LSH signature (nBits sign bits packed into
   * a long): vectors in the same bucket are cosine-close with high
   * probability. Hyperplane components are deterministic pseudo-gaussians
   * derived from (bit, dim) via a seeded generator.
   */
  def cosineLshSignature(vec: Column, dim: Int, nBits: Int = 16,
                         seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
    val bits = planes.zipWithIndex.map { case (plane, b) =>
      val planeCol = array(plane.map(lit(_)).toIndexedSeq: _*)
      when(dot(toDoubleVec(vec), planeCol) > 0, shiftleft(lit(1L), b))
        .otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  // ---- Product quantization (Jégou et al., TPAMI'11) --------------------

  /** codebook(subspace)(code) = centroid of that subspace, as doubles.
    * Vectors are L2-normalized before training/encoding, so squared-L2
    * ADC distance is a monotone proxy for cosine (‖a−b‖² = 2 − 2·cosθ
    * on the unit sphere) and the exact re-rank stays cosine. */
  type PqCodebook = Array[Array[Array[Double]]]

  /** Persist a trained PQ codebook as parquet (one row per (subspace,
    * centroid) with the center as array<double>) — train once on a
    * corpus sample, reuse across sessions/jobs without retraining;
    * doubles round-trip parquet bit-exactly. */
  def savePqCodebook(spark: SparkSession, codebook: PqCodebook,
                     path: String): Unit = {
    import spark.implicits._
    val rows = for {
      s <- codebook.indices
      c <- codebook(s).indices
    } yield (s, c, codebook(s)(c).toSeq)
    rows.toDF("subspace", "centroid", "center")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /**
   * Persist a full IVF-PQ index as a STORAGE LAYOUT, not just a
   * codebook: the corpus is cell-assigned and written hive-partitioned
   * BY cell_id (`<path>/codes/cell_id=N/…`, via
   * [[Layout.writeCellPartitioned]]), so a query's probe filter prunes
   * INPUT SPLITS — files of unprobed cells are never opened, which at
   * 100 TB turns nProbe/nCells into an I/O fraction, not just a
   * compute fraction (spec-proven via scan metrics, same technique as
   * the z-order spec). Beside the codes: `<path>/cells` holds the
   * per-cell mean vectors (the probe-routing centroids — nCells·dim
   * doubles, broadcast-size) and `<path>/codebook` the trained PQ
   * codebook. The codes files keep the original vectors so the exact
   * re-rank of a probed shortlist reads only pruned files too.
   */
  def saveIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     path: String, nCells: Int, m: Int = 16, k: Int = 32,
                     iterations: Int = 3,
                     trainFraction: Double = 1.0): Unit = {
    require(trainFraction > 0 && trainFraction <= 1.0,
      s"trainFraction must be in (0,1]: $trainFraction")
    IndexLayout.requireIntegralId(corpus, idCol, "saveIvfPqIndex")
    val spark = corpus.sparkSession
    val assigned = ivfAssign(corpus, idCol, vecCol, nCells)
    // codebook training runs `iterations` full passes over its input;
    // at corpus scale train on a deterministic content-hash sample
    // (stable across runs, cluster sizes, and row order — same
    // convention as assignSplit; a seeded sample() is none of those).
    // Codes are still computed for EVERY row — only training samples.
    val trainSet =
      if (trainFraction >= 1.0) corpus
      else corpus.filter(
        pmod(xxhash64(col(idCol)), lit(10000L)) <
          lit(math.round(trainFraction * 10000)))
    val cb = pqTrain(trainSet, idCol, vecCol, m, k, iterations)
    val codes = pqEncode(assigned, idCol, vecCol, cb,
      keep = Seq("cell_id", vecCol))
    Layout.writeCellPartitioned(codes, "cell_id", s"$path/codes")
    cellMeans(assigned, vecCol)
      .write.mode("overwrite").parquet(s"$path/cells")
    savePqCodebook(spark, cb, s"$path/codebook")
    assigned.unpersist()
  }

  /**
   * Append new vectors to a [[saveIvfPqIndex]] layout WITHOUT
   * retraining — the index-maintenance path a growing corpus needs
   * (the minhash index's appendMinhashIndex twin). New rows route to
   * the nearest SAVED cell mean — the same geometry queries probe, and
   * the FAISS convention: coarse centroids are fixed at train time,
   * adds never move them — then encode with the SAVED codebook
   * (deterministic, so appended codes are byte-compatible with a
   * re-encode) and land as NEW files under their cells' partitions;
   * existing files are never rewritten and input-split pruning keeps
   * working unchanged. A corpus that drifts far from the train-time
   * geometry warrants a rebuild, not an append: the layout stores no
   * per-cell counts to re-estimate means incrementally, deliberately.
   */
  def appendIvfPqIndex(newRows: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val batch = IvfPqFamily.appendable(newRows, idCol, path, "appendIvfPqIndex")
    val spark = newRows.sparkSession
    val cb = loadPqCodebook(spark, s"$path/codebook")
    val (cellIds, centroids) =
      collectCentroids(
        spark.read.schema(CellsSchema).parquet(s"$path/cells"))
    val assigned = batch.filter(col(vecCol).isNotNull)
      .withColumn("cell_id", assignKernel(cellIds, centroids)(col(vecCol)))
    val codes = pqEncode(assigned, idCol, vecCol, cb,
      keep = Seq("cell_id", vecCol))
    Layout.appendCellPartitioned(codes, "cell_id", s"$path/codes")
  }

  /**
   * The delete lifecycle of a [[saveIvfPqIndex]] layout
   * ([[IndexLayout]]) — right-to-be-forgotten without rewriting the
   * cell-partitioned codes: tombstoned ids drop out below the codes
   * scan of every later [[ivfPqTopKIndexed]], and `compact` erases
   * their rows while folding append-accumulated small files back to
   * one per cell. `cells/` and `codebook/` are untouched — the coarse
   * geometry is fixed at train time (the append convention).
   */
  def ivfPqIndex(path: String): IndexHandle = IndexHandle(IvfPqFamily, path)

  private val IvfPqFamily = new IndexLayout.Family("ivfpq",
    roster = "codes", fixedCols = Set("cell_id", "pq_codes"),
    swapOrder = Seq("codes"), kernel = compactKernel)

  /** An index compacted down to zero rows has a codes dir with no data
    * files: nothing to erase, and clearing the tombstone list is the
    * whole compaction. A MISSING codes dir throws instead. */
  private def compactKernel(spark: SparkSession, path: String,
                            tomb: DataFrame): Boolean =
    Layout.readParquetIfData(spark, s"$path/codes").fold(false) { codes =>
      IndexLayout.liveRows(codes, col(IvfPqFamily.idField(codes.schema).name),
        tomb)
        .repartition(col("cell_id"))
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$path/codes.__compact")
      true
    }

  /**
   * IVF-PQ top-k over a [[saveIvfPqIndex]] layout. Probe cells are
   * chosen per query against the SAVED cell means; the codes table is
   * read with `cell_id IN (union of all queries' probes)`, which hive
   * partition pruning turns into never opening an unprobed cell's
   * files; the ADC/heap/re-rank kernel is delegated to [[ivfPqTopK]]
   * (ONE implementation — the same reason pqTopK delegates). The
   * delegate re-selects each query's probes over the pruned subset:
   * every query's true top-nProbe cells are in the union by
   * construction, and cells outside a query's true top-nProbe can't
   * outrank them, so the subset selection picks the same cells.
   */
  def ivfPqTopKIndexed(spark: SparkSession, path: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nProbe: Int,
                       shortlistFactor: Int = 8,
                       queryCollectLimit: Long = DefaultQueryCollectLimit
                      ): DataFrame = {
    val cb = loadPqCodebook(spark, s"$path/codebook")
    val (cellIds, centroids) =
      collectCentroids(
        spark.read.schema(CellsSchema).parquet(s"$path/cells"))
    // probed-cell UNION computed distributedly: probe selection runs
    // as a kernel over the query table against the broadcast centroid
    // matrix, and only the ≤ nCells distinct cell ids come back to the
    // driver (the input-split prune needs them as literals) — the
    // query vectors themselves never do
    val probeU = udf((v: Array[Float]) =>
      probeCellsFor(v, cellIds, centroids, nProbe))
    val probed = queries.filter(col(vecCol).isNotNull)
      .select(explode(probeU(col(vecCol))).as("__pc"))
      .distinct().collect().map(_.getLong(0)).sorted
    val probedSet = probed.toSet
    // a fully-tombstoned-and-compacted index has a codes dir with no
    // data files (schema inference throws): a valid empty index —
    // every query has zero neighbors. A MISSING dir throws instead
    // (swap-crash recovery state, never "empty").
    val codesRaw = Layout.readParquetIfData(spark, s"$path/codes")
      .getOrElse {
        val qIdType = queries.schema(idCol).dataType
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id", qIdType),
            org.apache.spark.sql.types.StructField("neighbor_id", qIdType),
            org.apache.spark.sql.types.StructField("rank",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("cosine",
              org.apache.spark.sql.types.DoubleType))))
      }
    // deleted vectors are dead to every query ([[ivfPqIndex]])
    val codes = IndexLayout.liveRows(
      codesRaw.filter(col("cell_id").isin(probed: _*)), col(idCol),
      ivfPqIndex(path).tombstones(spark))
    // the delegate re-selects per-query probes; hand it the SAVED
    // means (restricted to probed cells) instead of letting it
    // re-aggregate them from the pruned corpus — at scale that pass
    // reads every probed row once for nothing
    val kept = cellIds.indices.filter(i => probedSet(cellIds(i)))
    ivfPqTopK(codes, queries, idCol, vecCol, cb, k, nProbe,
      shortlistFactor,
      probeCenters = Some((kept.map(cellIds).toArray,
        kept.map(centroids).toArray)),
      queryCollectLimit = queryCollectLimit)
  }

  /** Load a codebook written by [[savePqCodebook]]. The collect is
    * m·k rows (codebook-sized, driver-bounded by construction). */
  def loadPqCodebook(spark: SparkSession, path: String): PqCodebook = {
    import spark.implicits._
    val rows = spark.read.schema(CodebookSchema).parquet(path)
      .select(col("subspace"), col("centroid"), col("center"))
      .as[(Int, Int, Seq[Double])].collect()
    val m = rows.map(_._1).max + 1
    val out: PqCodebook = Array.ofDim(m)
    rows.groupBy(_._1).foreach { case (s, rs) =>
      out(s) = rs.sortBy(_._2).map(_._3.toArray).toArray
    }
    out
  }

  private def l2normalize(v: Array[Float]): Array[Double] = {
    var n = 0.0
    var i = 0
    while (i < v.length) { n += v(i).toDouble * v(i); i += 1 }
    val inv = if (n == 0) 0.0 else 1.0 / math.sqrt(n)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  /** Squared L2 between a subvector of `v` (offset, len) and a centroid. */
  private def subDist(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < c.length) { val t = v(off + i) - c(i); d += t * t; i += 1 }
    d
  }

  /**
   * Train a PQ codebook: `m` subspaces × `k` centroids, deterministic
   * seeding (sub-centroids from the first k corpus vectors by id, like
   * ivfAssign), then `iterations` of distributed Lloyd — each
   * iteration is ONE pass: per-partition sum/count accumulators
   * (m·k·subDim QUANTIZED LONGS since r11, ~KBs) collected and meaned
   * on the driver; integer sums are order-free, so the codebook is
   * bit-identical at any partition layout (PqPinSpec — the basis of
   * the PQ-family outcome pins). Empty clusters keep their previous
   * centroid. Requires m | dim.
   */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 16, k: Int = 32, iterations: Int = 3): PqCodebook = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    val seeds = vecs.orderBy(col(idCol).asc).limit(k).collect()
      .map(r => l2normalize(r._2))
    require(seeds.nonEmpty, "pqTrain: empty corpus")
    val dim = seeds.head.length
    require(dim % m == 0, s"pqTrain: m=$m must divide dim=$dim")
    val subDim = dim / m
    var codebook: PqCodebook = Array.tabulate(m, k) { (s, c) =>
      val src = seeds(c % seeds.length)
      java.util.Arrays.copyOfRange(src, s * subDim, (s + 1) * subDim)
    }
    (0 until iterations).foreach { _ =>
      val cbB = spark.sparkContext.broadcast(codebook)
      val partials = vecs.mapPartitions { it =>
        val cb = cbB.value
        // QUANTIZED-LONG moment accumulation (the Pca.train
        // discipline, r11): each row's contribution quantizes to a
        // long at 2^-24 resolution and the centroid update becomes
        // exact INTEGER addition — order-free, so the trained
        // codebook is bit-identical across partition layouts, task
        // scheduling, and cluster sizes (spec-pinned), which is what
        // lets the PQ/OPQ gates pin their outcomes as oracles. The
        // assignment step was always a pure per-row function; the
        // float centroid-update sum was the ONE order-dependent step
        // in the family. Normalized coordinates are in [-1, 1], so a
        // long holds ~2^39 rows per (subspace, centroid) bucket
        // before overflow — far beyond any task's share.
        val sums = Array.ofDim[Long](m, k, subDim)
        val counts = Array.ofDim[Long](m, k)
        it.foreach { case (_, vf) =>
          val v = l2normalize(vf)
          var s = 0
          while (s < m) {
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < k) {
              val d = subDist(v, s * subDim, cb(s)(c))
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            var i = 0
            while (i < subDim) {
              sums(s)(best)(i) +=
                math.rint(v(s * subDim + i) * PqQuantScale).toLong
              i += 1
            }
            counts(s)(best) += 1
            s += 1
          }
        }
        Iterator.single((sums, counts))
      }.collect()
      codebook = Array.tabulate(m, k) { (s, c) =>
        val n = partials.map(_._2(s)(c)).sum
        if (n == 0) codebook(s)(c)
        else {
          val sum = new Array[Long](subDim)
          partials.foreach { p =>
            var i = 0
            while (i < subDim) { sum(i) += p._1(s)(c)(i); i += 1 }
          }
          val out = new Array[Double](subDim)
          var i = 0
          while (i < subDim) {
            out(i) = sum(i).toDouble / (PqQuantScale * n.toDouble)
            i += 1
          }
          out
        }
      }
    }
    codebook
  }

  /** Quantization scale for [[pqTrain]]'s order-free centroid sums:
    * 2^24 ≈ 6e-8 resolution on normalized coordinates — ~1e5 times
    * finer than any centroid separation that matters for code
    * assignment, and small enough that a long never overflows at any
    * realistic bucket population. */
  private val PqQuantScale: Double = (1L << 24).toDouble

  /** Encode each vector as m one-byte codes (nearest sub-centroid per
    * subspace) — dim·4 bytes → m bytes, the 100 TB memory story.
    * Returns (id, keep..., pq_codes BINARY); `keep` carries extra
    * columns (e.g. an IVF cell_id) through unchanged. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebook: PqCodebook, keep: Seq[String] = Nil): DataFrame = {
    val m = codebook.length
    val k = codebook(0).length
    val subDim = codebook(0)(0).length
    val cbB = corpus.sparkSession.sparkContext.broadcast(codebook)
    val enc = udf((vf: Array[Float]) => {
      val cb = cbB.value
      val v = l2normalize(vf)
      val codes = new Array[Byte](m)
      var s = 0
      while (s < m) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val d = subDist(v, s * subDim, cb(s)(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(s) = best.toByte
        s += 1
      }
      codes
    })
    corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol) +: keep.map(col) :+ enc(col(vecCol)).as("pq_codes"): _*)
  }

  /**
   * PQ top-k with exact re-rank: ADC (asymmetric distance — per query
   * ONE m×k lookup table, then each corpus row costs m table reads)
   * selects a `shortlistFactor`·k candidate set per query; the
   * shortlist is re-scored with exact cosine against the original
   * vectors and the final top-k ranked (cosine desc, id asc).
   * Queries are broadcast; the corpus pass is one narrow scan of the
   * m-byte codes — at scale the codes table is ~dim·4/m smaller than
   * the vectors, and only |shortlist| rows ever touch the originals.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebook: PqCodebook, k: Int,
             shortlistFactor: Int = 8): DataFrame =
    // one synthetic cell + one probe = the IVF-PQ machinery with the
    // cell structure degenerate: identical ADC/heap/re-rank semantics,
    // ONE implementation to fix (the two bodies had already drifted on
    // the NaN-cosine guard before this delegation). The probe center
    // is a dummy ones vector — with a single cell the selection can
    // only ever pick it (NaN only for an all-zero query, which finds
    // nothing either way), and supplying it skips the full-corpus
    // cell-means pass the delegate would otherwise run.
    ivfPqTopK(corpus.filter(col(vecCol).isNotNull)
        .withColumn("cell_id", lit(0L)),
      queries, idCol, vecCol, codebook, k, nProbe = 1, shortlistFactor,
      probeCenters = Some((Array(0L),
        Array(Array.fill(codebook.length * codebook(0)(0).length)(1.0)))))

  /**
   * IVF-PQ top-k — the FAISS IVF-ADC composition (Jégou et al. 2011,
   * "Product Quantization for Nearest Neighbor Search" §V): route each
   * query to its `nProbe` nearest cell-mean centroids, ADC-score only
   * rows whose cell is probed for that query on their m-byte PQ codes
   * (bounded per-partition heaps — the pqTopK shape), then exact-cosine
   * re-rank of the shortlist. Doubly approximate (cell recall × code
   * quantization); recall vs brute force is spec-asserted.
   *
   * Scale: the scan reads the m-byte codes column only (codes table is
   * ~dim·4/m smaller than the vectors); ADC work is pruned to probed
   * cells per query; at cluster scale partition the codes table BY
   * cell_id so the probe prunes input splits too, not just compute.
   * Only |shortlist| rows per query ever touch the original vectors.
   */
  def ivfPqTopK(corpusWithCells: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, codebook: PqCodebook,
                k: Int, nProbe: Int, shortlistFactor: Int = 8,
                probeCenters: Option[(Array[Long], Array[Array[Double]])] =
                  None,
                queryCollectLimit: Long = DefaultQueryCollectLimit
               ): DataFrame = {
    val spark = corpusWithCells.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val m = codebook.length
    val kCent = codebook(0).length
    val subDim = codebook(0)(0).length
    // probe-routing centroids: computing cell means is a full
    // aggregation pass over the corpus, so callers that already hold
    // them (the persisted index; pqTopK's degenerate single cell)
    // pass them in and skip the pass
    val (cellIds, centroids) = probeCenters.getOrElse(
      collectCentroids(cellMeans(corpusWithCells, vecCol)))
    val qNN = queries.filter(col(vecCol).isNotNull)
    // the broadcast-kernel path funnels the query batch through the
    // driver by design (each executor needs every query's ADC table);
    // a query TABLE, not batch, must instead meet the corpus in a
    // cell equijoin — same output, no driver bound
    // bounded-scan plan pick (never a full count of the query lineage)
    if (!atMost(qNN, queryCollectLimit)) {
      lastIvfPqQueryMode.set("cell-join")
      return ivfPqTopKJoined(corpusWithCells, qNN, idCol, vecCol,
        codebook, k, nProbe, shortlistFactor, cellIds, centroids)
    }
    lastIvfPqQueryMode.set("broadcast-kernel")
    val qArr = qNN
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
    val probeSets: Array[Array[Long]] =
      selectProbes(qArr, cellIds, centroids, nProbe)
    val qNorm = qArr.map { case (id, v) => (id, l2normalize(v)) }
    val qB = spark.sparkContext.broadcast(qNorm)
    val probesB = spark.sparkContext.broadcast(probeSets)
    val cbB = spark.sparkContext.broadcast(codebook)
    val shortlist = math.max(k * shortlistFactor, k)

    // reuse precomputed codes when the corpus already carries them
    // (the saveIvfPqIndex layout stores m-byte codes beside the
    // vectors; the encoder is deterministic, so codes written with
    // this codebook are byte-identical to a re-encode) — otherwise
    // encode in-flight
    val withCodes =
      if (corpusWithCells.columns.contains("pq_codes")) corpusWithCells
      else pqEncode(corpusWithCells, idCol, vecCol, codebook,
        keep = Seq("cell_id"))
    val encoded = withCodes
      .select(col(idCol).cast("long").as("neighbor_id"),
        col("cell_id").cast("long"), col("pq_codes"))
      .as[(Long, Long, Array[Byte])]
    val candidates = encoded.mapPartitions { it =>
      val cb = cbB.value
      val qs = qB.value
      val probes = probesB.value
      val tables = qs.map { case (_, qv) =>
        val t = Array.ofDim[Double](m, kCent)
        var s = 0
        while (s < m) {
          var c = 0
          while (c < kCent) { t(s)(c) = subDist(qv, s * subDim, cb(s)(c)); c += 1 }
          s += 1
        }
        t
      }
      val heapOrd = Ordering.Tuple2(
        Ordering.Double.TotalOrdering, Ordering.Long)
      val heaps = qs.map(_ =>
        new java.util.PriorityQueue[(Double, Long)](shortlist + 1,
          heapOrd.reverse))
      it.foreach { case (nid, cell, codes) =>
        var q = 0
        while (q < qs.length) {
          // ADC only when this row's cell is probed for this query
          // (nProbe is small — the linear membership scan beats a set)
          var probed = false
          val pc = probes(q)
          var j = 0
          while (j < pc.length && !probed) { probed = pc(j) == cell; j += 1 }
          if (probed && qs(q)._1 != nid) {
            val t = tables(q)
            var d = 0.0
            var s = 0
            while (s < m) { d += t(s)(codes(s) & 0xff); s += 1 }
            val h = heaps(q)
            if (h.size < shortlist) h.add((d, nid))
            else {
              val top = h.peek()
              if (d < top._1 || (d == top._1 && nid < top._2)) {
                h.poll(); h.add((d, nid))
              }
            }
          }
          q += 1
        }
      }
      heaps.iterator.zip(qs.iterator).flatMap { case (h, (qid, _)) =>
        h.iterator().asScala.map { case (d, nid) => (qid, nid, d) }
      }
    }.toDF("query_id", "neighbor_id", "adc")

    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val short = candidates
      .withColumn("__rs", row_number().over(wShort))
      .filter(col("__rs") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qDf = qNorm.toSeq.toDF("query_id", "__qv")
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    short
      .join(corpusWithCells.select(col(idCol).cast("long").as("neighbor_id"),
        toDoubleVec(col(vecCol)).as("__cv")), Seq("neighbor_id"))
      .join(broadcast(qDf), Seq("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .filter(!isnan(col("cosine")))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /**
   * Large-query-table IVF-PQ top-k: the no-driver-funnel twin of the
   * broadcast-kernel path above, for query sets too big to collect.
   *
   * Plan: per-query probe cells are selected DISTRIBUTEDLY against the
   * broadcast centroid matrix (nCells·dim doubles — the only driver
   * state) and exploded to (query, probe_cell) rows; a shuffle-hash
   * equijoin on cell meets them with the m-byte PQ codes (both sides
   * hash-partitioned by cell — at cluster scale the codes side is
   * already cell-partitioned on disk, and AQE's skew-join splitting
   * covers hub cells); ADC runs per joined row with per-partition
   * heaps bounding every query to `shortlist` survivors BEFORE the
   * ranking shuffle (the partial-aggregation analog — a query's window
   * input is ≤ nProbe·shortlist rows, not its full probed volume);
   * the exact cosine re-rank joins the original vectors for shortlist
   * rows only, with the query side joined, not broadcast.
   *
   * Output is identical to the kernel path: one shared probe selector
   * ([[probeCellsFor]]), the ADC sum unrolled in the same subspace
   * order over the same subDist values, the same (adc, id) shortlist
   * order and (cosine desc, id) final order — spec-asserted equal.
   */
  private def ivfPqTopKJoined(corpusWithCells: DataFrame, qNN: DataFrame,
      idCol: String, vecCol: String, codebook: PqCodebook,
      k: Int, nProbe: Int, shortlistFactor: Int,
      cellIds: Array[Long], centroids: Array[Array[Double]]): DataFrame = {
    val spark = corpusWithCells.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val m = codebook.length
    val subDim = codebook(0)(0).length
    val shortlist = math.max(k * shortlistFactor, k)
    val probeU = udf((v: Array[Float]) =>
      probeCellsFor(v, cellIds, centroids, nProbe))
    val qp = qNN
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("__qf"))
      .withColumn("__probe_cell", explode(probeU(col("__qf"))))
    val withCodes =
      if (corpusWithCells.columns.contains("pq_codes")) corpusWithCells
      else pqEncode(corpusWithCells, idCol, vecCol, codebook,
        keep = Seq("cell_id"))
    val codes = withCodes
      .select(col(idCol).cast("long").as("neighbor_id"),
        col("cell_id").cast("long").as("cell_id"), col("pq_codes"))
    val cbB = spark.sparkContext.broadcast(codebook)
    val joined = codes
      .join(qp.hint("shuffle_hash"),
        col("cell_id") === col("__probe_cell") &&
          col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("__qf"), col("neighbor_id"),
        col("pq_codes"))
      .as[(Long, Array[Float], Long, Array[Byte])]
    val candidates = joined.mapPartitions { it =>
      val cb = cbB.value
      val heapOrd = Ordering.Tuple2(
        Ordering.Double.TotalOrdering, Ordering.Long)
      // per-partition state is bounded by (queries present in this
      // partition) × shortlist — a query probes nProbe cells, so it
      // appears in at most nProbe partitions of the cell shuffle
      val heaps =
        new java.util.HashMap[Long, java.util.PriorityQueue[(Double, Long)]]()
      val qnorms = new java.util.HashMap[Long, Array[Double]]()
      it.foreach { case (qid, qf, nid, pq) =>
        var qn = qnorms.get(qid)
        if (qn == null) { qn = l2normalize(qf); qnorms.put(qid, qn) }
        // same IEEE tree as the kernel path's table walk: subDist
        // values accumulated in ascending subspace order
        var d = 0.0
        var s = 0
        while (s < m) {
          d += subDist(qn, s * subDim, cb(s)(pq(s) & 0xff)); s += 1
        }
        var h = heaps.get(qid)
        if (h == null) {
          h = new java.util.PriorityQueue[(Double, Long)](
            shortlist + 1, heapOrd.reverse)
          heaps.put(qid, h)
        }
        if (h.size < shortlist) h.add((d, nid))
        else {
          val top = h.peek()
          if (d < top._1 || (d == top._1 && nid < top._2)) {
            h.poll(); h.add((d, nid))
          }
        }
      }
      heaps.entrySet().iterator().asScala.flatMap { e =>
        e.getValue.iterator().asScala.map {
          case (d, nid) => (e.getKey.longValue(), nid, d)
        }
      }
    }.toDF("query_id", "neighbor_id", "adc")
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    val short = candidates
      .withColumn("__rs", row_number().over(wShort))
      .filter(col("__rs") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val l2normU = udf((v: Array[Float]) => l2normalize(v))
    val qDf = qNN.select(col(idCol).cast("long").as("query_id"),
      l2normU(col(vecCol)).as("__qv"))
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    short
      .join(corpusWithCells.select(col(idCol).cast("long").as("neighbor_id"),
        toDoubleVec(col(vecCol)).as("__cv")), Seq("neighbor_id"))
      .join(qDf, Seq("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .filter(!isnan(col("cosine")))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /**
   * SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
   * arXiv:2303.09540): k-means-bucket the embedding space (IVF seed +
   * Lloyd refinement), then exact cosine ONLY within a cell. The cell
   * structure is what makes semantic dedup tractable at corpus scale —
   * candidate generation is a self-equijoin on cell_id (shuffle-
   * partitioned by cell, AQE-splittable), never an all-pairs compare.
   * Approximate by construction: a near-dup pair split across two
   * cells is missed (recall measured against the exact baseline in
   * specs; the paper accepts the same trade).
   *
   * Returns (id_a < id_b, cosine ≥ threshold) pairs feeding
   * [[graft.ops.Clusters.dedupByPairs]] — or [[semDedup]] below for
   * the fused form.
   *
   * `maxCellSize` bounds the within-cell quadratic term: cells above
   * the cap switch from the all-pairs self-join to a star compare
   * against 8 deterministic per-cell representatives (rationale at
   * the branch below). Unlimited by default — small-corpus callers
   * keep exact within-cell pair semantics.
   */
  def semDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, threshold: Double,
                    refineIterations: Int = 2,
                    maxCellSize: Int = Int.MaxValue): DataFrame = {
    require(maxCellSize > 1, s"maxCellSize must exceed 1: $maxCellSize")
    val seeded = ivfAssign(corpus, idCol, vecCol, nCells)
    val assigned = ivfRefine(seeded, idCol, vecCol, refineIterations)
    // Oversized-cell ids are resolved ON THE DRIVER from the size
    // aggregate: post-agg it is ≤ nCells rows (driver-bounded by the
    // caller's cell count), and the scan it runs is column-pruned to
    // cell_id against the cached columnar assignment — it never touches
    // the wide vector column. The common no-hub case (and the default
    // Int.MaxValue cap, where no size pass runs at all) then keeps the
    // original two-vector-scan plan: no size-tag join, and no empty
    // star-branch jobs re-reading the vectors just to find zero rows —
    // that extra traffic was a measured 3.5× regression on the hashed
    // text corpus. With hubs present, membership splits on a broadcast
    // hash-set `isin` over cell_id, pushable into the cached scan.
    val overCells: Seq[Long] =
      if (maxCellSize == Int.MaxValue) Nil
      else assigned.groupBy(col("cell_id"))
        .agg(count(lit(1)).as("__csz"))
        .filter(col("__csz") > maxCellSize)
        .select(col("cell_id")).collect().map(_.getLong(0)).toSeq
    val ok =
      if (overCells.isEmpty) assigned
      else assigned.filter(!col("cell_id").isin(overCells: _*))
    val a = ok.select(col("cell_id"),
      col(idCol).as("id_a"), toDoubleVec(col(vecCol)).as("__va"))
    val b = ok.select(col("cell_id"),
      col(idCol).as("id_b"), toDoubleVec(col(vecCol)).as("__vb"))
    val allPairs = a.join(b, Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      // Spark orders NaN ABOVE every number, so a zero-norm vector's
      // NaN cosine would pass `>= threshold` and weld its whole cell
      // into one component; exclude it explicitly (Java kernel paths
      // already do — NaN >= x is false on the JVM)
      .filter(col("cosine") >= threshold && !isnan(col("cosine")))
      .select(col("id_a"), col("id_b"), col("cosine"))
    // oversized cells — the embedding family's hub-key case (a dense
    // near-dup region routes millions of rows into one cell, and the
    // within-cell self-join above goes quadratic on exactly the input
    // that produces near-quadratic output). For COMPONENT-forming
    // pairs, connectivity is enough: compare each member to 8
    // deterministic per-cell representatives (argmin of 8 salted
    // hashes — min_by aggregates, partial-combined map-side, the same
    // de-funnel idiom as Merger.bestPerTarget; no window, no
    // collect_list). A giant near-dup clique stays fully connected
    // through its reps at O(c·8) cost; a diffuse oversized cell loses
    // the member-member pairs whose endpoints are both far from every
    // rep — the same approximate-by-construction trade the cell
    // structure itself already makes, now with a bounded worst case.
    // The branch is elided entirely when no cell exceeds the cap, so
    // the common case pays zero extra scans of the wide vector column.
    val merged = if (overCells.isEmpty) allPairs else {
      val over = assigned.filter(col("cell_id").isin(overCells: _*))
      val repAggs = (0 until 8).map(i =>
        min_by(struct(col(idCol).as("__rid"),
          toDoubleVec(col(vecCol)).as("__rv")),
          xxhash64(col(idCol), lit(i))).as(s"__rep$i"))
      val reps = over.groupBy(col("cell_id"))
        .agg(repAggs.head, repAggs.tail: _*)
        .select(col("cell_id"), explode(array(
          (0 until 8).map(i => col(s"__rep$i")): _*)).as("__rep"))
        .select(col("cell_id"), col("__rep.__rid").as("__rid"),
          col("__rep.__rv").as("__rv"))
        .dropDuplicates("cell_id", "__rid")
      val starPairs = over
        .select(col("cell_id"), col(idCol).as("__mid"),
          toDoubleVec(col(vecCol)).as("__mv"))
        .join(broadcast(reps), Seq("cell_id"))
        .filter(col("__mid") =!= col("__rid"))
        .withColumn("cosine", cosine(col("__mv"), col("__rv")))
        .filter(col("cosine") >= threshold && !isnan(col("cosine")))
        .select(least(col("__mid"), col("__rid")).as("id_a"),
          greatest(col("__mid"), col("__rid")).as("id_b"), col("cosine"))
        // a rep-rep pair arises once from each side's member scan
        .dropDuplicates("id_a", "id_b")
      allPairs.unionByName(starPairs)
    }
    val pairs = merged
      // pairs are re-read by connectedComponents' star rounds, so this
      // cache is needed anyway; materializing it here lets the two
      // corpus-sized upstream caches (seed assignment + refined
      // generation) be released instead of leaking until clearCache —
      // what survives is bounded by the near-dup match volume
      .persist()
    pairs.count()
    if (assigned ne seeded) assigned.unpersist()
    seeded.unpersist()
    pairs
  }

  /** SemDeDup survivors: one minimum-id representative per semantic
    * near-dup component, plus every vector in no component. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               nCells: Int, threshold: Double,
               refineIterations: Int = 2,
               maxCellSize: Int = Int.MaxValue): DataFrame =
    Clusters.dedupByPairs(corpus, idCol,
      semDedupPairs(corpus, idCol, vecCol, nCells, threshold,
        refineIterations, maxCellSize))

  // --------------------------------------------------------------------
  // OPQ: PCA-rotated product quantization (Ge et al. 2014, "Optimized
  // Product Quantization", the parametric solution §4) — PQ quantizes
  // the m subspaces independently, so when the encoder's variance is
  // concentrated in a few raw dimensions one subspace carries all the
  // signal and the other codebooks quantize noise. An orthonormal
  // rotation is free for cosine search (it preserves inner products),
  // so rotate onto the PCA basis and PERMUTE the principal directions
  // across subspaces to balance each subspace's variance product
  // (greedy eigenvalue allocation) before encoding.
  // --------------------------------------------------------------------

  /** Greedy OPQ eigenvalue allocation: components arrive sorted by
    * descending eigenvalue; each goes to the smallest-log-product
    * subspace among the LEAST-FILLED ones. The count restriction
    * matters: an unrestricted min-product greedy breaks down whenever
    * eigenvalues are below 1 (always true for normalized vectors,
    * whose eigenvalues sum to ≤ 1) — adding a component then SHRINKS
    * a bucket's product, so the "smallest" bucket is the one just
    * filled and every strong component lands in subspace 0, the exact
    * imbalance the allocation exists to prevent. Restricting to
    * minimal count makes each round of m assignments deal the largest
    * remaining eigenvalues across all m subspaces, weakest-product
    * bucket first. Returns the component index assigned to each
    * OUTPUT dimension (subspace s owns output dims [s·subDim,
    * (s+1)·subDim)). Deterministic — lowest index wins ties. */
  private[graft] def allocateEigen(eig: Array[Double], m: Int): Array[Int] = {
    val dim = eig.length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val logSum = new Array[Double](m)
    val members = Array.fill(m)(List.empty[Int])
    (0 until dim).foreach { c =>
      val minCount = members.iterator.map(_.length).filter(_ < subDim).min
      var best = -1
      var s = 0
      while (s < m) {
        if (members(s).length == minCount &&
            (best < 0 || logSum(s) < logSum(best))) best = s
        s += 1
      }
      logSum(best) += math.log(math.max(eig(c), 1e-12))
      members(best) ::= c
    }
    members.flatMap(_.reverse)
  }

  /**
   * Train an OPQ rotation for `m` subspaces: full-dimension PCA over
   * the L2-NORMALIZED vectors (what [[pqTrain]]/[[pqEncode]] actually
   * see), rows permuted by [[allocateEigen]]. Returned matrix R is
   * orthonormal; apply as y = R·x via [[rotateVecs]]. No centering —
   * a translation would change cosines, a pure rotation cannot.
   *
   * Scale: the PCA pass is one treeAggregate (driver holds dim²/2
   * moment accumulators, [[graft.ops.Pca]]); the eigensolve is
   * dim×dim on the driver. Train-once, rotate-anywhere: the matrix is
   * model-sized and broadcast-safe.
   */
  def opqRotation(corpus: DataFrame, vecCol: String, m: Int)
      : Array[Array[Double]] = {
    val unit = udf((v: Array[Float]) =>
      if (v == null) null
      else { val d = l2normalize(v); d.map(_.toFloat) })
    val normed = corpus.filter(col(vecCol).isNotNull)
      .select(unit(col(vecCol)).as(vecCol))
    val model = Pca.train(normed, vecCol, k = {
      val dim = normed.select(size(col(vecCol))).limit(1)
        .collect()(0).getInt(0)
      dim
    })
    val order = allocateEigen(model.eigenvalues, m)
    order.map(model.components(_))
  }

  /** y = R·x over an array&lt;float&gt; column — narrow broadcast-matrix
    * kernel, no shuffle; nulls pass through. */
  def rotateVecs(df: DataFrame, vecCol: String,
                 rotation: Array[Array[Double]],
                 outCol: String = "__rotated"): DataFrame = {
    val rB = df.sparkSession.sparkContext.broadcast(rotation)
    val rot = udf((x: Array[Float]) => {
      if (x == null) null
      else {
        val r = rB.value
        val out = new Array[Float](r.length)
        var i = 0
        while (i < r.length) {
          val row = r(i)
          var s = 0.0
          var j = 0
          while (j < row.length) { s += row(j) * x(j); j += 1 }
          out(i) = s.toFloat
          i += 1
        }
        out
      }
    })
    df.withColumn(outCol, rot(col(vecCol)))
  }

  /** Persist an OPQ rotation as parquet (one row per output dim with
    * its direction as array&lt;double&gt;) — train once, rotate anywhere;
    * doubles round-trip parquet bit-exactly, so saved-then-loaded
    * rotations produce byte-identical codes. */
  def saveOpqRotation(spark: SparkSession, rotation: Array[Array[Double]],
                      path: String): Unit = {
    import spark.implicits._
    rotation.indices.map(r => (r, rotation(r).toSeq))
      .toDF("row_idx", "direction")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  /** Load a rotation written by [[saveOpqRotation]] (dim rows —
    * model-sized, driver-bounded by construction). */
  def loadOpqRotation(spark: SparkSession, path: String)
      : Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("row_idx"), col("direction"))
      .as[(Int, Seq[Double])].collect()
      .sortBy(_._1).map(_._2.toArray)
  }

  /**
   * PQ top-k in the OPQ-rotated space: rotate corpus and queries by a
   * shared [[opqRotation]], train the codebook and ADC-score there,
   * exact-cosine re-rank as in [[pqTopK]]. Rotation preserves inner
   * products, so the reported cosines rank identically to unrotated
   * space (up to float32 rounding of the rotated coordinates) — what
   * changes is code quality: balanced per-subspace variance lowers
   * quantization error, which shows up as shortlist recall. Recall
   * vs plain PQ on variance-skewed data is spec-asserted.
   */
  def opqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, m: Int = 16, kCent: Int = 32,
              iterations: Int = 3, shortlistFactor: Int = 8): DataFrame = {
    val rotation = opqRotation(corpus, vecCol, m)
    def rotated(df: DataFrame) =
      rotateVecs(df.filter(col(vecCol).isNotNull), vecCol, rotation)
        .select(col(idCol), col("__rotated").as(vecCol))
    val rc = rotated(corpus)
    val rq = rotated(queries)
    val cb = pqTrain(rc, idCol, vecCol, m, kCent, iterations)
    pqTopK(rc, rq, idCol, vecCol, cb, k, shortlistFactor)
  }

  /**
   * k-center greedy coreset selection (farthest-point sampling — the
   * classic 2-approximation to the k-center cover, Gonzalez 1985; the
   * diversity-subset selector behind embedding-based data-selection
   * recipes): start from the smallest id, then k−1 times pick the
   * point FARTHEST (max cosine distance, smallest id on ties) from
   * the already-chosen set. The selection covers the embedding space
   * — every point is within the final coverage radius of a chosen
   * center — which is exactly what "pick k maximally diverse
   * examples" means.
   *
   * Scale shape: the O(k·n) incremental form — a running min-distance
   * column updated each round against only the ONE new center (a
   * broadcast literal vector, no join); the global argmax is a
   * TakeOrdered(1) (per-partition max + driver merge of nPartitions
   * rows — never a global sort). Chosen points are MARKED with
   * dmin = −1 in the same pass (below every real distance, so the
   * argmax can never re-pick them) rather than filtered by an
   * accumulated `isin` list — a k-literal predicate would cost the
   * analyzer O(k²) over the run. Each round's state materializes via
   * localCheckpoint, so the plan stays constant-size at any k (the
   * hits-loop lesson); superseded rounds' checkpoint blocks spill to
   * disk and free on GC (bounded by k·|corpus| transiently — k is a
   * sample size, not data-scale). Driver state is k centers — bounded
   * by construction, the KMeans-seeds convention.
   *
   * BATCHED rounds, exactly sequential output: each round fetches the
   * top-(batchSize+1) points by (dmin desc, id asc) and replays the
   * sequential greedy on the driver inside that window, folding each
   * accepted center's distance into the remaining candidates' running
   * min (p·dim flops — candidate-window-sized). The (batchSize+1)-th
   * point's dmin is a THRESHOLD: every point outside the window has
   * (dmin, id) at or below it, and in-window updates only decrease, so
   * while the in-window argmax stays STRICTLY above the threshold it
   * is provably the global sequential pick; the batch stops at the
   * first pick that isn't, and the next distributed round re-fetches.
   * (The first pick of every round is always exact — its dmin is
   * un-updated and the fetch order already ranks it above everything.)
   * Jobs drop from 2k to ~2k/accepted-per-batch; output is the
   * sequential greedy's, bit for bit.
   *
   * Zero-norm vectors have no cosine direction and can never add
   * diversity; they are EXCLUDED up front. (Leaving them in would be
   * worse than useless at the seed: a zero-norm seed makes every
   * initial dmin collapse to 0 through the nanvl guard and the
   * selection degenerates to the k smallest ids.) The nanvl guard
   * stays as defense in depth only.
   *
   * Output: (order, id, dist) — selection order (0-based), the chosen
   * id, and its min cosine distance to the prior centers at selection
   * time (order 0 has dist NULL; the LAST row's dist is the final
   * coverage radius' lower bound sequence, monotone non-increasing).
   */
  def kCenterGreedy(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, batchSize: Int = 16): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(batchSize >= 1, s"batchSize must be >= 1: $batchSize")
    val spark = corpus.sparkSession
    import spark.implicits._
    def vecLit(v: Array[Double]): Column = array(v.map(lit).toIndexedSeq: _*)
    val sqNorm = aggregate(col("__v"), lit(0.0), (acc, x) => acc + x * x)
    val c = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        toDoubleVec(col(vecCol)).as("__v"))
      .filter(sqNorm > 0.0)
    val seed = c.orderBy(col("id").asc).limit(1)
      .as[(Long, Seq[Double])].collect()
    require(seed.nonEmpty, "empty corpus (or all vectors zero-norm)")
    var selected = List((seed(0)._1, seed(0)._2.toArray,
      null.asInstanceOf[java.lang.Double]))
    var state = c
      .withColumn("__dmin",
        when(col("id") === seed(0)._1, lit(-1.0)).otherwise(
          nanvl(lit(1.0) - cosine(col("__v"), vecLit(seed(0)._2.toArray)),
            lit(0.0))))
      .localCheckpoint()
    var nSel = 1
    var exhausted = false
    while (nSel < k && !exhausted) {
      val cand = state
        .filter(col("__dmin") >= 0.0)
        .orderBy(col("__dmin").desc, col("id").asc)
        .limit(batchSize + 1)
        .as[(Long, Seq[Double], Double)].collect()
      if (cand.isEmpty) exhausted = true
      else {
        // the exactness threshold: best (dmin, id) outside the window
        val tVal =
          if (cand.length > batchSize) cand(batchSize)._3
          else Double.NegativeInfinity
        val win = cand.take(batchSize)
          .map(r => (r._1, r._2.toArray, r._3))
        val upd = win.map(_._3)
        val taken = new Array[Boolean](win.length)
        val accepted =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        var go = true
        while (go && nSel + accepted.length < k) {
          var best = -1
          var i = 0
          while (i < win.length) {
            if (!taken(i) && (best < 0 || upd(i) > upd(best) ||
                (upd(i) == upd(best) && win(i)._1 < win(best)._1))) best = i
            i += 1
          }
          // first pick of the round is exact unconditionally; later
          // picks only while strictly above the outside threshold
          if (best < 0 || (accepted.nonEmpty && !(upd(best) > tVal))) go = false
          else {
            taken(best) = true
            accepted += ((win(best)._1, win(best)._2, upd(best)))
            val cv = win(best)._2
            i = 0
            while (i < win.length) {
              if (!taken(i)) {
                val d = 1.0 - cosineDD(win(i)._2, cv)
                val dd = if (java.lang.Double.isNaN(d)) 0.0 else d
                if (dd < upd(i)) upd(i) = dd
              }
              i += 1
            }
          }
        }
        accepted.foreach { case (aid, avec, ad) =>
          selected = (aid, avec, java.lang.Double.valueOf(ad)) :: selected
        }
        nSel += accepted.length
        if (nSel < k) {
          // ONE state pass folds the whole batch: the running min
          // absorbs every accepted center, accepted ids get marked
          val acceptedIds = accepted.map(_._1)
          var dExpr: Column = col("__dmin")
          accepted.foreach { case (_, avec, _) =>
            dExpr = least(dExpr,
              nanvl(lit(1.0) - cosine(col("__v"), vecLit(avec)), lit(0.0)))
          }
          state = state
            .withColumn("__dmin",
              when(col("id").isin(acceptedIds.toSeq: _*), lit(-1.0))
                .otherwise(dExpr))
            .localCheckpoint()
        }
      }
    }
    selected.reverse.zipWithIndex
      .map { case ((id, _, d), i) =>
        (i.toLong, id, Option(d).map(_.doubleValue)) }
      .toDF("order", "id", "dist")
  }

  /**
   * Embedding drift between two corpus snapshots — the
   * model-retraining tripwire: per key (class, language, source…),
   * compare the CENTROIDS of the before/after embedding sets. A
   * centroid cosine well below 1 means the population this key feeds
   * the model MOVED (new scraper, upstream encoder change, poisoned
   * source) — the vector-space face of [[graft.operators
   * .Audits.tableDiff]], built to diff two [[graft.sources
   * .SnapshotStore]] versions of an embeddings table.
   *
   * Scale shape: each side is one posexplode + (key, pos) map-side-
   * combined aggregate (dim × rows intermediate, aggregated before any
   * join), then key-cardinality rows re-assemble per-key mean vectors
   * and join on key. No data-scale join, no window, nothing driver-
   * side.
   *
   * Cross-engine float discipline: per-position sums round elements
   * to 12 and accumulate as DECIMAL(38,12) (order-free ⇒ layout-
   * invariant means); the centroid cosine and L2 shift are sequential
   * index-order folds over those exact means (the [[cosine]] kernel /
   * list_aggregate contract).
   *
   * Output: (key, n_before, n_after, centroid_cosine, l2_shift) for
   * keys present on BOTH sides (a key that appeared or vanished is
   * [[graft.operators.Audits.tableDiff]]'s job, not drift). Vectors
   * are assumed fixed-dimension per table (the embedding-column
   * contract everywhere in this module); `n_before`/`n_after` read
   * the per-position count at the fullest position.
   */
  def embeddingDrift(before: DataFrame, after: DataFrame,
                     keyCol: String, vecCol: String): DataFrame = {
    def centroids(df: DataFrame, nName: String, mName: String): DataFrame = {
      val m = df
        .filter(col(keyCol).isNotNull && col(vecCol).isNotNull)
        .select(col(keyCol).as("__k"),
          posexplode(toDoubleVec(col(vecCol))).as(Seq("__p", "__x")))
        .groupBy(col("__k"), col("__p"))
        .agg(sum(round(col("__x"), 12).cast("decimal(38,12)")).as("__sx"),
          count(lit(1)).as("__n"))
        .select(col("__k"), col("__p"), col("__n"),
          (col("__sx").cast("double") / col("__n")).as("__m"))
      m.groupBy(col("__k"))
        .agg(max(col("__n")).as(nName),
          array_sort(collect_list(struct(col("__p"), col("__m"))))
            .as("__pm"))
        .select(col("__k"), col(nName),
          transform(col("__pm"), s => s.getField("__m")).as(mName))
    }
    val b = centroids(before, "n_before", "__mb")
    val a = centroids(after, "n_after", "__ma")
    b.join(a, Seq("__k"))
      .select(col("__k").as(keyCol), col("n_before"), col("n_after"),
        cosine(col("__mb"), col("__ma")).as("centroid_cosine"),
        sqrt(aggregate(
          zip_with(col("__mb"), col("__ma"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)).as("l2_shift"))
  }
}
