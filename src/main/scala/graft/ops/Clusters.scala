package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Connected components over a pair graph — the step that turns the
 * pair-finding dedup operators ([[TextDedup.minhashLshPairs]],
 * [[TextDedup.ngramJaccardPairs]], [[Similarity.embeddingNearDupPairs]])
 * into actual deduplication: near-dup PAIRS are transitive in intent
 * (a~b, b~c ⇒ one logical document), so the unit of removal is the
 * connected component, with the minimum id as the deterministic
 * representative.
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14 — public
 * literature; also the construction behind GraphFrames'
 * connectedComponents). Each round is two aggregate+join passes keyed
 * by node id — no per-node neighbor lists are ever materialized
 * (high-degree nodes would OOM a collect_list), and convergence is
 * O(log² n) rounds even on adversarial path graphs, where plain
 * min-label propagation needs O(diameter) rounds. Every round ends in
 * `localCheckpoint()` — iterative driver loops otherwise grow the
 * logical plan unboundedly (round-1 lesson, see Fuzzy.greedyAssign).
 *
 * Scale notes: the edge set only shrinks toward one star per
 * component (total work per round is O(|E|) shuffled on well-spread
 * node-id keys); the convergence probe is a 2-row aggregate
 * (count + order-independent hash-sum) per round, not a driver
 * collect of edges.
 */
object Clusters {

  /** Diagnostic: how the LAST connectedComponents call on this JVM
    * finished — "star-fixpoint" (fully distributed) or
    * "driver-union-find" (budget-gated driver finish). For stress/spec
    * assertions that the intended path engaged; not part of the API. */
  private[graft] val lastFinishMode =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** (id, cluster_id) for EVERY node appearing in `pairs` (self-loop
    * pairs included: a node whose only edges are `(x, x)` is its own
    * singleton cluster), where cluster_id = min node id of the
    * connected component. Ids are returned in the input column type.
    *
    * Adaptive finish (the Fuzzy.greedyAssign pattern): star rounds
    * only run while the edge set exceeds `driverFinishLimit`; below
    * it, one collect + linear union-find ends the loop — near-dup
    * graphs usually ARE small (≤16 MB at the default limit), and the
    * star rounds exist to contract the ones that are not. Set the
    * limit to 0 to force the fully distributed path. */
  def connectedComponents(pairs: DataFrame, idACol: String,
                          idBCol: String, maxRounds: Int = 64,
                          driverFinishLimit: Long = 1L << 20): DataFrame = {
    val base = ccNonReflexive(pairs, idACol, idBCol, maxRounds,
      driverFinishLimit)
    // canon() drops self loops before the star rounds (they carry no
    // connectivity), so a node appearing ONLY in (x, x) pairs is absent
    // from `base` — re-attach those as their own singleton clusters.
    // Only self-loop nodes can be missing, so the anti-join probe is
    // sized by the (typically tiny, often empty) self-loop set.
    val idType = pairs.schema(idACol).dataType
    val selfIds = pairs
      .filter(col(idACol).isNotNull && col(idACol) === col(idBCol))
      .select(col(idACol).cast(idType).as("id")).distinct()
    val missing = selfIds.join(base, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    base.unionByName(missing)
  }

  /**
   * Incremental connected components — fold a NEW batch of pairs into
   * an existing assignment without touching the original pair set (the
   * continuous-crawl shape: day N's near-dup graph is day N−1's
   * clusters plus today's edges, and a 0.1% batch must not cost a
   * full recompute). The old assignment IS a contracted form of the
   * old graph (every component is a depth-1 star around its min-id
   * representative), and star contraction preserves both connectivity
   * and the min id — so running the component algorithm over
   * `assignment-as-edges ∪ newPairs` yields EXACTLY the assignment a
   * full recompute over all original pairs would (spec-pinned, and the
   * gate's oracle closes over the full pair set). Cost is
   * O(|assignment| + |batch|) edges — components already merged stay
   * depth-1, so the star rounds converge in one or two passes.
   *
   * `assign` must be a (id, cluster_id) frame from a previous
   * [[connectedComponents]] / [[incrementalComponents]] call (or any
   * frame with that contract: cluster_id = min id of the component).
   * Representative self-rows (r, r) ride the self-loop path and keep
   * old singletons alive.
   */
  def incrementalComponents(assign: DataFrame, newPairs: DataFrame,
                            idACol: String, idBCol: String,
                            maxRounds: Int = 64,
                            driverFinishLimit: Long = 1L << 20): DataFrame =
    connectedComponents(
      assign.select(col("id").as(idACol), col("cluster_id").as(idBCol))
        .unionByName(newPairs.select(col(idACol), col(idBCol))),
      idACol, idBCol, maxRounds, driverFinishLimit)

  /** The pre-round core: assignments for nodes with ≥1 non-reflexive
    * edge. */
  private def ccNonReflexive(pairs: DataFrame, idACol: String,
                             idBCol: String, maxRounds: Int,
                             driverFinishLimit: Long): DataFrame = {
    val idType = pairs.schema(idACol).dataType
    if (Dispatch.integralType(idType) &&
        Dispatch.integralType(pairs.schema(idBCol).dataType)) {
      val e0 = canon(pairs.select(col(idACol).cast("long").as("u"),
        col(idBCol).cast("long").as("v")))
      ccLongs(e0, maxRounds, driverFinishLimit)
        .select(col("u").cast(idType).as("id"),
          col("m").cast(idType).as("cluster_id"))
    } else {
      // non-integral ids (strings, UUIDs): dictionary-encode through an
      // ORDER-PRESERVING long surrogate (distributed rank by id — the
      // same machinery as Merger's insert-pk), run the long algorithm,
      // and map back. Rank ascending ⇒ min surrogate ↔ min id, so the
      // representative stays the minimum original id. The dictionary is
      // persisted: it feeds edge encoding AND the two decode joins
      // (caller-owned cache, see TextDedup's contract note).
      val dict = graft.operators.Merger.withDistributedRank(
        pairs.select(col(idACol).as("n"))
          .unionByName(pairs.select(col(idBCol).as("n")))
          .filter(col("n").isNotNull).distinct(),
        "n", "__sid", 0L).persist()
      val enc = canon(pairs
        .join(dict.select(col("n").as(idACol), col("__sid").as("u")), Seq(idACol))
        .join(dict.select(col("n").as(idBCol), col("__sid").as("v")), Seq(idBCol))
        .select(col("u"), col("v")))
      ccLongs(enc, maxRounds, driverFinishLimit)
        .join(dict.select(col("__sid").as("u"), col("n").as("id")), Seq("u"))
        .join(dict.select(col("__sid").as("m"), col("n").as("cluster_id")), Seq("m"))
        .select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }
  }

  /** The long-keyed core: (u, v) canonical edges → (u, m) per-node
    * component minima. */
  private def ccLongs(e0: DataFrame, maxRounds: Int,
                      driverFinishLimit: Long): DataFrame = {
    val spark = e0.sparkSession
    // fast path (r15, guide §2 job count): probe the edge set with ONE
    // collect-with-limit job — a near-dup graph that fits the driver
    // budget (the common case this operator sees) goes straight to
    // union-find, instead of paying a checkpoint job + a signature job
    // first. Over-budget graphs fall through to the star rounds with
    // the exact same decision the count-based probe made (length >
    // limit ⇔ count > limit).
    if (driverFinishLimit > 0 && driverFinishLimit < Int.MaxValue - 1) {
      val probe = e0.select(col("u"), col("v"))
        .limit(driverFinishLimit.toInt + 1).collect()
      if (probe.length <= driverFinishLimit) {
        lastFinishMode.set("driver-union-find")
        return driverUnionFindLocal(spark,
          probe.map(r => (r.getLong(0), r.getLong(1))))
      }
    }
    var edges = e0.localCheckpoint()
    var sig = edgeSignature(edges)
    var rounds = 0
    var converged = sig._1 == 0L // empty graph is already converged
    while (!converged && sig._1 > driverFinishLimit && rounds < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = edgeSignature(next)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      rounds += 1
    }
    require(converged || sig._1 <= driverFinishLimit,
      s"connectedComponents did not converge in $maxRounds rounds")
    val assigned =
      if (converged) {
        // At the star fixpoint every component is {(root, child)…} with
        // root = component min; per-node min over the symmetrized edges
        // is therefore the root (roots map to themselves via least).
        lastFinishMode.set("star-fixpoint")
        nodeMins(symmetrize(edges)).select(col("u"), col("m"))
      } else {
        lastFinishMode.set("driver-union-find")
        driverUnionFind(spark, edges)
      }
    assigned.select(col("u"), col("m"))
  }

  /** Linear-time union-find over a collected edge set (only called
    * under `driverFinishLimit`). */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
                              edges: DataFrame): DataFrame = {
    import spark.implicits._
    driverUnionFindLocal(spark,
      edges.select(col("u"), col("v")).as[(Long, Long)].collect())
  }

  /** The union-find core over an already-collected edge array. */
  private def driverUnionFindLocal(
      spark: org.apache.spark.sql.SparkSession,
      es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // roots are not guaranteed min-id mid-stream; a final find pass
    // after all unions IS (unions always hang the larger root below
    // the smaller one)
    val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    spark.createDataset(nodes.map(n => (n, find(n))).toIndexedSeq).toDF("u", "m")
  }

  /** Dedup by near-dup pairs: keep exactly one row (the minimum-id
    * representative) per connected component, and every row that is in
    * no pair. The complement of [[droppedByPairs]]. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                   idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    val assign = connectedComponents(pairs, idACol, idBCol)
      .withColumnRenamed("id", idCol)
    df.join(assign, Seq(idCol), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col(idCol))
      .drop("cluster_id")
  }

  /**
   * Quality-aware dedup: like [[dedupByPairs]] but the survivor of
   * each duplicate component is the best row under a caller-supplied
   * TOTAL order (pass a unique id as the last sort key), not the
   * smallest id — "keep the longest / highest-quality copy", which is
   * what a training-data pipeline actually wants. One extra keyed
   * window over [[dedupByPairs]]'s plan; singletons survive untouched.
   */
  def dedupByPairsBest(df: DataFrame, idCol: String, pairs: DataFrame,
                       order: Seq[Column],
                       idACol: String = "id_a",
                       idBCol: String = "id_b"): DataFrame = {
    require(order.nonEmpty, "order must be a non-empty total order")
    val assign = connectedComponents(pairs, idACol, idBCol)
      .withColumnRenamed("id", idCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__c")).orderBy(order: _*)
    df.join(assign, Seq(idCol), "left")
      .withColumn("__c", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__c", "__rn", "cluster_id")
  }

  /**
   * Leakage-proof train/valid/test split: assign EVERY member of a
   * near-dup component to the same split, so a test document never has
   * a near-duplicate in train (the eval-contamination failure mode a
   * row-level hash split cannot prevent — the two copies hash
   * independently and straddle the boundary). The split key is the
   * component representative (min id; the row's own id when unpaired),
   * pushed through [[graft.ops.TextAnalysis.assignSplit]]'s md5
   * buckets, so assignment stays deterministic across runs, row order,
   * and cluster size — and adding documents to a component never moves
   * the component.
   *
   * Scale: the O(log² n) alternating-star component loop plus one
   * broadcast-sized left join and a narrow md5 CASE; nothing beyond
   * [[dedupByPairs]]'s plan shape.
   *
   * Output: input columns + `cluster_id` (the representative) +
   * `split`.
   */
  def leakSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                    trainPct: Double = 0.8, validPct: Double = 0.1,
                    idACol: String = "id_a",
                    idBCol: String = "id_b"): DataFrame = {
    val assign = connectedComponents(pairs, idACol, idBCol)
      .withColumnRenamed("id", idCol)
    df.join(assign, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("split", graft.ops.TextAnalysis.assignSplit(
        col("cluster_id"), trainPct, validPct))
  }

  /** The rows removed by [[dedupByPairs]] with their surviving
    * representative — the audit face of the dedup. */
  def droppedByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
                     idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    val assign = connectedComponents(pairs, idACol, idBCol)
      .withColumnRenamed("id", idCol)
    df.join(assign, Seq(idCol))
      .filter(col("cluster_id") =!= col(idCol))
  }

  // ---- internals --------------------------------------------------------

  /** Undirected canonical form: u < v, no self loops, no duplicates. */
  private def canon(e: DataFrame): DataFrame =
    e.filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()

  private def symmetrize(e: DataFrame): DataFrame =
    e.union(e.select(col("v").as("u"), col("u").as("v")))

  /** m(u) = min(Γ(u) ∪ {u}) over a symmetrized edge set. */
  private def nodeMins(se: DataFrame): DataFrame =
    se.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))

  /** Large-star: each node connects its strictly-larger neighbors to
    * its min; preserves connectivity, strictly reduces large-edge
    * potential (Kiveris et al. §3). */
  private def largeStar(e: DataFrame): DataFrame = {
    val se = symmetrize(e)
    canon(se.join(nodeMins(se), Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")))
  }

  /** Small-star: each node connects its smaller-or-equal neighbors —
    * and itself — to its min. */
  private def smallStar(e: DataFrame): DataFrame = {
    val se = symmetrize(e)
    val m = nodeMins(se)
    canon(se.filter(col("v") < col("u")).join(m, Seq("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v"))))
  }

  /** Order-independent edge-set signature: (|E|, Σ xxhash64(u,v) as
    * decimal — ANSI mode makes a plain BIGINT sum overflow-throw).
    * Equal signature ⇒ equal set up to a 2^-64-per-pair collision;
    * the star state is a fixpoint, so a false "changed" only costs one
    * extra round, and a collision between DIFFERENT consecutive edge
    * sets is the only way to stop early — vanishingly unlikely and
    * self-evident in the output if it ever happened. */
  private def edgeSignature(e: DataFrame): (Long, BigDecimal) = {
    val r = e.agg(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
        lit(BigDecimal(0))).as("h")).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
