package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ExactGroup, Fuzzy, MatchSpec, Matcher, MergeSpec, Merger}
import graft.ops.{Clusters, Similarity}

/**
 * Scale-stress of the driver budgets and skew behavior at ~10× the
 * sf0.1 driver-bench volume. Three scenarios, each with a hard
 * assertion (nonzero exit on violation):
 *
 *  1. Fuzzy.greedyAssign over a pair set far above
 *     DefaultDriverAssignLimit: the distributed-rounds fallback must
 *     engage and must compute the same greedy matching the driver-scan
 *     path computes (unique distances ⇒ the matchings are identical).
 *  2. Clusters.connectedComponents over an edge set far above
 *     driverFinishLimit: star rounds must run (budget blocks the
 *     driver finish), the budget-gated driver union-find must engage
 *     when the contracted set fits, and both finishes must agree with
 *     the fully distributed (limit=0) answer.
 *  3. Merger.merge with a pathological hot key (half of a 10×-events
 *     source matching ONE target row): the pipeline must complete with
 *     no stage funneling into a single task (no task reads more than
 *     MaxTaskShare of its stage's shuffle records). Then the quadratic
 *     shape: one non-pk key value on 20k source and 20k target rows.
 *
 * Legs 4-23 stress the ops families; leg 24 ([[fuzzyCandidates]]) runs
 * fuzzy candidate generation at 3k × 190k against a brute-force sample.
 *
 * A task-level listener enforces the no-funnel property for EVERY
 * scenario, not just the merge.
 *
 * Run with `SPARK_DRIVER_MEM=16g` (the build's default 8g fork heap
 * carries 14 legs of materialized test corpora plus Spark's unified
 * region; the finale's array-column parquet reads want the headroom).
 */
object Stress {

  private val MaxTaskShare = 0.5
  private val MinStageRecords = 1000000L

  /** per-stage (records per task) collected by the listener */
  private val stageTasks =
    new ConcurrentHashMap[Int, java.util.List[Long]]()

  private final class FunnelListener extends SparkListener {
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val recs = m.shuffleReadMetrics.recordsRead
        stageTasks
          .computeIfAbsent(t.stageId, _ =>
            java.util.Collections.synchronizedList(
              new java.util.ArrayList[Long]()))
          .add(recs)
      }
    }
  }

  private def assertNoFunnel(tag: String): Unit = {
    import scala.jdk.CollectionConverters._
    var checked = 0
    stageTasks.asScala.foreach { case (stageId, recs) =>
      val rs = recs.asScala.map(_.longValue()).toSeq
      val total = rs.sum
      if (total >= MinStageRecords && rs.size > 1) {
        checked += 1
        val maxShare = rs.max.toDouble / total
        assert(maxShare <= MaxTaskShare,
          f"[$tag] stage $stageId funnels: max task reads ${rs.max}%,d of " +
            f"$total%,d shuffle records (${maxShare * 100}%.1f%%)")
      }
    }
    println(f"[stress] $tag%-18s no-funnel OK ($checked large stages checked)")
    stageTasks.clear()
  }

  private def tme[A](tag: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[stress] $tag%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  /** order-independent content signature of a 2-col long frame
    * (hash sum through decimal — a long sum of full-range xxhash64
    * values overflows under ANSI) */
  private def sig2(df: DataFrame, a: String, b: String): (Long, String) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col(a), col(b)).cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** Leg 24: fuzzy candidates for 3k unmatched sources × 190k targets
    * on a synthetic "first last number street type" key, past the old
    * pair-product bound. The source fits the broadcast, so the postings
    * probe must run (no Join in the plan), and its pairs for 100 sources
    * must equal a brute-force `Trigram.distance` cross join. */
  private[graft] def fuzzyCandidates(spark: SparkSession): Unit = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(24L)
    def letter(s: String) = s.charAt(rnd.nextInt(s.length))
    def vocab(n: Int, syllables: Int) = Array.fill(n)((0 to rnd.nextInt(syllables))
      .map(_ => s"${letter("bcdfghjklmnprstvw")}${letter("aeiou")}").mkString)
    val words = Seq(vocab(400, 3), vocab(3000, 3), vocab(600, 2),
      Array("st", "ave", "rd", "ln", "dr", "ct", "way"))
    // skewed draws: low indices repeat, as common names do
    def pick(xs: Array[String]) = { val u = rnd.nextDouble(); xs((u * u * xs.length).toInt) }
    def key() = { val Seq(f, l, st, ty) = words.map(pick); s"$f $l ${1 + rnd.nextInt(9999)} $st $ty" }
    val targets = Array.fill(190000)(key())
    // a third of the sources are one-letter edits of a target's key
    val sources = Array.tabulate(3000)(i => if (i % 3 != 0) key() else {
      val k = targets(rnd.nextInt(targets.length))
      k.updated(rnd.nextInt(k.length), letter("bcdfghjklmnprstvw"))
    })
    def frame(keys: Array[String], id: String) =
      keys.toSeq.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF(id, "key")
    val (source, target) = (frame(sources, "sid"), frame(targets, "tid"))
    val pairs = Fuzzy.candidatePairs(source, "sid", "key", target, "tid", "key")
    val got = tme("fuzzy candidates (3,000 x 190,000)") {
      pairs.as[(Long, Long, Double)].collect().toSet
    }
    assert(!pairs.queryExecution.optimizedPlan.exists(_.nodeName == "Join"),
      "expected the broadcast probe, found a join")
    val distance = udf((a: String, b: String) => graft.functions.Trigram.distance(a, b))
    val want = tme("fuzzy brute force (100 sources)") {
      source.filter(col("sid") < 100).withColumnRenamed("key", "skey").crossJoin(target)
        .select(col("sid"), col("tid"), distance(col("skey"), col("key")).as("d"))
        .filter(col("d") < Fuzzy.DefaultLimit).as[(Long, Long, Double)].collect().toSet
    }
    assert(got.filter(_._1 < 100) == want, s"probe and brute force diverge: " +
      s"${got.count(_._1 < 100)} vs ${want.size} pairs on 100 sources")
    println(f"[stress] fuzzy candidates agree: ${got.size}%,d pairs, ${want.size} sampled")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(32)
    // 13 legs of caller-owned persists accumulate in unified memory;
    // the default 4096-row reader batches over leg 14's shingle-set
    // ARRAY column then fail to reserve buffer space ("Cannot reserve
    // additional contiguous bytes"). Quartering the batch keeps the
    // vectorized reader comfortable for ~2 KB rows.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "1024")
    spark.sparkContext.addSparkListener(new FunnelListener)
    import spark.implicits._
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // ---- 1. greedyAssign above the driver budget ----------------------
    // 2.5M pairs (2.5× the 1M default limit), unique synthetic distances
    val nPairs = 2500000L
    val pairs = spark.range(nPairs).select(
      (col("id") % 900000L).as("sid"),
      ((col("id") * 7L) % 800000L).as("tid"),
      ((col("id") * 2654435761L % 1000003L).cast("double") / 1000003.0 +
        col("id").cast("double") / 1e18).as("distance"))
    val distributed = tme("greedyAssign distributed (2.5M pairs)") {
      val out = Fuzzy.greedyAssign(pairs, "sid", "tid")
      val s = sig2(out, "sid", "tid")
      assert(Fuzzy.lastAssignMode.get() == "distributed-rounds",
        s"expected distributed fallback, got ${Fuzzy.lastAssignMode.get()}")
      s
    }
    assertNoFunnel("greedyAssign")
    val driverScan = tme("greedyAssign driver-scan (same pairs)") {
      val out = Fuzzy.greedyAssign(pairs, "sid", "tid",
        driverLimit = Long.MaxValue)
      val s = sig2(out, "sid", "tid")
      assert(Fuzzy.lastAssignMode.get() == "driver-scan")
      s
    }
    stageTasks.clear() // driver path collects by design; not under test
    assert(distributed == driverScan,
      s"greedy matchings diverge: $distributed vs $driverScan")
    println(s"[stress] greedyAssign agree: ${distributed._1} matches, sig ok")

    // ---- 2. connectedComponents above driverFinishLimit ---------------
    // 4M edges over 3M nodes: giant component + fringe. Star rounds must
    // contract before any driver collect.
    val edges = spark.range(4000000L).select(
      ((col("id") * 48271L) % 3000000L).as("id_a"),
      ((col("id") * 16807L + 1L) % 3000000L).as("id_b"))
      .localCheckpoint()
    val adaptive = tme("connectedComponents adaptive (4M edges)") {
      val out = Clusters.connectedComponents(edges, "id_a", "id_b")
      val s = sig2(out, "id", "cluster_id")
      println(s"[stress]   finish mode: ${Clusters.lastFinishMode.get()}")
      s
    }
    assertNoFunnel("cc-adaptive")
    val fullyDistributed = tme("connectedComponents limit=0 (4M edges)") {
      val out = Clusters.connectedComponents(edges, "id_a", "id_b",
        driverFinishLimit = 0L)
      val s = sig2(out, "id", "cluster_id")
      assert(Clusters.lastFinishMode.get() == "star-fixpoint",
        s"limit=0 must finish distributed, got ${Clusters.lastFinishMode.get()}")
      s
    }
    assertNoFunnel("cc-distributed")
    assert(adaptive == fullyDistributed,
      s"CC answers diverge: $adaptive vs $fullyDistributed")
    println(s"[stress] CC agree: ${adaptive._1} nodes assigned, sig ok")
    // and the budget gate itself: a small contracted set must take the
    // driver finish (engagement of the OTHER branch)
    val smallEdges = spark.range(500000L).select(
      (col("id") % 400000L).as("id_a"), ((col("id") * 31L) % 400000L).as("id_b"))
    tme("connectedComponents driver finish (500k edges)") {
      Clusters.connectedComponents(smallEdges, "id_a", "id_b")
        .write.format("noop").mode("overwrite").save()
      assert(Clusters.lastFinishMode.get() == "driver-union-find",
        s"expected driver finish under budget, got ${Clusters.lastFinishMode.get()}")
    }
    stageTasks.clear()

    // ---- 3. merge with a skewed hot key at 10× sf0.1 -------------------
    // 10×-replicated events, half the rows remapped onto ONE user id
    // that matches a single target row: the match join AND the
    // best-per-target reduction both see the hot key.
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"), col("value"))
    val tenX = (0 until 10).map(i =>
      events.select(
        (col("event_id") * 10 + i).as("event_id"),
        col("user_id"), col("value")))
      .reduce(_ unionByName _)
    val skewed = tenX.select(
      col("event_id"),
      when(col("event_id") % 2 === 0, lit(7L))
        .otherwise(col("user_id")).as("user_id"),
      col("value"))
    val nSrc = skewed.count()
    println(f"[stress] skewed source rows: $nSrc%,d (half on user_id=7)")
    val source = skewed
      .select(
        col("user_id").as("c_custkey"),
        concat(lit("User#"), col("event_id").cast("string")).as("c_name"),
        lit(1).as("c_nationkey"),
        col("value").cast("double").as("c_acctbal"),
        lit("HOT").as("c_mktsegment"),
        col("event_id").as("working_source_id"))
    val target = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") < 100)
    val spec = MergeSpec(
      matchSpec = MatchSpec(
        groups = Seq(ExactGroup.onColumns("c_custkey")),
        targetPk = "c_custkey"),
      mergeExpressions = Map("c_acctbal" -> "$T + $S"))
    tme(f"merge hot-key upsert ($nSrc%,d src rows)") {
      val res = Merger.merge(source, target, spec)
      res.newTarget.write.format("noop").mode("overwrite").save()
      res.unpersist()
    }
    assertNoFunnel("merge-hot-key")
    // the quadratic shape: ONE value of a non-pk key column on 20k source
    // AND 20k target rows. A pair join would emit 4e8 candidates; the
    // per-key min matches every source row to the key's min pk in
    // 20k + 20k rows.
    val nQuad = 20000L
    // `id * 0` rather than a literal, which the optimizer would fold
    // into a key-less join
    def hotPhone = concat(lit("HOT"), (col("id") * 0).cast("string")).as("c_phone")
    val quadTarget = spark.range(nQuad).select((col("id") + 1).as("c_custkey"),
      hotPhone, lit(0.0).as("c_acctbal"))
    val quadSource = spark.range(nQuad).select(col("id").as("working_source_id"),
      hotPhone, lit(1.0).as("c_acctbal"))
    tme(f"merge quadratic key ($nQuad%,d x $nQuad%,d rows)") {
      val res = Merger.merge(quadSource, quadTarget, MergeSpec(
        matchSpec = MatchSpec(Seq(ExactGroup.onColumns("c_phone")), targetPk = "c_custkey"),
        mergeExpressions = Map("c_acctbal" -> "$T + $S")))
      val toMin = res.matched.filter(col(Matcher.TargetId) === 1L).count()
      assert(toMin == nQuad, s"$toMin of $nQuad source rows matched the key's min pk")
      res.newTarget.write.format("noop").mode("overwrite").save()
      res.unpersist()
    }
    assertNoFunnel("match-quadratic-key")

    // ---- 4. SemDeDup cell join at 10× embeddings -----------------------
    // 50k vectors (10 replicas of each sf0.1 embedding under distinct
    // ids): every replica group is an exact near-dup clique, and cell
    // sizes grow 10× — the within-cell self-join must stay partitioned
    // (no task absorbing a whole hot cell) and survivors must collapse
    // the replica cliques.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val emb10 = (0 until 10).map(i =>
      emb.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionByName _)
    val nEmb = emb10.count()
    tme(f"semDedup 10x ($nEmb%,d vectors, 256 cells)") {
      val survivors = Similarity.semDedup(emb10, "vec_id", "embedding",
        nCells = 256, threshold = 0.99, refineIterations = 1)
      val nSurv = survivors.count()
      // replica cliques (10 identical vectors each) must collapse ≥ 10×
      assert(nSurv * 5 <= nEmb,
        s"semDedup kept $nSurv of $nEmb — replica cliques not collapsing")
      println(f"[stress] semDedup survivors: $nSurv%,d of $nEmb%,d")
    }
    assertNoFunnel("semdedup-10x")

    // ---- 5. BM25 at 10× documents --------------------------------------
    // 50k docs; the tf shuffle and candidate-score aggregate see 10×
    // volume while the top-k branches still return k rows per query.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs10 = (0 until 10).map(i =>
      docs.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        col("text")))
      .reduce(_ unionByName _)
    val nDocs = docs10.count()
    tme(f"bm25 10x ($nDocs%,d docs, 3 queries)") {
      val hits = graft.ops.Retrieval.bm25TopK(docs10, "doc_id", "text",
        graft.gates.IndexGates.Bm25Queries, k = 10)
      val n = hits.count()
      assert(n == 30, s"expected 30 bm25 hits, got $n")
    }
    // result consumed — release the candidate cache (bm25TopK contract)
    graft.ops.Retrieval.releaseCaches()
    assertNoFunnel("bm25-10x")

    // ---- 6. Substring-dedup spans at 10× documents ----------------------
    // The 10 replicas of every document make EVERY >=8-token window a
    // cross-doc duplicate: worst-case hit density (a hit per token
    // position corpus-wide). The fingerprint groupBy must stay
    // map-side-combined and the per-doc windows bounded — no funneling —
    // and every replica doc must come back fully covered by one span.
    val nSpanDocs = docs10.count()
    tme(f"duplicateSpans 10x ($nSpanDocs%,d docs, k=8)") {
      val spans = graft.ops.TextDedup
        .duplicateSpans(docs10, "doc_id", "text", k = 8)
      val perDoc = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"), sum(col("span_tokens")).as("covered"))
      val bad = perDoc.filter(col("n") =!= 1).count()
      assert(bad == 0, s"$bad replica docs not covered by one merged span")
      val nCovered = perDoc.count()
      println(f"[stress] duplicateSpans: $nCovered%,d docs fully spanned")
      // docs with >= 8 tokens must all be covered (replicas everywhere)
      val eligible = docs10.filter(
        graft.ops.TextAnalysis.tokenCount(col("text")) >= 8).count()
      assert(nCovered == eligible,
        s"covered $nCovered of $eligible eligible docs")
    }
    assertNoFunnel("substring-spans-10x")

    // ---- 7. incremental dedup at 10× -----------------------------------
    // Corpus = 9 replicas of every doc; batch = the 10th replica, half
    // byte-identical (exact path must catch ALL of them via the md5
    // index) and half with one appended unique token (md5 misses; the
    // near path must catch the long ones). Both the hash index and the
    // adaptive near join see 45k corpus docs.
    val incCorpus = docs10.filter(col("doc_id") < 9L * 10000000L)
    val incBatch = docs.select(
      (col("doc_id") + lit(9L * 10000000L)).as("doc_id"),
      when(col("doc_id") % 2 === 1,
        concat(col("text"), lit(" zz"), col("doc_id").cast("string")))
        .otherwise(col("text")).as("text"))
    tme(f"incrementalDedup 10x (45k corpus, 5k batch)") {
      val flags = graft.ops.TextDedup.incrementalDedup(
        incCorpus, incBatch, "doc_id", "text", shingleLen = 5,
        threshold = 0.5)
      val byStatus = flags.groupBy(col("status")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // every even batch doc is byte-identical to its corpus replicas
      // (null text aside), so the exact path must flag all of them
      val evens = incBatch
        .filter(col("doc_id") % 2 === 0 && col("text").isNotNull).count()
      assert(byStatus.getOrElse("exact_dup", 0L) >= evens,
        s"exact path missed identical replicas: $byStatus vs $evens evens")
      assert(byStatus.getOrElse("near_dup", 0L) * 2 >=
        byStatus.getOrElse("unique", 0L),
        s"near path caught too little: $byStatus")
      println(s"[stress] incrementalDedup: $byStatus")
    }
    assertNoFunnel("incremental-dedup-10x")

    // ---- 8. graph family with a power-law hub --------------------------
    // One hub node adjacent to 1.5M distinct spokes (each carrying a
    // distinct initial label) + a disjoint 1M-edge random tail: the
    // labelPropagation argmax sees 1.5M distinct labels voting on ONE
    // node — the web-graph shape that funnels a per-node row_number
    // window into a single task. The min_by aggregate must keep every
    // large stage under the no-funnel share while the deterministic
    // fixpoint semantics hold; pageRank's in-sum and CC's star rounds
    // take the same hub.
    val nSpokes = 1500000L
    val hubEdges = spark.range(nSpokes)
      .select(lit(0L).as("src"), (col("id") + 1L).as("dst"))
    val tailEdges = spark.range(1000000L).select(
      ((col("id") * 48271L) % 400000L + 2000000L).as("src"),
      ((col("id") * 16807L + 1L) % 400000L + 2000000L).as("dst"))
    val graph = hubEdges.unionByName(tailEdges).localCheckpoint()
    tme(f"labelPropagation hub ($nSpokes%,d-degree node)") {
      val labels = graft.ops.Graphs
        .labelPropagation(graph, "src", "dst", iterations = 2).persist()
      // round 1: spokes adopt hub's label 0, hub takes min spoke label
      // 1; round 2: 1.5M spoke votes of 0 → hub 0, spokes back to 1
      val hubLabel = labels.filter(col("node") === 0L)
        .select(col("label")).as[Long].collect()(0)
      assert(hubLabel == 0L, s"hub label drifted: $hubLabel")
      val spokeLabel = labels.filter(col("node") === 5L)
        .select(col("label")).as[Long].collect()(0)
      assert(spokeLabel == 1L, s"spoke label drifted: $spokeLabel")
      labels.unpersist()
    }
    assertNoFunnel("labelprop-hub")
    tme(f"pageRank hub ($nSpokes%,d in-degree)") {
      // reversed: every spoke points AT the hub, so the contribution
      // sum on dst sees the full fan-in on one key
      val ranks = graft.ops.Graphs.pageRank(
        graph.select(col("dst").as("src"), col("src").as("dst")),
        "src", "dst", iterations = 2)
      val hubRank = ranks.filter(col("node") === 0L)
        .select(col("rank")).as[Double].collect()(0)
      assert(hubRank > 100000.0, s"hub rank lost its fan-in: $hubRank")
      ranks.unpersist()
    }
    assertNoFunnel("pagerank-hub")
    tme(f"connectedComponents hub ($nSpokes%,d-star)") {
      val cc = Clusters.connectedComponents(graph, "src", "dst")
      val starSize = cc.filter(col("cluster_id") === 0L).count()
      assert(starSize == nSpokes + 1,
        s"hub star fragmented: $starSize of ${nSpokes + 1}")
    }
    assertNoFunnel("cc-hub")
    tme(f"shortestPaths hub (bidirectional $nSpokes%,d-star)") {
      // BFS from the hub: round 1 settles every spoke at dist 1 (the
      // min aggregate takes the 1.5M-way fan-out), round 2's frontier
      // anti-joins empty and the loop early-exits; the disjoint tail
      // must stay unreached
      val bi = graph.unionByName(
        graph.select(col("dst").as("src"), col("src").as("dst")))
      val d = graft.ops.Graphs.shortestPaths(bi, "src", "dst",
        Seq(0L), maxIter = 3)
      val n = d.count()
      assert(n == nSpokes + 1, s"BFS star size $n vs ${nSpokes + 1}")
      val d5 = d.filter(col("node") === 5L)
        .select(col("dist")).as[Long].collect()(0)
      assert(d5 == 1L, s"spoke dist drifted: $d5")
      d.unpersist()
    }
    assertNoFunnel("sssp-hub")
    tme(f"personalizedPageRank hub ($nSpokes%,d fan-in)") {
      // seed = hub on the reversed star: 1.5M spokes contribute zero
      // mass onto ONE dst key (partial-aggregated), the hub holds
      // exactly its restart share, spokes hold exactly none
      val rev = graph.select(col("dst").as("src"), col("src").as("dst"))
      val r = graft.ops.Graphs.personalizedPageRank(rev, "src", "dst",
        Seq(0L), iterations = 2)
      val hub = r.filter(col("node") === 0L)
        .select(col("rank")).as[Double].collect()(0)
      assert(hub == 0.15, s"hub restart mass drifted: $hub")
      val spoke = r.filter(col("node") === 5L)
        .select(col("rank")).as[Double].collect()(0)
      assert(spoke == 0.0, s"spoke leaked mass: $spoke")
      r.unpersist()
    }
    assertNoFunnel("ppr-hub")
    tme(f"kCore hub ($nSpokes%,d-degree node, k=2)") {
      // every spoke has degree 1 → the whole 1.5M-spoke star peels in
      // one round (the hub's 1.5M-count degree row is a map-side-
      // combined aggregate, never a window) and the hub isolates with
      // it; only the random tail's 2-core survives
      val core = graft.ops.Graphs
        .kCore(graph, "src", "dst", k = 2, maxRounds = 3).persist()
      val starSurvivors = core.filter(col("node") <= nSpokes).count()
      assert(starSurvivors == 0L,
        s"star should fully peel at k=2, kept $starSurvivors")
      val tailCore = core.count()
      assert(tailCore > 0L, "random tail lost its entire 2-core")
      core.unpersist()
    }
    assertNoFunnel("kcore-hub")
    tme(f"clusteringCoefficient hub ($nSpokes%,d-degree node)") {
      // degree-ordered orientation points every star edge AT the hub,
      // so the hub emits ZERO wedges — the 1.5M-neighbor quadratic
      // pairing the orientation exists to prevent; hub coeff is 0
      val cc = graft.ops.Graphs
        .clusteringCoefficient(graph, "src", "dst").persist()
      val hubRow = cc.filter(col("node") === 0L)
        .select(col("deg"), col("triangles"), col("coeff"))
        .as[(Long, Long, Double)].collect()(0)
      assert(hubRow._1 == nSpokes && hubRow._2 == 0L && hubRow._3 == 0.0,
        s"hub row drifted: $hubRow")
      cc.unpersist()
    }
    assertNoFunnel("clustering-hub")
    tme(f"hits hub ($nSpokes%,d-out-degree node)") {
      // the star makes node 0 the pure hub (1.5M out-edges, zero in):
      // the h-update sums 1.5M authority contributions onto ONE src
      // key (map-side-combined DECIMAL aggregate, no window); spokes
      // are pure authorities. Tail noise keeps both normalizers real.
      val ha = graft.ops.Graphs.hits(graph, "src", "dst", iterations = 2)
      val hub = ha.filter(col("node") === 0L)
        .select(col("hub"), col("authority"))
        .as[(Double, Double)].collect()(0)
      val maxHub = ha.agg(max(col("hub"))).as[Double].collect()(0)
      assert(hub._1 == maxHub && hub._1 > 0.3,
        s"hub lost its hub score: $hub vs max $maxHub")
      assert(hub._2 == 0.0, s"no-in-edge hub gained authority: $hub")
      val spoke = ha.filter(col("node") === 5L)
        .select(col("hub"), col("authority"))
        .as[(Double, Double)].collect()(0)
      assert(spoke._1 == 0.0 && spoke._2 > 0.0,
        s"spoke scores drifted: $spoke")
      ha.unpersist()
    }
    assertNoFunnel("hits-hub")
    tme(f"bradleyTerry champion ($nSpokes%,d straight wins)") {
      // one item beats 1.5M distinct opponents once each: its wins
      // total, per-round denominator, and the normalizer each reduce
      // a 1.5M-way fan-in through map-side-combined aggregates — the
      // preference-data hub shape (a flagship model in an arena).
      val bt = graft.ops.Features.bradleyTerry(
        hubEdges.select(col("src").as("w"), col("dst").as("l")),
        "w", "l", iterations = 2)
      val top = bt.orderBy(col("strength").desc, col("item").asc)
        .limit(1).select(col("item"), col("strength"))
        .as[(Long, Double)].collect()(0)
      assert(top._1 == 0L, s"champion lost the argmax: $top")
      val stats = bt.agg(
        sum(col("strength")).as("s"), min(col("strength")).as("mn"))
        .as[(Double, Double)].collect()(0)
      assert(math.abs(stats._1 - 1.0) < 1e-3,
        s"L1 normalization drifted: ${stats._1}")
      assert(stats._2 > 0.0, s"smoothing floor broke: ${stats._2}")
    }
    assertNoFunnel("bradley-terry-champion")

    // ---- 9. semDedup giant cell under the size cap ---------------------
    // 500k EXACT copies of one embedding route into a single cell —
    // the embedding family's hub: the uncapped within-cell self-join
    // is ~1.25e11 pairs and would never finish, so completing AT ALL
    // is the evidence the star path engaged. maxCellSize=10k switches
    // the cell to the 8-rep star compare (O(c·8) member-rep pairs, a
    // broadcast join — members never shuffle); the clique must still
    // collapse onto its min id through rep connectivity.
    val cliqueN = 500000L
    val oneVec = emb.orderBy(col("vec_id").asc).limit(1)
      .select(col("embedding"))
    val giant = spark.range(cliqueN)
      .select(col("id").as("vec_id"))
      .crossJoin(broadcast(oneVec))
    val tail = emb.select((col("vec_id") + lit(10000000L)).as("vec_id"),
      col("embedding"))
    val corpus9 = giant.unionByName(tail).localCheckpoint()
    tme(f"semDedup giant cell ($cliqueN%,d-row clique, cap 10k)") {
      val survivors = Similarity.semDedup(corpus9, "vec_id", "embedding",
        nCells = 64, threshold = 0.99, refineIterations = 1,
        maxCellSize = 10000).persist()
      val cliqueSurv = survivors.filter(col("vec_id") < cliqueN).count()
      assert(cliqueSurv == 1L,
        s"giant clique kept $cliqueSurv survivors — rep connectivity broke")
      val nSurv = survivors.count()
      println(f"[stress] giant-cell survivors: $nSurv%,d of " +
        f"${cliqueN + emb.count()}%,d")
      survivors.unpersist()
    }
    assertNoFunnel("semdedup-giant-cell")

    // ---- 10. persisted minhash index at 10× -----------------------------
    // Index the 45k-doc corpus (9 replicas of every doc) once, probe
    // the 10th replica: 5k probe docs × 8 bands = 40k band keys —
    // ABOVE the pushdown tier, so this exercises the driver-Bloom
    // prefilter path at volume. Half the batch is byte-identical
    // (jaccard 1.0 — must ALL re-link), half has one appended unique
    // token (near-identical char shingles — must still re-link at the
    // 0.8 threshold).
    val mhDir = java.nio.file.Files
      .createTempDirectory("graft_stress_mhidx").toString
    tme(f"minhash index 10x (45k corpus, 5k batch, bloom tier)") {
      graft.ops.TextDedup.saveMinhashIndex(
        incCorpus, "doc_id", "text", mhDir, numHashes = 32, bands = 8)
      val probe = graft.ops.TextDedup.minhashProbeIndexed(
        spark, mhDir, incBatch, "doc_id", "text", jaccardThreshold = 0.8)
      val linked = probe.select(col("batch_id")).distinct().count()
      val eligible = incBatch.filter(col("text").isNotNull &&
        length(col("text")) >= 10).count()
      assert(linked >= (eligible * 95) / 100,
        s"only $linked of $eligible probe docs re-linked")
      println(f"[stress] minhash index: $linked%,d of $eligible%,d " +
        "probe docs re-linked")
    }
    assertNoFunnel("minhash-index-10x")

    // ---- 11. streaming dedup-ingest at 10× ------------------------------
    // One DedupSink micro-batch against a 45k-doc index: the 5k probe
    // batch (all near-dups of the corpus — every one must be dropped)
    // plus 5k genuinely novel docs with internal duplicate pairs (each
    // pair must collapse to its min id). End state: ~2.5k survivors
    // published + appended, replay a no-op, no stage funneling.
    val dsDir = java.nio.file.Files
      .createTempDirectory("graft_stress_dsink").toString
    tme(f"dedup sink 10x (45k index, 10k batch)") {
      graft.ops.TextDedup.saveMinhashIndex(
        incCorpus, "doc_id", "text", s"$dsDir/idx",
        numHashes = 32, bands = 8)
      // every token carries the doc's id — novel docs share almost no
      // shingles with EACH OTHER (a constant template would weld all
      // 2.5k of them into one near-dup component)
      val novel = spark.range(2500L).select(
        (col("id") * 2 + 100000000L).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          k => concat(lit("n"), col("id").cast("string"), lit("x"),
            ((col("id") * 31 + k) % 97).cast("string")))).as("text"))
      val novelDup = novel.select((col("doc_id") + 1L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      val batch12 = incBatch
        .unionByName(novel).unionByName(novelDup).localCheckpoint()
      val survivors = graft.streaming.DedupSink.applyBatch(spark,
        s"$dsDir/idx", s"$dsDir/corpus", "doc_id", "text",
        jaccardThreshold = 0.8, batch12, 0L)
      val nSurv = survivors.count()
      val nDup = survivors.filter(col("doc_id") < 100000000L &&
        col("doc_id") >= 9L * 10000000L).count()
      val nNovelSurv = survivors.filter(col("doc_id") >= 100000000L).count()
      assert(nDup * 20 <= incBatch.count(),
        s"$nDup corpus near-dups slipped through the sink")
      // each (novel, novelDup) pair collapses onto its even min id
      assert(nNovelSurv == 2500L,
        s"novel pairs did not collapse to one survivor each: $nNovelSurv")
      assert(survivors.filter(col("doc_id") >= 100000000L &&
        col("doc_id") % 2 === 1).isEmpty)
      // replay must be a no-op that returns the same written survivors
      val replay = graft.streaming.DedupSink.applyBatch(spark,
        s"$dsDir/idx", s"$dsDir/corpus", "doc_id", "text",
        jaccardThreshold = 0.8, batch12, 0L)
      assert(replay.count() == nSurv, "replayed batch was re-applied")
      println(f"[stress] dedup sink: $nSurv%,d survivors " +
        f"($nDup%,d corpus dups slipped, $nNovelSurv%,d novel)")
    }
    assertNoFunnel("dedup-sink-10x")

    // ---- 12. IVF-PQ cell-join at a 400k-row query table ----------------
    // 200 id-offset replicas of the sf0.1 embeddings as QUERIES against
    // a persisted IVF-PQ index of the originals: far above
    // DefaultQueryCollectLimit, so the cell-join path must engage (no
    // query-side collect — probe selection is a distributed kernel and
    // only the probed-cell id union reaches the driver). Every query is
    // an exact copy of a corpus vector, so its probe cells contain its
    // original and every query must come back with a rank-1 hit; a
    // 100-query slice re-run through the broadcast-kernel path must
    // agree row-for-row (per-query independence of the output).
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft_stress_ivfpq").toString
    val qBase = 1000000000L
    val bigQ = (0 until 200).map(i =>
      emb.select((col("vec_id") + lit(qBase + i.toLong * 1000000L))
        .as("vec_id"), col("embedding")))
      .reduce(_ unionByName _).localCheckpoint()
    val nQ = bigQ.count()
    tme(f"ivf-pq cell-join ($nQ%,d-row query table)") {
      Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", pqDir,
        nCells = 64, m = 16, k = 32, iterations = 1)
      val hits = Similarity.ivfPqTopKIndexed(spark, pqDir, bigQ,
        "vec_id", "embedding", k = 3, nProbe = 2, shortlistFactor = 2)
        .persist()
      val top1 = hits.filter(col("rank") === 1).count()
      assert(Similarity.lastIvfPqQueryMode.get() == "cell-join",
        "400k-row query table did not take the cell-join path")
      assert(top1 * 100 >= nQ * 99,
        s"only $top1 of $nQ queries matched")
      val sliceHi = qBase + 100L
      val kern = Similarity.ivfPqTopKIndexed(spark, pqDir,
        bigQ.filter(col("vec_id") < sliceHi), "vec_id", "embedding",
        k = 3, nProbe = 2, shortlistFactor = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
      assert(Similarity.lastIvfPqQueryMode.get() == "broadcast-kernel",
        "small slice should take the kernel path")
      val sub = hits.filter(col("query_id") < sliceHi)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
      assert(sub == kern,
        s"cell-join slice diverges from kernel: ${sub.size} vs ${kern.size}")
      println(f"[stress] ivf-pq cell-join: $top1%,d of $nQ%,d rank-1 hits")
      hits.unpersist()
    }
    assertNoFunnel("ivfpq-cell-join-1m")

    // ---- 13. exact top-k bounded heap over a 1M-row corpus --------------
    // The de-funneled exhaustive kernel at volume: 64 broadcast queries
    // score 64M (query, corpus) pairs, and the bounded-heap aggregate
    // keeps O(k) state per query with map-side partials — no per-query
    // window, no task ever holds a corpus-sized partition. Vectors are
    // one-hot by direction id%16 (magnitude varies, cosine within a
    // direction is exactly 1.0), so the full ranking is closed-form:
    // query q's rank-r neighbor is id (q%16) + 16*(r-1).
    val tkCorpus = spark.range(1000000L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        d => when(d === (col("id") % 16).cast("int"),
          (col("id") % 7 + 1).cast("double")).otherwise(lit(0.0)))
        .as("embedding"))
    val tkQBase = 2000000000L
    val tkQueries = tkCorpus.filter(col("vec_id") < 64)
      .select((col("vec_id") + tkQBase).as("vec_id"), col("embedding"))
    tme("exact top-k heap (1M-row corpus, 64 queries)") {
      val top = Similarity.topKAuto(tkCorpus, tkQueries, "vec_id",
        "embedding", k = 3, exactCorpusLimit = 2000000L).persist()
      assert(Similarity.lastTopKAutoMode.get() == "exact",
        "1M corpus under the raised limit should take the exact kernel")
      assert(top.count() == 64L * 3, "expected 64 queries x k=3 rows")
      val bad = top.filter(col("neighbor_id") =!=
        ((col("query_id") - tkQBase) % 16 + (col("rank") - 1) * 16)).count()
      assert(bad == 0L, s"$bad wrong neighbors from the bounded heap")
      top.unpersist()
    }
    assertNoFunnel("exact-topk-1m")

    // earlier legs' caller-owned persists (probe prep, candidate
    // frames) are dead weight by now — release the unified memory
    // (caches AND registered broadcasts) before the index-heavy finale
    spark.catalog.clearCache()
    graft.Gateway.releaseAllCaches()

    // ---- 14. dedup sink at 10x leg-11 scale + compaction + crash window -
    // 450k-doc index, two 50k micro-batches with compactEvery=1 so the
    // in-loop index compaction fires mid-stream, then the one crash
    // window the sink documents (index appended, marker not yet
    // published) is forced by rewinding the marker and re-driving the
    // batch: the replay must reproduce the SAME survivor set — the
    // self-link filter makes the appended copies decision-neutral.
    val ds2 = java.nio.file.Files
      .createTempDirectory("graft_stress_dsink2").toString
    // GLOBALLY-UNIQUE hex tokens via an injective map: cross-doc
    // CHARACTER-shingle overlap must be ~zero, not just "distinct
    // tokens". Two designs failed here before this one:
    //  - leg 11's digit templates ("t<id>x<k%97>") share ~10% of the
    //    5-gram space; at 50k×450k that background jaccard collides a
    //    4-row band at ~1e-3 and the verify join's shingle-array
    //    shuffle spills ~100 GB (filled the disk);
    //  - murmur tokens hash((id,k,salt)) chain through a 32-BIT state,
    //    so doc-id strings colliding on that state yield BYTE-IDENTICAL
    //    30-token docs (birthday at 475k docs → a few real pairs, which
    //    correctly link cross-set and break the closed-form counts).
    // xxhash64 chains a 64-bit state (doc-level birthday ~1e-8 here),
    // and Spark 4's ANSI mode forbids the wrap-multiply bijection
    // alternative (long overflow throws), so 64-bit hashing it is.
    def synthDocs(n: Long, idBase: Long): DataFrame =
      spark.range(n).select((col("id") * 2 + idBase).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(29)),
          k => lower(hex(xxhash64(col("id") * 2 + idBase,
            k, lit("dsk14"))))))
          .as("text"))
    // deterministic generators stay UNCHECKPOINTED in legs 13-14: the
    // recompute is codegen-cheap, while materialized blocks from 13
    // prior legs already crowd the 8g heap (a checkpointed 450k-doc
    // corpus here OOM'd the vectorized reader in the full run)
    val dsCorpus = synthDocs(450000L, 0L)
    // batch 0: 25k near-dups of corpus docs (one appended token — must
    // all drop against the index) + 25k novel docs each with an odd-id
    // twin (must collapse to the even min id)
    val b0Dups = dsCorpus.filter(col("doc_id") < 50000L)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val b0Novel = synthDocs(25000L, 20000000L)
    val b0Twins = b0Novel.select((col("doc_id") + 1L).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val dsBatch0 = b0Dups.unionByName(b0Novel).unionByName(b0Twins)
    val dsBatch1 = synthDocs(50000L, 30000000L)
    tme("dedup sink 100x (450k index, 50k batches, compact + crash replay)") {
      graft.ops.TextDedup.saveMinhashIndex(dsCorpus, "doc_id", "text",
        s"$ds2/idx", numHashes = 32, bands = 8)
      val s0 = graft.streaming.DedupSink.applyBatch(spark,
        s"$ds2/idx", s"$ds2/corpus", "doc_id", "text",
        jaccardThreshold = 0.8, dsBatch0, 0L, compactEvery = 1L)
      val s0Dups = s0.filter(col("doc_id") >= 10000000L &&
        col("doc_id") < 20000000L).count()
      val s0Novel = s0.filter(col("doc_id") >= 20000000L).count()
      assert(s0Dups * 20 <= 25000L,
        s"$s0Dups corpus near-dups slipped through the 450k index")
      assert(s0Novel == 25000L,
        s"novel twins did not collapse one-per-pair: $s0Novel")
      // compactEvery=1 fired after batch 0: the band layout is a single
      // generation again (no append deltas left behind)
      val bandFiles = {
        val p = new org.apache.hadoop.fs.Path(s"$ds2/idx/bands")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
        n
      }
      assert(bandFiles <= 8 * 32 * 2,
        s"compaction did not consolidate the band layout: $bandFiles files")
      val s1 = graft.streaming.DedupSink.applyBatch(spark,
        s"$ds2/idx", s"$ds2/corpus", "doc_id", "text",
        jaccardThreshold = 0.8, dsBatch1, 1L, compactEvery = 1L)
      val s1Ids = s1.select(col("doc_id")).as[Long].collect().toSet
      assert(s1Ids.size == 50000,
        s"unique novel batch lost rows: ${s1Ids.size}")
      // force the documented crash window: batch 1's survivors are in
      // the index but the marker says batch 0 — exactly the state after
      // a crash between appendMinhashIndex and the marker publish
      val mp = new org.apache.hadoop.fs.Path(s"$ds2/idx/_graft_dedup_batch")
      val mfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val mout = mfs.create(mp, true)
      try mout.write("0".getBytes("UTF-8")) finally mout.close()
      val s1Replay = graft.streaming.DedupSink.applyBatch(spark,
        s"$ds2/idx", s"$ds2/corpus", "doc_id", "text",
        jaccardThreshold = 0.8, dsBatch1, 1L, compactEvery = 1L)
      val replayIds = s1Replay.select(col("doc_id")).as[Long].collect().toSet
      assert(replayIds == s1Ids,
        s"crash-window replay changed the survivor set: " +
          s"${replayIds.size} vs ${s1Ids.size}")
      println(f"[stress] dedup sink 100x: ${s1Ids.size}%,d batch-1 " +
        f"survivors stable under crash replay ($bandFiles band files)")
    }
    assertNoFunnel("dedup-sink-100x")

    // ---- 15. ANN semantic-dedup sink at volume --------------------------
    // 200k-vector IVF-PQ index at 256 cells, one 72k-vector
    // micro-batch: 70k novel + 2k scaled copies of indexed vectors
    // (cosine ≈ 1 — must ALL drop). 72k queries are ABOVE
    // DefaultQueryCollectLimit, so the probe inside the sink must take
    // the cell-join path (no query-side collect); a forced
    // crash-window replay (batch marker rewound, intent left) must
    // skip the re-append — codes row count unchanged. Dense
    // hash-derived vectors: random directions in 32-dim space are
    // ~orthogonal, so near-dups exist only where planted. Sizing note:
    // cell-join candidate volume is queries × nProbe × corpus/nCells —
    // at 64 cells and a 500k corpus this leg was ~7e9 ADC evaluations
    // (unbounded minutes); 256 cells / 200k keeps it ~2e8.
    def synthVecs(n: Long, idBase: Long): DataFrame =
      spark.range(n).select((col("id") + idBase).as("vec_id"),
        transform(sequence(lit(0), lit(31)),
          d => ((pmod(xxhash64(col("id") + idBase, d, lit("annv")),
            lit(2001L)) - 1000L).cast("float") / 1000.0f).cast("float"))
          .as("embedding"))
    val annDir = java.nio.file.Files
      .createTempDirectory("graft_stress_annsink").toString
    val annCorpus = synthVecs(200000L, 0L)
    val annPlanted = annCorpus.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val annBatch = synthVecs(70000L, 20000000L).unionByName(annPlanted)
    tme("ann sink at volume (200k index, 72k batch, cell-join probe)") {
      Similarity.saveIvfPqIndex(annCorpus, "vec_id", "embedding",
        s"$annDir/idx", nCells = 256, m = 16, k = 32, iterations = 1)
      val s0 = graft.streaming.AnnSink.applyBatch(spark,
        s"$annDir/idx", s"$annDir/corpus", "vec_id", "embedding",
        cosineThreshold = 0.95, annBatch, 0L,
        nProbe = 8, batchCells = 64)
      assert(Similarity.lastIvfPqQueryMode.get() == "cell-join",
        "72k-query sink probe did not take the cell-join path")
      val sPlanted = s0.filter(col("vec_id") >= 10000000L &&
        col("vec_id") < 20000000L).count()
      val sNovel = s0.filter(col("vec_id") >= 20000000L).count()
      assert(sPlanted * 20 <= 2000L,
        s"$sPlanted planted scaled copies slipped past the 200k index")
      assert(sNovel * 100 >= 70000L * 99,
        s"random novel vectors were wrongly dropped: $sNovel of 70000")
      // materialize the survivor count BEFORE the replay: the replay
      // overwrites the published directory, invalidating s0's live
      // file listing (the returned frame is a read of that dir)
      val s0Count = s0.count()
      val codesAfter = spark.read.parquet(s"$annDir/idx/codes").count()
      // crash window: batch marker rewound, intent marker intact — the
      // re-drive must resolve via the survivor-id existence check and
      // SKIP the re-append
      val amp = new org.apache.hadoop.fs.Path(s"$annDir/idx/_graft_ann_batch")
      val afs = amp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      afs.delete(amp, false)
      val r = graft.streaming.AnnSink.applyBatch(spark,
        s"$annDir/idx", s"$annDir/corpus", "vec_id", "embedding",
        cosineThreshold = 0.95, annBatch, 0L,
        nProbe = 8, batchCells = 64)
      assert(r.count() == s0Count,
        "crash-window replay changed the sink survivor count")
      assert(spark.read.parquet(s"$annDir/idx/codes").count() == codesAfter,
        "crash-window replay duplicated the ANN index append")
      println(f"[stress] ann sink: ${sNovel}%,d novel kept, " +
        f"$sPlanted%,d of 2,000 planted dups slipped, append idempotent")
    }
    assertNoFunnel("ann-sink-500k")

    // ---- 16. keyword tagging at dictionary volume -----------------------
    // 10 001-pattern Aho–Corasick dictionary (10k fixed-width needles
    // sharing the 6-char prefix "needle" — deep shared trie paths —
    // plus the bare prefix itself, which matches EVERY planted doc and
    // exercises the merged-output chain) over 500k documents (fixture
    // ×100). The whole point of the automaton is that this costs ONE
    // narrow pass: the plan must contain no Exchange, and every planted
    // needle must be found exactly once with nothing else matching.
    val kwDocs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val kwCorpus = (0 until 100).map(i =>
      kwDocs.select((col("doc_id") * 100 + i).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
      .select(col("doc_id"),
        concat(col("text"), lit(" needle"),
          format_string("%04d", pmod(col("doc_id"), lit(10000))))
          .as("text"))
      .localCheckpoint()
    val nKwDocs = kwCorpus.count()
    val needleDict = (0 until 10000).map(i => f"needle$i%04d") :+ "needle"
    tme(s"keywordTags (10,001 patterns x ${nKwDocs} docs)") {
      val tagged = graft.ops.TextAnalysis.keywordTags(
        kwCorpus, "doc_id", "text", needleDict)
        .persist()
      assert(!tagged.queryExecution.executedPlan.toString.contains("Exchange"),
        "keywordTags must be a narrow scan — found an Exchange")
      val prefixHits = tagged.filter(col("keyword") === "needle")
      assert(prefixHits.count() == nKwDocs &&
        prefixHits.filter(col("n_hits") =!= 1).count() == 0,
        "bare-prefix pattern must hit every planted doc exactly once")
      val own = tagged.filter(col("keyword") =!= "needle")
      assert(own.count() == nKwDocs,
        s"expected one fixed-width needle per doc, got ${own.count()}")
      assert(own.filter(col("keyword") =!=
          format_string("needle%04d", pmod(col("doc_id"), lit(10000))))
        .count() == 0,
        "a document matched a needle that was not planted in it")
      tagged.unpersist()
    }
    assertNoFunnel("keyword-tags-500k")
    println(f"[stress] keywordTags: $nKwDocs%,d docs x 10,001 patterns, " +
      "one narrow pass, planted recall exact")

    // ---- 17. manifest pruning at file-count volume ----------------------
    // The manifest's claim is about FILE COUNTS: at 1,024 files a plain
    // range scan schedules 1,024 tasks just to discover most files are
    // irrelevant; the manifest keeps the planner's file list to the
    // ~1% that intersect. 5M rows range-clustered into 1,024 files, a
    // 1%-wide window: assert the kept-file share, row-exactness vs the
    // full-scan filter, and batch-cost append visibility.
    val mDir = java.nio.file.Files
      .createTempDirectory("graft_stress_manifest").toString
    tme("manifest write+prune (5M rows, 1,024 files)") {
      graft.ops.Layout.writeWithManifest(
        spark.range(5000000L).select(col("id"),
          pmod(col("id") * 2654435761L, lit(5000000L)).as("v")),
        Seq("v"), mDir, numFiles = 1024)
      val got = graft.ops.Layout.readPruned(spark, mDir,
        "v", 1000000L, 1049999L)
      val n = got.count()
      val want = spark.read.parquet(mDir)
        .filter(col("v") >= 1000000L && col("v") <= 1049999L).count()
      assert(n == want, s"pruned read lost rows: $n vs $want")
      val Array(kept, total) = graft.ops.Layout.lastManifestPrune.get()
        .split("/").map(_.toInt)
      assert(total >= 1000, s"expected ~1,024 manifest entries, got $total")
      assert(kept * 20 <= total,
        s"a 1% window should keep <=5% of files, kept $kept/$total")
      // append one 50k batch: manifest grows, straddling read exact
      graft.ops.Layout.appendWithManifest(
        spark.range(50000L).select((col("id") + 10000000L).as("id"),
          (col("id") + 1025000L).as("v")),
        Seq("v"), mDir, numFiles = 8)
      // window spans appended rows (v 1,025,000..1,074,999) AND
      // original-generation rows
      val straddle = graft.ops.Layout.readPruned(spark, mDir,
        "v", 1040000L, 2030000L)
      val sWant = spark.read.parquet(mDir)
        .filter(col("v") >= 1040000L && col("v") <= 2030000L)
        .count()
      assert(straddle.count() == sWant,
        "append-then-read lost or duplicated rows")
      println(f"[stress] manifest: $kept of $total files kept for a " +
        "1% window, append visible")
    }
    assertNoFunnel("manifest-1024-files")

    // ---- 18. concurrent manifest appenders (r10 lease) -------------------
    // Four appenders race into the leg-17 table (1,024+ files) with
    // disjoint 100k-row batches. The lease must serialize them: every
    // batch's rows land, the manifest tracks every new file exactly
    // once, and a full-window pruned read sees 400k new rows — a lost
    // manifest union or a double-stat would show here as a count drift.
    tme("manifest 4-way concurrent append (4 x 100k rows)") {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      val appends = (0 until 4).map { i =>
        Future {
          gate.await()
          graft.ops.Layout.appendWithManifest(
            spark.range(100000L)
              .select((col("id") + 20000000L + i * 100000L).as("id"),
                (col("id") + 20000000L + i * 100000L).as("v")),
            Seq("v"), mDir, numFiles = 4)
        }
      }
      gate.countDown()
      appends.foreach(Await.result(_, 300.seconds))
      val got = graft.ops.Layout.readPruned(spark, mDir,
        "v", 20000000L, 20399999L).count()
      assert(got == 400000L,
        s"concurrent appends lost or duplicated rows: $got of 400000")
      val mf = spark.read.parquet(
        s"$mDir/${graft.ops.Layout.ManifestDir}")
        .select(col("file")).collect().map(_.getString(0))
      assert(mf.distinct.length == mf.length,
        "duplicate manifest rows after concurrent appends")
    }
    assertNoFunnel("manifest-concurrent-append")

    // ---- 19. BM25 delete lifecycle at corpus volume ----------------------
    // 100k docs (fixture x20), tombstone the doc_id % 10 = 3 decile,
    // probe (the forgotten decile must never surface), compact (the
    // physical erase must fold the bucket files back AND keep serving),
    // probe again. The probe cost must stay bucket-pruned — the delete
    // machinery adds one broadcast anti-join, never a corpus rescan.
    val bmDir = java.nio.file.Files
      .createTempDirectory("graft_stress_bm25f").toString
    val bmCorpus = (0 until 20).map(i =>
      kwDocs.select((col("doc_id") * 20 + i).as("doc_id"), col("text")))
      .reduce(_ unionByName _).localCheckpoint()
    val nBm = bmCorpus.count()
    tme(s"bm25 forget ($nBm docs: save+tombstone+probe+compact+probe)") {
      graft.ops.Retrieval.saveBm25Index(bmCorpus, "doc_id", "text",
        bmDir, nBuckets = 32)
      graft.ops.Retrieval.bm25Index(bmDir).tombstone(
        bmCorpus.filter(col("doc_id") % 10 === 3).select(col("doc_id")),
        "doc_id")
      val queries = Seq(1L -> "spark join merge", 2L -> "fast scan filter")
      val soft = graft.ops.Retrieval.bm25TopKIndexed(spark, bmDir,
        "doc_id", queries, k = 50).persist()
      assert(soft.count() == 100L, "soft-delete probe must fill top-50")
      assert(soft.filter(col("doc_id") % 10 === 3).count() == 0,
        "a tombstoned doc surfaced while its tombstone stood")
      soft.unpersist()
      graft.ops.Retrieval.releaseCaches()
      graft.ops.Retrieval.bm25Index(bmDir).compact(spark)
      val hard = graft.ops.Retrieval.bm25TopKIndexed(spark, bmDir,
        "doc_id", queries, k = 50).persist()
      assert(hard.count() == 100L && hard
        .filter(col("doc_id") % 10 === 3).count() == 0,
        "a physically erased doc surfaced post-compaction")
      hard.unpersist()
      graft.ops.Retrieval.releaseCaches()
    }
    assertNoFunnel("bm25-forget-100k")

    // ---- 20. sharded HNSW at corpus volume --------------------------------
    // 200k distinct hash-synthetic vectors (dim 32) across 32 shards;
    // 200 queries are exact scaled twins of known corpus rows, so each
    // has a UNIQUE cosine-1.0 nearest neighbor — the planted ground
    // truth a greedy graph search should essentially never miss. Only
    // (query, candidate-id) pairs may leave the build tasks (the merge
    // is the bounded-heap kernel), so the leg runs under the no-funnel
    // listener like everything else.
    val hnswCorpus = spark.range(200000L).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 31), d -> CAST((CAST(pmod(xxhash64(id, d)," +
        " 1000) AS FLOAT) - 500.0) / 500.0 AS FLOAT))").as("embedding"))
      .localCheckpoint()
    val hnswQ = hnswCorpus.filter(col("vec_id") % 1000 === 7L)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> CAST(x * 2.0 AS FLOAT))")
          .as("embedding"))
    tme("hnsw topK (200k corpus x 200 planted-twin queries)") {
      val got = graft.ops.Hnsw.topK(hnswCorpus, hnswQ, "vec_id",
        "embedding", k = 1, nShards = 32)
        .select(col("query_id"), col("neighbor_id"))
        .as[(Long, Long)].collect().toMap
      val hits = got.count { case (q, n) => n == q - 1000000L }
      assert(got.size == 200 && hits >= 198,
        s"planted exact twins: $hits/200 found at rank 1")
      println(f"[stress] hnsw: $hits/200 planted twins at rank 1")
    }
    assertNoFunnel("hnsw-200k")

    // ---- 21. vacuum racing live committers (r11 — the r10 `weak`) --------
    // Four committers push 5 versions each into one snapshot table
    // while a zero-grace vacuumer loops over it the whole time —
    // maximally hostile: every gen dir is reclaimable the instant it
    // is written, so some commits WILL lose their gens mid-flight.
    // The invariant the r10 race broke: no commit may ever publish a
    // version that references a deleted generation. Every failure
    // must be clean (nothing published), every surviving version must
    // resolve and read, and the store must stay writable afterwards.
    val vacDir = java.nio.file.Files
      .createTempDirectory("graft_stress_vac").toString + "/table"
    tme("snapshot vacuum vs 4 committers x 5 commits (zero grace)") {
      import graft.sources.SnapshotStore
      SnapshotStore.commit(
        spark.range(1000L).select(col("id"), col("id").as("v")), vacDir)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val successes = new java.util.concurrent.atomic.AtomicInteger(0)
      val vacuumer = new Thread(() => {
        while (!stop.get()) {
          SnapshotStore.vacuum(spark, vacDir, keepLast = 1, graceMs = 0L)
          Thread.sleep(5)
        }
      })
      vacuumer.start()
      val committers = (1 to 4).map { c =>
        new Thread(() => {
          (1 to 5).foreach { i =>
            try {
              SnapshotStore.commit(
                spark.range(10000L).select(
                  (col("id") + c * 1000000L + i * 10000L).as("id"),
                  col("id").as("v")), vacDir)
              successes.incrementAndGet()
            } catch {
              case scala.util.control.NonFatal(_) =>
                failures.incrementAndGet()
            }
          }
        })
      }
      committers.foreach(_.start())
      committers.foreach(_.join(300000))
      stop.set(true)
      vacuumer.join(300000)
      assert(successes.get() + failures.get() == 20,
        s"${successes.get()} ok + ${failures.get()} fenced != 20")
      val vs = SnapshotStore.versions(spark, vacDir)
      vs.foreach { v =>
        val n = SnapshotStore.readVersion(spark, vacDir, v).count()
        assert(n > 0, s"surviving version $v reads empty")
      }
      val vNew = SnapshotStore.commit(
        spark.range(500L).select(col("id"), col("id").as("v")), vacDir)
      assert(SnapshotStore.readVersion(spark, vacDir, vNew).count() == 500L)
      // LIVENESS phase: under the PRODUCTION grace window the same
      // interleaving must let every commit through — the zero-grace
      // phase above proves the failure path is clean, this proves the
      // shipped default never triggers it (at stress data sizes the
      // zero-grace vacuum ate every in-flight gen, so without this
      // phase the leg would only ever exercise the fence)
      val stop2 = new java.util.concurrent.atomic.AtomicBoolean(false)
      // capture failures instead of letting threads die silently: a
      // dead vacuumer would make the liveness assertion VACUOUS (no
      // vacuum actually raced the commits), and a dead committer
      // would fail it with the real cause lost (r11 review finding)
      val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val vacPasses = new java.util.concurrent.atomic.AtomicInteger(0)
      val vac2 = new Thread(() => {
        try {
          while (!stop2.get()) {
            SnapshotStore.vacuum(spark, vacDir, keepLast = 1)
            vacPasses.incrementAndGet()
            Thread.sleep(5)
          }
        } catch { case t: Throwable => errs2.add(t) }
      })
      vac2.start()
      val ok2 = new java.util.concurrent.atomic.AtomicInteger(0)
      val committers2 = (1 to 2).map { c =>
        new Thread(() => {
          try {
            (1 to 3).foreach { i =>
              SnapshotStore.commit(
                spark.range(5000L).select(
                  (col("id") + c * 10000000L + i * 100000L).as("id"),
                  col("id").as("v")), vacDir)
              ok2.incrementAndGet()
            }
          } catch { case t: Throwable => errs2.add(t) }
        })
      }
      committers2.foreach(_.start())
      committers2.foreach(_.join(300000))
      stop2.set(true)
      vac2.join(300000)
      if (!errs2.isEmpty) throw errs2.peek()
      assert(ok2.get() == 6,
        s"default-grace liveness: only ${ok2.get()}/6 commits landed")
      assert(vacPasses.get() > 0,
        "liveness phase vacuous: the vacuum never completed a pass")
      SnapshotStore.versions(spark, vacDir).foreach { v =>
        val n = SnapshotStore.readVersion(spark, vacDir, v).count()
        assert(n > 0, s"surviving version $v reads empty")
      }
      println(s"[stress] vacuum race: ${successes.get()} committed + " +
        s"${failures.get()} failed cleanly at zero grace; 6/6 landed " +
        "at default grace; all surviving versions resolve")
    }
    assertNoFunnel("vacuum-race")

    // ---- 22. persisted HNSW lifecycle at corpus volume -------------------
    // The leg-20 corpus (200k x 32-dim) through the r11 persisted
    // face: save, probe the 200 planted twins, append 200 NEW exact
    // twins (+2e6 ids), probe k=2 (both copies must surface; the
    // lower id wins rank 1 by tiebreak), tombstone the originals,
    // probe k=1 (only the appended twin may answer), compact
    // (physical erase), probe once more. Only (query, candidate-id)
    // pairs leave the shard tasks — the leg runs under the no-funnel
    // listener like the in-memory face.
    val hnswIdx = java.nio.file.Files
      .createTempDirectory("graft_stress_hnswidx").toString + "/idx"
    tme("hnsw persisted lifecycle (200k: save+probe+append+forget)") {
      import graft.ops.Hnsw
      Hnsw.saveHnswIndex(hnswCorpus, "vec_id", "embedding", hnswIdx,
        nShards = 32)
      def top(k: Int): Map[Long, Seq[Long]] =
        Hnsw.hnswTopKIndexed(spark, hnswIdx, hnswQ, "vec_id",
          "embedding", k = k)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .as[(Long, Long, Int)].collect()
          .groupBy(_._1).map { case (q, rs) =>
            q -> rs.sortBy(_._3).map(_._2).toSeq
          }
      val t0 = top(1)
      val hits0 = t0.count { case (q, ns) => ns == Seq(q - 1000000L) }
      assert(t0.size == 200 && hits0 >= 198,
        s"persisted probe: $hits0/200 planted twins at rank 1")
      val twins = hnswCorpus.filter(col("vec_id") % 1000 === 7L)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          expr("transform(embedding, x -> CAST(x * 4.0 AS FLOAT))")
            .as("embedding"))
      Hnsw.appendHnswIndex(twins, "vec_id", "embedding", hnswIdx)
      val t1 = top(2)
      val both = t1.count { case (q, ns) =>
        ns == Seq(q - 1000000L, q + 1000000L)
      }
      assert(both >= 198,
        s"append: $both/200 queries see original then appended twin")
      Hnsw.hnswIndex(hnswIdx).tombstone(
        hnswCorpus.filter(col("vec_id") % 1000 === 7L)
          .select(col("vec_id")), "vec_id")
      val t2 = top(1)
      val dead = t2.count { case (q, ns) => ns == Seq(q + 1000000L) }
      assert(dead >= 198 &&
        !t2.exists { case (q, ns) => ns.contains(q - 1000000L) },
        s"tombstone: $dead/200 serve the appended twin, originals dead")
      Hnsw.hnswIndex(hnswIdx).compact(spark)
      val t3 = top(1)
      assert(t3.count { case (q, ns) => ns == Seq(q + 1000000L) } >= 198 &&
        !t3.exists { case (q, ns) => ns.contains(q - 1000000L) },
        "compaction resurfaced an erased node or lost the twin")
      // r11 serving handle at volume: load once, probe twice — the
      // second probe answers from the persisted built graphs (no
      // scan, no shuffle, no rebuild) and BOTH must equal the
      // one-shot probe exactly (shared kernel)
      val h = Hnsw.loadHnswIndex(spark, hnswIdx)
      def topH(): Map[Long, Seq[Long]] =
        h.topK(hnswQ, "vec_id", "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .as[(Long, Long, Int)].collect()
          .groupBy(_._1).map { case (q, rs) =>
            q -> rs.sortBy(_._3).map(_._2).toSeq
          }
      val w0 = System.nanoTime(); val h1 = topH()
      val cold = (System.nanoTime() - w0) / 1e9
      val w1 = System.nanoTime(); val h2 = topH()
      val warm = (System.nanoTime() - w1) / 1e9
      assert(h1 == t3 && h2 == t3,
        "serving handle diverged from the one-shot probe at volume")
      h.unload()
      println(s"[stress] hnsw lifecycle: $hits0/200 saved, $both/200 " +
        s"after append, $dead/200 after tombstone, compact clean; " +
        f"handle cold $cold%.1fs warm $warm%.1fs")
    }
    assertNoFunnel("hnsw-persisted-lifecycle")

    // r12: deletes at INDEX scale — tombstone 10% of the 200k corpus
    // and probe through the pruned tombstone path (forced via conf,
    // since 20k longs sit below the default 8 MiB threshold). The
    // pruned probe must answer bit-identically to the direct
    // anti-join while never shuffling or broadcasting the tombstone
    // list (candidate-bounded Bloom semi-join — the 100 TB shape for
    // post-RTBF indexes).
    tme("hnsw mass-tombstone probe prune (20k dead of 200k)") {
      import graft.ops.Hnsw
      Hnsw.hnswIndex(hnswIdx).tombstone(
        hnswCorpus.filter(col("vec_id") % 10 === 3L).select(col("vec_id")),
        "vec_id")
      def top1(): Map[Long, Seq[Long]] =
        Hnsw.hnswTopKIndexed(spark, hnswIdx, hnswQ, "vec_id",
          "embedding", k = 1)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .as[(Long, Long, Int)].collect()
          .groupBy(_._1).map { case (q, rs) =>
            q -> rs.sortBy(_._3).map(_._2).toSeq
          }
      val d0 = System.nanoTime(); val direct = top1()
      val directSec = (System.nanoTime() - d0) / 1e9
      spark.conf.set("graft.hnsw.tombstonePruneBytes", "0")
      try {
        val p0 = System.nanoTime(); val pruned = top1()
        val prunedSec = (System.nanoTime() - p0) / 1e9
        assert(pruned == direct,
          "pruned tombstone probe diverged from the direct anti-join")
        assert(direct.nonEmpty)
        println(f"[stress] hnsw mass-tombstone: ${direct.size} queries, " +
          f"direct $directSec%.1fs, pruned $prunedSec%.1fs (bloom tier)")
      } finally spark.conf.unset("graft.hnsw.tombstonePruneBytes")
    }
    assertNoFunnel("hnsw-tombstone-prune")

    // ---- 23. sink-corpus purge at volume (r11) ------------------------
    // 400k rows across 20 ingest batches (the streaming sinks'
    // published layout, written directly — the layout is the
    // contract); purge 1,000 ids that land in exactly 4 batches. The
    // purge must rewrite ONLY those 4 partitions (file sets elsewhere
    // byte-untouched — at a real corpus this is what makes RTBF
    // affordable), erase exactly the purge set, and re-run as a no-op.
    val scBase = java.nio.file.Files
      .createTempDirectory("graft_stress_sinkcorpus").toString + "/corpus"
    tme("sink-corpus purge (400k rows, 20 batches, 4 affected)") {
      import graft.streaming.SinkCorpus
      spark.range(400000L).select(col("id").as("doc_id"),
          expr("id DIV 20000").cast("int").as("ingest_batch"),
          concat(lit("payload "), col("id")).as("text"))
        .write.mode("error").partitionBy("ingest_batch").parquet(scBase)
      val affected = Set(3, 7, 11, 19)
      val purge = spark.range(400000L)
        .filter(col("id") % 20000L < 250 &&
          expr("id DIV 20000").isin(affected.toSeq: _*))
        .select(col("id"))
      val fsC = new org.apache.hadoop.fs.Path(scBase)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(b: Int): Set[(String, Long)] = fsC.listStatus(
          new org.apache.hadoop.fs.Path(s"$scBase/ingest_batch=$b"))
        .filter(_.isFile)
        .map(s => (s.getPath.getName, s.getModificationTime)).toSet
      val before = (0 until 20).map(b => b -> files(b)).toMap
      assert(SinkCorpus.purge(purge, "id", scBase, "doc_id") == 4)
      (0 until 20).filterNot(affected).foreach { b =>
        assert(files(b) == before(b), s"untouched partition $b rewritten")
      }
      val post = spark.read.parquet(scBase)
      assert(post.count() == 399000L)
      assert(post.filter(col("doc_id") % 20000L < 250 &&
        expr("doc_id DIV 20000").isin(affected.toSeq: _*)).isEmpty,
        "a purged id survived")
      assert(SinkCorpus.purge(purge, "id", scBase, "doc_id") == 0)
    }
    assertNoFunnel("sink-corpus-purge")

    fuzzyCandidates(spark)
    assertNoFunnel("fuzzy-candidates")

    println("[stress] ALL OK")
    spark.stop()
  }
}
