package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

/**
 * Physical-plan audit over the driver query inventory — the scale
 * anti-patterns the engine must never reintroduce, asserted on real
 * plans rather than trusted from scaladoc:
 *
 *  - no WindowExec without a partition spec (a global window funnels
 *    the whole relation through ONE task — the round-1 insert-pk bug);
 *  - no CartesianProductExec (a broadcast nested-loop from an
 *    intentional small-side cross is fine; a partitioned cartesian is
 *    always a mistake at scale);
 *  - filters reach the parquet scans (PushedFilters non-empty where a
 *    query filters a base table);
 *  - column pruning reaches the scans (a 3-column aggregate must not
 *    read a 16-column table).
 */
class PlanAuditSpec extends SparkSpec {

  private def plansOf(name: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    Seq(df.queryExecution.sparkPlan)
  }

  private def collectAll[A](p: SparkPlan)(f: PartialFunction[SparkPlan, A]): Seq[A] =
    p.collect(f) ++ p.subqueries.flatMap(collectAll(_)(f))

  // queries whose construction runs driver-side actions are still fine
  // to plan-audit: builders execute, the returned DF is what we check
  private lazy val allNames = SparkEntry.queries.keys.toSeq.sorted

  test("the scaling harness audits only real gate names") {
    val unknown = graft.tools.Scaling.DefaultQueries
      .filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"Scaling references unknown gates: $unknown")
  }

  test("no query plan contains an unpartitioned window (unless its " +
    "input is limit-bounded)") {
    allNames.foreach { name =>
      plansOf(name).foreach { plan =>
        val bad = collectAll(plan) {
          case w: WindowExec
            if w.partitionSpec.isEmpty && !limitBounded(w) => w
        }
        if (bad.nonEmpty)
          fail(s"$name has a global (unpartitioned) window:\n${bad.head}")
      }
    }
  }

  /** A window whose INPUT is already capped by a rank/row limit is
    * scale-safe regardless of its partition key: WindowGroupLimitExec
    * caps every task at k rows before the window's shuffle, and
    * LimitPushDownThroughWindow folds `row_number <= k` into a
    * TakeOrderedAndProject / limit below the window (ThetaSketch's
    * empty-group path compiles to exactly that). The limit must sit on
    * the SPINE of the window's input (the walk stops at joins/unions —
    * r13 ADVICE): a limit beneath one branch of a join caps that
    * branch, not the join output, so it exempts nothing. */
  private def limitBounded(w: WindowExec): Boolean = spineLimitedP(w.child)

  private def spineLimitedP(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec |
         _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec |
         _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.CollectLimitExec => true
    case u if u.children.size == 1 => spineLimitedP(u.children.head)
    case _ => false // join/union/leaf: a branch-local limit bounds nothing
  }

  // ------------------------------------------------------------------
  // The empirical bounded-window audit (r13, replacing r12's declared
  // BoundedCardinalityKeys name list — the list caught q_ntile and
  // q_percent_rank only because their keys happened to be on it; a
  // funnel on an UNLISTED bounded key slipped through, and this audit
  // promptly found one: q_merge_intervals' per-key gaps-and-islands
  // window over a mod-50 key, since rewritten as a distributed sweep).
  //
  // Judgment is MEASURED, not declared: a window is scale-safe iff its
  // average partition size stays ~constant as the data grows — growing
  // keys (user_id, doc_id) absorb new rows into new groups, while a
  // bounded key's groups each swallow the growth and become one-task
  // row sets at 100 TB. The same criterion covers unbounded-state
  // AGGREGATES (collect_list/collect_set buffer every group row), so
  // the audit judges both node kinds with one ruler. Concretely, for
  // every suspect not structurally limit-bounded, measure (child rows,
  // grouping-key groups) on sf0.001 and sf0.01:
  //  - child rows < RowsFloor at sf0.01 → safe (the input itself is
  //    fixture-bounded — e.g. a bounded-key aggregate beneath, the old
  //    boundedAggInput exemption, now measured instead of declared);
  //  - avg group size bloat across the 10× step < Bloat1 → safe
  //    (measured safe plans sit at ≤1.01×);
  //  - otherwise ESCALATE to the sf0.01→sf0.1 step and FIT the three
  //    average-group-size points (r14, replacing the fixed Bloat2=4
  //    constant whose [2.5, 4) band was undecided — r13 verdict #3):
  //    with fixture steps at 10× (x = 1, 10, 100), solve the
  //    saturating model a = A·x/(x+K) exactly through the first two
  //    points and the linear model a = α+β·x likewise, then classify
  //    by which model's sf0.1 prediction the measured a3 is closer to
  //    in log space. A true funnel tracks the linear prediction
  //    (q_merge_intervals measured 10.0× sustained before its sweep
  //    rewrite — first-step growth ≥ the 10× data step short-circuits
  //    to funnel, since saturation evidence is absent by definition);
  //    a group whose CONTENT is capped by construction tracks the
  //    saturating one (q_stream_quantiles' DDSketch bucket grid:
  //    7.1× decaying to 2.5× — the sat fit through 7.1 PREDICTS 2.56
  //    for the second step). Thresholds are derived from the fixture
  //    geometry, not hand-picked; the only constants left are the
  //    escalation trigger and the rows floor. A boundary note: exact
  //    power-law growth (groups ∝ √data) sits equidistant from both
  //    models in log space — the tie flags as funnel, which is right
  //    (a √data group is still unbounded at 100 TB).
  // ------------------------------------------------------------------
  private val RowsFloor = 512L
  private val Bloat1 = 1.8
  /** The generated fixtures step 10× in scale factor (TESTDATA.md) —
    * the x-axis of the saturating-vs-linear fit. */
  private val Step = 10.0
  private val sf001 = "/root/testdata/sf0.01"
  private val sf01 = "/root/testdata/sf0.1"

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
  import org.apache.spark.sql.catalyst.plans.logical.{
    Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow, WindowGroupLimit}
  import org.apache.spark.sql.graftshim.PlanProbe

  /** Spine walk, not subtree search (r13 ADVICE): a limit beneath one
    * branch of a join/union caps that branch only — the suspect's
    * input is NOT bounded by it, so such plans fall through to the
    * measured path instead of being silently exempted. */
  private def limitBoundedL(child: LogicalPlan): Boolean = child match {
    case _: WindowGroupLimit | _: GlobalLimit | _: LocalLimit => true
    case u if u.children.size == 1 => limitBoundedL(u.children.head)
    case _ => false
  }

  /** A funnel suspect: a plan node whose per-group STATE is
    * group-sized — a partitioned window (WindowExec materializes a
    * window partition per task) or an aggregate carrying an
    * unbounded-state function (collect_list/collect_set accumulate
    * every group row in one buffer; sum/count/min_by are O(1) and
    * percentile sketches are resolution-bounded, so only the Collect
    * family qualifies). Both funnel identically under a bounded key:
    * one task/buffer holding a data-scale row set. */
  private case class Suspect(kind: String, keys: Seq[Expression],
                             child: LogicalPlan) {
    def describeKeys: String = keys.map(_.sql).mkString(", ")
  }

  /** The suspects the measured audit must judge, from the OPTIMIZED
    * logical plan (where InferWindowGroupLimit /
    * LimitPushDownThroughWindow have already run). Structurally
    * limit-bounded inputs are exempt: a WindowGroupLimit beneath caps
    * every group at k rows before the shuffle, a Limit caps the total.
    * Unpartitioned windows are the separate structural test above;
    * ungrouped collects stay IN scope (keys = Nil measures as one
    * group). */
  private def suspectsOf(df: org.apache.spark.sql.DataFrame): Seq[Suspect] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: LWindow if w.partitionSpec.nonEmpty && !limitBoundedL(w.child) =>
        Suspect("window", w.partitionSpec, w.child)
      case a: Aggregate
        if a.aggregateExpressions.exists(_.exists(e =>
          e.isInstanceOf[CollectList] || e.isInstanceOf[CollectSet]))
          && !limitBoundedL(a.child) =>
        // NOT Collect[_]: CollectTopK is heap-bounded by construction
        Suspect("collect-agg", a.groupingExpressions, a.child)
    }

  // (rows, groups) measurements are cached by canonicalized
  // (keys, child) so shared operators measure once per suite
  private val measureCache =
    scala.collection.mutable.HashMap[String, (Long, Long)]()

  private def measure(s: Suspect): (Long, Long) = {
    val key = s.keys.map(_.canonicalized).mkString(",") + "|" +
      s.child.canonicalized.toString
    measureCache.getOrElseUpdate(key, {
      val rows = PlanProbe.ofRows(spark, s.child).count()
      val groups =
        if (s.keys.isEmpty) 1L
        else PlanProbe
          .ofRows(spark, PlanProbe.distinctOf(s.keys, s.child)).count()
      (rows, groups)
    })
  }

  private def avg(rg: (Long, Long)): Double =
    if (rg._2 == 0) 0.0 else rg._1.toDouble / rg._2

  /** Run the measured audit over one query builder; returns offender
    * descriptions (empty = scale-safe). */
  // node kinds the inventory actually exercised — guards the matcher
  // against silently rotting to vacuous coverage
  private val seenKinds = scala.collection.mutable.HashSet[String]()

  /** Cross-fixture identity of a suspect: kind + partition/grouping
    * keys by their SQL form (names, not exprIds — exprIds differ
    * across independently-built plans). Suspects are matched across
    * fixtures by this signature, not position (r13 verdict #2), so a
    * plan whose traversal order legitimately differs by fixture size
    * (AQE thresholds, size-gated strategies, reordered branches) is
    * measured rather than aborted. */
  private def sig(s: Suspect): String =
    s.kind + "[" + s.keys.map(_.sql).sorted.mkString(", ") + "]"

  private def funnelBloat(build: String => org.apache.spark.sql.DataFrame,
                          label: String): Seq[String] = {
    val small = suspectsOf(build(sf0001))
    small.foreach(s => seenKinds += s.kind)
    if (small.isEmpty) return Nil
    val big = suspectsOf(build(sf001))
    val gS = small.groupBy(sig)
    val gB = big.groupBy(sig)
    assert(gS.keySet == gB.keySet &&
      gS.forall { case (k, v) => gB(k).size == v.size },
      s"$label: suspects don't match across fixtures by (kind, keys) " +
        s"signature — sf0.001 ${gS.view.mapValues(_.size).toMap} vs " +
        s"sf0.01 ${gB.view.mapValues(_.size).toMap}; the loud abort " +
        "remains only for genuinely unmatchable sets")
    lazy val gX = suspectsOf(build(sf01)).groupBy(sig)
    gS.toSeq.sortBy(_._1).flatMap { case (sg, ssL) =>
      ssL.zip(gB(sg)).zipWithIndex.flatMap { case ((ss, sb), j) =>
        val (rb, gb) = measure(sb)
        if (rb < RowsFloor) None
        else {
          val a1 = avg(measure(ss))
          val a2 = avg((rb, gb))
          val bloat1 = if (a1 == 0) Double.MaxValue else a2 / a1
          if (bloat1 < Bloat1) None
          else {
            // escalate: third fixture + the saturating-vs-linear fit
            val sxL = gX.getOrElse(sg, Nil)
            assert(sxL.size == ssL.size,
              s"$label: suspect $sg count differs at sf0.1 " +
                s"(${sxL.size} vs ${ssL.size})")
            val a3 = avg(measure(sxL(j)))
            val bloat2 = if (a2 == 0) Double.MaxValue else a3 / a2
            // fit both 2-parameter models exactly through (1, a1) and
            // (Step, a2); judge a3 against their x = Step² predictions
            val (aLin, aSat, funnel) =
              if (a3 == 0.0) (0.0, 0.0, false)
              else if (bloat1 >= Step) (a3, a3, true) // ≥ data rate: no
                // saturation evidence exists; the sat fit has no K>0
              else {
                val k = Step * (bloat1 - 1.0) / (Step - bloat1)
                val sat = a2 * Step * (Step + k) / (Step * Step + k)
                val lin = a1 + (a2 - a1) * (Step * Step - 1.0) / (Step - 1.0)
                (lin, sat,
                  math.abs(math.log(a3 / lin)) <= math.abs(math.log(a3 / sat)))
              }
            if (!funnel) None
            else Some(f"$label ${ss.kind}[$j] keys=[${ss.describeKeys}]: " +
              f"avg group size grew $bloat1%.2fx on sf0.001->sf0.01 and " +
              f"$bloat2%.2fx on sf0.01->sf0.1 (rows=$rb, groups=$gb at " +
              f"sf0.01; a3=$a3%.1f sits closer to the linear fit " +
              f"$aLin%.1f than the saturating fit $aSat%.1f) — a " +
              "bounded-key group is ONE task/buffer holding a " +
              "data-scale row set")
          }
        }
      }
    }
  }

  test("measured: no window's or collect-aggregate's average group " +
    "size grows with the data (the empirical funnel audit — r13, " +
    "catches bounded keys whatever they are named)") {
    val offenders = allNames.flatMap { name =>
      funnelBloat(dir => SparkEntry.queries(name)(spark, dir), name)
    }
    if (offenders.nonEmpty)
      fail(s"${offenders.size} node(s) measured as funnels:\n" +
        offenders.mkString("\n\n"))
    assert(Set("window", "collect-agg").subsetOf(seenKinds.toSet),
      s"matcher coverage rotted — kinds seen: $seenKinds (the " +
        "inventory contains both partitioned windows and collect " +
        "aggregates; an empty kind means the matcher stopped seeing " +
        "them, not that they left the plans)")
  }

  test("measured audit flags a planted funnel on a key no declared " +
    "list has ever named") {
    import org.apache.spark.sql.expressions.{Window => W}
    def planted(dir: String) = {
      val w = W.partitionBy(col("zebra_bucket")).orderBy(col("l_orderkey"))
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_partkey") % 7).as("zebra_bucket"),
          col("l_orderkey"), col("l_quantity"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") > 1) // no rank-limit: nothing to group-cap
    }
    val off = funnelBloat(planted, "planted")
    assert(off.nonEmpty, "a 7-value key over a growing table must flag")
    // and the same shape over a GROWING key must pass
    def safe(dir: String) = {
      val w = W.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") > 1)
    }
    assert(funnelBloat(safe, "safe").isEmpty,
      "a data-growing key must not flag")
    // and a rank-limited window is structurally exempt before any
    // measurement, even on a bounded key
    def limited(dir: String) = {
      val w = W.partitionBy(col("zebra_bucket")).orderBy(col("l_orderkey"))
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_partkey") % 7).as("zebra_bucket"), col("l_orderkey"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= 3)
    }
    assert(suspectsOf(limited(sf0001)).isEmpty,
      "row_number<=k must compile to a WindowGroupLimit exemption")
    // the same funnel in AGGREGATE form: a collect_list over a bounded
    // key is one buffer swallowing a data-scale group — the audit
    // judges it with the same ruler (and this proves the aggregate
    // matcher actually matches)
    def plantedAgg(dir: String) =
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_partkey") % 7).as("zebra_bucket"),
          col("l_orderkey"))
        .groupBy(col("zebra_bucket"))
        .agg(org.apache.spark.sql.functions
          .collect_list(col("l_orderkey")).as("ids"))
    val aggOff = funnelBloat(plantedAgg, "planted-agg")
    assert(aggOff.nonEmpty && aggOff.head.contains("collect-agg"),
      s"a bounded-key collect_list must flag as a funnel: $aggOff")
  }

  test("fit classifies a slow-saturating bounded input as safe (the " +
    "[2.5,4) band the fixed Bloat2 constant left undecided)") {
    // a collect_list whose input is a DISTINCT over a 30k-value hash
    // domain: per-group distinct counts fill toward the cap (coupon
    // collector) — ~845 at sf0.001, ~7.5k at sf0.01 (8.8x, escalates),
    // ~28k at sf0.1 (3.8x — inside the old undecided band). The group
    // CONTENT is capped by construction, so the saturating model fits
    // and the audit must classify it safe; under a fixed Bloat2 the
    // verdict depended on where in the band the second step landed.
    import org.apache.spark.sql.functions.{collect_list, hash, pmod,
      lit => flit}
    def plantedSat(dir: String) =
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_partkey") % 7).as("zebra_bucket"),
          pmod(hash(col("l_orderkey"), col("l_linenumber")),
            flit(30000)).as("v"))
        .distinct()
        .groupBy(col("zebra_bucket"))
        .agg(collect_list(col("v")).as("vs"))
    val off = funnelBloat(plantedSat, "planted-sat")
    assert(off.isEmpty,
      s"a capped-domain distinct-below-collect must fit saturating: $off")
  }

  test("suspects are matched across fixtures by signature, not " +
    "position (a builder whose branch order differs by fixture still " +
    "audits)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.row_number
    def branch(dir: String, part: String, ord: String) = {
      val w = W.partitionBy(col(part)).orderBy(col(ord))
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col(part), col(ord))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1)
        .select(col(part).as("k"), col("rn"))
    }
    def swapped(dir: String) = {
      // both windows partition by GROWING keys (orderkey ~15k/150k
      // groups, partkey ~2k/20k) — each is safe, but under POSITIONAL
      // matching the sf0.001 orderkey window would be compared against
      // the sf0.01 partkey window (avg 4 vs avg 30 — a phantom 7.5x
      // bloat measured across two DIFFERENT operators)
      val a = branch(dir, "l_orderkey", "l_linenumber")
      val b = branch(dir, "l_partkey", "l_orderkey")
      if (dir == sf0001) a.unionByName(b) else b.unionByName(a)
    }
    assert(funnelBloat(swapped, "swapped").isEmpty,
      "signature matching must pair each window with its own key " +
        "across fixtures")
  }

  test("no query plan contains a partitioned cartesian product") {
    allNames.foreach { name =>
      plansOf(name).foreach { plan =>
        val bad = collectAll(plan) { case c: CartesianProductExec => c }
        assert(bad.isEmpty, s"$name has a CartesianProductExec")
      }
    }
  }

  test("no query plan contains a global sort over a base relation") {
    // orderBy().limit() folds to TakeOrderedAndProject (fine); a bare
    // global SortExec in a batch query is a full-relation range shuffle
    allNames.foreach { name =>
      plansOf(name).foreach { plan =>
        val bad = collectAll(plan) { case s: SortExec if s.global => s }
        assert(bad.isEmpty, s"$name has a global SortExec")
      }
    }
  }

  test("conform pushes its row filters into the events scan") {
    val plan = plansOf("q_conform").head
    val scans = collectAll(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(_ != "[]"),
      s"q_conform scan has no pushed filters: $pushed")
  }

  test("aggregates prune base-table columns at the scan") {
    val plan = plansOf("q_group_records").head
    val scans = collectAll(plan) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // lineitem has 16 columns; the query needs exactly 3
    assert(scans.forall(_.output.length <= 3),
      s"q_group_records reads ${scans.map(_.output.length)} columns")
  }

  test("metadata-only multimodal query never reads payload bytes") {
    val plan = plansOf("q_multimodal_meta").head
    val scans = collectAll(plan) { case s: FileSourceScanExec => s }
    assert(scans.forall(!_.output.map(_.name).contains("payload")))
  }

  test("dimension joins in the match family broadcast the small side") {
    val plan = plansOf("q_match_aux").head
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "q_match_aux does not broadcast its dimension tables at sf0.001")
  }

  test("narrow per-row passes compile to zero exchanges") {
    // z-order keying and scrape cleaning are pure per-row transforms:
    // ANY exchange in their plan is a regression
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Seq("q_zorder", "q_clean_text").foreach { name =>
      val bad = collectAll(plansOf(name).head) {
        case e: ShuffleExchangeExec => e
      }
      assert(bad.isEmpty, s"$name shuffles: ${bad.size} exchanges")
    }
    // BMP resize is also per-row, but its kernel is deliberately
    // fanned out across the cores (Dispatch.fanOut, r14): the ONE
    // allowed exchange is a hash repartition whose input is the bare
    // id projection of the scan — a shuffle that carries ids only,
    // never computed results. Anything beyond that shape (more than
    // one exchange, or an exchange fed by kernel output) regresses.
    val resizeEx = collectAll(plansOf("q_multimodal_resize").head) {
      case e: ShuffleExchangeExec => e
    }
    assert(resizeEx.size <= 1,
      s"q_multimodal_resize shuffles: ${resizeEx.size} exchanges")
    resizeEx.foreach { e =>
      assert(e.output.map(_.name) == Seq("doc_id"),
        s"q_multimodal_resize's fan-out exchange must carry ids only, " +
          s"got ${e.output.map(_.name)}")
    }
  }

  test("the problink blocked join fans out BOTH projected sides, " +
    "carrying ids + compared columns only (the r14 fan-out shape)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // at this suite's single-split fixture + local[8], Dispatch.fanOut
    // must engage on both scorePairs inputs: exactly the two explicit
    // hash repartitions, each carrying the bare __-prefixed projection
    // (id, block keys, compared fields) — never kernel output (agree_*/
    // match_* attach above the join)
    val ex = collectAll(plansOf("q_problink").head) {
      case e: ShuffleExchangeExec => e
    }
    assert(ex.size == 2,
      s"q_problink expects its two fan-out exchanges, got ${ex.size}")
    ex.foreach { e =>
      val names = e.output.map(_.name)
      assert(names.forall(_.startsWith("__")),
        s"problink fan-out must carry the bare projection, got $names")
    }
  }

  test("stream-static enrichment broadcasts the dimension") {
    val s = plansOf("q_enrich").head.toString
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      "q_enrich does not broadcast the customer dimension")
  }

  test("bloom prefilter runs on the probe side below the join") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = plansOf("q_bloom_join").head
    val joins = collectAll(plan) {
      case j: BroadcastHashJoinExec => j: SparkPlan
      case j: ShuffledHashJoinExec => j: SparkPlan
      case j: SortMergeJoinExec => j: SparkPlan
    }
    assert(joins.nonEmpty, "q_bloom_join lost its join")
    // the UDF filter must appear strictly below the join (prefilter,
    // not post-filter): search the join's children for a Filter whose
    // condition mentions the bloom UDF
    val below = joins.flatMap(_.children).flatMap(c => collectAll(c) {
      case f: FilterExec if f.condition.toString.contains("UDF") => f
    })
    assert(below.nonEmpty, "bloom UDF filter is not below the join")
  }

  test("equality-only merge and dedup match with no window and no " +
    "exchange keyed on working_source_id") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators._
    // every node, through AQE and into the plans of the caches read
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries).flatMap(nodes)
    })
    def audit(what: String, df: DataFrame): Unit = {
      val all = nodes(df.queryExecution.executedPlan)
      assert(!all.exists(_.isInstanceOf[WindowExec]), s"$what has a window")
      val bySourceId = all.collect {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case keyed: Expression => keyed.references.exists(_.name == Matcher.SourceId)
          case _ => false
        }) => e
      }
      assert(bySourceId.isEmpty, s"$what shuffles on ${Matcher.SourceId}")
    }
    val customer = spark.read.parquet(s"$sf0001/customer.parquet")
    val merge = Merger.merge(
      customer.select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      customer.filter(col("c_custkey") < 100),
      MergeSpec(MatchSpec(Seq(ExactGroup.onColumns("c_custkey"),
        ExactGroup.onColumns("c_name")), targetPk = "c_custkey"),
        mergeExpressions = Map("c_acctbal" -> "$T + $S")))
    audit("merge", merge.matched)
    merge.unpersist()
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    Seq(
      Seq(ExactGroup.onColumns("o_custkey", "o_orderdate")),
      Seq(ExactGroup.onColumns("o_custkey", "o_orderdate"),
        ExactGroup.onColumns("o_orderstatus", "o_orderdate"))
    ).foreach { groups =>
      val spec = MergeSpec(MatchSpec(groups, targetPk = "o_orderkey"),
        mergeExpressions = Map("o_totalprice" -> "$T + $S"))
      // an explicit orientation takes the general (self-match) path
      val res = Deduper.dedup(orders, spec,
        orientation = Some(Deduper.defaultOrientation("o_orderkey")),
        enforceInvariants = false)
      audit(s"dedup newTable (${groups.size} groups)", res.newTable)
      audit(s"dedup duplicates (${groups.size} groups)", res.duplicates)
      res.unpersist()
    }
  }
}
