package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** Statistics over tables: annotation agreement, preference models,
  * evaluation metrics, mergeable sketches, privacy audits, sampling and
  * per-group distributions. */
object StatsGates {
  import Gate.t

  // ---- shared builders ---------------------------------------------------

  /** Synthetic (item, annotator, label) rating table for the
    * annotation-consolidation gates — events folded so items collect
    * several raters with genuinely mixed labels. */
  private def annotations(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("event_id").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select((col("event_id") % 500).as("item"),
        (col("user_id") % 11).as("annot"),
        col("event_type").as("label"))

  /**
   * r11 outcome pin for `q_sketch_rollup`: the HLL rollup at sf0.01 —
   * pure integer outputs (row counts + distinct estimates).
   * DataSketches HLL registers are order-invariant MAXES, so the
   * estimate is a pure function of the value set at any layout; the
   * former "no SQL oracle" row only ever reflected that DuckDB cannot
   * replay the sketch registers, which pinning does not need.
   */
  private[graft] val SketchRollupPins: Seq[(String, Long, Long)] = Seq(
    ("signup", 2017L, 150L),
    ("click", 2006L, 150L),
    ("purchase", 1981L, 150L),
    ("error", 2014L, 150L),
    ("view", 1982L, 150L),
    ("__ALL__", 10000L, 150L))

  val all: Seq[Gate] = Seq(

    // frequent-pair association rules over order baskets: support /
    // confidence / lift from exact counts — the co-purchase signal,
    // basket-capped before the pair join
    Gate("q_assoc_rules", (s, dir) =>
      graft.ops.Features.frequentPairs(
        t(s, dir, "lineitem").filter(col("l_orderkey") % 3 === 0),
        "l_orderkey", "l_partkey", minPairCount = 1,
        maxBasketSize = 1000),
      Some("""WITH it AS (
        | SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        | WHERE l_orderkey % 3 = 0
        |   AND l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |keep AS (
        | SELECT b, i FROM it WHERE b IN
        |  (SELECT b FROM it GROUP BY b HAVING count(*) <= 1000)),
        |n AS (SELECT count(DISTINCT b) AS nb FROM keep),
        |ic AS (SELECT i, count(*) AS c FROM keep GROUP BY i),
        |pc AS (
        | SELECT a.i AS ia, b.i AS ib, count(*) AS n_ab
        | FROM keep a JOIN keep b ON a.b = b.b AND a.i < b.i
        | GROUP BY 1, 2 HAVING count(*) >= 1)
        |SELECT pc.ia AS item_a, pc.ib AS item_b, pc.n_ab,
        | ca.c AS n_a, cb.c AS n_b,
        | round(CAST(pc.n_ab AS DOUBLE) / n.nb, 6) AS support,
        | round(CAST(pc.n_ab AS DOUBLE) / ca.c, 6) AS conf_ab,
        | round(CAST(pc.n_ab AS DOUBLE) / cb.c, 6) AS conf_ba,
        | round(CAST(pc.n_ab AS DOUBLE) * n.nb /
        |   (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
        |FROM pc JOIN ic ca ON ca.i = pc.ia
        |        JOIN ic cb ON cb.i = pc.ib
        |CROSS JOIN n""".stripMargin)),

    // smoothed target encoding: per-brand mean price shrunk toward the
    // global prior (m-estimate) — the high-cardinality categorical
    // featurizer; DECIMAL sums keep it engine-exact
    Gate("q_target_encode", (s, dir) =>
      graft.ops.Features.targetEncode(
        t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("l_extendedprice")),
        "p_brand", "l_extendedprice", m = 10.0),
      Some("""WITH base AS (
        | SELECT p.p_brand, CAST(l.l_extendedprice AS DECIMAL(18,6)) AS y
        | FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        | WHERE l.l_extendedprice IS NOT NULL),
        |g AS (SELECT CAST(sum(y) AS DOUBLE) AS gs, count(*) AS gn
        |      FROM base)
        |SELECT p_brand, count(*) AS n,
        | round((CAST(sum(y) AS DOUBLE) + 10.0 * (g.gs / g.gn))
        |   / (count(*) + 10.0), 6) AS enc
        |FROM base CROSS JOIN g
        |GROUP BY p_brand, g.gs, g.gn""".stripMargin)),

    // multi-annotator label consolidation: most-voted label per item,
    // smallest label on ties, plus the agreement fraction — a min_by
    // aggregate, never a per-item window (hub-item safe)
    Gate("q_majority_vote", (s, dir) =>
      graft.ops.Features.majorityVote(
        annotations(s, dir), "item", "annot", "label"),
      Some("""WITH a AS (
        | SELECT event_id % 500 AS item, user_id % 11 AS annot,
        |        event_type AS label
        | FROM events
        | WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |   AND event_type IS NOT NULL),
        |v AS (SELECT item, label, count(*) AS c FROM a GROUP BY 1, 2),
        |w AS (SELECT item, label, c,
        |       row_number() OVER (PARTITION BY item
        |                          ORDER BY c DESC, label) AS rn,
        |       CAST(sum(c) OVER (PARTITION BY item) AS BIGINT) AS total,
        |       count(*) OVER (PARTITION BY item) AS n_labels
        |      FROM v)
        |SELECT item, label, c AS votes, total, n_labels,
        | round(CAST(c AS DOUBLE) / total, 6) AS agreement
        |FROM w WHERE rn = 1""".stripMargin)),

    // Fleiss' kappa over the same rating table: chance-corrected
    // agreement, variable raters per item — the annotation-batch
    // go/no-go statistic, one scalar row
    Gate("q_fleiss_kappa", (s, dir) =>
      graft.ops.Features.fleissKappa(
        annotations(s, dir), "item", "annot", "label"),
      Some("""WITH a AS (
        | SELECT event_id % 500 AS item, user_id % 11 AS annot,
        |        event_type AS label
        | FROM events
        | WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |   AND event_type IS NOT NULL),
        |nij AS (SELECT item, label, count(*) AS c FROM a GROUP BY 1, 2),
        |pi AS (
        | SELECT CAST(round(CAST(sum(c*(c-1)) AS DOUBLE) /
        |          CAST(sum(c)*(sum(c)-1) AS DOUBLE), 12)
        |        AS DECIMAL(38,12)) AS pi
        | FROM nij GROUP BY item HAVING sum(c) >= 2),
        |pbar AS (SELECT CAST(sum(pi) AS DOUBLE) / count(*) AS pbar,
        |         count(*) AS n_items FROM pi),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM nij),
        |pj AS (
        | SELECT CAST(round((CAST(cj AS DOUBLE) / nt) *
        |          (CAST(cj AS DOUBLE) / nt), 12) AS DECIMAL(38,12)) AS pj2
        | FROM (SELECT label, CAST(sum(c) AS BIGINT) AS cj
        |       FROM nij GROUP BY 1) CROSS JOIN tot),
        |pe AS (SELECT CAST(sum(pj2) AS DOUBLE) AS pe,
        |       count(*) AS n_categories FROM pj),
        |cnt AS (SELECT count(*) AS n_ratings FROM a)
        |SELECT n_items, n_categories, n_ratings,
        | round(pbar, 9) AS p_bar, round(pe, 9) AS p_e,
        | CASE WHEN pe >= 1.0 THEN NULL
        |      ELSE round((pbar - pe) / (1.0 - pe), 9) END AS kappa
        |FROM pbar CROSS JOIN pe CROSS JOIN cnt""".stripMargin)),

    // per-annotator accuracy vs the consolidated label — the rater
    // quality score (who disagrees, not just whether the batch does)
    Gate("q_annotator_accuracy", (s, dir) =>
      graft.ops.Features.annotatorAccuracy(
        annotations(s, dir), "item", "annot", "label"),
      Some("""WITH a AS (
        | SELECT event_id % 500 AS item, user_id % 11 AS annot,
        |        event_type AS label
        | FROM events
        | WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |   AND event_type IS NOT NULL),
        |v AS (SELECT item, label, count(*) AS c FROM a GROUP BY 1, 2),
        |m AS (
        | SELECT item, label AS maj FROM (
        |  SELECT item, label,
        |   row_number() OVER (PARTITION BY item
        |                      ORDER BY c DESC, label) AS rn
        |  FROM v) WHERE rn = 1)
        |SELECT annot, count(*) AS n_rated,
        | count(CASE WHEN a.label = m.maj THEN 1 END) AS n_agree,
        | round(CAST(count(CASE WHEN a.label = m.maj THEN 1 END) AS DOUBLE)
        |   / count(*), 6) AS accuracy
        |FROM a JOIN m USING (item) GROUP BY annot""".stripMargin)),

    // Krippendorff's alpha over the same ratings: the missing-data-
    // tolerant agreement statistic (coincidence-matrix identities)
    Gate("q_krippendorff", (s, dir) =>
      graft.ops.Features.krippendorffAlpha(
        annotations(s, dir), "item", "annot", "label"),
      Some("""WITH a AS (
        | SELECT event_id % 500 AS item, user_id % 11 AS annot,
        |        event_type AS label
        | FROM events
        | WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        |   AND event_type IS NOT NULL),
        |nuc AS (SELECT item, label, count(*) AS c FROM a GROUP BY 1, 2),
        |pu AS (
        | SELECT item, CAST(sum(c) AS BIGINT) AS nu,
        |  CAST(round(CAST(sum(c*(c-1)) AS DOUBLE) /
        |    CAST(sum(c) - 1 AS DOUBLE), 12) AS DECIMAL(38,12)) AS occ
        | FROM nuc GROUP BY item HAVING sum(c) >= 2),
        |pc AS (
        | SELECT n.label, CAST(sum(n.c) AS BIGINT) AS nc
        | FROM nuc n JOIN pu ON pu.item = n.item GROUP BY 1),
        |se AS (
        | SELECT CAST(sum(CAST(nc AS DECIMAL(19,0)) *
        |   CAST(nc - 1 AS DECIMAL(19,0))) AS DOUBLE) AS se,
        |  count(*) AS n_categories FROM pc),
        |tot AS (
        | SELECT count(*) AS n_units, CAST(sum(nu) AS BIGINT) AS n_pairable,
        |  CAST(sum(occ) AS DOUBLE) AS so FROM pu),
        |d AS (
        | SELECT n_units, n_categories, n_pairable,
        |  CAST(1.0 AS DOUBLE) - so / n_pairable AS dor,
        |  CAST(1.0 AS DOUBLE) - se /
        |    (CAST(n_pairable AS DOUBLE) * (n_pairable - 1)) AS der
        | FROM tot CROSS JOIN se)
        |SELECT n_units, n_categories, n_pairable,
        | round(dor, 9) AS d_o, round(der, 9) AS d_e,
        | CASE WHEN der > CAST(0.0 AS DOUBLE)
        |      THEN round(CAST(1.0 AS DOUBLE) - dor / der, 9) END AS alpha
        |FROM d""".stripMargin)),

    // head-to-head win rates + Wilson lower bounds over the same
    // preference pairs: the uncertainty-priced scoreboard
    Gate("q_win_rates", (s, dir) =>
      graft.ops.Features.winRates(
        t(s, dir, "lineitem")
          .select((col("l_partkey") % 100).cast("long").as("w"),
            (col("l_suppkey") % 100).cast("long").as("l"))
          .filter(col("w") =!= col("l")),
        "w", "l", z = 1.96),
      Some("""WITH pr AS (
        | SELECT CAST(l_partkey % 100 AS BIGINT) AS wi,
        |        CAST(l_suppkey % 100 AS BIGINT) AS lo
        | FROM lineitem
        | WHERE l_partkey % 100 <> l_suppkey % 100),
        |w AS (SELECT wi, lo, count(*) AS w FROM pr GROUP BY 1, 2),
        |u AS (
        | SELECT least(wi, lo) AS item_a, greatest(wi, lo) AS item_b,
        |  CAST(sum(CASE WHEN wi < lo THEN w ELSE 0 END) AS BIGINT)
        |    AS wins_a,
        |  CAST(sum(CASE WHEN wi > lo THEN w ELSE 0 END) AS BIGINT)
        |    AS wins_b
        | FROM w GROUP BY 1, 2),
        |c AS (
        | SELECT item_a, item_b, wins_a, wins_b, wins_a + wins_b AS n,
        |  CAST(wins_a AS DOUBLE) / (wins_a + wins_b) AS p
        | FROM u)
        |SELECT item_a, item_b, wins_a, wins_b, n,
        | round(p, 9) AS win_rate_a,
        | round((p + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (2 * n)
        |   - CAST(1.96 AS DOUBLE) *
        |     sqrt((p * (CAST(1.0 AS DOUBLE) - p)
        |       + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / (4 * n))
        |      / n))
        |  / (CAST(1.0 AS DOUBLE)
        |     + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / n), 9)
        |  AS wilson_lb_a
        |FROM c""".stripMargin)),

    // Bradley-Terry strengths from pairwise preferences (MM iteration,
    // 2 rounds, half-win smoothing) — the reward-modeling primitive;
    // comparisons collapse to pair counts before any join
    Gate("q_bradley_terry", (s, dir) =>
      graft.ops.Features.bradleyTerry(
        t(s, dir, "lineitem")
          .select((col("l_partkey") % 100).cast("long").as("w"),
            (col("l_suppkey") % 100).cast("long").as("l"))
          .filter(col("w") =!= col("l")),
        "w", "l", iterations = 2, pseudo = 0.5),
      Some("""WITH pr AS (
        | SELECT CAST(l_partkey % 100 AS BIGINT) AS wi,
        |        CAST(l_suppkey % 100 AS BIGINT) AS lo
        | FROM lineitem
        | WHERE l_partkey % 100 <> l_suppkey % 100),
        |w AS (SELECT wi, lo, count(*) AS w FROM pr GROUP BY 1, 2),
        |g AS (SELECT i, j, CAST(sum(w) AS BIGINT) AS n FROM (
        |       SELECT wi AS i, lo AS j, w FROM w
        |       UNION ALL SELECT lo, wi, w FROM w) GROUP BY 1, 2),
        |wins AS (SELECT wi AS i, CAST(sum(w) AS BIGINT) AS wins
        |         FROM w GROUP BY 1),
        |base AS (
        | SELECT g.i, coalesce(wins.wins, 0) AS wins,
        |        CAST(sum(g.n) AS BIGINT) AS games,
        |        CAST(coalesce(wins.wins, 0) AS DOUBLE)
        |          + CAST(0.5 AS DOUBLE) * count(*) AS wsm
        | FROM g LEFT JOIN wins ON wins.i = g.i
        | GROUP BY g.i, wins.wins),
        |p0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM base),
        |d1 AS (
        | SELECT g.i, CAST(sum(CAST(round(
        |          (CAST(g.n AS DOUBLE) + CAST(1.0 AS DOUBLE))
        |            / (pi.p + pj.p), 12) AS DECIMAL(38,12))) AS DOUBLE) AS d
        | FROM g JOIN p0 pi ON pi.i = g.i JOIN p0 pj ON pj.i = g.j
        | GROUP BY g.i),
        |r1 AS (SELECT base.i, base.wsm / d1.d AS raw
        |       FROM base JOIN d1 ON d1.i = base.i),
        |s1 AS (SELECT CAST(sum(CAST(round(raw, 12) AS DECIMAL(38,12)))
        |        AS DOUBLE) AS s FROM r1),
        |p1 AS (SELECT i, round(raw / s, 9) AS p FROM r1 CROSS JOIN s1),
        |d2 AS (
        | SELECT g.i, CAST(sum(CAST(round(
        |          (CAST(g.n AS DOUBLE) + CAST(1.0 AS DOUBLE))
        |            / (pi.p + pj.p), 12) AS DECIMAL(38,12))) AS DOUBLE) AS d
        | FROM g JOIN p1 pi ON pi.i = g.i JOIN p1 pj ON pj.i = g.j
        | GROUP BY g.i),
        |r2 AS (SELECT base.i, base.wsm / d2.d AS raw
        |       FROM base JOIN d2 ON d2.i = base.i),
        |s2 AS (SELECT CAST(sum(CAST(round(raw, 12) AS DECIMAL(38,12)))
        |        AS DOUBLE) AS s FROM r2),
        |p2 AS (SELECT i, round(raw / s, 9) AS p FROM r2 CROSS JOIN s2)
        |SELECT base.i AS item, base.wins, base.games, p2.p AS strength
        |FROM base JOIN p2 ON p2.i = base.i""".stripMargin)),

    // l-diversity: quasi-identifier groups whose SENSITIVE attribute
    // has too few distinct values — k-anonymity's leak the release
    // gate also has to catch
    Gate("q_ldiversity", (s, dir) =>
      graft.operators.Audits.lDiversity(
        t(s, dir, "customer")
          .select(col("c_nationkey"),
            (col("c_custkey") % 40).cast("long").as("bucket"),
            col("c_mktsegment")),
        Seq("c_nationkey", "bucket"), "c_mktsegment", l = 4),
      Some("""SELECT c_nationkey, CAST(c_custkey % 40 AS BIGINT) AS bucket,
        | count(*) AS group_size,
        | count(DISTINCT c_mktsegment) AS distinct_sensitive
        |FROM customer GROUP BY 1, 2
        |HAVING count(DISTINCT c_mktsegment) < 4""".stripMargin)),

    // approximate functional-dependency profile: X→Y confidence under
    // the best mapping — exact-FD discovery plus near-FD dirty-row
    // detection over an unfamiliar dump
    Gate("q_fd_profile", (s, dir) =>
      graft.operators.Audits.fdConfidence(
        t(s, dir, "orders"),
        Seq("o_orderkey" -> "o_custkey",
          "o_custkey" -> "o_orderstatus",
          "o_orderstatus" -> "o_orderpriority")),
      Some("""WITH f1 AS (
        | SELECT x, max(c) AS m, sum(c) AS t FROM
        |  (SELECT o_orderkey AS x, o_custkey AS y, count(*) AS c
        |   FROM orders GROUP BY 1, 2) GROUP BY x),
        |f2 AS (
        | SELECT x, max(c) AS m, sum(c) AS t FROM
        |  (SELECT o_custkey AS x, o_orderstatus AS y, count(*) AS c
        |   FROM orders GROUP BY 1, 2) GROUP BY x),
        |f3 AS (
        | SELECT x, max(c) AS m, sum(c) AS t FROM
        |  (SELECT o_orderstatus AS x, o_orderpriority AS y, count(*) AS c
        |   FROM orders GROUP BY 1, 2) GROUP BY x)
        |SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
        | CAST(sum(t) AS BIGINT) AS total_rows,
        | count(*) AS ndv_determinant,
        | CAST(sum(m) AS BIGINT) AS consistent_rows,
        | round(CAST(sum(m) AS DOUBLE) / CAST(sum(t) AS BIGINT), 9)
        |   AS confidence
        |FROM f1
        |UNION ALL
        |SELECT 'o_custkey', 'o_orderstatus', CAST(sum(t) AS BIGINT),
        | count(*), CAST(sum(m) AS BIGINT),
        | round(CAST(sum(m) AS DOUBLE) / CAST(sum(t) AS BIGINT), 9)
        |FROM f2
        |UNION ALL
        |SELECT 'o_orderstatus', 'o_orderpriority', CAST(sum(t) AS BIGINT),
        | count(*), CAST(sum(m) AS BIGINT),
        | round(CAST(sum(m) AS DOUBLE) / CAST(sum(t) AS BIGINT), 9)
        |FROM f3""".stripMargin)),

    // MAD robust outlier flags: median/MAD fence per event type — the
    // heavy-tail-safe z-score (two exact-percentile aggregates)
    Gate("q_mad_outliers", (s, dir) =>
      graft.ops.Ranking.madOutliers(
        t(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value", k = 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("robust_z"), col("is_outlier")),
      Some("""WITH m AS (
        | SELECT event_type, quantile_cont(value, 0.5) AS med
        | FROM events WHERE value IS NOT NULL GROUP BY 1),
        |d AS (
        | SELECT e.event_id, e.event_type, e.value, m.med
        | FROM events e JOIN m USING (event_type)
        | WHERE e.value IS NOT NULL),
        |md AS (
        | SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        | FROM d GROUP BY 1),
        |z AS (
        | SELECT d.event_id, d.event_type, d.value, d.med, md.mad,
        |  CASE WHEN md.mad > CAST(0.0 AS DOUBLE) THEN
        |   round((d.value - d.med) /
        |     (CAST(1.4826 AS DOUBLE) * md.mad), 6) END AS robust_z
        | FROM d JOIN md USING (event_type))
        |SELECT event_id, event_type, value, med, mad, robust_z,
        | (mad > CAST(0.0 AS DOUBLE)
        |   AND abs(robust_z) > CAST(3.5 AS DOUBLE)) AS is_outlier
        |FROM z""".stripMargin)),

    // ranked lists -> preference pairs (the DPO/reward-data prep step,
    // bradleyTerry's input shape); group-capped before the self-join
    Gate("q_preference_pairs", (s, dir) =>
      graft.ops.Features.preferencePairs(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        "l_extendedprice", maxGroupSize = 1000),
      Some("""WITH it AS (
        | SELECT l_orderkey AS g, l_partkey AS i,
        |        max(CAST(l_extendedprice AS DOUBLE)) AS s
        | FROM lineitem
        | WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |   AND l_extendedprice IS NOT NULL
        | GROUP BY 1, 2),
        |keep AS (
        | SELECT * FROM it WHERE g IN
        |  (SELECT g FROM it GROUP BY g HAVING count(*) <= 1000))
        |SELECT a.g AS l_orderkey, a.i AS winner, b.i AS loser,
        |       a.s - b.s AS margin
        |FROM keep a JOIN keep b ON a.g = b.g AND a.s > b.s""".stripMargin)),

    // exact ROC-AUC via the Mann-Whitney rank probability: per-score
    // counts + a distributed prefix sum — never a global window
    Gate("q_roc_auc", (s, dir) =>
      graft.operators.Audits.rocAuc(
        t(s, dir, "events")
          .select(col("value"),
            (col("event_type") === "purchase").as("y")),
        "value", "y"),
      Some("""WITH s AS (
        | SELECT value AS sc,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS pos,
        |  count(CASE WHEN NOT (event_type = 'purchase') THEN 1 END) AS neg
        | FROM events
        | WHERE value IS NOT NULL AND event_type IS NOT NULL
        | GROUP BY 1),
        |c AS (
        | SELECT sc, pos, neg,
        |  CAST(coalesce(sum(neg) OVER (ORDER BY sc
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS nb
        | FROM s),
        |t AS (
        | SELECT CAST(sum(pos) AS BIGINT) AS p, CAST(sum(neg) AS BIGINT) AS n,
        |  sum(CAST(pos AS DOUBLE) * nb +
        |      CAST(0.5 AS DOUBLE) * pos * neg) AS u
        | FROM c)
        |SELECT p AS n_pos, n AS n_neg,
        | CASE WHEN p > 0 AND n > 0
        |      THEN round(u / (CAST(p AS DOUBLE) * n), 9) END AS auc
        |FROM t""".stripMargin)),

    // reliability table (the ECE ledger): per-bin confidence vs
    // accuracy of a [0,1] score against a boolean label
    Gate("q_calibration", (s, dir) =>
      graft.operators.Audits.calibrationTable(
        t(s, dir, "events")
          .select(((col("event_id") % 97) / lit(97.0)).as("score"),
            (col("event_type") === "purchase").as("y")),
        "score", "y", bins = 10),
      Some("""WITH b AS (
        | SELECT least(9, CAST(floor(s * 10) AS BIGINT)) AS bin, s, y FROM
        |  (SELECT (event_id % 97) / CAST(97.0 AS DOUBLE) AS s,
        |          event_type = 'purchase' AS y
        |   FROM events
        |   WHERE event_id IS NOT NULL AND event_type IS NOT NULL)
        | WHERE s >= 0 AND s <= 1)
        |SELECT bin, count(*) AS n,
        | round(CAST(sum(CAST(round(s, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |   / count(*), 9) AS confidence,
        | round(CAST(count(CASE WHEN y THEN 1 END) AS DOUBLE)
        |   / count(*), 9) AS accuracy,
        | round(CAST(count(CASE WHEN y THEN 1 END) AS DOUBLE) / count(*)
        |   - CAST(sum(CAST(round(s, 12) AS DECIMAL(38,12))) AS DOUBLE)
        |     / count(*), 9) AS gap
        |FROM b GROUP BY bin""".stripMargin)),

    // k-anonymity audit: (lang, source) groups re-identifiable below
    // k=50 — the privacy pre-flight before a corpus release
    Gate("q_kanon", (s, dir) =>
      graft.operators.Audits.kAnonymity(
        t(s, dir, "documents"), Seq("lang", "source"), k = 50),
      Some("""SELECT lang, source, count(*) AS group_size
        |FROM documents GROUP BY 1, 2
        |HAVING count(*) < 50""".stripMargin)),

    // differentially-private count release (r11 — the geometric
    // mechanism, Ghosh et al. 2009): noisy_n = count + (G1 − G2),
    // G geometric(α=1/2) ⇒ ε = ln 2 for sensitivity-1 counts. The
    // noise is PRG-seeded (the production DP model — the seed is the
    // secret) and PURE INTEGER: two 31-bit fields of
    // fmix64(hash64(key) ⊕ seed), each drawn by counting power-of-two
    // thresholds — so the release is layout-invariant and the oracle
    // replays hash, fields, and draws bit-for-bit (no exp/log, which
    // is what keeps arbitrary-ε Laplace un-oracle-able)
    Gate("q_dp_counts", (s, dir) =>
      graft.operators.Audits.dpCounts(t(s, dir, "events"),
        Seq("event_type"), seed = 42L),
      // FULL replay of the KMV/theta family: fmix64 over user_id (the
      // q_simhash HUGEINT wrapping-multiply machinery), per-type k-min
      // distinct hash sets, the union rollup recomputed directly from
      // the value set (KMV union ≡ sketch of the union), and the
      // estimator/intersection IEEE trees evaluated verbatim
      // geometric-mechanism DP release replayed end to end: FNV/fmix64
      // (hash64) over the key, ⊕ seed, fmix64 again, split into the two
      // 31-bit fields, each geometric draw a COUNT of power-of-two
      // threshold comparisons — integers only, bit-for-bit
      Some("""WITH c AS (
        | SELECT event_type, count(*) AS n_true FROM events GROUP BY 1),
        |f0 AS (SELECT event_type, n_true, CAST(list_reduce(
        |   list_prepend(14695981039346656037::HUGEINT,
        |     list_transform(generate_series(1, length(event_type)),
        |       i -> unicode(substr(event_type, i, 1))::HUGEINT)),
        |   (h, ch) -> (xor(h::UBIGINT, ch::UBIGINT)::HUGEINT
        |               * 1099511628211) % 18446744073709551616)
        |  AS UBIGINT) AS h FROM c),
        |a1 AS (SELECT event_type, n_true, xor(h, h >> 33) AS a FROM f0),
        |a2 AS (SELECT event_type, n_true, CAST((((a % 4294967296)::HUGEINT
        |  * 18397679294719823053) + (((a // 4294967296)::HUGEINT
        |  * (18397679294719823053 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS b FROM a1),
        |a3 AS (SELECT event_type, n_true, xor(b, b >> 33) AS c FROM a2),
        |a4 AS (SELECT event_type, n_true, CAST((((c % 4294967296)::HUGEINT
        |  * 14181476777654086739) + (((c // 4294967296)::HUGEINT
        |  * (14181476777654086739 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS d FROM a3),
        |hs AS (SELECT event_type, n_true,
        |        xor(xor(d, d >> 33), 42::UBIGINT) AS e FROM a4),
        |b1 AS (SELECT event_type, n_true, xor(e, e >> 33) AS a FROM hs),
        |b2 AS (SELECT event_type, n_true, CAST((((a % 4294967296)::HUGEINT
        |  * 18397679294719823053) + (((a // 4294967296)::HUGEINT
        |  * (18397679294719823053 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS b FROM b1),
        |b3 AS (SELECT event_type, n_true, xor(b, b >> 33) AS c FROM b2),
        |b4 AS (SELECT event_type, n_true, CAST((((c % 4294967296)::HUGEINT
        |  * 14181476777654086739) + (((c // 4294967296)::HUGEINT
        |  * (14181476777654086739 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS d FROM b3),
        |hh AS (SELECT event_type, n_true, xor(d, d >> 33) AS h FROM b4),
        |fld AS (SELECT event_type, n_true,
        |        (h >> 33) & 2147483647 AS f1,
        |        (h >> 2) & 2147483647 AS f2 FROM hh),
        |dr AS (SELECT event_type, n_true,
        |  len(list_filter(generate_series(1, 31),
        |    j -> f1 < (1::UBIGINT << (31 - j)))) AS g1,
        |  len(list_filter(generate_series(1, 31),
        |    j -> f2 < (1::UBIGINT << (31 - j)))) AS g2
        | FROM fld)
        |SELECT event_type, n_true,
        | CAST(g1 - g2 AS INTEGER) AS noise,
        | n_true + (g1 - g2) AS noisy_n
        |FROM dr""".stripMargin)),

    // exact heavy hitters (count > N/k) via per-partition Misra-Gries
    // nomination + broadcast recount — no full-vocabulary shuffle
    Gate("q_heavy_hitters", (s, dir) =>
      graft.ops.HeavyHitters.frequentItems(
        t(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .filter(col("tok") =!= ""),
        "tok", k = 50),
      Some("""WITH t AS (
        | SELECT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |   AS tok
        | FROM documents),
        |t2 AS (SELECT tok FROM t WHERE tok <> '' AND tok IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM t2)
        |SELECT t2.tok, count(*) AS cnt
        |FROM t2 CROSS JOIN n
        |GROUP BY t2.tok, n.n
        |HAVING count(*) * 50 > n.n""".stripMargin)),

    // mergeable distinct-count sketches: per-type HLL sketch table
    // rolled up per type AND to the grand total by UNIONING registers
    // (sketch once, answer any rollup later — never re-scan, never add
    // estimates). ORACLED since r11 by outcome pinning: DataSketches
    // HLL registers are order-invariant maxes, so the pure-integer
    // outputs are a layout-independent function of the value set —
    // pinned as constants (SketchRollupPins), tripwire-re-derived in
    // PqPinSpec; mergeability and error bounds stay spec-pinned.
    // DuckDB cannot replay the sketch registers — that recompute gap
    // is what kept this rows-only.
    Gate("q_sketch_rollup", (s, dir) => {
      val sk = graft.operators.Audits.distinctSketches(
        t(s, dir, "events"), Seq("event_type"), "user_id")
      val perType = graft.operators.Audits
        .rollupSketches(sk, Seq("event_type"))
      val total = graft.operators.Audits.rollupSketches(sk, Nil)
        .select(lit("__ALL__").as("event_type"), col("n_rows"),
          col("approx_distinct"))
      perType.unionByName(total)
    },
      // HLL rollup pinned — pure integer outputs of order-invariant
      // register maxes (see SketchRollupPins)
      // Oracle for `q_sketch_rollup` from [[SketchRollupPins]].
      Some {
        val rows = SketchRollupPins.map { case (et, n, d) =>
          s"('${et.replace("'", "''")}',$n,$d)"
        }.mkString(",")
        s"""SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
           |  CAST(approx_distinct AS BIGINT) AS approx_distinct
           |FROM (VALUES $rows) AS t(event_type, n_rows, approx_distinct)"""
          .stripMargin
      }),

    // KMV / theta distinct-count sketches (r11): the mergeable-sketch
    // capability HLL registers CANNOT provide — set INTERSECTION
    // ("users who did BOTH A and B"). State = the k smallest distinct
    // fmix64 hashes per group: pure integers, order-free by
    // construction, so unlike q_sketch_rollup's register pins this
    // gate is a FULL DuckDB recompute — the oracle replays the hash
    // (the q_simhash HUGEINT machinery), the k-min sets, and the
    // estimator's exact IEEE tree. Faces: d:<type> per-type distinct
    // estimate, u:__ALL__ the union rollup, i:<a>|<b> every pairwise
    // audience-overlap estimate.
    Gate("q_theta_sketch", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
      val sk = graft.ops.ThetaSketch.sketch(ev, Seq("event_type"),
        "user_id", k = 64)
      val perType = sk.select(lit("d").as("face"),
        col("event_type").as("key"),
        graft.ops.ThetaSketch.estimate(col("theta_ks"), 64).as("est"))
      val total = graft.ops.ThetaSketch.rollup(sk, Nil, 64)
        .select(lit("u").as("face"), lit("__ALL__").as("key"),
          graft.ops.ThetaSketch.estimate(col("theta_ks"), 64).as("est"))
      val pairs = graft.ops.ThetaSketch
        .intersect(sk, sk, Seq("event_type"), 64)
        .filter(col("a_event_type") < col("b_event_type"))
        .select(lit("i").as("face"),
          concat(col("a_event_type"), lit("|"), col("b_event_type"))
            .as("key"),
          col("est_intersection").as("est"))
      perType.unionByName(total).unionByName(pairs)
    },
      Some("""WITH v AS (
        | SELECT DISTINCT event_type, CAST(user_id AS UBIGINT) AS x
        | FROM events WHERE user_id IS NOT NULL),
        |s1 AS (SELECT event_type, xor(x, x >> 33) AS a FROM v),
        |s2 AS (SELECT event_type, CAST((((a % 4294967296)::HUGEINT
        |  * 18397679294719823053) + (((a // 4294967296)::HUGEINT
        |  * (18397679294719823053 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS b
        | FROM s1),
        |s3 AS (SELECT event_type, xor(b, b >> 33) AS c FROM s2),
        |s4 AS (SELECT event_type, CAST((((c % 4294967296)::HUGEINT
        |  * 14181476777654086739) + (((c // 4294967296)::HUGEINT
        |  * (14181476777654086739 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS d
        | FROM s3),
        |hd AS (SELECT DISTINCT event_type,
        |         CAST(xor(d, d >> 33) >> 1 AS BIGINT) AS h
        |       FROM s4),
        |rk AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h)
        |          AS rn
        |       FROM hd),
        |ks AS (SELECT event_type, list(h ORDER BY h) AS ks
        |       FROM rk WHERE rn <= 64 GROUP BY event_type),
        |ua AS (SELECT h FROM (SELECT DISTINCT h FROM hd)
        |       ORDER BY h LIMIT 64),
        |uks AS (SELECT list(h ORDER BY h) AS ks FROM ua),
        |d AS (SELECT 'd' AS face, event_type AS key,
        |       CASE WHEN len(ks) < 64 THEN CAST(len(ks) AS DOUBLE)
        |            ELSE CAST(63 AS DOUBLE) / (CAST(ks[64] AS DOUBLE)
        |              / CAST(9223372036854775808 AS DOUBLE)) END AS est
        |      FROM ks),
        |u AS (SELECT 'u' AS face, '__ALL__' AS key,
        |       CASE WHEN len(ks) < 64 THEN CAST(len(ks) AS DOUBLE)
        |            ELSE CAST(63 AS DOUBLE) / (CAST(ks[64] AS DOUBLE)
        |              / CAST(9223372036854775808 AS DOUBLE)) END AS est
        |      FROM uks),
        |i0 AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |        a.ks AS ka, b.ks AS kb,
        |        least(CASE WHEN len(a.ks) < 64 THEN 9223372036854775807
        |                   ELSE a.ks[64] END,
        |              CASE WHEN len(b.ks) < 64 THEN 9223372036854775807
        |                   ELSE b.ks[64] END) AS theta
        |       FROM ks a JOIN ks b ON a.event_type < b.event_type),
        |i AS (SELECT 'i' AS face, ta || '|' || tb AS key,
        |       CAST(len(list_filter(list_intersect(ka, kb),
        |              x -> x < theta)) AS DOUBLE)
        |        / (CAST(theta AS DOUBLE)
        |           / CAST(9223372036854775808 AS DOUBLE)) AS est
        |      FROM i0)
        |SELECT * FROM d UNION ALL SELECT * FROM u
        |UNION ALL SELECT * FROM i""".stripMargin)),

    // one-call corpus datasheet: totals, per-language counts, and
    // DDSketch length quantiles as a tall (metric, value) table —
    // every number layout-invariant and oracle-exact, so two corpus
    // versions' cards diff cleanly
    Gate("q_dataset_card", (s, dir) =>
      graft.ops.DatasetCard.build(t(s, dir, "documents"),
        "text", "lang"),
      // q_dataset_card oracle — totals/blanks/tokens plus the DDSketch
      // grand-total quantile chain over char lengths, metric names as
      // literals on both sides (deriving "p50" from q·100 crosses a
      // double→int cast whose rounding differs by engine).
      Some {
        val lnG = graft.operators.Audits.ddLnGamma(0.02).toString
        val mid = graft.operators.Audits.ddMidFactor(0.02).toString
        s"""WITH base AS (
           | SELECT coalesce(CAST(lang AS VARCHAR), '_null') AS lang2,
           |  CAST(length(coalesce(text, '')) AS BIGINT) AS chars,
           |  CASE WHEN text IS NULL OR trim(coalesce(text, '')) = ''
           |       THEN 1 ELSE 0 END AS blank,
           |  CASE WHEN text IS NULL OR trim(coalesce(text, '')) = '' THEN 0
           |       ELSE len(string_split_regex(lower(trim(coalesce(text, ''))),
           |                '\\s+')) END AS toks
           | FROM documents),
           |tot AS (
           | SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(blank) AS BIGINT) AS blanks,
           |  CAST(sum(chars) AS BIGINT) AS chars,
           |  CAST(sum(toks) AS BIGINT) AS toks
           | FROM base),
           |b AS (
           | SELECT CASE WHEN v > 0 THEN CAST(ceil(round(ln(v)/$lnG, 6)) AS INT)
           |        WHEN v = 0 THEN -1048576
           |        ELSE -2097152 - CAST(ceil(round(ln(-v)/$lnG, 6)) AS INT)
           |   END AS qb,
           |  count(*) AS cnt
           | FROM (SELECT CAST(chars AS DOUBLE) AS v FROM base) GROUP BY 1),
           |c AS (
           | SELECT qb,
           |  CAST(sum(cnt) OVER (ORDER BY qb ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND CURRENT ROW) AS BIGINT) AS cum,
           |  CAST(sum(cnt) OVER () AS BIGINT) AS nn
           | FROM b),
           |p AS (
           | SELECT q, min(qb) AS qb FROM c
           | CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)),
           |                    (CAST(0.95 AS DOUBLE))) t(q)
           | WHERE cum >= greatest(1, ceil(q * nn)) GROUP BY 1),
           |dec AS (
           | SELECT q,
           |  CASE WHEN qb > -1048576
           |         THEN round(exp(CAST(qb AS DOUBLE) * $lnG) * $mid, 6)
           |       WHEN qb = -1048576 THEN 0.0
           |       ELSE -round(exp(CAST(-2097152 - qb AS DOUBLE) * $lnG)
           |         * $mid, 6)
           |  END AS av
           | FROM p)
           |SELECT 'corpus/n_docs' AS metric, CAST(n AS DOUBLE) AS "value"
           |FROM tot
           |UNION ALL SELECT 'corpus/blank_docs', CAST(blanks AS DOUBLE) FROM tot
           |UNION ALL SELECT 'corpus/total_chars', CAST(chars AS DOUBLE) FROM tot
           |UNION ALL SELECT 'corpus/total_tokens', CAST(toks AS DOUBLE) FROM tot
           |UNION ALL SELECT 'corpus/mean_doc_tokens',
           |  CAST(toks AS DOUBLE) / CAST(n AS DOUBLE) FROM tot
           |UNION ALL SELECT 'lang/' || lang2 || '/docs',
           |  CAST(count(*) AS DOUBLE) FROM base GROUP BY lang2
           |UNION ALL SELECT 'length/chars_p50', av FROM dec WHERE q = 0.5
           |UNION ALL SELECT 'length/chars_p95', av FROM dec WHERE q = 0.95"""
          .stripMargin
      }),

    // mergeable quantile histograms (DDSketch buckets): per-lang
    // n_chars quantiles AND the grand total from ONE histogram table —
    // bucket counts are order-free long sums, so rollups union
    // EXACTLY (unlike estimates) and the whole chain is hash-exact
    // vs an oracle reproducing the bucket/walk/decode arithmetic
    Gate("q_quantile_rollup", (s, dir) => {
      val hist = graft.operators.Audits.quantileHistogram(
        t(s, dir, "documents"), Seq("lang"), "n_chars")
      val qs = Seq(0.5, 0.9, 0.99)
      val perLang = graft.operators.Audits
        .rollupQuantiles(hist, Seq("lang"), qs)
        .select(col("lang"), col("q"), col("n_rows"), col("approx_value"))
      val total = graft.operators.Audits.rollupQuantiles(hist, Nil, qs)
        .select(lit("__ALL__").as("lang"), col("q"), col("n_rows"),
          col("approx_value"))
      perLang.unionByName(total)
    },
      // q_quantile_rollup oracle — the DDSketch bucket/walk/decode chain
      // in SQL, literals (ln γ, midpoint factor) interpolated from the
      // SAME driver formulas the operator uses (the problink-weights
      // convention: zero cross-engine transcendental drift).
      Some {
        val lnG = graft.operators.Audits.ddLnGamma(0.02).toString
        val mid = graft.operators.Audits.ddMidFactor(0.02).toString
        s"""WITH raw AS (
           | SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
           | WHERE n_chars IS NOT NULL),
           |b AS (
           | SELECT lang,
           |  CASE WHEN v > 0 THEN CAST(ceil(round(ln(v)/$lnG, 6)) AS INT)
           |       WHEN v = 0 THEN -1048576
           |       ELSE -2097152 - CAST(ceil(round(ln(-v)/$lnG, 6)) AS INT)
           |  END AS qb,
           | count(*) AS cnt
           | FROM raw GROUP BY 1, 2),
           |wl AS (
           | SELECT lang, qb, cnt FROM b
           | UNION ALL
           | SELECT '__ALL__', qb, CAST(sum(cnt) AS BIGINT) FROM b GROUP BY 2),
           |c AS (
           | SELECT lang, qb,
           |  CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY qb
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |    AS cum,
           |  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
           | FROM wl),
           |p AS (
           | SELECT lang, q, min(qb) AS qb, max(n) AS n_rows
           | FROM c CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)),
           |   (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) t(q)
           | WHERE cum >= greatest(1, ceil(q * n))
           | GROUP BY 1, 2)
           |SELECT lang, q, n_rows,
           | CASE WHEN qb > -1048576
           |        THEN round(exp(CAST(qb AS DOUBLE) * $lnG) * $mid, 6)
           |      WHEN qb = -1048576 THEN 0.0
           |      ELSE -round(exp(CAST(-2097152 - qb AS DOUBLE) * $lnG)
           |        * $mid, 6)
           | END AS approx_value
           |FROM p""".stripMargin
      }),

    // mergeable count-min frequency sketch: per-type CMS of user_id
    // counters rolled up to the grand total by long SUM (the exact
    // sketch union), then point-frequency probes for a fixed key set —
    // est ≥ truth, engine-exact via the md5 bucket hash convention
    Gate("q_cms_rollup", (s, dir) => {
      val cms = graft.operators.Audits.cmsHistogram(
        t(s, dir, "events"), Seq("event_type"), "user_id")
      val total = graft.operators.Audits.rollupCms(cms, Nil)
      graft.operators.Audits.cmsEstimate(total,
        Seq("1", "2", "3", "42", "777", "100000"))
    },
      Some("""WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cms AS (
        | SELECT j, bucket, count(*) AS cnt FROM (
        |  SELECT js.j,
        |   ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' ||
        |      CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT % 1024 AS bucket
        |  FROM events e CROSS JOIN js
        |  WHERE e.user_id IS NOT NULL)
        | GROUP BY j, bucket),
        |probes AS (
        | SELECT k.key, js.j,
        |  ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || k.key),
        |     1, 8))::BIGINT % 1024 AS bucket
        | FROM (SELECT unnest(['1', '2', '3', '42', '777', '100000'])
        |       AS key) k
        | CROSS JOIN js)
        |SELECT p.key, min(coalesce(c.cnt, 0)) AS est
        |FROM probes p LEFT JOIN cms c
        |  ON c.j = p.j AND c.bucket = p.bucket
        |GROUP BY p.key""".stripMargin)),

    // deterministic exact-30-per-source subsample: content-hash order
    // makes the pick reproducible AND nested across budget changes
    Gate("q_sample_k", (s, dir) =>
      graft.ops.Ranking.hashSampleK(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("source"), "doc_id", k = 30),
      Some("""SELECT doc_id, source,
        | CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rank
        |FROM documents
        |QUALIFY rank <= 30""".stripMargin)),

    // weighted sampling without replacement (Efraimidis–Spirakis):
    // 100 docs picked with probability ∝ length, content-hash uniform
    // + rounded-score/id tiebreak so the pick is engine-exact
    Gate("q_weighted_sample", (s, dir) =>
      graft.ops.Ranking.weightedSampleK(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars"), k = 100),
      // Efraimidis–Spirakis with a content-hash uniform: u from the
      // first 8 md5 hex digits (DuckDB parses '0x…' casts), score
      // ln(u)/w rounded to 6 with a doc_id tiebreak — engine-exact
      Some("""SELECT doc_id, n_chars,
        | round(ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |     1, 8) AS BIGINT) + 0.5) / 4294967296.0) / n_chars,
        |   6) AS score
        |FROM documents
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 100""".stripMargin)),

    // per-type p05/p95 winsorization — outlier clamping with the same
    // percentile interpolation the oracle's quantile_cont uses
    Gate("q_winsorize", (s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      val pct = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.05)").as("p05"),
        expr("percentile(value, 0.95)").as("p95"))
      ev.join(broadcast(pct), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("p05")), col("p95"))
            .as("value_w"))
    },
      Some("""WITH p AS (
        | SELECT event_type, quantile_cont(value, 0.05) AS p05,
        |  quantile_cont(value, 0.95) AS p95
        | FROM events WHERE value IS NOT NULL GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        | least(greatest(e.value, p.p05), p.p95) AS value_w
        |FROM events e JOIN p ON e.event_type = p.event_type
        |WHERE e.value IS NOT NULL""".stripMargin)),

    // exact per-group quantiles (linear interpolation — Spark
    // `percentile` and DuckDB `quantile_cont` share the (n-1)p+1
    // definition, and integer inputs keep the interpolation bit-exact)
    Gate("q_quantiles", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          expr("percentile(n_chars, 0.5)").as("p50"),
          expr("percentile(n_chars, 0.9)").as("p90")),
      Some("""SELECT lang, count(*) AS n_docs,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        | quantile_cont(n_chars, 0.5) AS p50,
        | quantile_cont(n_chars, 0.9) AS p90
        |FROM documents GROUP BY lang""".stripMargin)),

    // per-type percent-rank (empirical CDF position) under rank ties —
    // the distribution-free normalization. NOT a keyed window (r12,
    // same audit catch as q_ntile): distributed range rank within the
    // bounded event_type domain, tie-minimized through one map-side-
    // combined (type, value) aggregate + AQE-skew-splittable join
    // back, then the closed form (rank−1)/(c−1) — bit-equal to
    // percent_rank (one exact-integer IEEE divide)
    Gate("q_percent_rank", (s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"))
      val (ranked, _) = graft.ops.Packing.boundedDomainRank(
        ev, "event_type", Seq(col("value"), col("event_id")))
      val ties = ranked.groupBy(col("event_type"), col("value"))
        .agg(min(col("__domain_rank")).as("__tie_rank"))
      ranked.join(ties, Seq("event_type", "value"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("__domain_count") > 1L,
            (col("__tie_rank") - 1L).cast("double") /
              (col("__domain_count") - 1L).cast("double"))
            .otherwise(lit(0.0)).as("pr"))
    },
      Some("""SELECT event_id, event_type, value,
        | percent_rank() OVER (PARTITION BY event_type
        |   ORDER BY value ASC) AS pr
        |FROM events WHERE value IS NOT NULL""".stripMargin)),

    // per-type robust scaling (median/IQR) — the outlier-insensitive
    // normalization; quantiles use the SAME interpolation as the
    // oracle's quantile_cont (proven by q_quantiles/q_winsorize)
    Gate("q_robust_scale", (s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      val q = ev.groupBy(col("event_type")).agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.5)").as("med"),
        expr("percentile(value, 0.75)").as("q3"))
      ev.join(broadcast(q), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(!(col("q3") - col("q1") > 0.0), lit(0.0))
            .otherwise((col("value") - col("med")) /
              (col("q3") - col("q1"))).as("scaled"))
    },
      Some("""WITH q AS (
        | SELECT event_type,
        |  quantile_cont(value, 0.25) AS q1,
        |  quantile_cont(value, 0.5) AS med,
        |  quantile_cont(value, 0.75) AS q3
        | FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        | CASE WHEN NOT (q.q3 - q.q1 > 0.0) THEN 0.0
        |      ELSE (e.value - q.med) / (q.q3 - q.q1) END AS scaled
        |FROM events e JOIN q ON e.event_type = q.event_type
        |WHERE e.value IS NOT NULL""".stripMargin)),

    // per-type z-score normalization — exact DECIMAL first/second
    // moments, one fixed IEEE tree for mean/var/z on both engines;
    // degenerate groups (n<2 or zero variance) emit z=0
    Gate("q_zscore", (s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      val nD = col("n").cast("double")
      val s1 = col("s1")
      val s2 = col("s2")
      val mean = s1 / nD
      val variance = (nD * s2 - s1 * s1) / (nD * (nD - lit(1.0)))
      val stats = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("s1"),
        sum((col("value") * col("value")).cast("decimal(28,6)"))
          .cast("double").as("s2"))
      ev.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("n") < 2 || !(variance > 0.0), lit(0.0))
            .otherwise((col("value") - mean) / sqrt(variance)).as("z"))
    },
      Some("""WITH a AS (
        | SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |  CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE)
        |    AS s2
        | FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        | CASE WHEN a.n < 2 OR NOT (
        |   (CAST(a.n AS DOUBLE) * a.s2 - a.s1 * a.s1)
        |     / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0)) > 0.0)
        |  THEN 0.0
        |  ELSE (e.value - a.s1 / CAST(a.n AS DOUBLE)) /
        |   sqrt((CAST(a.n AS DOUBLE) * a.s2 - a.s1 * a.s1)
        |     / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0)))
        | END AS z
        |FROM events e JOIN a ON e.event_type = a.event_type
        |WHERE e.value IS NOT NULL""".stripMargin)),

    // equi-depth decile bucketing per event type — the feature-
    // engineering face of q_quantiles: every row gets its decile under
    // a total order (value, event_id). NOT a keyed window (r12):
    // event_type is bounded-cardinality, so ntile().over(partitionBy(
    // event_type)) holds each type's whole row set in one task —
    // closed-form ntile over the distributed range rank instead
    Gate("q_ntile", (s, dir) =>
      graft.ops.Packing.equiDepthBuckets(
        t(s, dir, "events").filter(col("value").isNotNull)
          .select(col("event_id"), col("event_type"), col("value")),
        "event_type", Seq(col("value"), col("event_id")), 10, "decile")
        .select(col("event_id"), col("event_type"), col("value"),
          col("decile")),
      Some("""SELECT event_id, event_type, value,
        | CAST(ntile(10) OVER (PARTITION BY event_type
        |   ORDER BY value ASC, event_id ASC) AS INT) AS decile
        |FROM events WHERE value IS NOT NULL""".stripMargin))
  )
}
