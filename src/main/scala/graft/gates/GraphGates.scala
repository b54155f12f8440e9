package graft
package gates

import org.apache.spark.sql.functions._

/** Graph analytics on the supplier-part and co-purchase graphs:
  * PageRank, HITS, label propagation, triangles, k-core, clustering
  * coefficients and shortest paths. */
object GraphGates {
  import Gate.t

  val all: Seq[Gate] = Seq(

    // HITS hubs & authorities on the supplier->part link graph —
    // pageRank's mutual-reinforcement complement; L1-normalized
    // fixed iterations, DECIMAL contribution sums
    Gate("q_hits", (s, dir) =>
      graft.ops.Graphs.hits(
        t(s, dir, "lineitem").select(
          (-col("l_suppkey").cast("long")).as("src"),
          col("l_partkey").cast("long").as("dst")),
        "src", "dst", iterations = 2),
      Some("""WITH e AS (
        | SELECT DISTINCT -CAST(l_suppkey AS BIGINT) AS src,
        |        CAST(l_partkey AS BIGINT) AS dst
        | FROM lineitem),
        |nodes AS (SELECT DISTINCT node FROM
        | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS s FROM nodes),
        |a1r AS (
        | SELECT n.node, coalesce(CAST(x.m AS DOUBLE),
        |          CAST(0.0 AS DOUBLE)) AS raw
        | FROM nodes n LEFT JOIN
        |  (SELECT e.dst, sum(CAST(round(h.s, 12) AS DECIMAL(38,12))) AS m
        |   FROM e JOIN h0 h ON h.node = e.src GROUP BY e.dst) x
        |  ON x.dst = n.node),
        |sa1 AS (SELECT CAST(sum(CAST(round(raw, 12) AS DECIMAL(38,12)))
        |         AS DOUBLE) AS s FROM a1r),
        |a1 AS (SELECT node, round(raw / s, 9) AS s
        |       FROM a1r CROSS JOIN sa1),
        |h1r AS (
        | SELECT n.node, coalesce(CAST(x.m AS DOUBLE),
        |          CAST(0.0 AS DOUBLE)) AS raw
        | FROM nodes n LEFT JOIN
        |  (SELECT e.src, sum(CAST(round(a.s, 12) AS DECIMAL(38,12))) AS m
        |   FROM e JOIN a1 a ON a.node = e.dst GROUP BY e.src) x
        |  ON x.src = n.node),
        |sh1 AS (SELECT CAST(sum(CAST(round(raw, 12) AS DECIMAL(38,12)))
        |         AS DOUBLE) AS s FROM h1r),
        |h1 AS (SELECT node, round(raw / s, 9) AS s
        |       FROM h1r CROSS JOIN sh1),
        |a2r AS (
        | SELECT n.node, coalesce(CAST(x.m AS DOUBLE),
        |          CAST(0.0 AS DOUBLE)) AS raw
        | FROM nodes n LEFT JOIN
        |  (SELECT e.dst, sum(CAST(round(h.s, 12) AS DECIMAL(38,12))) AS m
        |   FROM e JOIN h1 h ON h.node = e.src GROUP BY e.dst) x
        |  ON x.dst = n.node),
        |sa2 AS (SELECT CAST(sum(CAST(round(raw, 12) AS DECIMAL(38,12)))
        |         AS DOUBLE) AS s FROM a2r),
        |a2 AS (SELECT node, round(raw / s, 9) AS s
        |       FROM a2r CROSS JOIN sa2),
        |h2r AS (
        | SELECT n.node, coalesce(CAST(x.m AS DOUBLE),
        |          CAST(0.0 AS DOUBLE)) AS raw
        | FROM nodes n LEFT JOIN
        |  (SELECT e.src, sum(CAST(round(a.s, 12) AS DECIMAL(38,12))) AS m
        |   FROM e JOIN a2 a ON a.node = e.dst GROUP BY e.src) x
        |  ON x.src = n.node),
        |sh2 AS (SELECT CAST(sum(CAST(round(raw, 12) AS DECIMAL(38,12)))
        |         AS DOUBLE) AS s FROM h2r),
        |h2 AS (SELECT node, round(raw / s, 9) AS s
        |       FROM h2r CROSS JOIN sh2)
        |SELECT h2.node, h2.s AS hub, a2.s AS authority
        |FROM h2 JOIN a2 ON a2.node = h2.node""".stripMargin)),

    // PageRank centrality (3 iterations) over the supplier→part supply
    // graph — the authority signal a web-corpus pipeline weights
    // documents by; per-iteration DECIMAL sums + rounding make the
    // iterative float computation oracle-exact
    Gate("q_pagerank", (s, dir) => {
      val edges = t(s, dir, "lineitem").select(
        (-col("l_suppkey").cast("long")).as("src"),
        col("l_partkey").cast("long").as("dst"))
      graft.ops.Graphs.pageRank(edges, "src", "dst", iterations = 3)
    },
      Some("""WITH e AS (
        | SELECT -CAST(l_suppkey AS BIGINT) AS src,
        |        CAST(l_partkey AS BIGINT) AS dst
        | FROM lineitem),
        |nodes AS (SELECT DISTINCT node FROM
        | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, d.deg FROM e
        |       JOIN deg d ON d.src = e.src),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS "rank" FROM nodes),
        |c1 AS (SELECT ed.dst,
        |        sum(CAST(round(r."rank" / ed.deg, 12) AS DECIMAL(20,12)))
        |          AS m
        |       FROM ed JOIN r0 r ON r.node = ed.src GROUP BY ed.dst),
        |r1 AS (SELECT n.node, round(CAST(0.15 AS DOUBLE) +
        |         CAST(0.85 AS DOUBLE) *
        |         coalesce(CAST(c1.m AS DOUBLE), 0.0), 7) AS "rank"
        |       FROM nodes n LEFT JOIN c1 ON c1.dst = n.node),
        |c2 AS (SELECT ed.dst,
        |        sum(CAST(round(r."rank" / ed.deg, 12) AS DECIMAL(20,12)))
        |          AS m
        |       FROM ed JOIN r1 r ON r.node = ed.src GROUP BY ed.dst),
        |r2 AS (SELECT n.node, round(CAST(0.15 AS DOUBLE) +
        |         CAST(0.85 AS DOUBLE) *
        |         coalesce(CAST(c2.m AS DOUBLE), 0.0), 7) AS "rank"
        |       FROM nodes n LEFT JOIN c2 ON c2.dst = n.node),
        |c3 AS (SELECT ed.dst,
        |        sum(CAST(round(r."rank" / ed.deg, 12) AS DECIMAL(20,12)))
        |          AS m
        |       FROM ed JOIN r2 r ON r.node = ed.src GROUP BY ed.dst),
        |r3 AS (SELECT n.node, round(CAST(0.15 AS DOUBLE) +
        |         CAST(0.85 AS DOUBLE) *
        |         coalesce(CAST(c3.m AS DOUBLE), 0.0), 7) AS "rank"
        |       FROM nodes n LEFT JOIN c3 ON c3.dst = n.node)
        |SELECT node, "rank" FROM r3""".stripMargin)),

    // synchronous label propagation (2 rounds) over the supplier-part
    // graph — deterministic communities, unrolled-SQL-gated
    Gate("q_labelprop", (s, dir) =>
      graft.ops.Graphs.labelPropagation(
        t(s, dir, "lineitem").select(
          (-col("l_suppkey").cast("long")).as("src"),
          col("l_partkey").cast("long").as("dst")),
        "src", "dst", iterations = 2),
      // q_labelprop oracle — Graphs.labelPropagation unrolled: the same
      // symmetrized multigraph, per-round neighbor-label counts with the
      // same (count desc, label asc) argmax, `iterations` rounds.
      Some {
        val iters = 2
        val rounds = (1 to iters).map { i =>
          s"""c$i AS (
             | SELECT e.u, l.label, count(*) AS c
             | FROM e JOIN l${i - 1} l ON e.v = l.node
             | GROUP BY 1, 2),
             |l$i AS (
             | SELECT u AS node, label FROM (
             |  SELECT u, label,
             |   row_number() OVER (PARTITION BY u
             |     ORDER BY c DESC, label ASC) AS rn
             |  FROM c$i)
             | WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (
           | SELECT -CAST(l_suppkey AS BIGINT) AS u,
           |        CAST(l_partkey AS BIGINT) AS v
           | FROM lineitem),
           |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
           |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
           |$rounds
           |SELECT node, label FROM l$iters""".stripMargin
      }),

    // per-node triangle counts on the co-purchase projection graph
    // (parts sharing an order form a clique — every ≥3-item order
    // contributes triangles); degree-ordered orientation bounds hub
    // fan-out, oracle uses the orientation-free id-order form
    Gate("q_triangles", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_partkey").cast("long").as("p"))
      val e = li
        .join(li.select(col("l_orderkey"), col("p").as("p2")), "l_orderkey")
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.ops.Graphs.triangleCount(e, "src", "dst")
    },
      Some("""WITH li AS (
        | SELECT l_orderkey, CAST(l_partkey AS BIGINT) AS p
        | FROM lineitem WHERE l_orderkey % 7 = 0),
        |e AS (
        | SELECT DISTINCT a.p AS a, b.p AS b
        | FROM li a JOIN li b
        |   ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |tri AS (
        | SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM e e1 JOIN e e2 ON e2.a = e1.b
        | WHERE EXISTS (SELECT 1 FROM e e3
        |               WHERE e3.a = e1.a AND e3.b = e2.b)),
        |corners AS (
        | SELECT x AS node FROM tri
        | UNION ALL SELECT y FROM tri
        | UNION ALL SELECT z FROM tri)
        |SELECT node, count(*) AS triangles FROM corners GROUP BY node""".stripMargin)),

    // TextRank keywords: PageRank over the word co-occurrence graph
    // (window 2) of a document subset — keyword scores through the
    // same unrolled-oracle-exact power iteration as q_pagerank
    Gate("q_textrank", (s, dir) =>
      graft.ops.TextAnalysis.textRankKeywords(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", window = 2, iterations = 2, k = 30),
      Some("""WITH t AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+')
        |   AS words
        | FROM documents WHERE doc_id % 5 = 0),
        |p AS (SELECT doc_id, unnest(generate_series(1, len(words))) AS i,
        |       words FROM t),
        |wp AS (SELECT doc_id, i, words[i] AS w FROM p
        |       WHERE words[i] <> ''),
        |e0 AS (
        | SELECT a.w AS src, b.w AS dst FROM wp a JOIN wp b
        | ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 2
        |    AND a.w <> b.w),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |nodes AS (SELECT DISTINCT node FROM
        | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, d.deg FROM e
        |       JOIN deg d ON d.src = e.src),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS "rank" FROM nodes),
        |c1 AS (SELECT ed.dst,
        |        sum(CAST(round(r."rank" / ed.deg, 12) AS DECIMAL(20,12)))
        |          AS m
        |       FROM ed JOIN r0 r ON r.node = ed.src GROUP BY ed.dst),
        |r1 AS (SELECT n.node, round(CAST(0.15 AS DOUBLE) +
        |         CAST(0.85 AS DOUBLE) *
        |         coalesce(CAST(c1.m AS DOUBLE), 0.0), 7) AS "rank"
        |       FROM nodes n LEFT JOIN c1 ON c1.dst = n.node),
        |c2 AS (SELECT ed.dst,
        |        sum(CAST(round(r."rank" / ed.deg, 12) AS DECIMAL(20,12)))
        |          AS m
        |       FROM ed JOIN r1 r ON r.node = ed.src GROUP BY ed.dst),
        |r2 AS (SELECT n.node, round(CAST(0.15 AS DOUBLE) +
        |         CAST(0.85 AS DOUBLE) *
        |         coalesce(CAST(c2.m AS DOUBLE), 0.0), 7) AS "rank"
        |       FROM nodes n LEFT JOIN c2 ON c2.dst = n.node)
        |SELECT node AS word, "rank" FROM r2
        |ORDER BY "rank" DESC, word ASC LIMIT 30""".stripMargin)),

    // bounded 3-core peel (3 synchronous rounds) on the co-purchase
    // graph — the dense-community extraction; oracle unrolls exactly
    // the same 3 peel rounds, early exit provably equal
    Gate("q_kcore", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_partkey").cast("long").as("p"))
      val e = li
        .join(li.select(col("l_orderkey"), col("p").as("p2")), "l_orderkey")
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.ops.Graphs.kCore(e, "src", "dst", k = 3, maxRounds = 3)
    },
      Some("""WITH li AS (
        | SELECT l_orderkey, CAST(l_partkey AS BIGINT) AS p
        | FROM lineitem WHERE l_orderkey % 7 = 0),
        |e0 AS (
        | SELECT DISTINCT a.p AS a, b.p AS b
        | FROM li a JOIN li b
        |   ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |d0 AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        |  GROUP BY node),
        |k0 AS (SELECT node FROM d0 WHERE deg >= 3),
        |e1 AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT node FROM k0) AND b IN (SELECT node FROM k0)),
        |d1 AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
        |  GROUP BY node),
        |k1 AS (SELECT node FROM d1 WHERE deg >= 3),
        |e2 AS (SELECT a, b FROM e1
        |  WHERE a IN (SELECT node FROM k1) AND b IN (SELECT node FROM k1)),
        |d2 AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
        |  GROUP BY node),
        |k2 AS (SELECT node FROM d2 WHERE deg >= 3),
        |e3 AS (SELECT a, b FROM e2
        |  WHERE a IN (SELECT node FROM k2) AND b IN (SELECT node FROM k2))
        |SELECT node, count(*) AS deg FROM
        | (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
        |GROUP BY node""".stripMargin)),

    // local clustering coefficient on the same graph — per-node
    // neighborhood density from exact integer (deg, triangles) and ONE
    // IEEE division, so it is oracle-exact with no rounding grid
    Gate("q_clustering", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_partkey").cast("long").as("p"))
      val e = li
        .join(li.select(col("l_orderkey"), col("p").as("p2")), "l_orderkey")
        .filter(col("p") < col("p2"))
        .select(col("p").as("src"), col("p2").as("dst"))
      graft.ops.Graphs.clusteringCoefficient(e, "src", "dst")
    },
      Some("""WITH li AS (
        | SELECT l_orderkey, CAST(l_partkey AS BIGINT) AS p
        | FROM lineitem WHERE l_orderkey % 7 = 0),
        |e AS (
        | SELECT DISTINCT a.p AS a, b.p AS b
        | FROM li a JOIN li b
        |   ON a.l_orderkey = b.l_orderkey AND a.p < b.p),
        |deg AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |  GROUP BY node),
        |tri AS (
        | SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM e e1 JOIN e e2 ON e2.a = e1.b
        | WHERE EXISTS (SELECT 1 FROM e e3
        |               WHERE e3.a = e1.a AND e3.b = e2.b)),
        |tc AS (SELECT node, count(*) AS triangles FROM
        |  (SELECT x AS node FROM tri
        |   UNION ALL SELECT y FROM tri
        |   UNION ALL SELECT z FROM tri) GROUP BY node)
        |SELECT d.node, d.deg,
        |       coalesce(tc.triangles, 0) AS triangles,
        |       CASE WHEN d.deg < 2 THEN 0.0
        |            ELSE (2.0 * coalesce(tc.triangles, 0)) /
        |                 (d.deg * (d.deg - 1)) END AS coeff
        |FROM deg d LEFT JOIN tc ON tc.node = d.node""".stripMargin)),

    // personalized PageRank (TrustRank): authority relative to the
    // same 3-supplier seed set q_sssp measures hop-distance from —
    // restart mass only on seeds, unrolled-oracle-exact like pagerank
    Gate("q_ppr", (s, dir) => {
      val edges = t(s, dir, "lineitem").select(
        (-col("l_suppkey").cast("long")).as("src"),
        col("l_partkey").cast("long").as("dst"))
      graft.ops.Graphs.personalizedPageRank(edges, "src", "dst",
        Seq(-1L, -2L, -3L), iterations = 3)
    },
      // q_ppr oracle — personalizedPageRank's 3 iterations unrolled, the
      // q_pagerank oracle shape with the seed-indicator restart term;
      // e-value and 1−d are interpolated from the SAME driver arithmetic
      // the operator uses (IEEE 1.0−0.85 is NOT 0.15 — the computed
      // double round-trips through its shortest-repr literal).
      Some {
        val seeds = Seq(-1L, -2L, -3L)
        val eVal = BigDecimal(1.0 / seeds.size)
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
        val restart = (1.0 - 0.85).toString
        def ind(alias: String) =
          s"""CASE WHEN $alias.node IN (${seeds.mkString(", ")})
             |      THEN CAST($eVal AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"""
            .stripMargin
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (SELECT ed.dst,
             |        sum(CAST(round(r."rank" / ed.deg, 12) AS DECIMAL(20,12)))
             |          AS m
             |       FROM ed JOIN r${i - 1} r ON r.node = ed.src GROUP BY ed.dst),
             |r$i AS (SELECT n.node, round(CAST($restart AS DOUBLE) *
             |         (${ind("n")}) + CAST(0.85 AS DOUBLE) *
             |         coalesce(CAST(c$i.m AS DOUBLE), CAST(0.0 AS DOUBLE)), 7)
             |           AS "rank"
             |       FROM nodes n LEFT JOIN c$i ON c$i.dst = n.node)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e AS (
           | SELECT -CAST(l_suppkey AS BIGINT) AS src,
           |        CAST(l_partkey AS BIGINT) AS dst
           | FROM lineitem),
           |nodes AS (SELECT DISTINCT node FROM
           | (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
           |ed AS (SELECT e.src, e.dst, d.deg FROM e
           |       JOIN deg d ON d.src = e.src),
           |r0 AS (SELECT n.node, ${ind("n")} AS "rank" FROM nodes n),
           |$rounds
           |SELECT node, "rank" FROM r3""".stripMargin
      }),

    // weighted shortest paths (bounded Bellman-Ford, 4 relaxation
    // rounds) over the same bidirectional graph with per-edge costs —
    // min-cost ≤4-edge paths, oracled by a hops-tracked recursive CTE
    Gate("q_wsp", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (-col("l_suppkey").cast("long")).as("src"),
        col("l_partkey").cast("long").as("dst"),
        (col("l_quantity").cast("long") % 3 + 1).as("w"))
      val e = li.unionAll(li.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      graft.ops.Graphs.weightedShortestPaths(e, "src", "dst", "w",
        Seq(-1L, -2L, -3L), rounds = 4)
    },
      Some("""WITH RECURSIVE e AS (
        | SELECT src, dst, min(w) AS w FROM (
        |  SELECT -CAST(l_suppkey AS BIGINT) AS src,
        |         CAST(l_partkey AS BIGINT) AS dst,
        |         CAST(l_quantity AS BIGINT) % 3 + 1 AS w FROM lineitem
        |  UNION ALL
        |  SELECT CAST(l_partkey AS BIGINT),
        |         -CAST(l_suppkey AS BIGINT),
        |         CAST(l_quantity AS BIGINT) % 3 + 1 FROM lineitem)
        | GROUP BY 1, 2),
        |d(node, dist, hops) AS (
        | SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 0),
        |                       (-2, 0, 0), (-3, 0, 0)) v(node, dist, hops)
        | UNION
        | SELECT e.dst, d.dist + e.w, d.hops + 1
        | FROM d JOIN e ON e.src = d.node
        | WHERE d.hops < 4)
        |SELECT node, min(dist) AS dist FROM d GROUP BY node""".stripMargin)),

    // multi-source BFS distances (4-hop horizon) over the
    // bidirectionalized supplier↔part graph — the trusted-seed
    // distance feature (TrustRank-style); frontier expansion with
    // min aggregates, oracled by a depth-bounded recursive CTE
    Gate("q_sssp", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (-col("l_suppkey").cast("long")).as("src"),
        col("l_partkey").cast("long").as("dst"))
      val e = li.unionAll(
        li.select(col("dst").as("src"), col("src").as("dst")))
      graft.ops.Graphs.shortestPaths(e, "src", "dst",
        Seq(-1L, -2L, -3L), maxIter = 4)
    },
      Some("""WITH RECURSIVE e AS (
        | SELECT DISTINCT src, dst FROM (
        |  SELECT -CAST(l_suppkey AS BIGINT) AS src,
        |         CAST(l_partkey AS BIGINT) AS dst FROM lineitem
        |  UNION ALL
        |  SELECT CAST(l_partkey AS BIGINT),
        |         -CAST(l_suppkey AS BIGINT) FROM lineitem)),
        |d(node, dist) AS (
        | SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(0 AS BIGINT)),
        |                       (-2, 0), (-3, 0)) v(node, dist)
        | UNION
        | SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.node
        | WHERE d.dist < 4)
        |SELECT node, min(dist) AS dist FROM d GROUP BY node""".stripMargin))
  )
}
