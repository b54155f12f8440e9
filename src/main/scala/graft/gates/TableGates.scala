package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators._

/** Relational and time-series table operations: as-of, range, geo,
  * bloom, salted and overlap joins, windows, sessionization, resampling,
  * SCD2, data contracts and join pre-flight audits. */
object TableGates {
  import Gate.t

  val all: Seq[Gate] = Seq(

    // tumbling-window aggregate — the STREAMING transform run in batch
    // mode, oracle-gated (same code path readStream uses; parity with
    // an actual stream is asserted in StreamingSpec)
    Gate("q_windowed_counts", (s, dir) =>
      graft.streaming.EventStream.windowedCounts(t(s, dir, "events"))
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("n"), col("total_value")),
      Some("""SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // streaming per-window quantiles: the DDSketch bucket table as a
    // plain windowed aggregate (append-capable, no custom state) +
    // the rollup walk with window_start as a dim — "p90 per 6h window
    // from a stream" with state bounded at windows × bucket grid
    Gate("q_stream_quantiles", (s, dir) => {
      val hist = graft.streaming.EventStream
        .windowedQuantileHistogram(t(s, dir, "events"))
        .select(unix_micros(col("window_start")).as("win_start_us"),
          col("qb"), col("cnt"))
      graft.operators.Audits.rollupQuantiles(hist,
        Seq("win_start_us"), Seq(0.5, 0.9))
    },
      // q_stream_quantiles oracle — the DDSketch bucket/walk/decode chain
      // of [[quantileRollupOracle]] with the 6h event-time window start
      // as the dimension (epoch-aligned integer floor division, exactly
      // Spark's `window()` alignment).
      Some {
        val lnG = graft.operators.Audits.ddLnGamma(0.02).toString
        val mid = graft.operators.Audits.ddMidFactor(0.02).toString
        s"""WITH raw AS (
           | SELECT (epoch_us(ts) // 21600000000) * 21600000000
           |    AS win_start_us,
           |  CAST(value AS DOUBLE) AS v
           | FROM events WHERE value IS NOT NULL),
           |b AS (
           | SELECT win_start_us,
           |  CASE WHEN v > 0 THEN CAST(ceil(round(ln(v)/$lnG, 6)) AS INT)
           |       WHEN v = 0 THEN -1048576
           |       ELSE -2097152 - CAST(ceil(round(ln(-v)/$lnG, 6)) AS INT)
           |  END AS qb,
           |  count(*) AS cnt
           | FROM raw GROUP BY 1, 2),
           |c AS (
           | SELECT win_start_us, qb,
           |  CAST(sum(cnt) OVER (PARTITION BY win_start_us ORDER BY qb
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |    AS cum,
           |  CAST(sum(cnt) OVER (PARTITION BY win_start_us) AS BIGINT) AS n
           | FROM b),
           |p AS (
           | SELECT win_start_us, q, min(qb) AS qb, max(n) AS n_rows
           | FROM c CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)),
           |   (CAST(0.9 AS DOUBLE))) t(q)
           | WHERE cum >= greatest(1, ceil(q * n))
           | GROUP BY 1, 2)
           |SELECT win_start_us, q, n_rows,
           | CASE WHEN qb > -1048576
           |        THEN round(exp(CAST(qb AS DOUBLE) * $lnG) * $mid, 6)
           |      WHEN qb = -1048576 THEN 0.0
           |      ELSE -round(exp(CAST(-2097152 - qb AS DOUBLE) * $lnG)
           |        * $mid, 6)
           | END AS approx_value
           |FROM p""".stripMargin
      }),

    // per-key interval union (gaps-and-islands): overlapping/touching
    // spans collapse — the contamination-span / redaction cleanup pass
    Gate("q_merge_intervals", (s, dir) =>
      graft.ops.Timeseries.mergeIntervals(
        t(s, dir, "lineitem").select(
          (col("l_suppkey") % 50).cast("long").as("k"),
          (col("l_partkey") % 500).cast("long").as("s"),
          (col("l_partkey") % 500 + col("l_orderkey") % 20 + 1)
            .cast("long").as("e")),
        "k", "s", "e"),
      Some("""WITH sp AS (
        | SELECT CAST(l_suppkey % 50 AS BIGINT) AS k,
        |        CAST(l_partkey % 500 AS BIGINT) AS s,
        |        CAST(l_partkey % 500 + l_orderkey % 20 + 1 AS BIGINT) AS e
        | FROM lineitem),
        |f AS (
        | SELECT k, s, e,
        |  max(e) OVER (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        | FROM sp),
        |g AS (
        | SELECT k, s, e,
        |  CAST(sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS BIGINT) AS island
        | FROM f)
        |SELECT k, min(s) AS s, max(e) AS e, count(*) AS n_spans
        |FROM g GROUP BY k, island""".stripMargin)),

    // as-of join (backward): each click event attached to the same
    // user's most recent purchase at-or-before it — union + one window,
    // no join (operators/AsOfJoin.scala)
    Gate("q_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      // unique reference rows per (user, ts): deterministic max_by
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          max_by(col("value"), col("event_id")).as("p_value"))
      AsOfJoin.backward(clicks, purchases, Seq("user_id"),
          leftTs = "ts", rightTs = "ts",
          payload = Seq("p_event_id", "p_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          col("p_event_id"), col("p_value"))
    },
      Some("""WITH l AS (
        | SELECT event_id, user_id, ts, value FROM events
        | WHERE event_type = 'click'),
        |r AS (
        | SELECT user_id, ts, max(event_id) AS p_event_id,
        |        max_by(value, event_id) AS p_value
        | FROM events WHERE event_type = 'purchase'
        | GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
        |       r.p_event_id, r.p_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // gap-based batch sessionization (6 h inactivity — the events
    // fixture averages ~2 events/user/day, so shorter gaps degenerate
    // to singleton sessions) — the oracle-checkable face of the
    // streaming sessionization
    Gate("q_sessionize", (s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(
        t(s, dir, "events"), gapMinutes = 360),
      Some("""WITH flagged AS (
        | SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
        |       THEN 1 ELSE 0 END AS is_new
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, ts, value,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_idx
        | FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        | min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |FROM sess GROUP BY user_id, session_idx""".stripMargin)),

    // streaming exact dedup, batch face: first event per content key
    // by (ts, event_id) — the same transform runs stateful under
    // readStream (dropDuplicatesWithinWatermark; replay parity in
    // StreamingSpec). Timestamps exported as epoch micros so engine
    // timestamp types never enter the oracle comparison.
    Gate("q_dedup_events", (s, dir) =>
      graft.streaming.EventStream.dedupEvents(t(s, dir, "events"))
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props")),
      Some("""WITH r AS (
        | SELECT event_id, ts, user_id, event_type, value, props,
        |  row_number() OVER (PARTITION BY user_id, event_type, value
        |    ORDER BY ts, event_id) AS rn
        | FROM events)
        |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        | value, props
        |FROM r WHERE rn = 1""".stripMargin)),

    // snapshot diff: row-level added/removed/changed audit between two
    // versions of a table, with the differing column names
    Gate("q_table_diff", (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val after = c.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + 1.0)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          when(col("c_custkey") % 11 === 0, lit("NEWSEG"))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
        .unionAll(c.filter(col("c_custkey") % 100 === 1)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_acctbal"), col("c_mktsegment")))
      graft.operators.Audits.tableDiff(c, after, "c_custkey")
    },
      Some("""WITH b AS (
        | SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
        |a AS (
        | SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1.0
        |       ELSE c_acctbal END AS c_acctbal,
        |  CASE WHEN c_custkey % 11 = 0 THEN 'NEWSEG'
        |       ELSE c_mktsegment END AS c_mktsegment
        | FROM customer WHERE c_custkey % 7 <> 0
        | UNION ALL
        | SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        | FROM customer WHERE c_custkey % 100 = 1),
        |j AS (
        | SELECT b.c_custkey AS bk, a.c_custkey AS ak,
        |  b.c_acctbal AS b1, a.c_acctbal AS a1,
        |  b.c_mktsegment AS b2, a.c_mktsegment AS a2
        | FROM b FULL OUTER JOIN a ON b.c_custkey = a.c_custkey)
        |SELECT coalesce(ak, bk) AS c_custkey,
        | CASE WHEN bk IS NULL THEN 'added'
        |      WHEN ak IS NULL THEN 'removed'
        |      WHEN b1 IS NOT DISTINCT FROM a1
        |       AND b2 IS NOT DISTINCT FROM a2 THEN 'unchanged'
        |      ELSE 'changed' END AS status,
        | CASE WHEN bk IS NOT NULL AND ak IS NOT NULL
        |       AND NOT (b1 IS NOT DISTINCT FROM a1
        |                AND b2 IS NOT DISTINCT FROM a2)
        |      THEN array_to_string(list_filter([
        |        CASE WHEN NOT (b1 IS NOT DISTINCT FROM a1)
        |             THEN 'c_acctbal' END,
        |        CASE WHEN NOT (b2 IS NOT DISTINCT FROM a2)
        |             THEN 'c_mktsegment' END],
        |        x -> x IS NOT NULL), ',')
        |      ELSE '' END AS changed_cols
        |FROM j""".stripMargin)),

    // forward as-of: the next purchase at-or-after each click — the
    // mirror of q_asof_join, traversed in descending time
    Gate("q_asof_forward", (s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("p_event_id"),
          max_by(col("value"), col("event_id")).as("p_value"))
      AsOfJoin.forward(clicks, purchases, Seq("user_id"),
          leftTs = "ts", rightTs = "ts",
          payload = Seq("p_event_id", "p_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          col("p_event_id"), col("p_value"))
    },
      Some("""WITH l AS (
        | SELECT event_id, user_id, ts, value FROM events
        | WHERE event_type = 'click'),
        |r AS (
        | SELECT user_id, ts, max(event_id) AS p_event_id,
        |        max_by(value, event_id) AS p_value
        | FROM events WHERE event_type = 'purchase'
        | GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
        |       r.p_event_id, r.p_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin)),

    // event-sequence funnel: follows within 30 minutes of a lead event
    // of the same user — the batch face of the stream-stream interval
    // join (StreamingSpec asserts replay parity)
    Gate("q_follow_join", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      graft.streaming.EventStream.followWithin(ev, ev,
        maxDelay = "30 minutes")
    },
      Some("""SELECT l.user_id, l.event_id AS lead_id, r.event_id AS follow_id,
        | l.event_type AS lead_type, r.event_type AS follow_type,
        | epoch_us(r.ts) - epoch_us(l.ts) AS delay_us
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts >= l.ts
        | AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
        | AND l.event_id <> r.event_id
        |WHERE l.user_id IS NOT NULL AND l.ts IS NOT NULL
        |  AND r.ts IS NOT NULL""".stripMargin)),

    // fixed-grid resample + forward fill over the event stream (6h
    // buckets): gaps materialize with the last observed total
    Gate("q_resample", (s, dir) =>
      graft.ops.Timeseries.resampleFfill(t(s, dir, "events"),
        "user_id", "ts", "value", bucketMicros = 6L * 3600 * 1000000),
      Some("""WITH ob AS (
        | SELECT user_id, epoch_us(ts) // 21600000000 AS b,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        | FROM events
        | WHERE ts IS NOT NULL AND user_id IS NOT NULL
        | GROUP BY user_id, b),
        |bounds AS (SELECT user_id, min(b) AS lo, max(b) AS hi
        |           FROM ob GROUP BY user_id),
        |spine AS (SELECT user_id, unnest(generate_series(lo, hi)) AS b
        |          FROM bounds),
        |j AS (
        | SELECT s.user_id, s.b, coalesce(o.n_events, 0) AS n_events,
        |  o.total
        | FROM spine s LEFT JOIN ob o
        |   ON o.user_id = s.user_id AND o.b = s.b)
        |SELECT user_id, b * 21600000000 AS bucket_start_us, n_events,
        | last_value(total IGNORE NULLS) OVER (PARTITION BY user_id
        |   ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS total_ffill
        |FROM j""".stripMargin)),

    // rolling z-score anomaly flags: each event scored against its
    // user's trailing-12h mean/σ (exact DECIMAL window sums, mirrored
    // IEEE z chain) — the monitoring pre-filter for a stream of
    // metrics; |z| > 2 with ≥5 points flags
    Gate("q_anomaly", (s, dir) =>
      graft.ops.Timeseries.rollingAnomalies(t(s, dir, "events"),
        "user_id", "ts", "value", windowMicros = 12L * 3600 * 1000000,
        k = 2.0, minN = 5, idCols = Seq("event_id")),
      Some("""WITH base AS (
        | SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |  CAST(value AS DOUBLE) AS value,
        |  CAST(value AS DECIMAL(18,6)) AS v
        | FROM events
        | WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |   AND value IS NOT NULL),
        |wnd AS (
        | SELECT event_id, user_id, ts_us, value,
        |  count(*) OVER w AS n_win,
        |  sum(v) OVER w AS s,
        |  sum(v * v) OVER w AS sq
        | FROM base
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |   RANGE BETWEEN 43200000000 PRECEDING AND CURRENT ROW)),
        |z AS (
        | SELECT event_id, user_id, ts_us, value, n_win,
        |  CASE WHEN sqrt(greatest(CAST(sq AS DOUBLE) / n_win -
        |        (CAST(s AS DOUBLE) / n_win) * (CAST(s AS DOUBLE) / n_win),
        |        0.0)) > 0
        |   THEN round((value - CAST(s AS DOUBLE) / n_win) /
        |     sqrt(greatest(CAST(sq AS DOUBLE) / n_win -
        |       (CAST(s AS DOUBLE) / n_win) * (CAST(s AS DOUBLE) / n_win),
        |       0.0)), 6)
        |   ELSE 0.0 END AS z
        | FROM wnd)
        |SELECT event_id, user_id, ts_us, value, n_win, z,
        | CASE WHEN n_win >= 5 AND abs(z) > 2.0 THEN 1 ELSE 0 END
        |   AS is_anomaly
        |FROM z""".stripMargin)),

    // fixed-grid resample + LINEAR interpolation (6h buckets): interior
    // gaps take the line between the neighboring observed totals —
    // the trend-preserving sibling of q_resample's step fill
    Gate("q_interpolate", (s, dir) =>
      graft.ops.Timeseries.interpolate(t(s, dir, "events"),
        "user_id", "ts", "value", bucketMicros = 6L * 3600 * 1000000),
      Some("""WITH ob AS (
        | SELECT user_id, epoch_us(ts) // 21600000000 AS b,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        | FROM events
        | WHERE ts IS NOT NULL AND user_id IS NOT NULL
        | GROUP BY user_id, b),
        |bounds AS (SELECT user_id, min(b) AS lo, max(b) AS hi
        |           FROM ob GROUP BY user_id),
        |spine AS (SELECT user_id, unnest(generate_series(lo, hi)) AS b
        |          FROM bounds),
        |j AS (
        | SELECT s.user_id, s.b, coalesce(o.n_events, 0) AS n_events,
        |  o.total
        | FROM spine s LEFT JOIN ob o
        |   ON o.user_id = s.user_id AND o.b = s.b),
        |f AS (
        | SELECT user_id, b, n_events, total,
        |  last_value(total IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS v0,
        |  last_value(CASE WHEN total IS NOT NULL THEN b END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS b0,
        |  first_value(total IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS v1,
        |  first_value(CASE WHEN total IS NOT NULL THEN b END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |    ORDER BY b ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |    AS b1
        | FROM j)
        |SELECT user_id, b * 21600000000 AS bucket_start_us, n_events,
        | CASE WHEN total IS NOT NULL THEN total
        |      ELSE v0 + (v1 - v0) *
        |        (CAST(b - b0 AS DOUBLE) / CAST(b1 - b0 AS DOUBLE)) END
        |   AS total_interp
        |FROM f""".stripMargin)),

    // first-order Markov transition matrix over per-user event
    // sequences (keyed window + two map-side-combined aggregates);
    // probability is one long/long IEEE division — engine-exact
    Gate("q_transitions", (s, dir) =>
      graft.ops.Timeseries.transitionMatrix(t(s, dir, "events"),
        "user_id", "event_type", "ts", "event_id"),
      Some("""WITH seq AS (
        | SELECT user_id, event_type AS src,
        |  lead(event_type) OVER (PARTITION BY user_id
        |                         ORDER BY ts, event_id) AS dst
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL),
        |c AS (SELECT src, dst, count(*) AS n FROM seq
        |      WHERE dst IS NOT NULL GROUP BY src, dst),
        |tot AS (SELECT src, sum(n) AS tn FROM c GROUP BY src)
        |SELECT c.src, c.dst, c.n, ROUND(c.n / t.tn, 6) AS p
        |FROM c JOIN tot t ON c.src = t.src""".stripMargin)),

    // grouping sets: ROLLUP revenue over (nation, segment) — subtotal
    // and grand-total rows from ONE pass (Catalyst expands the sets;
    // no per-level re-aggregation), DECIMAL sums for exact parity
    Gate("q_rollup", (s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .rollup(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("revenue")),
      Some("""SELECT c_nationkey, c_mktsegment, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP(c_nationkey, c_mktsegment)""".stripMargin)),

    // hot-topics composition: the streaming windowed-counts face piped
    // into grouped top-k — top 3 event types per hour window
    Gate("q_window_topk", (s, dir) =>
      graft.ops.Ranking.groupedTopK(
        graft.streaming.EventStream.windowedCounts(t(s, dir, "events"))
          .select(unix_micros(col("window_start")).as("ws_us"),
            col("event_type"), col("n")),
        Seq("ws_us"), Seq(col("n").desc, col("event_type").asc), k = 3),
      Some("""WITH c AS (
        | SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
        |  count(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT ws_us, event_type, n,
        | CAST(row_number() OVER (PARTITION BY ws_us
        |   ORDER BY n DESC, event_type ASC) AS INT) AS rank
        |FROM c QUALIFY rank <= 3""".stripMargin)),

    // Bloom-prefiltered fact join: expensive orders (top ~2%) join
    // lineitem with the fact side bloom-filtered before its shuffle —
    // no false negatives, so the result IS the plain join (the gate)
    Gate("q_bloom_join", (s, dir) => {
      val dim = t(s, dir, "orders")
        .filter(col("o_totalprice") > 350000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.ops.BloomJoin.prefiltered(
        t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
            col("l_extendedprice")),
        dim, "o_orderkey")
    },
      Some("""SELECT l.l_orderkey AS o_orderkey, l.l_linenumber,
        | l.l_extendedprice, o.o_totalprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 350000.0""".stripMargin)),

    // interval-OVERLAP join (both sides intervals) via first-shared-
    // bin binning — span conflicts without the nested loop
    Gate("q_overlap_join", (s, dir) => {
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
        .select(col("event_id"), unix_micros(col("ts")).as("lo_us"),
          (unix_micros(col("ts")) + (col("event_id") % 50) * 60000000L)
            .as("hi_us"))
      val l = ev.filter(col("event_id") % 17 === 0)
        .select(col("event_id").as("a_id"), col("lo_us").as("a_lo"),
          col("hi_us").as("a_hi"))
      val r = ev.filter(col("event_id") % 23 === 0)
        .select(col("event_id").as("b_id"), col("lo_us").as("b_lo"),
          col("hi_us").as("b_hi"))
      graft.operators.RangeJoin
        .overlapBinned(l, "a_lo", "a_hi", r, "b_lo", "b_hi",
          binWidth = 1800e6)
        .select(col("a_id"), col("b_id"),
          greatest(col("a_lo"), col("b_lo")).as("ov_lo_us"),
          least(col("a_hi"), col("b_hi")).as("ov_hi_us"))
    },
      Some("""WITH iv AS (
        | SELECT event_id, epoch_us(ts) AS lo_us,
        |  epoch_us(ts) + (event_id % 50) * 60000000 AS hi_us
        | FROM events WHERE ts IS NOT NULL)
        |SELECT a.event_id AS a_id, b.event_id AS b_id,
        | greatest(a.lo_us, b.lo_us) AS ov_lo_us,
        | least(a.hi_us, b.hi_us) AS ov_hi_us
        |FROM iv a JOIN iv b
        |  ON a.event_id % 17 = 0 AND b.event_id % 23 = 0
        |   AND a.lo_us <= b.hi_us AND b.lo_us <= a.hi_us""".stripMargin)),

    // stream-static enrichment (batch face, oracle-gated; streaming
    // parity in StreamingSpec): events + broadcast customer dimension
    Gate("q_enrich", (s, dir) =>
      graft.streaming.EventStream.enrichStatic(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type")),
        t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment")),
        "user_id"),
      Some("""SELECT e.user_id, e.event_id, e.event_type, c.c_mktsegment
        |   AS segment
        |FROM events e LEFT JOIN customer c
        |  ON e.user_id = c.c_custkey""".stripMargin)),

    // weekly cohort retention over the event stream — who from each
    // first-seen cohort is still active N weeks later
    Gate("q_retention", (s, dir) =>
      graft.ops.Timeseries.cohortRetention(t(s, dir, "events"),
        "user_id", "ts", bucketMicros = 7L * 86400 * 1000000),
      Some("""WITH active AS (
        | SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS b
        | FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |first AS (SELECT user_id, min(b) AS cb FROM active GROUP BY 1),
        |g AS (
        | SELECT f.cb, a.b - f.cb AS bucket_offset, count(*) AS n_users
        | FROM active a JOIN first f USING (user_id)
        | GROUP BY 1, 2),
        |sz AS (SELECT cb, count(*) AS cohort_size FROM first GROUP BY 1)
        |SELECT g.cb * 604800000000 AS cohort_start_us, g.bucket_offset,
        | g.n_users,
        | CAST(g.n_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |   AS retention
        |FROM g JOIN sz s ON g.cb = s.cb""".stripMargin)),

    // trailing 7-day rolling count/sum per user — ONE keyed range
    // window, not a time-range self-join
    Gate("q_rolling", (s, dir) =>
      graft.ops.Timeseries.rollingAgg(t(s, dir, "events"),
        "user_id", "ts", "value", windowMicros = 7L * 86400 * 1000000,
        idCols = Seq("event_id")),
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        | count(*) OVER w AS n_win,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |   AS sum_win
        |FROM events
        |WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin)),

    // funnel conversion rates: for each (lead, follow) event-type pair
    // the share of lead events followed within 30 min — the summary a
    // product pipeline reports over the sequence join
    Gate("q_funnel_rate", (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val conv = graft.streaming.EventStream
        .followWithin(ev, ev, maxDelay = "30 minutes")
        .select(col("lead_type"), col("follow_type"), col("lead_id"))
        .distinct()
        .groupBy(col("lead_type"), col("follow_type"))
        .agg(count(lit(1)).as("n_converted"))
      val totals = ev.groupBy(col("event_type").as("lead_type"))
        .agg(count(lit(1)).as("n_leads"))
      conv.join(totals, "lead_type")
        .select(col("lead_type"), col("follow_type"),
          col("n_converted"), col("n_leads"),
          (col("n_converted").cast("double") /
            col("n_leads").cast("double")).as("conversion"))
    },
      Some("""WITH f AS (
        | SELECT DISTINCT l.event_type AS lead_type,
        |  r.event_type AS follow_type, l.event_id AS lead_id
        | FROM events l JOIN events r
        |   ON l.user_id = r.user_id
        |  AND r.ts >= l.ts
        |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000
        |  AND l.event_id <> r.event_id
        | WHERE l.user_id IS NOT NULL AND l.ts IS NOT NULL
        |   AND r.ts IS NOT NULL),
        |conv AS (
        | SELECT lead_type, follow_type, count(*) AS n_converted
        | FROM f GROUP BY 1, 2),
        |tot AS (
        | SELECT event_type AS lead_type, count(*) AS n_leads
        | FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        | GROUP BY 1)
        |SELECT c.lead_type, c.follow_type, c.n_converted, t.n_leads,
        | CAST(c.n_converted AS DOUBLE) / CAST(t.n_leads AS DOUBLE)
        |   AS conversion
        |FROM conv c JOIN tot t ON c.lead_type = t.lead_type""".stripMargin)),

    // join fan-out pre-flight: exact predicted output size of
    // events×orders on the customer key — no row of either table
    // joins. The operator's overflow-proof DECIMAL(38,0) estimates
    // cross the gate boundary as DOUBLE (the float-parity convention;
    // exact below 2^53, which covers every test SF)
    Gate("q_join_audit", (s, dir) =>
      graft.operators.Audits.joinFanout(
        t(s, dir, "events"), "user_id",
        t(s, dir, "orders"), "o_custkey")
        .withColumn("est_output_rows",
          col("est_output_rows").cast("double"))
        .withColumn("max_key_fanout",
          col("max_key_fanout").cast("double")),
      Some("""WITH l AS (
        | SELECT user_id AS k, count(*) AS lc FROM events
        | WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (
        | SELECT o_custkey AS k, count(*) AS rc FROM orders
        | WHERE o_custkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT l.lc, r.rc FROM l JOIN r USING (k)),
        |ls AS (SELECT CAST(sum(lc) AS BIGINT) AS l_rows,
        |       count(*) AS l_keys FROM l),
        |rs AS (SELECT CAST(sum(rc) AS BIGINT) AS r_rows,
        |       count(*) AS r_keys FROM r),
        |js AS (SELECT count(*) AS matched_keys,
        |  CAST(coalesce(sum(lc * rc), 0) AS DOUBLE) AS est_output_rows,
        |  CAST(coalesce(max(lc * rc), 0) AS DOUBLE) AS max_key_fanout
        | FROM j)
        |SELECT * FROM ls CROSS JOIN rs CROSS JOIN js""".stripMargin)),

    // referential integrity: event user_ids with no customer row —
    // the orphan-FK pre-flight before a star join drops or null-fills
    // facts; distinct-key anti-join, no fact row joined
    Gate("q_fk_orphans", (s, dir) =>
      graft.operators.Audits.orphanKeys(
        t(s, dir, "events"), "user_id",
        t(s, dir, "customer"), "c_custkey"),
      Some("""WITH fc AS (
        | SELECT user_id AS k, count(*) AS n FROM events
        | WHERE user_id IS NOT NULL GROUP BY 1),
        |o AS (
        | SELECT fc.k, fc.n FROM fc
        | LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) d
        |   ON fc.k = d.c_custkey
        | WHERE d.c_custkey IS NULL)
        |SELECT
        | (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM fc) AS fact_rows,
        | (SELECT count(*) FROM fc) AS fact_keys,
        | (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM o) AS orphan_rows,
        | (SELECT count(*) FROM o) AS orphan_keys,
        | (SELECT CAST(min(k) AS VARCHAR) FROM o) AS sample_orphan_key,
        | (SELECT count(*) FROM events WHERE user_id IS NULL) AS null_fk_rows""".stripMargin)),

    // join-key skew pre-flight: one-row shape report for the user_id
    // key — the audit that decides whether q_salted_join's treatment
    // is needed before a big run
    Gate("q_skew_audit", (s, dir) =>
      graft.operators.Audits.keySkew(t(s, dir, "events"), "user_id"),
      Some("""WITH c AS (
        | SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS cnt
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |top AS (SELECT k, cnt FROM c ORDER BY cnt DESC, k DESC LIMIT 1),
        |a AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  count(*) AS n_keys, max(cnt) AS max_key_rows FROM c)
        |SELECT a.n_rows, a.n_keys, a.max_key_rows, top.k AS top_key,
        | CAST(a.n_rows AS DOUBLE) / CAST(a.n_keys AS DOUBLE)
        |   AS mean_rows_per_key,
        | CAST(a.max_key_rows AS DOUBLE) * CAST(a.n_keys AS DOUBLE)
        |   / CAST(a.n_rows AS DOUBLE) AS skew_ratio
        |FROM a CROSS JOIN top""".stripMargin)),

    // geospatial distance join: customers to suppliers within 120 km
    // on synthetic key-derived coordinates — lossless adaptive grid
    // blocking (never all-pairs); oracle brute-forces the same
    // haversine tree over the small cross product
    Gate("q_geo_join", (s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"),
        ((col("c_custkey") % 1200).cast("double") / 10.0 - 60.0)
          .as("clat"),
        ((col("c_custkey") * 7 % 3600).cast("double") / 10.0 - 180.0)
          .as("clon"))
      val supp = t(s, dir, "supplier").select(col("s_suppkey"),
        ((col("s_suppkey") * 13 % 1200).cast("double") / 10.0 - 60.0)
          .as("slat"),
        ((col("s_suppkey") * 31 % 3600).cast("double") / 10.0 - 180.0)
          .as("slon"))
      graft.operators.GeoJoin.withinDistance(
        cust, "clat", "clon", Seq("c_custkey"),
        supp, "slat", "slon", Seq("s_suppkey"), radiusKm = 120.0)
    },
      Some("""WITH c AS (
        | SELECT c_custkey,
        |  CAST((c_custkey % 1200) AS DOUBLE) / 10.0 - 60.0 AS clat,
        |  CAST(((c_custkey * 7) % 3600) AS DOUBLE) / 10.0 - 180.0 AS clon
        | FROM customer),
        |s AS (
        | SELECT s_suppkey,
        |  CAST(((s_suppkey * 13) % 1200) AS DOUBLE) / 10.0 - 60.0 AS slat,
        |  CAST(((s_suppkey * 31) % 3600) AS DOUBLE) / 10.0 - 180.0 AS slon
        | FROM supplier),
        |d AS (
        | SELECT c_custkey, s_suppkey,
        |  round(2 * CAST(6371.0088 AS DOUBLE) * asin(sqrt(
        |    sin(radians(slat - clat) / 2) * sin(radians(slat - clat) / 2) +
        |    cos(radians(clat)) * cos(radians(slat)) *
        |    sin(radians(slon - clon) / 2) * sin(radians(slon - clon) / 2))),
        |    6) AS dist_km
        | FROM c CROSS JOIN s)
        |SELECT c_custkey, s_suppkey, dist_km FROM d
        |WHERE dist_km <= 120.0""".stripMargin)),

    // declarative data contract: a 7-rule expectation suite over the
    // event stream evaluated as ONE aggregate over one scan — the
    // pre-promotion gate a snapshot pipeline runs per version
    Gate("q_expectations", (s, dir) => {
      import graft.operators.Audits.Expect._
      graft.operators.Audits.expectations(t(s, dir, "events"), Seq(
        NotNull("event_id"),
        NonBlank("event_type"),
        Unique(Seq("event_id")),
        Between("value", 0.0, 500.0),
        Matches("event_type", "^[a-z_]+$"),
        InSet("event_type", Seq("click", "view", "purchase", "signup")),
        Holds("ts_set", col("ts").isNotNull)))
    },
      Some("""SELECT 'not_null:event_id' AS rule, count(*) AS total_rows,
        | count(*) FILTER (WHERE event_id IS NULL) AS violations,
        | CASE WHEN count(*) FILTER (WHERE event_id IS NULL) = 0
        |      THEN 1 ELSE 0 END AS pass
        |FROM events
        |UNION ALL
        |SELECT 'non_blank:event_type', count(*),
        | count(*) FILTER (WHERE NOT (event_type IS NOT NULL
        |   AND trim(CAST(event_type AS VARCHAR)) <> '')),
        | CASE WHEN count(*) FILTER (WHERE NOT (event_type IS NOT NULL
        |   AND trim(CAST(event_type AS VARCHAR)) <> '')) = 0
        |      THEN 1 ELSE 0 END
        |FROM events
        |UNION ALL
        |SELECT 'unique:event_id', count(*),
        | count(*) - count(DISTINCT struct_pack(k := event_id)),
        | CASE WHEN count(*) - count(DISTINCT struct_pack(k := event_id)) = 0
        |      THEN 1 ELSE 0 END
        |FROM events
        |UNION ALL
        |SELECT 'between:value', count(*),
        | count(*) FILTER (WHERE value IS NOT NULL
        |   AND (value < 0.0 OR value > 500.0)),
        | CASE WHEN count(*) FILTER (WHERE value IS NOT NULL
        |   AND (value < 0.0 OR value > 500.0)) = 0 THEN 1 ELSE 0 END
        |FROM events
        |UNION ALL
        |SELECT 'matches:event_type', count(*),
        | count(*) FILTER (WHERE event_type IS NOT NULL
        |   AND NOT regexp_matches(event_type, '^[a-z_]+$')),
        | CASE WHEN count(*) FILTER (WHERE event_type IS NOT NULL
        |   AND NOT regexp_matches(event_type, '^[a-z_]+$')) = 0
        |      THEN 1 ELSE 0 END
        |FROM events
        |UNION ALL
        |SELECT 'in_set:event_type', count(*),
        | count(*) FILTER (WHERE event_type IS NOT NULL
        |   AND event_type NOT IN ('click', 'view', 'purchase', 'signup')),
        | CASE WHEN count(*) FILTER (WHERE event_type IS NOT NULL
        |   AND event_type NOT IN ('click', 'view', 'purchase', 'signup')) = 0
        |      THEN 1 ELSE 0 END
        |FROM events
        |UNION ALL
        |SELECT 'holds:ts_set', count(*),
        | count(*) FILTER (WHERE NOT coalesce(ts IS NOT NULL, FALSE)),
        | CASE WHEN count(*) FILTER
        |   (WHERE NOT coalesce(ts IS NOT NULL, FALSE)) = 0
        |      THEN 1 ELSE 0 END
        |FROM events""".stripMargin)),

    // top-5 longest documents per (source, lang) bucket — grouped
    // curation pick with a total order (unique doc_id last)
    Gate("q_group_topk", (s, dir) =>
      graft.ops.Ranking.groupedTopK(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
        Seq("source", "lang"),
        Seq(col("n_chars").desc, col("doc_id").asc), k = 5),
      Some("""SELECT doc_id, source, lang, n_chars,
        | CAST(row_number() OVER (PARTITION BY source, lang
        |   ORDER BY n_chars DESC, doc_id) AS INT) AS rank
        |FROM documents
        |QUALIFY rank <= 5""".stripMargin)),

    // salted skew join: hot fact keys spread over saltFactor reducers,
    // result row-for-row the plain inner join (which is the oracle)
    Gate("q_salted_join", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"),
        (col("user_id") % 25).cast("int").as("nk"), col("value"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("nk"), col("n_name"))
      graft.operators.SkewJoin.salted(ev, dim, Seq("nk"), saltFactor = 8)
        .select(col("event_id"), col("n_name"), col("value"))
    },
      Some("""SELECT e.event_id, n.n_name, e.value
        |FROM events e JOIN nation n
        |  ON CAST(e.user_id % 25 AS INTEGER) = n.n_nationkey""".stripMargin)),

    // SCD2 history-preserving upsert: changed keys close their current
    // version and append a new one; identical re-loads are no-ops
    Gate("q_scd2", (s, dir) => {
      val c = t(s, dir, "customer")
      val target = c.select(col("c_custkey"),
          col("c_acctbal").cast("double").as("acctbal"),
          col("c_mktsegment").as("mktsegment"))
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val src = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 3 === 0,
            col("c_acctbal").cast("double") + 100.0)
            .otherwise(col("c_acctbal").cast("double")).as("acctbal"),
          col("c_mktsegment").as("mktsegment"))
      graft.operators.Scd2.merge(target, src, "c_custkey",
        Seq("acctbal", "mktsegment"), lit(100L))
    },
      Some("""WITH target AS (
        | SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal,
        |  c_mktsegment AS mktsegment, CAST(0 AS BIGINT) AS valid_from,
        |  CAST(NULL AS BIGINT) AS valid_to
        | FROM customer),
        |src AS (
        | SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN CAST(c_acctbal AS DOUBLE) + 100.0
        |       ELSE CAST(c_acctbal AS DOUBLE) END AS acctbal,
        |  c_mktsegment AS mktsegment
        | FROM customer WHERE c_custkey % 2 = 0),
        |j AS (
        | SELECT t.c_custkey, t.acctbal, t.mktsegment, t.valid_from,
        |  t.valid_to, s.c_custkey AS spk, s.acctbal AS s_acctbal,
        |  s.mktsegment AS s_mktsegment
        | FROM target t FULL OUTER JOIN src s
        |   ON t.c_custkey = s.c_custkey),
        |old_rows AS (
        | SELECT c_custkey, acctbal, mktsegment, valid_from,
        |  CASE WHEN spk IS NOT NULL AND NOT (
        |        acctbal IS NOT DISTINCT FROM s_acctbal
        |        AND mktsegment IS NOT DISTINCT FROM s_mktsegment)
        |       THEN 100 ELSE valid_to END AS valid_to
        | FROM j WHERE c_custkey IS NOT NULL),
        |new_rows AS (
        | SELECT spk AS c_custkey, s_acctbal AS acctbal,
        |  s_mktsegment AS mktsegment, CAST(100 AS BIGINT) AS valid_from,
        |  CAST(NULL AS BIGINT) AS valid_to
        | FROM j WHERE spk IS NOT NULL AND (c_custkey IS NULL OR NOT (
        |   acctbal IS NOT DISTINCT FROM s_acctbal
        |   AND mktsegment IS NOT DISTINCT FROM s_mktsegment)))
        |SELECT * FROM old_rows UNION ALL SELECT * FROM new_rows""".stripMargin)),

    // point-in-interval range join via interval binning — the equi-key
    // rewrite of a join Spark would otherwise run as a nested loop
    Gate("q_range_join", (s, dir) => {
      val iv = t(s, dir, "nation").select(col("n_nationkey"),
        (col("n_nationkey") * 4).cast("double").as("lo"),
        (col("n_nationkey") * 4 + lit(3.5)).as("hi"))
      graft.operators.RangeJoin.binned(
        t(s, dir, "events").select(col("event_id"), col("value")),
        "value", iv, "lo", "hi", binWidth = 2.0)
        .select(col("event_id"), col("n_nationkey"), col("value"))
    },
      Some("""SELECT e.event_id, n.n_nationkey, e.value
        |FROM events e JOIN nation n
        |  ON e.value >= CAST(n.n_nationkey * 4 AS DOUBLE)
        | AND e.value <= n.n_nationkey * 4 + 3.5""".stripMargin)),

    // semi-structured: JSON path extraction over the events props column
    Gate("q_json_extract", (s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("bigint")
          .as("k_value"))
        .groupBy(col("k_value"))
        .agg(count(lit(1)).as("count")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
        | count(*) AS count
        |FROM events GROUP BY 1""".stripMargin)),

    // window analytics (beyond-reference surface): per-user ordered
    // rank, running total, and previous-event pointer
    Gate("q_window_analytics", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(
          col("event_id"), col("user_id"),
          row_number().over(w).as("rn"),
          sum(col("value").cast("decimal(18,2)")).over(running)
            .cast("double").as("running_value"),
          lag(col("event_id"), 1).over(w).as("prev_event_id"))
    },
      Some("""SELECT event_id, user_id,
        | row_number() OVER w AS rn,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
        |   (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS running_value,
        | lag(event_id, 1) OVER w AS prev_event_id
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // SQL extensions (nb_* session UDFs) exercised through expr() —
    // the $S/$T template path the reference installs them for
    Gate("q_sql_extensions", (s, dir) => {
      graft.functions.Functions.register(s)
      t(s, dir, "orders")
        .withColumn("date_text",
          date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .withColumn("code",
          element_at(array(lit("pr"), lit("ge"), lit("pp"), lit("sp"), lit("xx")),
            (col("o_orderkey") % 5 + 1).cast("int")))
        .withColumn("email",
          when(col("o_orderkey") % 7 === 0,
            concat(lit("user"), col("o_orderkey").cast("string"), lit("@nodot")))
            .otherwise(concat(lit("user"), col("o_orderkey").cast("string"),
              lit("@example.com"))))
        .withColumn("maybe_date",
          when(col("o_orderkey") % 3 === 0, lit("garbage"))
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")))
        .select(
          col("o_orderkey"),
          expr("nb_parse_election_name(date_text, code)").as("election"),
          expr("nb_is_email_address_valid(email)").as("email_ok"),
          expr("nb_coerce_to_date_or_null(maybe_date)").as("coerced_date"))
    },
      Some("""SELECT o_orderkey,
        | CAST(year(CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE)) AS VARCHAR)
        |   || '_' ||
        |   CASE o_orderkey % 5 WHEN 0 THEN 'primary' WHEN 1 THEN 'general'
        |        WHEN 2 THEN 'presidential_primary' WHEN 3 THEN 'special'
        |        ELSE 'xx' END AS election,
        | CASE WHEN o_orderkey % 7 = 0 THEN
        |   regexp_matches('user' || CAST(o_orderkey AS VARCHAR) || '@nodot',
        |     '^\S*\.[a-zA-Z][a-zA-Z\.]*[a-zA-Z]$')
        | ELSE
        |   regexp_matches('user' || CAST(o_orderkey AS VARCHAR) || '@example.com',
        |     '^\S*\.[a-zA-Z][a-zA-Z\.]*[a-zA-Z]$')
        | END AS email_ok,
        | CASE WHEN o_orderkey % 3 = 0 THEN TRY_CAST('garbage' AS DATE)
        |      ELSE TRY_CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE)
        | END AS coerced_date
        |FROM orders""".stripMargin))
  )
}
