package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** The reference's import core: conform (P1-P6), staged exact match
  * (J1-J5), trigram fuzzy match (J6), upsert merge with write-back
  * (M1-M4), self-dedup (M5/M6), audits (A1-A6), probabilistic record
  * linkage, and the CSV/JSONL/ORC source round trips. */
object ImportGates {
  import Gate.{t, tmpToken}

  /** Conformed per-user source for the merge family (events → customer
    * shape), with working_source_id preset to the natural key so insert
    * pk generation is deterministic. */
  private def mergeSource(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        min(col("event_id")).as("__min_event"),
        sum(col("value").cast("decimal(18,2)")).as("__sum_value"))
      .select(
        col("user_id").as("c_custkey"),
        concat(lit("User#"), col("user_id").cast("string")).as("c_name"),
        (col("__min_event") % 25).cast("int").as("c_nationkey"),
        col("__sum_value").cast("double").as("c_acctbal"),
        lit("NEW").as("c_mktsegment"))
      .withColumn("working_source_id", col("c_custkey"))
      .withColumn("matched_custkey", lit(null).cast("long"))

  private def mergeTarget(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_custkey") < 100)

  private def mergeSpecBase = MergeSpec(
    matchSpec = MatchSpec(
      groups = Seq(ExactGroup.onColumns("c_custkey")),
      targetPk = "c_custkey"),
    preservedColumns = Seq("c_mktsegment"),
    mergeExpressions = Map("c_acctbal" -> "$T + $S"),
    insertExpressions = Map("c_mktsegment" -> "'NEW'"),
    excludedColumns = Seq("matched_custkey"),
    returnToSource = Seq(("c_custkey", "matched_custkey")))

  /** Shared oracle CTE prefix for the merge family. */
  private val mergeOracleCtes: String =
    """WITH src AS (
      |  SELECT user_id AS c_custkey,
      |         'User#' || CAST(user_id AS VARCHAR) AS c_name,
      |         CAST(min(event_id) % 25 AS INTEGER) AS c_nationkey,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS c_acctbal,
      |         'NEW' AS c_mktsegment
      |  FROM events GROUP BY user_id),
      |tgt AS (SELECT * FROM customer WHERE c_custkey < 100),
      |upd AS (
      |  SELECT t.c_custkey,
      |         CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
      |         CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
      |         CASE WHEN s.c_custkey IS NOT NULL THEN t.c_acctbal + s.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
      |         t.c_mktsegment
      |  FROM tgt t LEFT JOIN src s ON t.c_custkey = s.c_custkey),
      |ins AS (
      |  SELECT 99 + row_number() OVER (ORDER BY s.c_custkey) AS c_custkey,
      |         s.c_name, s.c_nationkey, s.c_acctbal,
      |         'NEW' AS c_mktsegment
      |  FROM src s LEFT JOIN tgt t ON s.c_custkey = t.c_custkey
      |  WHERE t.c_custkey IS NULL)
      |""".stripMargin

  /** Probabilistic-linkage fields shared by gate, oracle and spec:
    * name agreement within 1 edit (m=0.95, u=0.05), segment equality
    * (m=0.9, u=0.2). Weight literals derive from ProbLink.weights on
    * the driver, so the oracle embeds the identical decimals. */
  private[graft] val ProblinkNameW = ProbLink.weights(0.95, 0.05)

  private[graft] val ProblinkSegW = ProbLink.weights(0.9, 0.2)

  private def problinkFields = Seq(
    // banded levenshtein: the 3-arg form early-exits above the bound
    // (O(len·k) instead of the full DP table) and returns -1 there, so
    // ">= 0" IS "distance <= 1" — the oracle's plain `<= 1` agrees
    ProbLink.LinkField("name", 0.95, 0.05, "name", "c_name",
      (s, t) => levenshtein(s, t, 1) >= 0),
    ProbLink.LinkField("seg", 0.9, 0.2, "seg", "c_mktsegment",
      (s, t) => s === t))

  /** Blocked, scored candidate pairs for the probabilistic-linkage
    * family: source = every 4th customer with a deterministic
    * SQL-reproducible perturbation (name+X on custkey%3, segment
    * blanked on custkey%5), target = customer, blocked on nationkey. */
  private def problinkSrc(s: SparkSession, dir: String,
                          srcMod: Int): DataFrame =
    t(s, dir, "customer").filter(col("c_custkey") % srcMod === 0).select(
      col("c_custkey").as("src_id"), col("c_nationkey"),
      when(col("c_custkey") % 3 === 0, concat(col("c_name"), lit("X")))
        .otherwise(col("c_name")).as("name"),
      when(col("c_custkey") % 5 === 0, lit("UNKNOWN"))
        .otherwise(col("c_mktsegment")).as("seg"))

  private def problinkTgt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey").as("tgt_id"),
      col("c_nationkey"), col("c_name"), col("c_mktsegment"))

  private def problinkScored(s: SparkSession, dir: String,
                             srcMod: Int = 8): DataFrame =
    ProbLink.scorePairs(problinkSrc(s, dir, srcMod), "src_id",
      problinkTgt(s, dir), "tgt_id",
      Seq(("c_nationkey", "c_nationkey")), problinkFields)

  /** Graded (multi-level) comparison for the Splink-model gate: exact
    * name beats within-1-edit beats else; segment stays two-level. */
  private[graft] val ProblinkGradedName = ProbLink.GradedField(
    "name", "name", "c_name", Seq(
      ProbLink.LinkLevel("exact", 0.7, 0.02, (s, t) => s === t),
      ProbLink.LinkLevel("close", 0.25, 0.05,
        (s, t) => levenshtein(s, t, 1) >= 0)))

  private[graft] val ProblinkGradedSeg = ProbLink.GradedField(
    "seg", "seg", "c_mktsegment", Seq(
      ProbLink.LinkLevel("eq", 0.9, 0.2, (s, t) => s === t)))

  /** DuckDB oracle for the probabilistic-linkage gates; the weight
    * decimals interpolate from the SAME driver-side ProbLink.weights
    * call the Spark plan uses, so both engines add identical literals. */
  private def problinkOracle(best: Boolean): String = {
    val (nA, nD) = ProblinkNameW
    val (sA, sD) = ProblinkSegW
    val ctes =
      s"""WITH src AS (
         | SELECT c_custkey AS src_id, c_nationkey,
         |  CASE WHEN c_custkey % 3 = 0 THEN c_name || 'X' ELSE c_name END AS name,
         |  CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg
         | FROM customer WHERE c_custkey % 8 = 0),
         |p AS (
         | SELECT s.src_id, t.c_custkey AS tgt_id,
         |  levenshtein(s.name, t.c_name) <= 1 AS agree_name,
         |  s.seg = t.c_mktsegment AS agree_seg
         | FROM src s JOIN customer t ON s.c_nationkey = t.c_nationkey),
         |w AS (
         | SELECT src_id, tgt_id, agree_name, agree_seg,
         |  (CASE WHEN agree_name THEN CAST($nA AS DECIMAL(28,6))
         |        ELSE CAST($nD AS DECIMAL(28,6)) END +
         |   CASE WHEN agree_seg THEN CAST($sA AS DECIMAL(28,6))
         |        ELSE CAST($sD AS DECIMAL(28,6)) END) AS mw
         | FROM p)
         |""".stripMargin
    if (!best)
      ctes +
        """SELECT src_id, tgt_id, agree_name, agree_seg,
          | CAST(mw AS DOUBLE) AS match_weight
          |FROM w""".stripMargin
    else
      ctes +
        """SELECT src_id, tgt_id, CAST(mw AS DOUBLE) AS match_weight
          |FROM (SELECT src_id, tgt_id, mw,
          |       row_number() OVER (PARTITION BY src_id
          |                          ORDER BY mw DESC, tgt_id) AS rn
          |      FROM w WHERE mw >= 0)
          |WHERE rn = 1""".stripMargin
  }

  val all: Seq[Gate] = Seq(

    // P1/P2/P3: typed projection + added column + row constraints
    Gate("q_conform", (s, dir) => {
      val spec = new WorkingTableSpec()
        .mapColumn("event_id", sqlType = "BIGINT")
        .mapColumn("user_id", sqlType = "BIGINT")
        .mapColumn("type_name", from = "event_type", as = "upper($S)")
        .mapColumn("event_day", from = "ts", as = "cast($S as date)", sqlType = "DATE")
        .mapColumn("value", sqlType = "DOUBLE")
        .addColumn("note")
        .constrainColumn("event_type", "$S <> 'error'")
        .constrainColumn("value", "$S IS NOT NULL")
      WorkingTable.conform(t(s, dir, "events"), spec)
    },
      Some("""SELECT event_id, user_id, upper(event_type) AS type_name,
        | CAST(ts AS DATE) AS event_day, value, CAST(NULL AS VARCHAR) AS note
        |FROM events WHERE event_type <> 'error' AND value IS NOT NULL""".stripMargin)),

    // P4: in-load GROUP BY collapse
    Gate("q_group_records", (s, dir) => {
      val spec = new WorkingTableSpec()
        .mapColumn("l_orderkey", sqlType = "BIGINT")
        .mapColumn("l_quantity", sqlType = "DOUBLE")
        .mapColumn("l_extendedprice", sqlType = "DOUBLE")
        .groupRecordsBy("l_orderkey")
      WorkingTable.conform(t(s, dir, "lineitem"), spec)
    },
      Some("""SELECT l_orderkey, min(l_quantity) AS l_quantity,
        | min(l_extendedprice) AS l_extendedprice
        |FROM lineitem GROUP BY l_orderkey""".stripMargin)),

    // P5: correlated cross-table column update
    Gate("q_correlated_update", (s, dir) =>
      WorkingTable.mapColumnFromTable(
        t(s, dir, "customer"), t(s, dir, "nation"),
        targetColumn = "c_mktsegment", sourceColumn = "n_name",
        keys = Seq(("c_nationkey", "n_nationkey")),
        template = "$T || '/' || $S"),
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        | CASE WHEN s.n_name IS NOT NULL THEN c_mktsegment || '/' || s.n_name
        |      ELSE c_mktsegment END AS c_mktsegment
        |FROM customer c LEFT JOIN
        | (SELECT n_nationkey, min(n_name) AS n_name FROM nation GROUP BY 1) s
        | ON c.c_nationkey = s.n_nationkey""".stripMargin)),

    // P6: geocoding prep
    Gate("q_geocode_prep", (s, dir) => {
      val base = t(s, dir, "customer")
        .withColumn("residential_lat",
          when(col("c_acctbal") < 0, lit(null).cast("double"))
            .when(col("c_custkey") % 10 === 0, lit(0.0))
            .otherwise(col("c_acctbal") % 90.0))
        .withColumn("residential_lng", col("c_nationkey") * 7.5 - 90.0)
      val prepped = WorkingTable.prepareForGeocoding(base, "c_name")
      prepped.select(
        col("c_custkey"), col("residential_lat"), col("residential_lng"),
        col("needs_geocoding"),
        when(col("residential_lat").isNotNull && col("residential_lng").isNotNull,
          format_string("POINT(%.6f %.6f)",
            col("residential_lng"), col("residential_lat"))).as("point_wkt"))
    },
      Some("""WITH base AS (
        | SELECT c_custkey, c_name,
        |  CASE WHEN c_acctbal < 0 THEN NULL
        |       WHEN c_custkey % 10 = 0 THEN 0.0
        |       ELSE c_acctbal % 90.0 END AS residential_lat,
        |  c_nationkey * 7.5 - 90.0 AS residential_lng
        | FROM customer)
        |SELECT c_custkey, residential_lat, residential_lng,
        | (c_name IS NOT NULL AND trim(c_name) <> ''
        |   AND (residential_lat IS NULL OR residential_lat = 0.0)) AS needs_geocoding,
        | CASE WHEN residential_lat IS NOT NULL AND residential_lng IS NOT NULL
        |      THEN printf('POINT(%.6f %.6f)', residential_lng, residential_lat)
        | END AS point_wkt
        |FROM base""".stripMargin)),

    // J1/J3: staged exact match, first-match-wins + theta constraints
    Gate("q_exact_match", (s, dir) => {
      val src = t(s, dir, "events")
        .withColumn(Matcher.SourceId, col("event_id"))
      val spec = MatchSpec(
        groups = Seq(
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")),
            constraints = Seq(MatchConstraint("value", "$S > 100"))),
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")),
            constraints = Seq(MatchConstraint("c_acctbal", "$T >= 0"))),
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")))),
        targetPk = "c_custkey")
      Matcher.matchRecords(src, t(s, dir, "customer"), spec)
        .select(col("event_id"), col(Matcher.TargetId), col(Matcher.MatchGroup))
    },
      Some("""WITH cand AS (
        | SELECT e.event_id, c.c_custkey AS tid, 1 AS grp FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey AND e.value > 100
        | UNION ALL
        | SELECT e.event_id, c.c_custkey, 2 FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey AND c.c_acctbal >= 0
        | UNION ALL
        | SELECT e.event_id, c.c_custkey, 3 FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey),
        |r AS (SELECT event_id, tid, grp,
        |       row_number() OVER (PARTITION BY event_id ORDER BY grp, tid) rn
        |      FROM cand)
        |SELECT e.event_id, r.tid AS working_target_id,
        |       r.grp AS working_exact_match_group
        |FROM events e LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
        | ON e.event_id = r.event_id""".stripMargin)),

    // J5: nested matcher — a sub-matcher's groups spliced after the
    // outer group, sharing one first-match-wins resolution
    // (record_matcher.rb:48-58,92-102)
    Gate("q_match_nested", (s, dir) => {
      val src = t(s, dir, "events")
        .withColumn(Matcher.SourceId, col("event_id"))
      val outer = MatchSpec(
        groups = Seq(
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")),
            constraints = Seq(MatchConstraint("value", "$S > 200")))),
        targetPk = "c_custkey")
      val nested = MatchSpec(
        groups = Seq(
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")),
            constraints = Seq(MatchConstraint("c_acctbal", "$T < 0"))),
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")))),
        targetPk = "c_custkey")
      Matcher.matchRecords(src, t(s, dir, "customer"),
        outer.withNested(nested))
        .select(col("event_id"), col(Matcher.TargetId), col(Matcher.MatchGroup))
    },
      Some("""WITH cand AS (
        | SELECT e.event_id, c.c_custkey AS tid, 1 AS grp FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey AND e.value > 200
        | UNION ALL
        | SELECT e.event_id, c.c_custkey, 2 FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey AND c.c_acctbal < 0
        | UNION ALL
        | SELECT e.event_id, c.c_custkey, 3 FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey),
        |r AS (SELECT event_id, tid, grp,
        |       row_number() OVER (PARTITION BY event_id ORDER BY grp, tid) rn
        |      FROM cand)
        |SELECT e.event_id, r.tid AS working_target_id,
        |       r.grp AS working_exact_match_group
        |FROM events e LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
        | ON e.event_id = r.event_id""".stripMargin)),

    // J4: auxiliary join table participating in the match condition
    Gate("q_match_aux", (s, dir) => {
      val spec = MatchSpec(
        groups = Seq(ExactGroup(
          Seq(KeyPair("l_suppkey", "s_suppkey")),
          auxJoins = Seq(AuxJoin(t(s, dir, "nation"), "aux",
            "t.s_nationkey = aux.n_nationkey AND aux.n_regionkey < 2")))),
        targetPk = "s_suppkey")
      Matcher.matchRecords(Matcher.withSourceId(t(s, dir, "lineitem")),
        t(s, dir, "supplier"), spec)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col(Matcher.TargetId), col(Matcher.MatchGroup))
    },
      // each lineitem row is matched on its own key: the min supplier pk
      // per key among suppliers whose nation is in regions 0-1
      Some("""SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey,
        |       m.tid AS working_target_id,
        |       CASE WHEN m.tid IS NOT NULL THEN 1 END AS working_exact_match_group
        |FROM lineitem l LEFT JOIN (
        | SELECT s_suppkey AS k, min(s_suppkey) AS tid FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey AND n_regionkey < 2
        | GROUP BY 1) m ON l.l_suppkey = m.k""".stripMargin)),

    // A6: match-rate counts over the staged match
    Gate("q_match_rate", (s, dir) => {
      val src = t(s, dir, "events")
        .withColumn(Matcher.SourceId, col("event_id"))
      val spec = MatchSpec(
        groups = Seq(
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")),
            constraints = Seq(MatchConstraint("value", "$S > 100"))),
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")),
            constraints = Seq(MatchConstraint("c_acctbal", "$T >= 0"))),
          ExactGroup(Seq(KeyPair("user_id", "c_custkey")))),
        targetPk = "c_custkey")
      Audits.matchGroupCounts(
        Matcher.matchRecords(src, t(s, dir, "customer"), spec))
    },
      Some("""WITH cand AS (
        | SELECT e.event_id, c.c_custkey AS tid, 1 AS grp FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey AND e.value > 100
        | UNION ALL
        | SELECT e.event_id, c.c_custkey, 2 FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey AND c.c_acctbal >= 0
        | UNION ALL
        | SELECT e.event_id, c.c_custkey, 3 FROM events e
        |  JOIN customer c ON e.user_id = c.c_custkey),
        |r AS (SELECT event_id, grp,
        |       row_number() OVER (PARTITION BY event_id ORDER BY grp, tid) rn
        |      FROM cand),
        |m AS (SELECT e.event_id, r.grp FROM events e
        |      LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
        |       ON e.event_id = r.event_id)
        |SELECT grp AS working_exact_match_group, count(*) AS count
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // M1+M2 (+M4 keys): full upsert — update matched, insert rest
    Gate("q_merge_upsert", (s, dir) =>
      Merger.merge(mergeSource(s, dir), mergeTarget(s, dir),
        mergeSpecBase).newTarget,
      Some((mergeOracleCtes +
      "SELECT * FROM upd UNION ALL SELECT * FROM ins"))),

    // S7 real-write gate: the SAME upsert routed through the production
    // parquet write-commit path and re-read — every other merge gate
    // evaluates through the noop sink / judge-side dump, which left the
    // target-sink leg of the job lifecycle (import_job.rb:16-23)
    // unexercised. Also exercises the MergeResult.unpersist() contract
    // mid-query: the cache is released after the write commits.
    Gate("q_merge_upsert_written", (s, dir) => {
      val out = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_target_${tmpToken(dir)}")
      val res = Merger.merge(mergeSource(s, dir), mergeTarget(s, dir),
        mergeSpecBase)
      res.newTarget.write.mode("overwrite").parquet(out.getAbsolutePath)
      res.unpersist()
      s.read.parquet(out.getAbsolutePath)
    },
      // identical result set to q_merge_upsert; the Spark side differs
      // only in traversing the parquet write→read round trip
      Some((mergeOracleCtes +
      "SELECT * FROM upd UNION ALL SELECT * FROM ins"))),

    // M3: update_only
    Gate("q_merge_update_only", (s, dir) =>
      Merger.merge(mergeSource(s, dir), mergeTarget(s, dir),
        mergeSpecBase.copy(updateOnly = true)).newTarget,
      Some((mergeOracleCtes + "SELECT * FROM upd"))),

    // M3: insert_only
    Gate("q_merge_insert_only", (s, dir) =>
      Merger.merge(mergeSource(s, dir), mergeTarget(s, dir),
        mergeSpecBase.copy(insertOnly = true)).newTarget,
      Some((mergeOracleCtes +
      "SELECT * FROM tgt UNION ALL SELECT * FROM ins"))),

    // M4: RETURNING write-back into the source
    Gate("q_merge_returning", (s, dir) =>
      Merger.merge(mergeSource(s, dir), mergeTarget(s, dir), mergeSpecBase)
        .updatedSource
        .select(col("c_custkey"), col("c_name"), col("matched_custkey")),
      Some((mergeOracleCtes +
      """, ret AS (
        | SELECT s.c_custkey, s.c_name,
        |        COALESCE(t.c_custkey, i.c_custkey) AS matched_custkey
        | FROM src s
        | LEFT JOIN tgt t ON s.c_custkey = t.c_custkey
        | LEFT JOIN (SELECT c_custkey,
        |             99 + row_number() OVER (ORDER BY c_custkey) AS new_id
        |            FROM src WHERE c_custkey NOT IN (SELECT c_custkey FROM tgt)) i0
        |  ON FALSE
        | LEFT JOIN (
        |   SELECT s2.c_custkey AS src_key,
        |          99 + row_number() OVER (ORDER BY s2.c_custkey) AS c_custkey
        |   FROM src s2 LEFT JOIN tgt t2 ON s2.c_custkey = t2.c_custkey
        |   WHERE t2.c_custkey IS NULL) i
        |  ON s.c_custkey = i.src_key)
        |SELECT c_custkey, c_name, matched_custkey FROM ret""".stripMargin))),

    // M5/M6: self-table dedup with orientation + fold
    Gate("q_dedup", (s, dir) => {
      val spec = MergeSpec(
        matchSpec = MatchSpec(
          groups = Seq(ExactGroup.onColumns("o_custkey", "o_orderdate")),
          targetPk = "o_orderkey"),
        mergeExpressions = Map("o_totalprice" -> "$T + $S"))
      Deduper.dedup(t(s, dir, "orders"), spec).newTable
    },
      Some("""WITH m AS (
        | SELECT o_orderkey,
        |        min(o_orderkey) OVER (PARTITION BY o_custkey, o_orderdate) AS survivor
        | FROM orders),
        |dup AS (SELECT o.*, m.survivor FROM orders o
        |        JOIN m ON o.o_orderkey = m.o_orderkey
        |        WHERE m.survivor < o.o_orderkey),
        |best AS (SELECT survivor, min(o_orderkey) AS fold_key FROM dup GROUP BY survivor),
        |fold AS (SELECT b.survivor, d.o_totalprice AS fold_price
        |         FROM best b JOIN dup d ON d.o_orderkey = b.fold_key)
        |SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
        |       CASE WHEN f.survivor IS NOT NULL THEN o.o_totalprice + f.fold_price
        |            ELSE o.o_totalprice END AS o_totalprice,
        |       o.o_orderdate, o.o_orderpriority
        |FROM orders o LEFT JOIN fold f ON o.o_orderkey = f.survivor
        |WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM dup)""".stripMargin)),

    // A1/A2: one-pass per-column coverage profile
    Gate("q_audit_coverage", (s, dir) =>
      Audits.coverage(t(s, dir, "customer"),
        Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
      Some("""SELECT count(*) AS total_count,
        | count(CASE WHEN c_name IS NOT NULL AND trim(CAST(c_name AS VARCHAR)) <> '' THEN 1 END) AS c_name_coverage,
        | count(CASE WHEN c_nationkey IS NOT NULL AND trim(CAST(c_nationkey AS VARCHAR)) <> '' THEN 1 END) AS c_nationkey_coverage,
        | count(CASE WHEN c_acctbal IS NOT NULL AND trim(CAST(c_acctbal AS VARCHAR)) <> '' THEN 1 END) AS c_acctbal_coverage,
        | count(CASE WHEN c_mktsegment IS NOT NULL AND trim(CAST(c_mktsegment AS VARCHAR)) <> '' THEN 1 END) AS c_mktsegment_coverage
        |FROM customer""".stripMargin)),

    // A3: duplicate-key detection
    Gate("q_audit_dupkeys", (s, dir) =>
      Audits.duplicateKeys(t(s, dir, "orders"),
        Seq("o_custkey", "o_orderdate")),
      Some("""SELECT o_custkey, o_orderdate, count(*) AS dup_count
        |FROM orders GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin)),

    // A4: value distribution top-k with deterministic tiebreak
    Gate("q_audit_distribution", (s, dir) =>
      Audits.distribution(t(s, dir, "events"), "event_type", 20),
      Some("""SELECT event_type, count(*) AS count FROM events
        |GROUP BY 1 ORDER BY count DESC, event_type ASC LIMIT 20""".stripMargin)),

    // A5: boolean-expression distribution
    Gate("q_audit_expr_dist", (s, dir) =>
      Audits.expressionDistribution(t(s, dir, "events"),
        col("value") > 50.0),
      Some("""SELECT (value > 50.0) AS value, count(*) AS count
        |FROM events GROUP BY 1""".stripMargin)),

    // lossless blocked Levenshtein self-join (Ed-Join rarest-prefix
    // candidates + banded verify) on a customer-name subset — every
    // pair within 2 edits, oracle = the plain quadratic form
    Gate("q_edit_join", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 8 === 0)
      val a = c.select(col("c_custkey").as("a_id"),
        col("c_name").as("a_name"))
      val b = c.select(col("c_custkey").as("b_id"),
        col("c_name").as("b_name"))
      graft.operators.EditJoin.editJoin(
        a, "a_id", "a_name", b, "b_id", "b_name", maxDist = 2)
        .filter(col("a_id") < col("b_id"))
    },
      Some("""WITH c AS (
        | SELECT c_custkey, c_name FROM customer WHERE c_custkey % 8 = 0)
        |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        |       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin)),

    // J6: trigram fuzzy KNN + greedy 1:1, oracled cross-engine: the
    // DuckDB side rebuilds pg_trgm shingling in SQL and peels the
    // sequential greedy one pair per recursive-CTE level.
    // Source = perturbed document snippets (e→3 leetspeak); the fuzzy
    // matcher should re-link most of them to their original document.
    Gate("q_fuzzy_match", (s, dir) => {
      val snippet = substring(col("text"), 1, 60)
      val src = t(s, dir, "documents")
        .filter(col("doc_id") % 37 === 0)
        .select(col("doc_id").as(Matcher.SourceId),
          translate(snippet, "e", "3").as("snippet"))
      val tgt = t(s, dir, "documents")
        .select(col("doc_id"), snippet.as("snippet"))
      val pairs = Fuzzy.candidatePairs(
        src, Matcher.SourceId, "snippet", tgt, "doc_id", "snippet")
      Fuzzy.greedyAssign(pairs, Matcher.SourceId, "doc_id")
        .select(col(Matcher.SourceId), col("doc_id").as("matched_key"),
          round(col("distance"), 6).as("distance"))
    },
      // J6 fuzzy trigram KNN + greedy 1:1 — cross-engine oracle for the
      // reference's core operator. Trigram sets mirror Trigram.trigrams
      // exactly (lowercase, [a-z0-9]+ word split — the corpus is pure
      // ASCII lowercase, proven by the charset probe — '  w ' padding,
      // distinct 3-grams); sim = shared/(|A|+|B|-shared) with the same
      // IEEE op order as candidatePairs; the sequential greedy by
      // (distance, source, target) is a recursive CTE peeling one
      // accepted pair per level (pairs are few at fixture scale — the
      // recursion is depth-bounded by the match count).
      Some("""WITH RECURSIVE src AS (
        | SELECT doc_id AS working_source_id,
        |        translate(substring(text, 1, 60), 'e', '3') AS snippet
        | FROM documents WHERE doc_id % 37 = 0
        |),
        |tgt AS (
        | SELECT doc_id, substring(text, 1, 60) AS snippet FROM documents
        |),
        |src_tri AS (
        | SELECT DISTINCT working_source_id, substring(pw, j, 3) AS tri
        | FROM (
        |  SELECT working_source_id, '  ' || w || ' ' AS pw
        |  FROM src,
        |   unnest(regexp_extract_all(lower(snippet), '[a-z0-9]+')) AS u(w)
        | ) words, unnest(range(1, length(pw) - 1)) AS r(j)
        |),
        |tgt_tri AS (
        | SELECT DISTINCT doc_id, substring(pw, j, 3) AS tri
        | FROM (
        |  SELECT doc_id, '  ' || w || ' ' AS pw
        |  FROM tgt,
        |   unnest(regexp_extract_all(lower(snippet), '[a-z0-9]+')) AS u(w)
        | ) words, unnest(range(1, length(pw) - 1)) AS r(j)
        |),
        |ssz AS (SELECT working_source_id, count(*) AS na
        |        FROM src_tri GROUP BY 1),
        |tsz AS (SELECT doc_id, count(*) AS nb FROM tgt_tri GROUP BY 1),
        |pairs AS (
        | SELECT c.working_source_id, c.doc_id, c.dist AS distance
        | FROM (
        |  SELECT s.working_source_id, t.doc_id,
        |         1.0 - CAST(count(*) AS DOUBLE) /
        |           (any_value(ss.na) + any_value(ts.nb) - count(*)) AS dist
        |  FROM src_tri s
        |  JOIN tgt_tri t USING (tri)
        |  JOIN ssz ss ON ss.working_source_id = s.working_source_id
        |  JOIN tsz ts ON ts.doc_id = t.doc_id
        |  GROUP BY 1, 2
        | ) c
        | WHERE c.dist < 0.5
        |),
        |g AS (
        | SELECT NULL::BIGINT AS working_source_id, NULL::BIGINT AS doc_id,
        |        NULL::DOUBLE AS distance,
        |        []::BIGINT[] AS used_s, []::BIGINT[] AS used_t, 0 AS n
        | UNION ALL
        | SELECT p.working_source_id, p.doc_id, p.distance,
        |        list_append(g.used_s, p.working_source_id),
        |        list_append(g.used_t, p.doc_id), g.n + 1
        | FROM g, LATERAL (
        |  SELECT working_source_id, doc_id, distance FROM pairs
        |  WHERE NOT list_contains(g.used_s, working_source_id)
        |    AND NOT list_contains(g.used_t, doc_id)
        |  ORDER BY distance ASC, working_source_id ASC, doc_id ASC
        |  LIMIT 1
        | ) p
        |)
        |SELECT working_source_id, doc_id AS matched_key,
        |       round(distance, 6) AS distance
        |FROM g WHERE n > 0""".stripMargin)),

    // Fellegi-Sunter probabilistic linkage: nationkey-blocked pairs of
    // (deterministically perturbed customer) x customer, scored by the
    // log2 Bayes factor of name/segment agreement; driver-rounded
    // decimal weight literals make the score hash-exact cross-engine
    Gate("q_problink", (s, dir) =>
      problinkScored(s, dir)
        .select(col("src_id"), col("tgt_id"),
          col("agree_name"), col("agree_seg"),
          col("match_weight").cast("double").as("match_weight")),
      Some(problinkOracle(best = false))),

    // one-target-per-source resolution of the same scored pairs: max
    // weight, ties to the smallest target id, below-threshold sources
    // dropped — a min_by AGGREGATE (hot-source-key safe), not a window
    Gate("q_problink_best", (s, dir) =>
      ProbLink.bestLinks(problinkScored(s, dir), "src_id", "tgt_id",
        minWeight = BigDecimal(0))
        .select(col("src_id"), col("tgt_id"),
          col("match_weight").cast("double").as("match_weight")),
      Some(problinkOracle(best = true))),

    // graded (multi-level) FS comparisons — the full Splink model:
    // exact-name evidence outweighs within-1-edit evidence outweighs
    // the catch-all; level picked by a first-match-wins codegen CASE,
    // weights exact decimal literals as in the binary gates
    Gate("q_problink_graded", (s, dir) =>
      ProbLink.scorePairsGraded(
        problinkSrc(s, dir, srcMod = 8), "src_id", problinkTgt(s, dir),
        "tgt_id", Seq(("c_nationkey", "c_nationkey")),
        Seq(ProblinkGradedName, ProblinkGradedSeg))
        .select(col("src_id"), col("tgt_id"),
          col("level_name"), col("level_seg"),
          col("match_weight").cast("double").as("match_weight")),
      // DuckDB oracle for the graded-comparison gate — level weights
      // interpolate from the SAME gradedWeights call the plan uses.
      Some {
        val nw = ProbLink.gradedWeights(ProblinkGradedName)
        val sw = ProbLink.gradedWeights(ProblinkGradedSeg)
        s"""WITH src AS (
           | SELECT c_custkey AS src_id, c_nationkey,
           |  CASE WHEN c_custkey % 3 = 0 THEN c_name || 'X' ELSE c_name END AS name,
           |  CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg
           | FROM customer WHERE c_custkey % 8 = 0),
           |p AS (
           | SELECT s.src_id, t.c_custkey AS tgt_id,
           |  CASE WHEN s.name = t.c_name THEN 0
           |       WHEN levenshtein(s.name, t.c_name) <= 1 THEN 1
           |       ELSE 2 END AS level_name,
           |  CASE WHEN s.seg = t.c_mktsegment THEN 0 ELSE 1 END AS level_seg
           | FROM src s JOIN customer t ON s.c_nationkey = t.c_nationkey)
           |SELECT src_id, tgt_id, level_name, level_seg,
           | CAST(
           |  CASE level_name WHEN 0 THEN CAST(${nw(0)} AS DECIMAL(28,6))
           |                  WHEN 1 THEN CAST(${nw(1)} AS DECIMAL(28,6))
           |                  ELSE CAST(${nw(2)} AS DECIMAL(28,6)) END +
           |  CASE level_seg WHEN 0 THEN CAST(${sw(0)} AS DECIMAL(28,6))
           |                 ELSE CAST(${sw(1)} AS DECIMAL(28,6)) END
           | AS DOUBLE) AS match_weight
           |FROM p""".stripMargin
      }),

    // term-frequency-adjusted FS scoring (Splink's TF adjustment):
    // agreeing on a segment held by 20% of targets is weaker evidence
    // than agreeing on a rare one; share table broadcast, log2 in
    // engine + round(6) per the BM25-idf parity convention
    Gate("q_problink_tf", (s, dir) =>
      ProbLink.scorePairs(
        problinkSrc(s, dir, srcMod = 8), "src_id", problinkTgt(s, dir),
        "tgt_id", Seq(("c_nationkey", "c_nationkey")),
        Seq(
          ProbLink.LinkField("name", 0.95, 0.05, "name", "c_name",
            (a, b) => levenshtein(a, b, 1) >= 0),
          ProbLink.LinkField("seg", 0.9, 0.2, "seg", "c_mktsegment",
            (a, b) => a === b, tfAdjust = true)))
        .select(col("src_id"), col("tgt_id"),
          col("agree_name"), col("agree_seg"),
          col("match_weight").cast("double").as("match_weight")),
      Some({
      val (nA, nD) = ProblinkNameW
      val (_, sD) = ProblinkSegW
      s"""WITH src AS (
         | SELECT c_custkey AS src_id, c_nationkey,
         |  CASE WHEN c_custkey % 3 = 0 THEN c_name || 'X' ELSE c_name END AS name,
         |  CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg
         | FROM customer WHERE c_custkey % 8 = 0),
         |freq AS (SELECT c_mktsegment AS v, count(*) AS c
         |         FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY 1),
         |tot AS (SELECT sum(c) AS n FROM freq),
         |p AS (
         | SELECT s.src_id, t.c_custkey AS tgt_id,
         |  levenshtein(s.name, t.c_name) <= 1 AS agree_name,
         |  s.seg = t.c_mktsegment AS agree_seg,
         |  CAST(f.c AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE) AS tf
         | FROM src s JOIN customer t ON s.c_nationkey = t.c_nationkey
         | LEFT JOIN freq f ON t.c_mktsegment = f.v)
         |SELECT src_id, tgt_id, agree_name, agree_seg,
         | CAST(
         |  CASE WHEN agree_name THEN CAST($nA AS DECIMAL(28,6))
         |       ELSE CAST($nD AS DECIMAL(28,6)) END +
         |  CASE WHEN agree_seg THEN CAST(round(
         |         log2(CAST(0.9 AS DOUBLE) / greatest(tf, CAST(1e-6 AS DOUBLE))),
         |         6) AS DECIMAL(28,6))
         |       ELSE CAST($sD AS DECIMAL(28,6)) END
         | AS DOUBLE) AS match_weight
         |FROM p""".stripMargin
    })),

    // blocking-rule pre-flight: exact pair counts per candidate rule
    // from per-key counts (Splink's count_comparisons; no pair
    // materialized) — the dial a 100 TB linkage job turns FIRST
    Gate("q_blocking_profile", (s, dir) => {
      val src = problinkSrc(s, dir, srcMod = 8)
      val tgt = problinkTgt(s, dir)
      ProbLink.blockingProfile(src, tgt, Seq(
        ("nation", Seq(("c_nationkey", "c_nationkey"))),
        ("segment", Seq(("seg", "c_mktsegment"))),
        ("nation_segment",
          Seq(("c_nationkey", "c_nationkey"), ("seg", "c_mktsegment")))))
        .select(col("rule"),
          col("est_pairs").cast("double").as("est_pairs"),
          col("matched_keys"),
          col("max_block_pairs").cast("double").as("max_block_pairs"))
    },
      Some("""WITH src AS (
        | SELECT c_custkey AS src_id, c_nationkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg
        | FROM customer WHERE c_custkey % 8 = 0),
        |r1 AS (
        | SELECT 'nation' AS rule,
        |  CAST(coalesce(sum(sc * tc), 0) AS DOUBLE) AS est_pairs,
        |  count(*) AS matched_keys,
        |  CAST(coalesce(max(sc * tc), 0) AS DOUBLE) AS max_block_pairs
        | FROM (SELECT c_nationkey AS k, count(*) AS sc FROM src GROUP BY 1) s
        | JOIN (SELECT c_nationkey AS k, count(*) AS tc FROM customer GROUP BY 1) t
        |   USING (k)),
        |r2 AS (
        | SELECT 'segment',
        |  CAST(coalesce(sum(sc * tc), 0) AS DOUBLE),
        |  count(*),
        |  CAST(coalesce(max(sc * tc), 0) AS DOUBLE)
        | FROM (SELECT seg AS k, count(*) AS sc FROM src GROUP BY 1) s
        | JOIN (SELECT c_mktsegment AS k, count(*) AS tc FROM customer GROUP BY 1) t
        |   USING (k)),
        |r3 AS (
        | SELECT 'nation_segment',
        |  CAST(coalesce(sum(sc * tc), 0) AS DOUBLE),
        |  count(*),
        |  CAST(coalesce(max(sc * tc), 0) AS DOUBLE)
        | FROM (SELECT c_nationkey AS k1, seg AS k2, count(*) AS sc
        |       FROM src GROUP BY 1, 2) s
        | JOIN (SELECT c_nationkey AS k1, c_mktsegment AS k2, count(*) AS tc
        |       FROM customer GROUP BY 1, 2) t
        |   USING (k1, k2))
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |UNION ALL SELECT * FROM r3""".stripMargin)),

    // graded EM on the level patterns, oracled the same unrolled way —
    // fit the full per-level (m, u) tables from a deterministic sample
    Gate("q_problink_em_graded", (s, dir) => {
      val scored = ProbLink.scorePairsGraded(
        problinkSrc(s, dir, srcMod = 16), "src_id", problinkTgt(s, dir),
        "tgt_id", Seq(("c_nationkey", "c_nationkey")),
        Seq(ProblinkGradedName, ProblinkGradedSeg))
      val fit = ProbLink.emFitGraded(scored,
        Seq(("name", 3), ("seg", 2)), iterations = 3)
      import s.implicits._
      fit.fields.flatMap(f => f.levels.zipWithIndex.map { case ((m, u), li) =>
        (f.name, li,
          BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble,
          BigDecimal(u).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble,
          BigDecimal(fit.lambda).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
      }).toDF("field", "level", "m", "u", "lambda")
    },
      // DuckDB oracle for q_problink_em_graded: emFitGraded unrolled the
      // same way, with per-(field, level) statistics and the clamp-floor
      // + renormalize M-step written as the identical left-to-right sum
      // (Scala's Array.sum ≡ the SQL chain `(c0 + c1) + c2`).
      Some {
        val fields = Seq(("name", 3), ("seg", 2))
        val d0 = "CAST(0 AS DECIMAL(38,9))"
        val one = "CAST(1 AS DECIMAL(38,9))"
        def iterCtes(i: Int): String = {
          val p = s"p${i - 1}"; val e = s"e$i"; val pn = s"p$i"
          def prod(mu: String): String = fields.map { case (f, k) =>
            val cases = (0 until k)
              .map(l => s"WHEN level_$f = $l THEN $p.${mu}_${f}_$l").mkString(" ")
            s"(CASE WHEN level_$f IS NULL THEN CAST(1.0 AS DOUBLE) $cases " +
              "ELSE CAST(1.0 AS DOUBLE) END)"
          }.mkString(" * ")
          val sums = Seq("count(*) AS n", "sum(r) AS sr") ++
            fields.flatMap { case (f, k) =>
              Seq(
                s"sum(CASE WHEN level_$f IS NOT NULL THEN r ELSE $d0 END) AS srN_$f",
                s"sum(CASE WHEN level_$f IS NOT NULL THEN $one - r ELSE $d0 END) AS scN_$f") ++
                (0 until k).flatMap(l => Seq(
                  s"sum(CASE WHEN level_$f = $l THEN r ELSE $d0 END) AS srL_${f}_$l",
                  s"sum(CASE WHEN level_$f = $l THEN $one - r ELSE $d0 END) AS scL_${f}_$l"))
            }
          val lv = fields.map { case (f, _) => s"level_$f" }.mkString(", ")
          val newp = Seq(
            "greatest(CAST(1e-6 AS DOUBLE), least(CAST(1.0 AS DOUBLE) - 1e-6, " +
              "CAST(sr AS DOUBLE)/CAST(n AS DOUBLE))) AS lam") ++
            fields.flatMap { case (f, k) =>
              Seq(("m", s"srN_$f", "srL"), ("u", s"scN_$f", "scL")).flatMap {
                case (mu, sN, sL) =>
                  val cs = (0 until k).map(l =>
                    s"greatest(CAST(1e-6 AS DOUBLE), " +
                      s"CAST(${sL}_${f}_$l AS DOUBLE)/CAST($sN AS DOUBLE))")
                  val inner = cs.zipWithIndex
                    .map { case (c, j) => s"$c AS c$j" }.mkString(", ")
                  val ssum = (0 until k).map(l => s"c$l").mkString(" + ")
                  (0 until k).map { l =>
                    s"CASE WHEN $sN = 0 THEN $p.${mu}_${f}_$l " +
                      s"ELSE (SELECT c$l / ($ssum) FROM (SELECT $inner)) " +
                      s"END AS ${mu}_${f}_$l"
                  }
              }
            }
          s"""$e AS (
             | SELECT ${sums.mkString(",\n  ")}
             | FROM (
             |  SELECT $lv,
             |   CAST(round(($p.lam * pm) /
             |     ($p.lam * pm + (CAST(1.0 AS DOUBLE) - $p.lam) * pu), 9)
             |    AS DECIMAL(38,9)) AS r
             |  FROM (SELECT $lv, ${prod("m")} AS pm, ${prod("u")} AS pu
             |        FROM pairs, $p), $p
             | )),
             |$pn AS (
             | SELECT ${newp.mkString(",\n  ")}
             | FROM $e, $p)""".stripMargin
        }
        val init = (Seq("CAST(0.1 AS DOUBLE) AS lam") ++
          fields.flatMap { case (f, k) =>
            (0 until k).map { l =>
              val v = if (l == 0) 0.7 else 0.3 / (k - 1)
              s"CAST($v AS DOUBLE) AS m_${f}_$l"
            } ++ (0 until k).map { l =>
              val v = if (l == k - 1) 0.7 else 0.3 / (k - 1)
              s"CAST($v AS DOUBLE) AS u_${f}_$l"
            }
          }).mkString(", ")
        val finalRows = fields.flatMap { case (f, k) =>
          (0 until k).map(l =>
            s"""SELECT '$f' AS field, CAST($l AS INT) AS level,
               | round_even(m_${f}_$l, 6) AS m, round_even(u_${f}_$l, 6) AS u,
               | round_even(lam, 6) AS lambda
               |FROM p3""".stripMargin)
        }.mkString("\n UNION ALL\n")
        s"""WITH src AS (
           | SELECT c_custkey AS src_id, c_nationkey,
           |  CASE WHEN c_custkey % 3 = 0 THEN c_name || 'X' ELSE c_name END AS name,
           |  CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg
           | FROM customer WHERE c_custkey % 16 = 0),
           |pairs AS (
           | SELECT
           |  CASE WHEN s.name IS NULL OR t.c_name IS NULL THEN NULL
           |       WHEN s.name = t.c_name THEN 0
           |       WHEN levenshtein(s.name, t.c_name) <= 1 THEN 1
           |       ELSE 2 END AS level_name,
           |  CASE WHEN s.seg IS NULL OR t.c_mktsegment IS NULL THEN NULL
           |       WHEN s.seg = t.c_mktsegment THEN 0 ELSE 1 END AS level_seg
           | FROM src s JOIN customer t ON s.c_nationkey = t.c_nationkey),
           |p0 AS (SELECT $init),
           |${(1 to 3).map(iterCtes).mkString(",\n")}
           |$finalRows""".stripMargin
      }),

    // the ER workflow end-to-end: every source row leaves resolved
    // (best target + weight) or explicitly unmatched (nulls) — the
    // left-join face of bestLinks, i.e. the reference's
    // working_target_id contract in Fellegi-Sunter form
    Gate("q_er_resolve", (s, dir) => {
      val scored = problinkScored(s, dir)
      // threshold 6 needs BOTH fields to agree: the segment-blanked
      // sources stay unmatched, exercising the null face
      val best = ProbLink.bestLinks(scored, "src_id", "tgt_id",
        minWeight = BigDecimal(6))
      scored.select(col("src_id")).distinct()
        .join(best, Seq("src_id"), "left")
        .select(col("src_id"), col("tgt_id"),
          col("match_weight").cast("double").as("match_weight"))
    },
      // Oracle for q_er_resolve: every blocked source, left-joined to its
      // best accepted link (same CTEs as the best-gate oracle).
      Some(problinkOracle(best = true).replace(
        """SELECT src_id, tgt_id, CAST(mw AS DOUBLE) AS match_weight
          |FROM (SELECT src_id, tgt_id, mw,
          |       row_number() OVER (PARTITION BY src_id
          |                          ORDER BY mw DESC, tgt_id) AS rn
          |      FROM w WHERE mw >= 0)
          |WHERE rn = 1""".stripMargin,
        """, b AS (
          | SELECT src_id, tgt_id, mw
          | FROM (SELECT src_id, tgt_id, mw,
          |        row_number() OVER (PARTITION BY src_id
          |                           ORDER BY mw DESC, tgt_id) AS rn
          |       FROM w WHERE mw >= 6)
          | WHERE rn = 1)
          |SELECT s.src_id, b.tgt_id, CAST(b.mw AS DOUBLE) AS match_weight
          |FROM (SELECT DISTINCT src_id FROM w) s
          |LEFT JOIN b ON s.src_id = b.src_id""".stripMargin))),

    // EM-fitted (m, u, lambda) over the agreement patterns (Winkler
    // 1988) — oracled cross-engine by UNROLLING the three iterations as
    // CTE generations (decimal-summed responsibilities make the fit
    // bit-identical across layouts AND engines; spec'd too).
    // Estimation runs on a deterministic source SAMPLE (every 16th
    // customer) — the Splink discipline: at 100 TB you estimate m/u on
    // a sample and score the full corpus with the fitted params
    Gate("q_problink_em", (s, dir) => {
      val fit = ProbLink.emFit(problinkScored(s, dir, srcMod = 16),
        Seq("name", "seg"), iterations = 3)
      import s.implicits._
      fit.fields.map(f => (f.name,
          BigDecimal(f.m).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble,
          BigDecimal(f.u).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble,
          BigDecimal(fit.lambda).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble))
        .toDF("field", "m", "u", "lambda")
    },
      // DuckDB oracle for q_problink_em: ProbLink.emFit unrolled as three
      // CTE generations (params row → E-step responsibilities → decimal
      // sufficient statistics → next params row). Cross-engine exact by
      // the op's own design: responsibilities round to 9 decimals before
      // DECIMAL(38,9) sums (order-free), every double op (products in
      // field order, divisions, clamps) is written in the identical IEEE
      // tree, and the final face rounds HALF_EVEN to 6 (round_even).
      Some {
        val fields = Seq("name", "seg")
        val d0 = "CAST(0 AS DECIMAL(38,9))"
        val one = "CAST(1 AS DECIMAL(38,9))"
        def iterCtes(i: Int): String = {
          val p = s"p${i - 1}"; val e = s"e$i"; val pn = s"p$i"
          def prod(mu: String): String = fields.map { f =>
            s"(CASE WHEN agree_$f IS NULL THEN CAST(1.0 AS DOUBLE) " +
              s"WHEN agree_$f THEN $p.$mu$f " +
              s"ELSE CAST(1.0 AS DOUBLE) - $p.$mu$f END)"
          }.mkString(" * ")
          val sums = Seq("count(*) AS n", "sum(r) AS sr") ++ fields.flatMap(f => Seq(
            s"sum(CASE WHEN agree_$f THEN r ELSE $d0 END) AS srA_$f",
            s"sum(CASE WHEN agree_$f IS NOT NULL THEN r ELSE $d0 END) AS srN_$f",
            s"sum(CASE WHEN agree_$f THEN $one - r ELSE $d0 END) AS scA_$f",
            s"sum(CASE WHEN agree_$f IS NOT NULL THEN $one - r ELSE $d0 END) AS scN_$f"))
          val ag = fields.map(f => s"agree_$f").mkString(", ")
          def clamp(x: String): String =
            s"greatest(CAST(1e-6 AS DOUBLE), least(CAST(1.0 AS DOUBLE) - 1e-6, $x))"
          val newp = Seq(
            clamp("CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)") + " AS lam") ++
            fields.flatMap(f => Seq(
              clamp(s"CASE WHEN srN_$f = 0 THEN CAST(0.5 AS DOUBLE) " +
                s"ELSE CAST(srA_$f AS DOUBLE) / CAST(srN_$f AS DOUBLE) END") +
                s" AS m$f",
              clamp(s"CASE WHEN scN_$f = 0 THEN CAST(0.5 AS DOUBLE) " +
                s"ELSE CAST(scA_$f AS DOUBLE) / CAST(scN_$f AS DOUBLE) END") +
                s" AS u$f"))
          s"""$e AS (
             | SELECT ${sums.mkString(",\n  ")}
             | FROM (
             |  SELECT $ag,
             |   CAST(round(($p.lam * pm) /
             |     ($p.lam * pm + (CAST(1.0 AS DOUBLE) - $p.lam) * pu), 9)
             |    AS DECIMAL(38,9)) AS r
             |  FROM (SELECT $ag, ${prod("m")} AS pm, ${prod("u")} AS pu
             |        FROM pairs, $p), $p
             | )),
             |$pn AS (
             | SELECT ${newp.mkString(",\n  ")}
             | FROM $e, $p)""".stripMargin
        }
        val init = (Seq("CAST(0.1 AS DOUBLE) AS lam") ++
          fields.flatMap(f => Seq(s"CAST(0.9 AS DOUBLE) AS m$f",
            s"CAST(0.1 AS DOUBLE) AS u$f"))).mkString(", ")
        val finalRows = fields.map(f =>
          s"""SELECT '$f' AS field, round_even(m$f, 6) AS m,
             | round_even(u$f, 6) AS u, round_even(lam, 6) AS lambda
             |FROM p3""".stripMargin).mkString("\n UNION ALL\n")
        s"""WITH src AS (
           | SELECT c_custkey AS src_id, c_nationkey,
           |  CASE WHEN c_custkey % 3 = 0 THEN c_name || 'X' ELSE c_name END AS name,
           |  CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg
           | FROM customer WHERE c_custkey % 16 = 0),
           |pairs AS (
           | SELECT levenshtein(s.name, t.c_name) <= 1 AS agree_name,
           |        s.seg = t.c_mktsegment AS agree_seg
           | FROM src s JOIN customer t ON s.c_nationkey = t.c_nationkey),
           |p0 AS (SELECT $init),
           |${(1 to 3).map(iterCtes).mkString(",\n")}
           |$finalRows""".stripMargin
      }),

    // columnar-format parity beyond parquet: ORC round trip through
    // Spark's built-in datasource (typed schema preserved end to end —
    // oracle = identity over the original parquet)
    Gate("q_orc_roundtrip", (s, dir) => {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_orc_${tmpToken(dir)}")
      t(s, dir, "documents").write.mode("overwrite")
        .orc(tmp.getAbsolutePath)
      s.read.orc(tmp.getAbsolutePath)
    },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // S1-analogue for the LLM-corpus interchange format: export the
    // documents table as JSONL and re-read it through an explicit
    // schema — values, nulls, and escapes must survive the round trip
    // (oracle = identity over the original parquet)
    Gate("q_jsonl_roundtrip", (s, dir) => {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_jsonl_${tmpToken(dir)}")
      val docs = t(s, dir, "documents")
      graft.sources.JsonlSource.write(docs, tmp.getAbsolutePath)
      graft.sources.JsonlSource.read(s,
        graft.sources.JsonlSpec(tmp.getAbsolutePath, Some(docs.schema)))
    },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents")),

    // S1-S4 CSV dialect: write a CSV, re-read through CsvSource (header
    // sniff + all-text schema), conform types — must round-trip exactly
    Gate("q_csv_roundtrip", (s, dir) => {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_csv_${tmpToken(dir)}")
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true").option("quote", "\"")
        .csv(tmp.getAbsolutePath)
      // directory path, NOT a /*.csv glob: Spark probes glob paths for
      // streaming-sink metadata and logs a FileNotFoundException WARN
      // trace per read; the directory read is equivalent (_SUCCESS and
      // other _-prefixed files are ignored) and silent
      val raw = graft.sources.CsvSource.read(s,
        graft.sources.CsvSpec(tmp.getAbsolutePath, quote = "\""))
      val spec = new WorkingTableSpec()
        .mapColumn("event_id", sqlType = "BIGINT")
        .mapColumn("user_id", sqlType = "BIGINT")
        .mapColumn("event_type")
        .mapColumn("value", sqlType = "DOUBLE")
      WorkingTable.conform(raw, spec)
    },
      Some("SELECT event_id, user_id, event_type, value FROM events")),

    // S3: remove_expression pre-repair — a regex is stripped from the
    // raw bytes BEFORE parsing and the arity check (csv_file.rb:30-38,
    // spec/csv_driver_csv_file_spec.rb:48-66). The planted junk
    // contains a delimiter, so rows only survive the malformed-row
    // filter because the strip runs first.
    Gate("q_remove_expression", (s, dir) => {
      val tmp = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_dirty_${tmpToken(dir)}")
      val ev = t(s, dir, "events")
      val dirtyType = when(col("event_id") % 7 === 0,
        concat(lit("\","), col("event_type"))).otherwise(col("event_type"))
      val line = concat_ws(",",
        coalesce(col("event_id").cast("string"), lit("")),
        coalesce(col("user_id").cast("string"), lit("")),
        coalesce(dirtyType, lit("")),
        coalesce(col("value").cast("string"), lit("")))
      val header = s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row("event_id,user_id,event_type,value", 0)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__ord", org.apache.spark.sql.types.IntegerType))))
      header.unionByName(ev.select(line.as("value"), lit(1).as("__ord")))
        .coalesce(1).sortWithinPartitions(col("__ord")).select(col("value"))
        .write.mode("overwrite").text(tmp.getAbsolutePath)
      // directory path, not a /*.txt glob (see q_csv_roundtrip note)
      val raw = graft.sources.CsvSource.read(s,
        graft.sources.CsvSpec(tmp.getAbsolutePath,
          quote = "", removeExpression = Some("\","),
          dropMalformed = true))
      val spec = new WorkingTableSpec()
        .mapColumn("event_id", sqlType = "BIGINT")
        .mapColumn("user_id", sqlType = "BIGINT")
        .mapColumn("event_type")
        .mapColumn("value", sqlType = "DOUBLE")
      WorkingTable.conform(raw, spec)
    },
      Some("""SELECT event_id, user_id, event_type, value FROM events"""))
  )
}
