package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Audit reports (SURVEY.md §2.5 A1-A6, §3.3) — dry-run profiling of
 * sources, tables, and merges. Reference: lib/voter_file/csv_audit.rb,
 * database_audit.rb, merge_audit.rb, dedup_audit.rb.
 *
 * Every audit is a pure aggregation over the same lineage the real
 * operation uses; multi-column profiles are computed in ONE pass
 * (a single agg with conditional counts) instead of the reference's
 * one-query-per-column loop — at 100 TB that is one scan, not N.
 */
object Audits {

  /** Non-blank coverage predicate (csv_audit.rb:113-117,
    * database_audit.rb:67-69): NOT NULL and trimmed text non-empty. */
  def nonBlank(c: Column): Column =
    c.isNotNull && trim(c.cast("string")) =!= ""

  /**
   * Snapshot diff: row-level comparison of two versions of a table by
   * primary key — the audit a reproducible-corpus pipeline runs
   * between snapshot N and N+1 before promoting it. One full-outer
   * shuffle join on the key; change detection is null-safe column
   * comparison over the (sorted) shared non-key columns, and changed
   * rows carry the comma-joined list of differing columns.
   *
   * Output: (pk, status ∈ added|removed|changed|unchanged,
   * changed_cols).
   */
  def tableDiff(before: DataFrame, after: DataFrame, pk: String)
      : DataFrame = {
    val cols = (before.columns.toSet
      .intersect(after.columns.toSet) - pk).toSeq.sorted
    require(cols.nonEmpty, "no shared non-key columns to compare")
    val b = (pk +: cols).foldLeft(before.select((pk +: cols).map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"__b_$c")
    }
    val a = (pk +: cols).foldLeft(after.select((pk +: cols).map(col): _*)) {
      (d, c) => d.withColumnRenamed(c, s"__a_$c")
    }
    val j = b.join(a, col(s"__b_$pk") === col(s"__a_$pk"), "full_outer")
    val same = cols.map(c => col(s"__b_$c") <=> col(s"__a_$c"))
      .reduce(_ && _)
    val changedCols = array_compact(array(cols.map(c =>
      when(!(col(s"__b_$c") <=> col(s"__a_$c")), lit(c))): _*))
    j.select(
      coalesce(col(s"__a_$pk"), col(s"__b_$pk")).as(pk),
      when(col(s"__b_$pk").isNull, lit("added"))
        .when(col(s"__a_$pk").isNull, lit("removed"))
        .when(same, lit("unchanged"))
        .otherwise(lit("changed")).as("status"),
      when(col(s"__b_$pk").isNotNull && col(s"__a_$pk").isNotNull && !same,
        concat_ws(",", changedCols)).otherwise(lit("")).as("changed_cols"))
  }

  /**
   * Join-key skew audit: the pre-flight report that decides whether a
   * planned join/aggregation key needs salting (`SkewJoin`) before a
   * 100 TB run — per-key cardinality collapsed to one row of shape
   * statistics. `skew_ratio` is max-key rows over mean rows/key (a
   * uniform key reads ~1.0; a hot key reads ~its partition blow-up
   * factor). Tie-break for the hottest key is the largest key value,
   * so the report is layout-independent.
   *
   * Scale: one map-side-combined count per key, one one-row aggregate
   * over key cardinality. Both engine-friendly at any size.
   *
   * Output: one row (n_rows, n_keys, max_key_rows, top_key,
   * mean_rows_per_key, skew_ratio).
   */
  def keySkew(df: DataFrame, keyCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull) // null keys never join — not skew
      .groupBy(col(keyCol).cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_key_rows"),
        max(struct(col("cnt"), col("k"))).as("_top"))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
        col("_top.k").as("top_key"),
        (col("n_rows").cast("double") / col("n_keys").cast("double"))
          .as("mean_rows_per_key"),
        (col("max_key_rows").cast("double") *
          col("n_keys").cast("double") / col("n_rows").cast("double"))
          .as("skew_ratio"))

  /**
   * Join fan-out audit: the pre-flight that predicts a join's output
   * size EXACTLY before running it — `Σ_k cnt_left(k) · cnt_right(k)`
   * over matching keys, plus both sides' row/key counts. A join whose
   * est_output_rows dwarfs its inputs is a many-to-many key mistake
   * about to materialize; at 100 TB you want that as one cheap
   * aggregate, not as a 3-hour failed stage. Null keys are excluded
   * (they never join).
   *
   * Scale: two map-side-combined key counts + one join on distinct
   * keys + a one-row aggregate — no row of either table is joined.
   */
  def joinFanout(left: DataFrame, leftKey: String,
                 right: DataFrame, rightKey: String): DataFrame = {
    val l = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__lc"))
    val r = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__rc"))
    val j = l.join(r, Seq("__k"))
    val sides = l.agg(sum(col("__lc")).as("l_rows"),
        count(lit(1)).as("l_keys"))
      .crossJoin(r.agg(sum(col("__rc")).as("r_rows"),
        count(lit(1)).as("r_keys")))
    // per-key products multiply in DECIMAL(38,0), not long: a silent
    // non-ANSI long overflow (hot key with ~1e10 rows on both sides →
    // ~1e20 product) is exactly the many-to-many blow-up this audit
    // exists to catch, and would otherwise be reported as a garbage
    // negative estimate
    val prod = col("__lc").cast("decimal(38,0)") *
      col("__rc").cast("decimal(38,0)")
    sides.crossJoin(
      j.agg(count(lit(1)).as("matched_keys"),
        coalesce(sum(prod), lit(0).cast("decimal(38,0)"))
          .as("est_output_rows"),
        coalesce(max(prod), lit(0).cast("decimal(38,0)"))
          .as("max_key_fanout")))
  }

  /**
   * Referential-integrity audit: which fact-side foreign keys have no
   * dimension row — the orphan check every star-schema load should run
   * before its joins silently drop (inner) or null-fill (left) facts.
   * One row: fact row/key totals, orphan row/key counts, null-FK rows
   * (reported separately — a null FK is a modeling choice, an orphan
   * is a bug), and the smallest orphan key as a deterministic
   * debugging exemplar.
   *
   * Scale: the fact side collapses to one map-side-combined key count
   * first, so the anti-join runs on distinct keys (dimension-sized,
   * broadcast under AQE) — no row of the fact table is joined.
   */
  def orphanKeys(fact: DataFrame, fk: String,
                 dim: DataFrame, pk: String): DataFrame = {
    val fc = fact.filter(col(fk).isNotNull)
      .groupBy(col(fk).as("__k")).agg(count(lit(1)).as("__n"))
    val orphans = fc.join(
      dim.select(col(pk).as("__k")).distinct(), Seq("__k"), "left_anti")
    val nullRows = fact.filter(col(fk).isNull)
      .agg(count(lit(1)).as("null_fk_rows"))
    fc.agg(
        coalesce(sum(col("__n")), lit(0L)).as("fact_rows"),
        count(lit(1)).as("fact_keys"))
      .crossJoin(orphans.agg(
        coalesce(sum(col("__n")), lit(0L)).as("orphan_rows"),
        count(lit(1)).as("orphan_keys"),
        min(col("__k")).cast("string").as("sample_orphan_key")))
      .crossJoin(nullRows)
  }

  /**
   * Schema drift audit: the column-level companion to [[tableDiff]] —
   * what changed STRUCTURALLY between snapshot N and N+1 before any
   * row is compared. Pure metadata (no job runs); one row per drifted
   * column with status ∈ added|removed|type_changed and both type
   * strings. Empty result ⇒ schemas compatible.
   */
  def schemaDrift(before: DataFrame, after: DataFrame): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    val b = before.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val a = after.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (a.keySet -- b.keySet).toSeq.sorted.map(c =>
        (c, "added", null.asInstanceOf[String], a(c))) ++
      (b.keySet -- a.keySet).toSeq.sorted.map(c =>
        (c, "removed", b(c), null.asInstanceOf[String])) ++
      (b.keySet & a.keySet).toSeq.sorted.collect {
        case c if b(c) != a(c) => (c, "type_changed", b(c), a(c))
      }
    rows.toDF("column", "status", "type_before", "type_after")
  }

  /**
   * k-anonymity audit: group sizes under a quasi-identifier column
   * set, returning every combination re-identifiable below `k` — the
   * privacy pre-flight a training-data release runs before shipping
   * (a group of 1 under (zip, birth_year, gender)-style quasi keys IS
   * a person). Empty result ⇒ the table is k-anonymous under those
   * columns. One map-side-combined aggregate; no skew surface beyond
   * the groupBy itself.
   */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, s"need quasi cols and k >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /**
   * l-diversity audit — [[kAnonymity]]'s sibling (Machanavajjhala et
   * al. 2007): a quasi-identifier group that is k-anonymous but whose
   * SENSITIVE attribute is (near-)constant still leaks it; this
   * returns every group with fewer than `l` distinct sensitive values.
   * Null sensitive values don't count as a diversity value (the SQL
   * COUNT DISTINCT convention) — a group of all-null sensitives
   * reports 0. One hash aggregate, map-side-combined; same release
   * gate shape as kAnonymity (empty result = safe to publish).
   *
   * Output: (quasiCols…, group_size, distinct_sensitive).
   */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l >= 2, s"need quasi cols and l >= 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("distinct_sensitive"))
      .filter(col("distinct_sensitive") < l)
  }

  /** Per-field geometric draw behind [[dpCounts]]: the count of
    * thresholds 2^(31−m·j) the 31-bit field falls below —
    * P(G ≥ g) = 2^(−m·g), i.e. geometric with α = 2^−m, truncated at
    * j ≤ 31/m (tail mass 2^−31, deterministic). Pure integer
    * comparisons, so the DuckDB oracle replays it bit-for-bit. */
  private def geomDraw(field: Long, m: Int): Int =
    (1 to 31 / m).count(j => field < (1L << (31 - m * j)))

  /**
   * Differentially-private count release — the geometric mechanism
   * (Ghosh, Roughgarden & Sundararajan 2009, the discrete/optimal
   * counterpart of Laplace noise): per group, `noisy_n = count +
   * (G1 − G2)` where G1, G2 are iid geometric(α = 2^−`alphaLog2`)
   * draws, giving the two-sided-geometric (discrete Laplace)
   * distribution for sensitivity-1 counting queries at
   * **ε = alphaLog2 · ln 2** (default ln 2 ≈ 0.693).
   *
   * Privacy contract, stated precisely: the draws come from 31-bit
   * integer fields, so each geometric is TRUNCATED at
   * j ≤ 31/alphaLog2 (see [[geomDraw]]) — outputs beyond that radius
   * have probability zero, which an unbounded two-sided geometric
   * never has. The release is therefore **(ε, δ)-DP with
   * δ ≈ 2·2^−31 ≈ 9.3e−10** (each side's truncated tail mass), not
   * pure ε-DP: a pair of adjacent datasets can differ with likelihood
   * ratio ∞ only on the zero-probability extreme outputs, and the
   * total mass of those events is bounded by the truncated tails.
   * Widening the fields would shrink δ geometrically; at 2^−31 it is
   * far below the 1/n ≈ 1e−5-scale δ any release policy tolerates,
   * but the claim recorded here is the truncated one.
   *
   * The noise is PRG-seeded, not physically random — the production
   * DP deployment model (the seed is the secret; publish nothing
   * derived from it): each group's draw is a pure integer function of
   * `fmix64(hash64(groupKey) XOR seed)`, split into two disjoint
   * 31-bit fields whose geometric draws are threshold COUNTS — no
   * floats anywhere, so the release is layout-invariant,
   * reproducible, and DuckDB-replayable end to end (the q_simhash
   * hash machinery). α = 2^−m keeps every threshold a power of two;
   * arbitrary ε would need `exp`/`log`, whose last-ulp cross-engine
   * differences are the documented oracle blocker.
   *
   * Counts can go negative (the mechanism's contract — truncating
   * would bias the release); post-process downstream if a display
   * floor is wanted. One hash aggregate plus a per-group scalar
   * kernel; nothing is proportional to data size after the count.
   *
   * Output: (groupCols…, n_true, noise, noisy_n) — keep `n_true`
   * PRIVATE; it is included so release pipelines can audit the
   * mechanism before publishing the `noisy_n` projection.
   */
  def dpCounts(df: DataFrame, groupCols: Seq[String], seed: Long,
               alphaLog2: Int = 1): DataFrame = {
    require(groupCols.nonEmpty, "no group columns given")
    require(alphaLog2 >= 1 && alphaLog2 <= 15,
      s"alphaLog2 must be in [1, 15]: $alphaLog2")
    val noiseUdf = udf((key: String) => {
      val h = graft.functions.FastHash.fmix64(
        graft.functions.FastHash.hash64(key) ^ seed)
      val f1 = (h >>> 33) & 0x7fffffffL
      val f2 = (h >>> 2) & 0x7fffffffL
      geomDraw(f1, alphaLog2) - geomDraw(f2, alphaLog2)
    })
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_true"))
      .withColumn("noise", noiseUdf(
        concat_ws("\u0001", groupCols.map(c => col(c).cast("string")): _*)))
      .withColumn("noisy_n", col("n_true") + col("noise"))
  }

  /**
   * Exact ROC-AUC of a score column against a boolean label — the
   * quality-classifier acceptance number, computed as the Mann-Whitney
   * probability (ties count half):
   *
   *   AUC = Σ_s pos(s)·(neg_below(s) + ½·neg(s)) / (P·N)
   *
   * Scale shape: rows collapse to per-DISTINCT-SCORE (pos, neg)
   * counts first (map-side-combined — the data-scale reduction), then
   * `neg_below` is [[graft.ops.Packing.withPrefixSum]]'s distributed
   * exclusive prefix sum over the score-ascending order — never a
   * global window. The driver sees one total per partition.
   *
   * Cross-engine exactness: counts and the prefix sum are longs;
   * every term is an integer multiple of ½ (half-integers are exact
   * binary doubles), so the final sum is EXACT in any order while
   * P·N < 2⁵³ — no DECIMAL staging needed. One division at the end.
   * Degenerate inputs (no positives or no negatives) return NULL auc.
   *
   * Output: one row (n_pos, n_neg, auc).
   */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val perScore = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).as("__score"))
      .agg(
        count(when(col(labelCol).cast("boolean"), lit(1))).as("__pos"),
        count(when(!col(labelCol).cast("boolean"), lit(1))).as("__neg"))
    graft.ops.Packing
      .withPrefixSum(perScore, "__score", col("__neg"), "__nb")
      .agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__neg")).as("n_neg"),
        sum(col("__pos").cast("double") * col("__nb") +
          lit(0.5) * col("__pos") * col("__neg")).as("__u"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__u") /
            (col("n_pos").cast("double") * col("n_neg")), 9)).as("auc"))
  }

  /**
   * Reliability table for probability calibration — the per-bin
   * confidence-vs-accuracy ledger behind the ECE number (Guo et al.
   * 2017): scores in [0, 1] land in `bins` equal-width buckets; each
   * bucket reports its mean score (confidence), positive rate
   * (accuracy), and the signed gap. A well-calibrated scorer has gaps
   * ≈ 0 everywhere; a quality classifier that is 0.9-confident but
   * 0.6-right shows up as one glaring row. Scores outside [0, 1] are
   * the caller's bug and refuse via filter-and-count contract: they
   * are EXCLUDED (a sigmoid output can't leave [0, 1]; a raw margin
   * must be squashed first).
   *
   * Scale: one map-side-combined aggregate over ≤ `bins` keys. Mean
   * scores go through round-12 DECIMAL sums (order-free); rates and
   * gaps are mirrored IEEE trees rounded to 9.
   *
   * Output: (bin, n, confidence, accuracy, gap), bin = 0..bins−1,
   * empty bins absent.
   */
  def calibrationTable(df: DataFrame, scoreCol: String, labelCol: String,
                       bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2: $bins")
    df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull &&
        col(scoreCol) >= 0.0 && col(scoreCol) <= 1.0)
      .select(
        least(lit(bins - 1),
          floor(col(scoreCol).cast("double") * bins)).cast("long").as("bin"),
        col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__y"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("__s"), 12).cast("decimal(38,12)")).as("__ss"),
        count(when(col("__y"), lit(1))).as("__np"))
      .select(col("bin"), col("n"),
        round(col("__ss").cast("double") / col("n"), 9).as("confidence"),
        round(col("__np").cast("double") / col("n"), 9).as("accuracy"),
        round(col("__np").cast("double") / col("n") -
          col("__ss").cast("double") / col("n"), 9).as("gap"))
  }

  /**
   * Approximate functional-dependency profile (the data-profiling
   * classic, cf. TANE / Metanome): for each candidate dependency
   * X → Y, the fraction of rows CONSISTENT with it under the best
   * possible mapping,
   *
   *   confidence = Σ_x max_y count(x, y) / N
   *
   * — 1.0 iff X determines Y exactly; 0.999 with a handful of
   * violating rows is the "this is a real FD with dirty rows" signal
   * that drives schema inference and key discovery over an unfamiliar
   * 100 TB dump. NULL is treated as an ordinary value on both sides
   * (the GROUP BY convention), so `NULL → y` violations count.
   *
   * Scale shape: per candidate pair one (x, y) hash aggregate, one
   * per-x `max` aggregate (both map-side-combined — a billion-row hot
   * x reduces in parallel), and category-cardinality sums; candidates
   * are a caller-bounded list, unioned into one relation. The
   * confidence is one IEEE division over exact longs.
   *
   * Output per pair: (determinant, dependent, total_rows,
   * ndv_determinant, consistent_rows, confidence).
   */
  def fdConfidence(df: DataFrame, deps: Seq[(String, String)]): DataFrame = {
    require(deps.nonEmpty, "no candidate dependencies given")
    deps.map { case (x, y) =>
      val best = df.groupBy(col(x).as("__x"), col(y).as("__y"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__x"))
        .agg(max(col("__c")).as("__m"), sum(col("__c")).as("__t"))
      best.agg(
        sum(col("__t")).as("total_rows"),
        count(lit(1)).as("ndv_determinant"),
        sum(col("__m")).as("consistent_rows"))
        .select(lit(x).as("determinant"), lit(y).as("dependent"),
          col("total_rows"), col("ndv_determinant"), col("consistent_rows"),
          round(col("consistent_rows").cast("double") / col("total_rows"), 9)
            .as("confidence"))
    }.reduce(_ unionAll _)
  }

  /**
   * A2: per-column coverage — count of non-blank values per column,
   * single pass. Returns one row: total plus `<col>_coverage` counts.
   */
  def coverage(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("total_count") +:
      columns.map(c =>
        count(when(nonBlank(col(c)), lit(1))).as(s"${c}_coverage"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A3: duplicate-key detection — keys occurring more than once.
    * (csv_audit.rb:104-111 probes with LIMIT 1; we return the full
    * duplicate-key relation so callers can count or probe.) */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** A4: value distribution, top-k by count (database_audit.rb:85-96)
    * with a deterministic value tiebreak. */
  def distribution(df: DataFrame, column: String, limit: Int = 20): DataFrame =
    df.groupBy(col(column))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(column).asc_nulls_last)
      .limit(limit)

  /** A5: distribution of an arbitrary boolean/scalar expression
    * (database_audit.rb:75-83). */
  def expressionDistribution(df: DataFrame, e: Column): DataFrame =
    df.groupBy(e.as("value")).agg(count(lit(1)).as("count"))

  /**
   * Sketch-based column profile — the 100 TB face of the exact audits
   * above: one pass, no shuffle wider than the partial-aggregate
   * buffers. Exact distinct counts and exact top-k (what
   * [[distribution]] computes) shuffle every distinct value; at
   * cluster scale the standard answer is HyperLogLog++ distinct
   * estimates and t-digest percentiles, both mergeable partial
   * aggregates. Error bound is spec-asserted against the exact
   * answers (ApproxAuditSpec).
   */
  def approxProfile(df: DataFrame, columns: Seq[String],
                    rsd: Double = 0.05,
                    percentiles: Seq[Double] = Seq(0.25, 0.5, 0.75))
      : DataFrame = {
    val numeric = df.schema.fields
      .filter(f => columns.contains(f.name))
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSet
    val aggs = columns.flatMap { c =>
      Seq(approx_count_distinct(col(c), rsd).as(s"${c}__approx_distinct")) ++
        (if (numeric.contains(c))
          Seq(percentile_approx(col(c).cast("double"),
            array(percentiles.map(lit): _*), lit(10000))
            .as(s"${c}__percentiles"))
        else Nil)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A6: match-rate counts per match group from a matched working
    * source (merge_audit_sql.rb:10-19, merge_audit.rb:20-34).
    * Unordered: the relation is tiny (one row per group) and consumers
    * that need order sort after collecting — a global sort in the plan
    * buys nothing. */
  def matchGroupCounts(matched: DataFrame): DataFrame =
    matched.groupBy(col(Matcher.MatchGroup))
      .agg(count(lit(1)).as("count"))

  /**
   * Pre-aggregated distinct-count sketches per dimension group — the
   * MERGEABLE face of [[approxProfile]]'s approx_count_distinct and
   * the idiomatic 100 TB distinct-count architecture: sketch each
   * partition/day ONCE into a tiny table (one DataSketches HLL per
   * group, ≤ 2^lgK registers each), persist it as plain parquet, and
   * answer any later rollup by UNIONING sketches ([[rollupSketches]])
   * instead of re-scanning the corpus. HLL register state is a
   * per-register max, so sketches — and every estimate derived from
   * them — are deterministic under any row order or partition layout,
   * and unioning the parts equals sketching the whole (spec-pinned
   * exactly).
   *
   * Output: one row per `dims` group — n_rows (exact) + `sketch`
   * (binary, mergeable).
   */
  def distinctSketches(df: DataFrame, dims: Seq[String], valueCol: String,
                       lgK: Int = 12): DataFrame = {
    require(dims.nonEmpty, "at least one dimension column")
    df.groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
  }

  /**
   * Roll a [[distinctSketches]] table up to a coarser grouping: union
   * the sketches, estimate at the end. `keepDims` may be empty for the
   * grand total (one row). Exact row counts sum; distinct counts come
   * from the merged registers — never from adding estimates (distinct
   * doesn't sum).
   */
  def rollupSketches(sketches: DataFrame, keepDims: Seq[String]): DataFrame = {
    val aggs = Seq(
      sum(col("n_rows")).cast("long").as("n_rows"),
      hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("approx_distinct"))
    if (keepDims.isEmpty) sketches.agg(aggs.head, aggs.tail: _*)
    else sketches.groupBy(keepDims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  // ---- mergeable quantile histograms (DDSketch buckets) --------------

  /** Relative-accuracy bucket base γ = (1+α)/(1−α) (Masson, Lee &
    * Rim, "DDSketch", VLDB 2019 — the deterministic mergeable
    * quantile sketch). */
  def ddGamma(alpha: Double): Double = (1.0 + alpha) / (1.0 - alpha)
  /** ln γ — the log-bucket width. */
  def ddLnGamma(alpha: Double): Double = math.log(ddGamma(alpha))
  /** Bucket-midpoint factor 2/(γ+1): estimate(i) = γ^i · 2/(γ+1),
    * worst-case relative error exactly α. */
  def ddMidFactor(alpha: Double): Double = 2.0 / (ddGamma(alpha) + 1.0)

  /** Bucket index of the zero value (sits between every negative and
    * every positive bucket; log buckets span ±~18k at α=0.02). */
  val DdZeroBucket: Int = -1048576
  /** Offset encoding negative-value buckets below [[DdZeroBucket]],
    * ordered so bucket ascending ⇔ value ascending. */
  val DdNegOffset: Int = -2097152

  /**
   * DDSketch bucket index as ONE total-order int over all reals:
   * positives map to ceil(ln v / ln γ) (value ∈ (γ^(i−1), γ^i]), zero
   * to [[DdZeroBucket]], negatives mirror below [[DdNegOffset]] —
   * bucket order IS value order, so quantile extraction is a single
   * ascending walk. The log ratio rounds to 6 decimals before the
   * ceil (the repo's cross-engine float discipline: JVM vs libm `ln`
   * drift is ≤ a few ulps, far inside the rounding grid, so DuckDB
   * computes the identical bucket; a true value within 5e-7 of a
   * bucket boundary may land one bucket over — on BOTH engines alike,
   * and still within the α error contract).
   */
  def ddBucket(value: Column, alpha: Double): Column = {
    val lnG = ddLnGamma(alpha)
    val v = value.cast("double")
    when(v > 0, ceil(round(log(v) / lit(lnG), 6)).cast("int"))
      .when(v === 0, lit(DdZeroBucket))
      .otherwise(lit(DdNegOffset) -
        ceil(round(log(-v) / lit(lnG), 6)).cast("int"))
  }

  /**
   * Mergeable quantile histogram per `dims` group — the quantile
   * sibling of [[distinctSketches]], and deliberately NOT a binary
   * blob UDAF: a DDSketch IS its bucket counts, so the idiomatic
   * Spark representation is a tall (dims…, qb, cnt) table. Counts are
   * order-free long sums, which buys what the HLL registers buy and
   * more: sketching the parts and summing EQUALS sketching the whole
   * (exactly — spec-pinned), every stage is codegen'd builtins with
   * map-side partial aggregation, the artifact is plain parquet any
   * engine can read, and rollups to coarser dims are one further
   * groupBy-sum ([[rollupQuantiles]]) that never re-scans the corpus
   * and never interpolates between estimates. ~2k buckets cover 12
   * decades at α=0.02, so the table is dims-cardinality-bounded, not
   * data-bounded. Null values are excluded (match DuckDB quantile
   * semantics); zero and negative values keep dedicated buckets.
   */
  def quantileHistogram(df: DataFrame, dims: Seq[String], valueCol: String,
                        alpha: Double = 0.02): DataFrame = {
    require(dims.nonEmpty, "at least one dimension column")
    df.filter(col(valueCol).isNotNull)
      .groupBy(dims.map(col) :+ ddBucket(col(valueCol), alpha).as("qb"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /**
   * Quantile estimates from a [[quantileHistogram]] at a coarser
   * grouping: merge bucket counts by long sum (the exact sketch
   * union), then walk each group's cumulative counts once and decode
   * the picked bucket's midpoint γ^i·2/(γ+1) (rounded to 6 — exp/pow
   * ulp parity). `keepDims` may be empty for the grand total.
   * Definition: quantile(q) = the value bucket containing the
   * max(1, ⌈q·n⌉)-th smallest value — exact-rank semantics on the
   * bucket grid, deterministic at any partition layout.
   *
   * The cumulative walk is a window ORDERED BY bucket, partitioned by
   * the kept dims — bounded at the bucket-grid size (~2k rows/group),
   * never data-sized, so the no-unpartitioned-window rule is safe.
   * The r13 empirical funnel audit measures exactly this: the
   * per-group row count grows as the grid FILLS (7.1× on the
   * sf0.001→0.01 step) but decays toward the grid asymptote (2.5× on
   * the next 10× step) — the saturating signature its escalation
   * step exists to clear, as opposed to a bounded-key funnel's
   * sustained linear growth.
   *
   * Output: (keepDims…, q, n_rows, approx_value), one row per group
   * per requested quantile.
   */
  def rollupQuantiles(hist: DataFrame, keepDims: Seq[String],
                      qs: Seq[Double], alpha: Double = 0.02): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1]: $qs")
    val spark = hist.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val merged =
      if (keepDims.isEmpty) hist.groupBy(col("qb")).agg(sum(col("cnt")).as("cnt"))
      else hist.groupBy((keepDims :+ "qb").map(col): _*)
        .agg(sum(col("cnt")).as("cnt"))
    // cumulative counts per group: a window PARTITIONED by the kept
    // dims when there are any (linear, partition-bounded at the bucket
    // grid); for the grand total the merged histogram is GLOBALLY
    // bucket-grid bounded (≤ ~4k rows over the double range), so the
    // cum is a broadcast theta-join — never an unpartitioned window,
    // which the plan audit rightly bans even when "it would be fine"
    val cum =
      if (keepDims.isEmpty) {
        val tot = merged.agg(sum(col("cnt")).as("__n"))
        merged
          .join(broadcast(merged.select(col("qb").as("__qb2"),
            col("cnt").as("__cnt2"))), col("__qb2") <= col("qb"))
          .groupBy(col("qb"))
          .agg(sum(col("__cnt2")).as("__cum"))
          .crossJoin(broadcast(tot))
      } else {
        val byGroup = Window.partitionBy(keepDims.map(col): _*)
        merged
          .withColumn("__cum", sum(col("cnt")).over(byGroup.orderBy(col("qb"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("__n", sum(col("cnt")).over(byGroup))
      }
    val picked = cum.crossJoin(broadcast(qs.toDF("q")))
      .filter(col("__cum") >=
        greatest(lit(1L), ceil(col("q") * col("__n"))))
      .groupBy(keepDims.map(col) :+ col("q"): _*)
      .agg(min(col("qb")).as("__qb"), max(col("__n")).as("n_rows"))
    val lnG = ddLnGamma(alpha)
    val mid = ddMidFactor(alpha)
    val est =
      when(col("__qb") > lit(DdZeroBucket),
        round(exp(col("__qb").cast("double") * lit(lnG)) * lit(mid), 6))
        .when(col("__qb") === lit(DdZeroBucket), lit(0.0))
        .otherwise(-round(exp((lit(DdNegOffset) - col("__qb")).cast("double")
          * lit(lnG)) * lit(mid), 6))
    picked.select(keepDims.map(col) :+ col("q") :+ col("n_rows") :+
      est.as("approx_value"): _*)
  }

  // ---- declarative expectation suite (data contracts) ----------------

  /** One declarative data-contract rule for [[expectations]]. Labels
    * are `<kind>:<target>` so a suite's report is self-describing and
    * diffs cleanly between runs. */
  sealed trait Expect { def label: String }
  object Expect {
    /** Column is never NULL. */
    final case class NotNull(c: String) extends Expect {
      def label = s"not_null:$c"
    }
    /** Column is never NULL or blank (the [[nonBlank]] convention). */
    final case class NonBlank(c: String) extends Expect {
      def label = s"non_blank:$c"
    }
    /** The column combination is a candidate key: violations = rows
      * beyond the first per distinct combination. */
    final case class Unique(cols: Seq[String]) extends Expect {
      require(cols.nonEmpty, "Unique needs at least one column")
      def label = s"unique:${cols.mkString(",")}"
    }
    /** Numeric column within [lo, hi]; NULLs don't violate (compose
      * with NotNull to also ban them). */
    final case class Between(c: String, lo: Double, hi: Double) extends Expect {
      def label = s"between:$c"
    }
    /** String column matches the regex (find semantics, Spark `rlike`
      * ↔ DuckDB `regexp_matches` — anchor with ^$ for a full match);
      * NULLs don't violate. */
    final case class Matches(c: String, regex: String) extends Expect {
      def label = s"matches:$c"
    }
    /** Column value drawn from the accepted set; NULLs don't violate. */
    final case class InSet(c: String, values: Seq[String]) extends Expect {
      require(values.nonEmpty, "InSet needs at least one accepted value")
      def label = s"in_set:$c"
    }
    /** Escape hatch: any row predicate under a caller-chosen label. */
    final case class Holds(name: String, pred: Column) extends Expect {
      def label = s"holds:$name"
    }
  }

  /**
   * Declarative data-contract check — the one-pass face of the audit
   * family: a suite of [[Expect]] rules evaluates as a SINGLE
   * aggregate over ONE scan (conditional counts; uniqueness rides the
   * same pass as a distinct count over the key struct), then unpivots
   * to a tall report. The reference runs one query per audit probe
   * (csv_audit.rb's per-column loop); at 100 TB a contract with 30
   * rules must still cost one scan, and the tall shape diffs cleanly
   * between snapshot versions (pipe two reports into [[tableDiff]] on
   * `rule`).
   *
   * Output: (rule, total_rows, violations, pass ∈ {0,1}) — one row per
   * rule, counts exact.
   */
  def expectations(df: DataFrame, rules: Seq[Expect]): DataFrame = {
    require(rules.nonEmpty, "at least one expectation")
    require(rules.map(_.label).distinct.size == rules.size,
      s"duplicate rule labels: ${rules.map(_.label)}")
    import Expect._
    val vioCols = rules.map {
      case NotNull(c) => count(when(col(c).isNull, lit(1)))
      case NonBlank(c) => count(when(!nonBlank(col(c)), lit(1)))
      case Unique(cs) =>
        count(lit(1)) - count_distinct(struct(cs.map(col): _*))
      case Between(c, lo, hi) =>
        count(when(col(c).isNotNull &&
          (col(c) < lit(lo) || col(c) > lit(hi)), lit(1)))
      case Matches(c, re) =>
        count(when(col(c).isNotNull && !col(c).rlike(re), lit(1)))
      case InSet(c, vs) =>
        count(when(col(c).isNotNull && !col(c).isin(vs: _*), lit(1)))
      case Holds(_, p) => count(when(!coalesce(p, lit(false)), lit(1)))
    }
    val aggs = count(lit(1)).as("__total") +:
      vioCols.zipWithIndex.map { case (c, i) => c.as(s"__v$i") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val report = explode(array(rules.zipWithIndex.map { case (r, i) =>
      struct(lit(r.label).as("rule"), col("__total").as("total_rows"),
        col(s"__v$i").cast("long").as("violations"))
    }: _*))
    one.select(report.as("__r"))
      .select(col("__r.rule").as("rule"),
        col("__r.total_rows").as("total_rows"),
        col("__r.violations").as("violations"),
        when(col("__r.violations") === 0, lit(1)).otherwise(lit(0))
          .as("pass"))
  }

  // ---- mergeable count-min frequency sketches -------------------------

  /** Engine-portable CMS row hash: bucket_j(key) over `width` buckets
    * from the first 8 md5 hex digits of `j:key` — the repo's
    * cross-engine hash convention (DuckDB: `('0x' ||
    * substr(md5(...), 1, 8))::BIGINT % width`). */
  def cmsBucket(key: Column, j: Int, width: Int): Column =
    conv(substring(md5(concat(lit(j.toString), lit(":"),
      key.cast("string"))), 1, 8), 16, 10).cast("long") % width

  /**
   * Mergeable count-min frequency sketch per `dims` group (Cormode &
   * Muthukrishnan 2005) — the point-frequency member of the sketch
   * family beside the HLL distinct tables ([[distinctSketches]]) and
   * the DDSketch quantile histograms ([[quantileHistogram]]), and like
   * them deliberately NOT a binary blob: a CMS IS its depth×width
   * counter grid, so the idiomatic artifact is a tall
   * (dims…, j, bucket, cnt) parquet table whose counters merge by
   * long SUM — sketching the parts and summing EQUALS sketching the
   * whole, exactly, and any engine can read it. Size is bounded at
   * dims-cardinality × depth × width regardless of data volume.
   *
   * Scale: one projection exploding each row to `depth` (j, bucket)
   * pairs + one map-side-combined aggregate. NULL keys are excluded.
   */
  def cmsHistogram(df: DataFrame, dims: Seq[String], keyCol: String,
                   depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad CMS shape ${depth}x$width")
    df.filter(col(keyCol).isNotNull)
      .select(dims.map(col) :+ posexplode(array((0 until depth).map(j =>
        cmsBucket(col(keyCol), j, width)): _*)).as(Seq("j", "bucket")): _*)
      .groupBy((dims :+ "j" :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge a [[cmsHistogram]] to a coarser grouping: counters sum
    * (the exact sketch union). `keepDims` may be empty for the grand
    * total. */
  def rollupCms(cms: DataFrame, keepDims: Seq[String]): DataFrame =
    cms.groupBy((keepDims :+ "j" :+ "bucket").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /**
   * Point-frequency estimates from a (rolled-up) CMS: for each probe
   * key, est = min over rows j of the key's bucket counter — the
   * classic one-sided bound (est ≥ true count, overestimates only on
   * collisions; width bounds the expected error at n/width). The probe
   * set joins the sketch on (j, bucket) — sketch-sized, broadcast
   * under AQE; a missing bucket reads 0. `depth`/`width` MUST match
   * the values the histogram was built with (mismatched probes hash
   * into the wrong grid and silently read 0s — same contract as
   * `alpha` across the DDSketch family).
   *
   * Output: (key, est).
   */
  def cmsEstimate(cms: DataFrame, keys: Seq[String], depth: Int = 4,
                  width: Int = 1024): DataFrame = {
    require(keys.nonEmpty, "at least one probe key")
    val spark = cms.sparkSession
    import spark.implicits._
    val probes = keys.toDF("key")
      .select(col("key"), posexplode(array((0 until depth).map(j =>
        cmsBucket(col("key"), j, width)): _*)).as(Seq("j", "bucket")))
    probes.join(cms, Seq("j", "bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}

/** Merge dry-run audit (merge_audit.rb): run ONLY the match phase, then
  * report totals + per-group match counts/rates. */
final case class MergeAuditReport(
    totalCount: Long,
    groupCounts: Map[Int, Long]) {
  def matchedCount: Long = groupCounts.values.sum
  def matchRate: Double =
    if (totalCount == 0) 0.0 else matchedCount.toDouble / totalCount
  override def toString: String = {
    val groups = groupCounts.toSeq.sortBy(_._1).map { case (g, n) =>
      f"  group $g: $n (${100.0 * n / math.max(1L, totalCount)}%.2f%%)"
    }.mkString("\n")
    f"MergeAudit(total=$totalCount, matched=$matchedCount, rate=${matchRate * 100}%.2f%%)\n$groups"
  }

  /** The reference's human-readable report face
    * (merge_audit.rb:42-48): a total line, then one
    * `<group>: <pct>% <count>` line per match group. */
  def render: String = {
    val sb = new StringBuilder
    sb.append(s"total source records      : $totalCount \n")
    groupCounts.toSeq.sortBy(_._1).foreach { case (g, n) =>
      val pct = if (totalCount == 0) 0.0 else 100.0 * n / totalCount
      sb.append(f"$g: $pct%.2f%% $n \n")
    }
    sb.toString
  }
}

object MergeAudit {
  def audit(source: DataFrame, target: DataFrame, spec: MergeSpec): MergeAuditReport = {
    val staged = Matcher.stage(source, target, spec.matchSpec)
    // one pass: the unmatched rows are the null group, so the total is
    // the sum over all groups and the match needs no cache of its own
    val byGroup =
      try staged.matched.groupBy(col(Matcher.MatchGroup)).count().collect()
      finally staged.unpersist()
    val counts = byGroup.filterNot(_.isNullAt(0))
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    MergeAuditReport(byGroup.map(_.getLong(1)).sum, counts)
  }
}

/** Dedup dry-run audit (dedup_audit.rb): match counts + invariant
  * counts, no mutation. */
final case class DedupAuditReport(
    totalCount: Long,
    groupCounts: Map[Int, Long],
    reflexiveCount: Long,
    symmetricCount: Long) {

  /** Reference face (dedup_audit.rb:43-54): the merge-audit report
    * plus an error line per violated self-join invariant. */
  def render: String = {
    val sb = new StringBuilder(
      MergeAuditReport(totalCount, groupCounts).render)
    if (reflexiveCount != 0)
      sb.append(s"REFLEXIVE MERGE ERROR: $reflexiveCount records are " +
        "flagged as their own duplicate.\n")
    if (symmetricCount != 0)
      sb.append(s"SYMMETRIC MERGE ERROR: $symmetricCount records are " +
        "flagged as both a duplicate and original.\n")
    sb.toString
  }
}

/** Dedup dry-run audit: the self-match of [[Deduper]]'s general path
  * (exact groups plus the orientation constraint), reported by
  * [[Matcher.selfMatchReport]] — one aggregation over the unpersisted
  * match, so the audit is one Spark action and caches nothing. */
object DedupAudit {
  def audit(table: DataFrame, spec: MergeSpec,
            orientation: Option[MatchConstraint] = None): DedupAuditReport = {
    val pk = spec.matchSpec.targetPk
    val orient = orientation.getOrElse(Deduper.defaultOrientation(pk))
    val ms = spec.matchSpec.copy(groups = spec.matchSpec.groups.map(g =>
      g.copy(constraints = g.constraints :+ orient)))
    val matched = Matcher.matchRecords(Matcher.withSourceId(table), table, ms)
    Matcher.selfMatchReport(matched, ms)
  }
}

/** CSV profiling (csv_audit.rb:15-101): row counts, duplicate keys,
  * per-column coverage, malformed count.
  *
  * `keyDuplicates` mirrors the reference's per-key stats hash
  * (csv_audit.rb:34-37): each audited key carries its OWN duplicate
  * count, and render judges each key independently (csv_audit.rb:84-92
  * — `stat == 0` ⇒ unique). Divergence noted: the reference stores the
  * row count of an arbitrary LIMIT-1 duplicated group; we store the
  * number of duplicated key values, which is deterministic and agrees
  * on the only property the report uses (zero vs non-zero). */
final case class CsvAuditReport(
    rowCount: Long,
    malformedCount: Long,
    keyDuplicates: Map[String, Long],
    coverage: Map[String, Long],
    keys: Seq[String] = Nil,
    columns: Seq[String] = Nil) {

  /** True only when every audited key is duplicate-free. */
  def keyIsUnique: Boolean = keyDuplicates.valuesIterator.forall(_ == 0L)

  /** Reference face (csv_audit.rb:78-101): header, valid/invalid
    * counts, per-key uniqueness verdicts, per-column coverage lines.
    * Column order follows the audited column list (insertion order),
    * like the reference walks its headers. */
  def render: String = {
    val sb = new StringBuilder("CSV Audit Report")
    sb.append(s"\n\nValid rows: $rowCount")
    sb.append(s"\nInvalid rows: $malformedCount")
    sb.append("\n\nKeys:")
    keys.foreach { k =>
      sb.append(s"\n\t[$k]")
      sb.append(if (keyDuplicates.getOrElse(k, 0L) == 0L) " UNIQUE KEY"
                else " DUPLICATES (NOT UNIQUE)")
    }
    sb.append("\n\nCoverage:")
    val ordered = if (columns.nonEmpty) columns else coverage.keys.toSeq.sorted
    ordered.foreach { c =>
      val n = coverage.getOrElse(c, 0L)
      val pct = if (rowCount == 0) 0.0 else 100.0 * n / rowCount
      sb.append(s"\n\t$c:".padTo(30, ' ') + f" $pct%.2f%% ($n)" + "\n")
    }
    sb.toString
  }
}

object CsvAudit {
  /** One pass over `df`. Per-key duplicate counts (csv_audit.rb:34-37
    * runs one GROUP BY per key) are folded into one aggregation: each
    * row contributes one (key, value) record per audited key, a single
    * shuffle counts value multiplicities for every key at once, and
    * only the ≤|keys|-row result reaches the driver. The coverage
    * counts ride the first key's records (one per row) through the same
    * aggregation; without keys they are [[Audits.coverage]]. */
  def audit(df: DataFrame, keys: Seq[String], columns: Seq[String],
            malformedCount: Long = 0L): CsvAuditReport = {
    val covCols = "__total" +: columns.indices.map(i => s"__cov$i")
    // one Long per coverage column (total first) and one per key
    val (cov, kd) =
      if (keys.isEmpty) {
        val r = Audits.coverage(df, columns).head()
        (covCols.indices.map(r.getLong), Map.empty[String, Long])
      } else {
        val flags = lit(1) +: columns.map(c =>
          when(Audits.nonBlank(col(c)), 1).otherwise(0))
        val zeros = flags.map(_ => lit(0))
        val pairs = df.select(explode(array(keys.zipWithIndex.map { case (k, i) =>
          struct(lit(k).as("k") +: col(k).cast("string").as("v") +:
            (if (i == 0) flags else zeros).zip(covCols).map { case (f, n) => f.as(n) }: _*)
        }: _*)).as("p")).select(col("p.*"))
        val rows = pairs
          .groupBy(col("k"), col("v"))
          .agg(count(lit(1)).as("c"), covCols.map(c => sum(col(c)).as(c)): _*)
          .groupBy(col("k"))
          .agg(count(when(col("c") > 1, true)).as("dups"),
            covCols.map(c => sum(col(c)).as(c)): _*)
          .collect()
        // an empty frame yields no rows: all counts 0
        val first = rows.find(_.getString(0) == keys.head)
        (covCols.indices.map(i => first.fold(0L)(_.getLong(2 + i))),
          rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
    val covMap = columns.zipWithIndex.map { case (c, i) => c -> cov(i + 1) }.toMap
    val keyDups = keys.map(k => k -> kd.getOrElse(k, 0L)).toMap
    CsvAuditReport(cov.head, malformedCount, keyDups, covMap, keys, columns)
  }
}

/** Table profiling (database_audit.rb:20-45,67-114): per-column
  * coverage + rates, value distributions for chosen columns, and the
  * geocoding progress stats — one coverage pass + one small
  * aggregation per distribution. */
final case class DatabaseAuditReport(
    rowCount: Long,
    coverage: Map[String, Long],
    distributions: Map[String, Seq[(String, Long)]],
    needsGeocodingCount: Option[Long]) {
  def coverageRate(column: String): Double =
    if (rowCount == 0) 0.0
    else coverage.getOrElse(column, 0L).toDouble / rowCount
  override def toString: String = {
    val cov = coverage.toSeq.sortBy(_._1).map { case (c, n) =>
      f"  $c: $n (${100.0 * coverageRate(c)}%.1f%%)"
    }.mkString("\n")
    s"DatabaseAudit(rows=$rowCount)\n$cov"
  }
}

object DatabaseAudit {
  import org.apache.spark.sql.DataFrame

  def audit(df: DataFrame,
            coverageColumns: Seq[String],
            distributionColumns: Seq[String] = Nil,
            distributionLimit: Int = 20,
            geocodingAddressColumn: Option[String] = None,
            geocodingLatColumn: String = "residential_lat"): DatabaseAuditReport = {
    val cov = Audits.coverage(df, coverageColumns).collect()(0)
    val total = cov.getLong(0)
    val covMap = coverageColumns.zipWithIndex.map { case (c, i) =>
      c -> cov.getLong(i + 1)
    }.toMap
    val dists = distributionColumns.map { c =>
      c -> Audits.distribution(df, c, distributionLimit).collect().toSeq
        .map(r => (Option(r.get(0)).map(_.toString).getOrElse("NULL"),
          r.getLong(1)))
    }.toMap
    val geo = geocodingAddressColumn.map { addr =>
      val lat = org.apache.spark.sql.functions.col(geocodingLatColumn)
      df.filter(Audits.nonBlank(org.apache.spark.sql.functions.col(addr)) &&
        (lat.isNull || lat === 0.0)).count()
    }
    DatabaseAuditReport(total, covMap, dists, geo)
  }
}
