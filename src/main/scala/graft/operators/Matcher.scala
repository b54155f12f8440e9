package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.types.Template

/**
 * Staged exact-match join with first-match-wins precedence (SURVEY.md
 * §2.3, J1-J5).
 *
 * Reference semantics (lib/voter_file/csv_driver/record_matcher.rb):
 *  - the working source gets `working_source_id SERIAL` and
 *    `working_target_id <pk type>` (record_matcher.rb:37-46);
 *  - exact match groups run in declaration order and each group's UPDATE
 *    only touches still-unmatched rows (`WHERE s.working_target_id IS
 *    NULL`, record_matcher.rb:60-68) — first-match-wins precedence;
 *  - a group is one or more key equalities (single/multi column, or
 *    `{source_key:, target_key:}` FK pairs, record_matcher.rb:16-22),
 *    optional `$S`/`$T` theta constraints (record_matcher.rb:24-26,83-86),
 *    and optional auxiliary join tables (record_matcher.rb:28-30,88-90);
 *  - nested matchers splice their groups in order (record_matcher.rb:48-58).
 *
 * Spark-first design: instead of translating the reference's sequential
 * UPDATE-per-group (k chained scans), each group's candidates are
 * computed as an independent equi-join, unioned, and resolved with ONE
 * window: min (group_idx, target_pk) per source row. Semantically
 * identical to the staged loop (a row matched by group i keeps it over
 * any group j > i) but embarrassingly parallel — at 100 TB the k joins
 * run concurrently against the same cached/broadcast target, and the
 * single window shuffle on working_source_id replaces k full-table
 * UPDATE passes. The multi-candidate nondeterminism of Postgres
 * UPDATE..FROM is resolved deterministically to min(t.pk) (divergence
 * documented, SURVEY §7.4).
 */
final case class KeyPair(sourceKey: String, targetKey: String)

/** `$S`/`$T` theta constraint bound to a column (both sides substitute
  * the same column name unless an explicit target column is given). */
final case class MatchConstraint(column: String, template: String,
                                 targetColumn: Option[String] = None)

/** Auxiliary join table participating in match conditions; `condition`
  * is SQL referencing `t.<col>` and `<alias>.<col>`. */
final case class AuxJoin(df: DataFrame, alias: String, condition: String)

final case class ExactGroup(
    keys: Seq[KeyPair],
    constraints: Seq[MatchConstraint] = Nil,
    auxJoins: Seq[AuxJoin] = Nil)

object ExactGroup {
  /** Same-name single- or multi-column group. */
  def onColumns(cols: String*): ExactGroup =
    ExactGroup(cols.map(c => KeyPair(c, c)))
}

final case class MatchSpec(
    groups: Seq[ExactGroup],
    targetPk: String,
    /** Fuzzy columns matched (in order) after all exact groups. */
    fuzzyColumns: Seq[String] = Nil,
    /** pg_trgm acceptance bound: distance < limit (fuzzy_merger.rb:5). */
    fuzzyLimit: Double = 0.5) {
  /** Splice a nested matcher's groups in order (J5). */
  def withNested(nested: MatchSpec): MatchSpec =
    copy(groups = groups ++ nested.groups)
}

/** A staged match: the source with its working id, the match on it
  * (see [[Matcher.matchRecords]]), and the caches the staging created —
  * the persisted exact match when a fuzzy pass ran, else none. */
final case class StagedMatch(source: DataFrame, matched: DataFrame,
                             caches: Seq[DataFrame]) {
  def unpersist(): Unit = caches.foreach(_.unpersist())
}

object Matcher {

  val SourceId = "working_source_id"
  val TargetId = "working_target_id"
  val MatchGroup = "working_exact_match_group"

  /** Fuzzy stages are tagged after all exact groups, 1-based like the
    * reference's audit tagging (merge_audit_sql.rb:38-51). */
  def fuzzyGroupIndex(spec: MatchSpec, fuzzyStage: Int): Int =
    spec.groups.size + 1 + fuzzyStage

  /**
   * Ensure the working source id column exists.
   * `monotonically_increasing_id` is unique-not-dense, which is all the
   * reference uses SERIAL for (a join key, record_matcher.rb:43).
   *
   * The id is assigned per evaluation, from partition layout: it is
   * stable across re-evaluations only when the source itself is
   * deterministic (same rows in the same partitions). Merge, audit and
   * dedup therefore evaluate it once per call — through [[stage]], whose
   * cached exact match feeds every fuzzy consumer, and through the
   * persisted match the later phases read.
   */
  def withSourceId(source: DataFrame): DataFrame =
    if (source.columns.contains(SourceId)) source
    else source.withColumn(SourceId, monotonically_increasing_id())

  /**
   * Run all exact groups; returns the source plus
   * `working_target_id` (nullable) and `working_exact_match_group`
   * (1-based index of the winning group, null if unmatched).
   */
  def matchRecords(sourceWithId: DataFrame, target: DataFrame,
                   spec: MatchSpec): DataFrame = {
    require(sourceWithId.columns.contains(SourceId),
      s"source must carry $SourceId (use Matcher.withSourceId)")
    val s = sourceWithId.as("s")

    val candidateSets: Seq[DataFrame] = spec.groups.zipWithIndex.map {
      case (g, idx) =>
        // pre-join aux tables into the target side (J4)
        val tgt = g.auxJoins.foldLeft(target.as("t")) { (df, aux) =>
          df.join(aux.df.as(aux.alias), expr(aux.condition))
        }
        val keyCond: Column = g.keys
          .map(k => col(s"s.${k.sourceKey}") === col(s"t.${k.targetKey}"))
          .reduce(_ && _)
        val thetaCond: Seq[Column] = g.constraints.map { c =>
          Template.toColumn(c.template, Some(s"s.${c.column}"),
            Some(s"t.${c.targetColumn.getOrElse(c.column)}"))
        }
        val cond = (keyCond +: thetaCond).reduce(_ && _)
        s.join(tgt, cond, "inner")
          .select(
            col(s"s.$SourceId"),
            col(s"t.${spec.targetPk}").as(TargetId),
            lit(idx + 1).as(MatchGroup))
    }

    if (candidateSets.isEmpty)
      return sourceWithId
        .withColumn(TargetId, lit(null).cast(
          target.schema(spec.targetPk).dataType))
        .withColumn(MatchGroup, lit(null).cast("int"))

    val all = candidateSets.reduce(_ unionByName _)
    // first-match-wins + deterministic min-pk tiebreak in one window
    val w = Window.partitionBy(col(SourceId))
      .orderBy(col(MatchGroup).asc, col(TargetId).asc)
    val resolved = all
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")

    sourceWithId.join(resolved, Seq(SourceId), "left")
  }

  /**
   * Stage the whole match the way merge and its audit run it: assign
   * `working_source_id`, run the exact groups, then the fuzzy columns.
   * When a fuzzy pass follows, the exact result is persisted first, so
   * the pass's three consumers (unmatched sources, claimed targets, the
   * fold-back join) read one evaluation of the source and its ids — the
   * reference likewise matches one materialized working table in place
   * (record_matcher.rb:37-68, fuzzy_merger.rb:38-67). Without fuzzy
   * columns nothing is persisted. The caller owns `caches`.
   */
  def stage(source: DataFrame, target: DataFrame, spec: MatchSpec): StagedMatch = {
    val withId = withSourceId(source)
    val exact = matchRecords(withId, target, spec)
    if (spec.fuzzyColumns.isEmpty) StagedMatch(withId, exact, Nil)
    else {
      val cached = exact.persist()
      try StagedMatch(withId, Fuzzy.fuzzyMatch(cached, target, spec.targetPk,
        spec.fuzzyColumns, spec.groups.size, spec.fuzzyLimit), Seq(cached))
      catch { case e: Throwable => cached.unpersist(); throw e }
    }
  }

  /**
   * The dedup report over a self-match (J8, merge_audit_sql.rb:10-36,
   * enforced dedup_driver.rb:22-28) as ONE aggregation, no join: the
   * total row count, the per-group match counts, the reflexive count
   * (rows matched to themselves) and the symmetric count (pairs where a
   * survivor is itself matched away).
   *
   * For a key value k let A(k) = rows whose target is k and whose own
   * pk is non-null and ≠ k, and B(k) = matched rows whose pk is k. The
   * symmetric self-join `s1.target = s2.pk ∧ s2.target IS NOT NULL ∧
   * s1.pk ≠ s2.pk` pairs exactly those rows, so its count is
   * Σₖ A(k)·B(k). Each matched row emits one record keyed by its pk and
   * one keyed by its target, each unmatched row one record under a null
   * key (partial aggregation collapses those map-side); one `groupBy`
   * on the key gives A, B and the per-key counts, and one global sum
   * the report. The products carry multiplicity, so duplicate pks are
   * exact; a null pk lands under the null key, whose A is 0 (a target
   * is never null), as a null never joins.
   *
   * Group indices are 1 … `spec.groups.size + spec.fuzzyColumns.size`
   * (exact groups, then [[fuzzyGroupIndex]]); only non-zero groups are
   * reported.
   */
  def selfMatchReport(matched: DataFrame, spec: MatchSpec): DedupAuditReport = {
    val pk = col(spec.targetPk)
    val tgt = col(TargetId)
    val groups = 1 to spec.groups.size + spec.fuzzyColumns.size
    // a record: its key, its share of A(k) and B(k), the reflexive flag,
    // whether it counts as a row of the total, and the match group
    def rec(key: Column, a: Column, b: Int, r: Column, n: Int,
            g: Column): Column =
      struct(key.as("k"), a.cast("int").as("a"), lit(b).as("b"),
        r.cast("int").as("r"), lit(n).as("n"), g.as("g"))
    val none = lit(null).cast(matched.schema(spec.targetPk).dataType)
    val noGroup = lit(null).cast("int")
    val records = when(tgt.isNull,
      array(rec(none, lit(0), 0, lit(0), 1, noGroup))
    ).otherwise(array(
      rec(pk, lit(0), 1, coalesce(tgt === pk, lit(false)), 1,
        col(MatchGroup)),
      rec(tgt, coalesce(pk =!= tgt, lit(false)), 0, lit(0), 0, noGroup)))
    val perKey = matched.select(explode(records).as("e")).select(col("e.*"))
      .groupBy(col("k"))
      .agg(sum(col("a")).as("a"), Seq(sum(col("b")).as("b"),
        sum(col("r")).as("r"), sum(col("n")).as("n")) ++
        groups.map(g => count(when(col("g") === g, true)).as(s"g$g")): _*)
    val totals = Seq(sum(col("n")), sum(col("a") * col("b")), sum(col("r"))) ++
      groups.map(g => sum(col(s"g$g")))
    val row = perKey.agg(totals.head, totals.tail: _*).head()
    def at(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    DedupAuditReport(
      totalCount = at(0),
      groupCounts = groups.zipWithIndex.map { case (g, i) => g -> at(3 + i) }
        .filter(_._2 > 0).toMap,
      reflexiveCount = at(2),
      symmetricCount = at(1))
  }
}
