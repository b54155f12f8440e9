package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, EqualTo}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.ops.Dispatch
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
 * UPDATE-per-group (k chained scans), each group is one table joined
 * onto the source: `min(pk)` per target key (an aggregate, which
 * combines a hot key map-side), left-joined on the group's keys. The
 * winner is one `CASE` over the groups' hits in declaration order —
 * the staged loop's first-match-wins (a row matched by group i keeps it
 * over any group j > i). In a self-match (dedup and its audit) an
 * oriented group's table keeps only the keys whose pks differ: a key
 * whose rows share one pk has no duplicate (see [[Matcher.joinGroup]]).
 * Like the reference's UPDATE, the working row is matched in place: it
 * is never unioned or windowed, and only a group with a theta
 * constraint joins a result back by its id (see
 * [[Matcher.matchRecords]]). The multi-candidate nondeterminism of Postgres UPDATE..FROM
 * is resolved deterministically to min(t.pk) (divergence documented,
 * SURVEY §7.4).
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
   * reference uses SERIAL for (a join key, record_matcher.rb:43). A
   * caller-supplied id is kept as it is and must be unique too: see
   * [[matchRecords]].
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
   * Run all exact groups; returns `working_source_id`, the source's
   * other columns in order, then `working_target_id` (nullable) and
   * `working_exact_match_group` (1-based index of the winning group, null
   * if unmatched). `working_source_id` must be unique: a theta group (see
   * below) resolves its candidates per id, so rows sharing an id would
   * share those.
   *
   * Each group is one table left-joined onto the source; the winner is
   * one `CASE WHEN hit₁ THEN tid₁ WHEN hit₂ THEN tid₂ …` in group order.
   * A group's constraints sort by the sides they name:
   *  - `$S` only: a predicate in the group's hit (null counts as false);
   *  - `$T` only: a filter on the (aux-joined) target;
   *  - the orientation `$T < $S` on the target pk: the group's min pk
   *    qualifies exactly when any candidate does, so it tests the min;
   *  - anything else naming both sides (or neither): a theta group.
   * A group without theta constraints is `min(pk)` per target key, so a
   * key shared by k source and m target rows costs k + m rows, not k·m.
   * A theta group keeps its inner join and takes the min per source id.
   * Without an orientation a candidate with a null pk wins with a null
   * id (the staged loop's nulls-first order); null keys never match.
   */
  def matchRecords(sourceWithId: DataFrame, target: DataFrame,
                   spec: MatchSpec): DataFrame =
    matchRecords(sourceWithId, target, spec, selfMatch = false)

  /** [[matchRecords]] for a caller that guarantees `target` is the
    * table `sourceWithId` adds its id to ([[Deduper.selfMatch]]), so a
    * key table may drop the keys no row can hit (see [[joinGroup]]). */
  private[operators] def matchRecords(sourceWithId: DataFrame, target: DataFrame,
                                      spec: MatchSpec, selfMatch: Boolean): DataFrame = {
    require(sourceWithId.columns.contains(SourceId),
      s"source must carry $SourceId (use Matcher.withSourceId)")
    val pkType = target.schema(spec.targetPk).dataType
    if (spec.groups.isEmpty)
      return sourceWithId
        .withColumn(TargetId, lit(null).cast(pkType))
        .withColumn(MatchGroup, lit(null).cast("int"))

    val (joined, arms) = spec.groups.zipWithIndex
      .foldLeft((sourceWithId.as("s"), Vector.empty[(Column, Column)])) {
        case ((acc, done), (g, i)) =>
          val (next, hit, tid) =
            joinGroup(acc, sourceWithId, target, spec.targetPk, g, s"__g${i + 1}",
              selfMatch)
          (next, done :+ (hit -> tid))
      }
    def firstHit(value: Int => Column): Column =
      arms.indices.tail.foldLeft(when(arms.head._1, value(0))) { (c, i) =>
        c.when(arms(i)._1, value(i))
      }
    val sourceCols = SourceId +: sourceWithId.columns.filter(_ != SourceId).toSeq
    joined.select(sourceCols.map(c => col(s"s.`$c`")) :+
      firstHit(i => arms(i)._2).cast(pkType).as(TargetId) :+
      firstHit(i => lit(i + 1)).as(MatchGroup): _*)
  }

  /** `$T < $S` with `$T` the target pk: a min over the candidates
    * satisfies it exactly when one of them does. */
  private def isOrientation(c: MatchConstraint, pk: String): Boolean =
    c.template.filterNot(_.isWhitespace) == "$T<$S" &&
      c.targetColumn.getOrElse(c.column) == pk

  /**
   * Left-join group `g` onto `acc` (the source aliased `s`, with the
   * earlier groups' columns). Returns the join, the group's hit and its
   * target id; the columns it adds are prefixed `tag`.
   *
   * A key table Spark would broadcast (its `(keys, pk)` projection's
   * size estimate is within `spark.sql.autoBroadcastJoinThreshold`) is
   * reduced in one task and broadcast: the broadcast sends it through
   * the driver anyway, and a partitioned aggregate would add a shuffle
   * per group. A larger one is hash-aggregated and joined as Spark
   * plans it.
   *
   * In a self-match (`selfMatch`: the source is the target) a group
   * oriented pk to pk (`t.pk < s.pk`), with no `$T`-only filter, no aux
   * join and every key naming one column on both sides, keeps only the
   * keys with `min(pk) < max(pk)`. Each row of such a key is also one of
   * its target rows, so a row with pk `p` hits only when
   * `min < p ≤ max`: a key whose pks are all equal or all null hits
   * nothing. The key table of a dedup therefore holds its repeated keys,
   * not every key of the table.
   */
  private def joinGroup(acc: DataFrame, source: DataFrame, target: DataFrame,
                        pk: String, g: ExactGroup, tag: String, selfMatch: Boolean)
      : (DataFrame, Column, Column) = {
    // pre-join aux tables into the target side (J4)
    val tgt = g.auxJoins.foldLeft(target.as("t")) { (df, aux) =>
      df.join(aux.df.as(aux.alias), expr(aux.condition))
    }
    def tRef(c: MatchConstraint) = s"t.${c.targetColumn.getOrElse(c.column)}"
    def cond(c: MatchConstraint, tRef: String): Column =
      Template.toColumn(c.template, Some(s"s.${c.column}"), Some(tRef))
    def sides(c: MatchConstraint) =
      (Template.referencesSource(c.template), Template.referencesTarget(c.template))
    val (orient, rest) = g.constraints.partition(isOrientation(_, pk))
    val sOnly = rest.filter(sides(_) == ((true, false)))
    val tOnly = rest.filter(sides(_) == ((false, true)))
    val theta = rest.filter { c => val (s, t) = sides(c); s == t }
    val tPk = col(s"t.$pk")
    val tid = s"${tag}_tid"
    // the staged loop's order puts a null pk first: such a candidate wins
    def nullsFirstMin(p: Column) = when(max(p.isNull), lit(null)).otherwise(min(p))

    if (theta.nonEmpty) {
      val sid = s"${tag}_sid"
      val keyCond = g.keys.map(k =>
        col(s"s.${k.sourceKey}") === col(s"t.${k.targetKey}"))
      val best = source.as("s")
        .join(tgt, (keyCond ++ g.constraints.map(c => cond(c, tRef(c)))).reduce(_ && _))
        .groupBy(col(s"s.$SourceId").as(sid))
        .agg(nullsFirstMin(tPk).as(tid))
      return (acc.join(best, col(s"s.$SourceId") === col(sid), "left"),
        col(sid).isNotNull, col(tid))
    }

    val keyNames = g.keys.indices.map(j => s"${tag}_k$j")
    val keyCols = g.keys.zip(keyNames).map { case (k, name) =>
      val tk = col(s"t.${k.targetKey}")
      val compared = comparedType(source.sparkSession,
        source.select(col(k.sourceKey)).schema.head.dataType,
        tgt.select(tk).schema.head.dataType)
      tk.cast(compared).as(name)
    }
    val projected = tOnly.foldLeft(tgt)((df, c) => df.filter(cond(c, tRef(c))))
      .select(keyCols :+ tPk.as(pk): _*)
      .filter(keyNames.map(col(_).isNotNull).reduce(_ && _))
    val threshold = source.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val small = threshold >= 0 &&
      projected.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    val grouped = (if (small) projected.coalesce(1) else projected)
      .groupBy(keyNames.map(col): _*)
    val repeatedOnly = selfMatch && g.auxJoins.isEmpty && tOnly.isEmpty &&
      orient.exists(_.column == pk) && g.keys.forall(k => k.sourceKey == k.targetKey)
    val minPk = (if (orient.isEmpty) nullsFirstMin(col(pk)) else min(col(pk))).as(tid)
    val maxPk = s"${tag}_max"
    val perKey =
      if (repeatedOnly) grouped.agg(minPk, max(col(pk)).as(maxPk))
        .filter(col(tid) < col(maxPk)).drop(maxPk)
      else grouped.agg(minPk)
    val on = g.keys.zip(keyNames).map { case (k, name) =>
      col(s"s.${k.sourceKey}") === col(name) }.reduce(_ && _)
    // `$T` in an orientation names the group's min pk
    val hit = (col(keyNames.head).isNotNull +: (sOnly ++ orient).map(c => cond(c, tid)))
      .map(coalesce(_, lit(false))).reduce(_ && _)
    (acc.join(if (small) broadcast(perKey) else perKey, on, "left"), hit, col(tid))
  }

  /** The type Spark compares `a = b` in. A target key is grouped in it,
    * so target values that all equal one source value share one row. */
  private def comparedType(spark: SparkSession, a: DataType, b: DataType): DataType =
    if (a == b) a
    else spark.range(1)
      .select(lit(null).cast(a) === lit(null).cast(b))
      .queryExecution.analyzed match {
        case Project(Seq(Alias(EqualTo(l, _), _)), _) => l.dataType
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
   * on the key gives A, B and the per-key counts, and the scan of its
   * result observes the report's sums (no second aggregate stage). The
   * products carry multiplicity, so duplicate pks are exact; a null pk
   * lands under the null key, whose A is 0 (a target is never null), as
   * a null never joins.
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
    val row = Dispatch.scanOnce(perKey, totals: _*)
    def at(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    DedupAuditReport(
      totalCount = at(0),
      groupCounts = groups.zipWithIndex.map { case (g, i) => g -> at(3 + i) }
        .filter(_._2 > 0).toMap,
      reflexiveCount = at(2),
      symmetricCount = at(1))
  }
}
