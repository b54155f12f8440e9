package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.types.Template

/**
 * Self-table dedup with merge orientation + safety invariants (M5/M6,
 * SURVEY.md §2.4) — lib/voter_file/dedup_driver.rb rebuilt.
 *
 * Reference protocol (dedup_driver.rb:9-83):
 *  1. source table == target table; match groups find duplicate pairs;
 *  2. a merge-orientation constraint decides the survivor — default
 *     `$T < $S` on the pk, i.e. the smaller pk survives
 *     (dedup_driver.rb:53-63);
 *  3. INVARIANTS, enforced before any mutation (dedup_driver.rb:22-28,
 *     merge_audit_sql.rb:21-36): reflexive matches (row matched to
 *     itself) == 0 and symmetric matches (a survivor that is itself a
 *     duplicate) == 0, else raise;
 *  4. DELETE the duplicate rows and fold their values into the
 *     survivors via the merge column routing (dedup_driver.rb:65-82).
 *
 * Spark rebuild: survivors = table ⟖(anti) duplicates-by-pk; fold = the
 * M1 update join with the duplicate rows as source. Both invariant
 * counts come from ONE mid-pipeline action
 * ([[Matcher.selfMatchReport]]: one aggregation, no self-join) that
 * runs before any output is built; the matched DF is cached first
 * because that action and the outputs both read it (SURVEY §7.4-5).
 * Transitive chains (a→b→c) violate the symmetric invariant and raise,
 * exactly like the reference.
 */
final case class DedupResult(
    newTable: DataFrame,
    duplicates: DataFrame,
    reflexiveCount: Long,
    symmetricCount: Long,
    /** The caches the outputs are built on (general path only; the
      * window fast path caches nothing): the persisted match join, plus
      * the exact match [[Matcher.stage]] persists when fuzzy columns
      * follow it. Caller-owned. */
    private[graft] val caches: Seq[DataFrame] = Nil) {
  /** Release the caches once the outputs have been consumed.
    * Safe no-op on the fast path / after a prior call. */
  def unpersist(): Unit = caches.foreach(_.unpersist())
}

object Deduper {
  import Matcher.{SourceId, TargetId, MatchGroup}

  /** Default merge orientation: keep the smaller pk
    * (dedup_driver.rb:57-59). */
  def defaultOrientation(pk: String): MatchConstraint =
    MatchConstraint(pk, "$T < $S")

  /** Does the spec qualify for the window fast path? Single same-name
    * equality group, no theta/aux/fuzzy, default orientation. */
  private def isFastPath(spec: MergeSpec,
                         orientation: Option[MatchConstraint]): Boolean = {
    val ms = spec.matchSpec
    orientation.isEmpty && ms.fuzzyColumns.isEmpty && ms.groups.size == 1 && {
      val g = ms.groups.head
      g.constraints.isEmpty && g.auxJoins.isEmpty &&
        g.keys.forall(k => k.sourceKey == k.targetKey)
    }
  }

  /**
   * Fast path for the canonical dedup (single equality key group, keep
   * min pk): survivor assignment is ONE window over the key partition —
   * no self-join, no working-source materialization, and the
   * reflexive/symmetric invariants are provably zero (every duplicate
   * points at its group's min pk; the min never points anywhere).
   * Semantically identical to the general path (the oracle SQL for
   * q_dedup is written in exactly this window form).
   */
  private def dedupFast(table: DataFrame, spec: MergeSpec): DedupResult = {
    val pk = spec.matchSpec.targetPk
    val keyNames = spec.matchSpec.groups.head.keys.map(_.sourceKey)
    val keys = keyNames.map(col)
    // per-key min via AGGREGATE + join-back, not min().over(key window):
    // the aggregate reduces a hot duplicate key map-side and the join
    // back is AQE-skew-splittable, where a window partition funnels the
    // whole hot key through one task (a 100 TB corpus WILL have a
    // pathological duplicate group). The distinct-key side is small, so
    // Spark broadcasts it when it fits.
    // Null keys never match in the join formulation (NULL ≠ NULL) and a
    // left join leaves their group-min null — force null-keyed rows to
    // be their own survivors, same contract as before.
    val anyNullKey = keys.map(_.isNull).reduce(_ || _)
    val mins = table.groupBy(keys: _*).agg(min(col(pk)).as("__gmin"))
    val tagged = table.join(mins, keyNames, "left")
      .withColumn("__survivor",
        when(anyNullKey, col(pk)).otherwise(col("__gmin")))
      .drop("__gmin")
    // null pks never participate in matching (join semantics); keep
    // them as survivors rather than letting null comparisons drop them
    val dupes0 = tagged.filter(
      col(pk).isNotNull && col(pk) =!= col("__survivor"))
    val survivors = tagged.filter(
      col(pk).isNull || col(pk) === col("__survivor"))
      .drop("__survivor")
    // fold the min-pk duplicate into each survivor (M1 routing) —
    // min_by aggregate for the same hot-key reason as above (and as
    // Merger.bestPerTarget); pk is unique so the winner is well-defined
    val dupeCols = dupes0.columns.filter(_ != "__survivor")
    val best = dupes0
      .groupBy(col("__survivor"))
      .agg(min_by(struct(dupeCols.map(col).toIndexedSeq: _*),
        col(pk)).as("__bd"))
      .select(col("__survivor") +:
        dupeCols.map(c => col(s"__bd.$c").as(c)).toIndexedSeq: _*)
    val joined = survivors.as("t").join(best.as("s"),
      col(s"t.$pk") === col("s.__survivor"), "left")
    val hit = col("s.__survivor").isNotNull
    val updateSet: Map[String, org.apache.spark.sql.Column] = {
      val moves = spec.columnMap.map { case (src, dst) =>
        dst -> col(s"t.$src") }.toMap
      val merges = spec.mergeExpressions.map { case (c, tpl) =>
        c -> Template.toColumn(tpl, Some(s"s.$c"), Some(s"t.$c")) }
      moves ++ merges
    }
    val outCols = survivors.columns.map { c =>
      updateSet.get(c) match {
        case Some(v) => when(hit, v).otherwise(col(s"t.$c")).as(c)
        case None    => col(s"t.$c").as(c)
      }
    }
    val folded = joined.select(outCols.toIndexedSeq: _*)
    // duplicates report in the general path's working shape
    val dupes = dupes0
      .withColumn(SourceId, col(pk))
      .withColumn(TargetId, col("__survivor"))
      .withColumn(MatchGroup, lit(1))
      .drop("__survivor")
    DedupResult(folded, dupes, reflexiveCount = 0L, symmetricCount = 0L)
  }

  def dedup(table: DataFrame, spec: MergeSpec,
            orientation: Option[MatchConstraint] = None,
            enforceInvariants: Boolean = true): DedupResult = {
    if (isFastPath(spec, orientation)) return dedupFast(table, spec)
    val ms0 = spec.matchSpec
    val pk = ms0.targetPk
    val orient = orientation.getOrElse(defaultOrientation(pk))
    val ms = ms0.copy(groups = ms0.groups.map(g =>
      g.copy(constraints = g.constraints :+ orient)))

    val staged = Matcher.stage(table, table, ms)
    val cached = staged.matched.persist()
    val caches = staged.caches :+ cached
    val (reflexive, symmetric) =
      try {
        val report = Matcher.selfMatchReport(cached, ms)
        val (r, s) = (report.reflexiveCount, report.symmetricCount)
        if (enforceInvariants) {
          require(r == 0, s"dedup invariant violated: $r reflexive matches")
          require(s == 0, s"dedup invariant violated: $s symmetric matches")
        }
        (r, s)
      } catch { case e: Throwable => caches.foreach(_.unpersist()); throw e }

    val dupes = cached.filter(col(TargetId).isNotNull)
    val survivors = table.join(
      dupes.select(col(pk)).distinct(), Seq(pk), "left_anti")

    // fold duplicate values into survivors (M1 routing, dupes as
    // source) — min_by aggregate, not a per-survivor window (hot-key
    // funnel; see dedupFast / Merger.bestPerTarget)
    val dupeCols = dupes.columns.filter(_ != TargetId)
    val bestPerSurvivor = dupes
      .groupBy(col(TargetId))
      .agg(min_by(struct(dupeCols.map(col).toIndexedSeq: _*),
        col(pk)).as("__bd"))
      .select(col(TargetId) +:
        dupeCols.map(c => col(s"__bd.$c").as(c)).toIndexedSeq: _*)

    val corr = survivors.columns.toSeq
      .filterNot(spec.excludedColumns.contains)
      .filterNot(spec.preservedColumns.contains)
      .filterNot(_ == pk)
      .filterNot(Seq(SourceId, TargetId, MatchGroup).contains)

    val joined = survivors.as("t").join(
      bestPerSurvivor.as("s"),
      col(s"t.$pk") === col(s"s.$TargetId"), "left")
    val hit = col(s"s.$TargetId").isNotNull
    val updateSet: Map[String, org.apache.spark.sql.Column] = {
      val moves = spec.columnMap.map { case (src, dst) =>
        dst -> col(s"t.$src") }.toMap
      val merges = spec.mergeExpressions.map { case (c, tpl) =>
        c -> Template.toColumn(tpl, Some(s"s.$c"), Some(s"t.$c")) }
      // dedup folds ONLY explicit merge expressions/moves by default:
      // blind source-copy would overwrite survivor values with duplicate
      // values, which the reference only does for explicitly routed
      // columns in practice (dedup jobs set merge expressions).
      moves ++ merges
    }
    val outCols = survivors.columns.map { c =>
      updateSet.get(c) match {
        case Some(v) => when(hit, v).otherwise(col(s"t.$c")).as(c)
        case None    => col(s"t.$c").as(c)
      }
    }
    val folded = joined.select(outCols.toIndexedSeq: _*)
    // cached stays persisted: the returned DataFrames are built on it
    // and would otherwise recompute the whole match per caller action.
    // The handles ride in the result — DedupResult.unpersist() releases
    // them (Gateway cache cleanup remains the backstop).
    DedupResult(folded, dupes, reflexive, symmetric, caches)
  }
}
