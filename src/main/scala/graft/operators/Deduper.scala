package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
 * Spark rebuild: dedup is a merge of the table into itself, as the
 * reference's `RecordDeduper < RecordMerger` has it. survivors = table
 * ⟖(anti) duplicates-by-pk; fold = the M1 update, [[Merger.fold]], with
 * the duplicate rows as source. The self-match ([[Deduper.selfMatch]])
 * is shared with [[DedupAudit]]. It is no pair self-join: under the
 * orientation `$T < $S` each group is its per-key min pk joined onto the
 * table, and a row is a duplicate when that min is below its own pk
 * ([[Matcher.matchRecords]]), so a duplicate group of k rows costs k
 * rows, not k(k−1)/2 pairs. Both invariant counts come from ONE
 * mid-pipeline action ([[Matcher.selfMatchReport]]: one aggregation,
 * no self-join) that runs before any output is built; the matched DF
 * is cached first because that action and the outputs both read it
 * (SURVEY §7.4-5). Transitive chains (a→b→c) violate the symmetric
 * invariant and raise, exactly like the reference. Both paths return
 * the table's columns in the table's order.
 */
final case class DedupResult(
    newTable: DataFrame,
    duplicates: DataFrame,
    reflexiveCount: Long,
    symmetricCount: Long,
    /** The cache the outputs are built on: the persisted self-match
      * join (general path only; the fast path caches nothing).
      * Caller-owned. */
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

  /** Does the spec qualify for the per-key-min fast path
    * ([[dedupFast]])? Single same-name equality group, no
    * theta/aux/fuzzy, default orientation. */
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
   * min pk): survivor assignment is ONE per-key min joined back — no
   * self-join, no working-source materialization, and the
   * reflexive/symmetric invariants are provably zero (every duplicate
   * points at its group's min pk; the min never points anywhere).
   * Semantically identical to the general path (the oracle SQL for
   * q_dedup is written in the equivalent window form).
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
    // be their own survivors, as in the general path.
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
      .select(table.columns.map(col).toIndexedSeq: _*)
    val folded = Merger.fold(survivors, pk, dupes0, "__survivor", pk, spec, Nil)
    // duplicates report in the general path's working shape and order:
    // source id, the table's columns, target id, match group
    val dupes = dupes0.select(col(pk).as(SourceId) +:
      table.columns.toIndexedSeq.map(col) :+
      col("__survivor").as(TargetId) :+ lit(1).as(MatchGroup): _*)
    DedupResult(folded, dupes, reflexiveCount = 0L, symmetricCount = 0L)
  }

  /**
   * The self-match both [[dedup]]'s general path and [[DedupAudit]] run:
   * every exact group gains the orientation constraint, and the table is
   * matched against itself. Returned unpersisted with the oriented spec.
   * Fuzzy columns are refused: the fuzzy pass has no orientation, so an
   * unmatched row's nearest unclaimed neighbour is itself (distance 0).
   */
  private[operators] def selfMatch(table: DataFrame, spec: MergeSpec,
                                   orientation: Option[MatchConstraint])
      : (MatchSpec, DataFrame) = {
    val ms0 = spec.matchSpec
    require(ms0.fuzzyColumns.isEmpty, "dedup cannot match on fuzzy columns " +
      s"(${ms0.fuzzyColumns.mkString(", ")}): the fuzzy pass has no merge " +
      "orientation, so every unmatched row would match itself")
    val orient = orientation.getOrElse(defaultOrientation(ms0.targetPk))
    val ms = ms0.copy(groups = ms0.groups.map(g =>
      g.copy(constraints = g.constraints :+ orient)))
    (ms, Matcher.matchRecords(Matcher.withSourceId(table), table, ms))
  }

  def dedup(table: DataFrame, spec: MergeSpec,
            orientation: Option[MatchConstraint] = None,
            enforceInvariants: Boolean = true): DedupResult = {
    if (isFastPath(spec, orientation)) return dedupFast(table, spec)
    val pk = spec.matchSpec.targetPk
    val (ms, matched) = selfMatch(table, spec, orientation)
    val cached = matched.persist()
    val (reflexive, symmetric) =
      try {
        val report = Matcher.selfMatchReport(cached, ms)
        val (r, s) = (report.reflexiveCount, report.symmetricCount)
        if (enforceInvariants) {
          require(r == 0, s"dedup invariant violated: $r reflexive matches")
          require(s == 0, s"dedup invariant violated: $s symmetric matches")
        }
        (r, s)
      } catch { case e: Throwable => cached.unpersist(); throw e }

    val dupes = cached.filter(col(TargetId).isNotNull)
    val survivors = table.join(
      dupes.select(col(pk)).distinct(), Seq(pk), "left_anti")
      .select(table.columns.map(col).toIndexedSeq: _*)
    // dedup folds ONLY explicit merge expressions/moves: blind
    // source-copy would overwrite survivor values with duplicate values,
    // which the reference only does for explicitly routed columns in
    // practice (dedup jobs set merge expressions)
    val folded = Merger.fold(survivors, pk, dupes, TargetId, pk, spec, Nil)
    // cached stays persisted: the returned DataFrames are built on it
    // and would otherwise recompute the whole match per caller action.
    // DedupResult.unpersist() releases it (Gateway cache cleanup remains
    // the backstop).
    DedupResult(folded, dupes, reflexive, symmetric, Seq(cached))
  }
}
