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
 * rows in the scan, not k(k−1)/2 pairs. The key table, broadcast while
 * it is small, holds only the repeated keys (`min(pk) < max(pk)`) of a
 * group with no `$T`-only filter and no aux join: a key whose rows share
 * one pk has no duplicate. Both invariant counts come from ONE
 * mid-pipeline action ([[Matcher.selfMatchReport]]: one aggregation,
 * no self-join) that runs before any output is built; the matched DF
 * is cached first because that action and the outputs both read it
 * (SURVEY §7.4-5). Transitive chains (a→b→c) violate the symmetric
 * invariant and raise, exactly like the reference. Every spec takes
 * this one path and checks its invariants, a single equality group with
 * the default orientation too: with duplicate pks a row can be both a
 * survivor and a duplicate, so neither count is zero by construction.
 * The result has the table's columns in the table's order.
 */
final case class DedupResult(
    newTable: DataFrame,
    duplicates: DataFrame,
    reflexiveCount: Long,
    symmetricCount: Long,
    /** The cache the outputs are built on: the persisted self-match.
      * Caller-owned. */
    private[graft] val caches: Seq[DataFrame]) {
  /** Release the caches once the outputs have been consumed.
    * Safe no-op after a prior call. */
  def unpersist(): Unit = caches.foreach(_.unpersist())
}

object Deduper {
  import Matcher.TargetId

  /** Default merge orientation: keep the smaller pk
    * (dedup_driver.rb:57-59). */
  def defaultOrientation(pk: String): MatchConstraint =
    MatchConstraint(pk, "$T < $S")

  /**
   * The self-match both [[dedup]] and [[DedupAudit]] run:
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
    (ms, Matcher.matchRecords(Matcher.withSourceId(table), table, ms, selfMatch = true))
  }

  def dedup(table: DataFrame, spec: MergeSpec,
            orientation: Option[MatchConstraint] = None,
            enforceInvariants: Boolean = true): DedupResult = {
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
