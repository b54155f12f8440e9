package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Dispatch
import graft.types.Template

/**
 * Merge/upsert planner (M1-M4, SURVEY.md §2.4) —
 * lib/voter_file/csv_driver/record_merger.rb rebuilt on immutable
 * DataFrames.
 *
 * Column routing, given the conformed source's columns
 * (record_merger.rb:118-156):
 *  - `excluded_columns` never move;
 *  - `preserved_columns` are excluded from UPDATE but included in INSERT;
 *  - `column_map` moves the TARGET's old value of one column into another
 *    target column on update (record_merger.rb:118-124);
 *  - `merge_expressions` combine `$S`/`$T` per column
 *    (record_merger.rb:34-36,126-132);
 *  - `insert_expressions` provide INSERT-phase values
 *    (record_merger.rb:38-40,150-156);
 *  - remaining shared columns copy `s.col` verbatim on update and insert
 *    (record_merger.rb:134-136,142-144).
 *
 * The reference's UPDATE..FROM / INSERT..SELECT pair becomes:
 *   newTarget = (target ⟕ bestMatchPerTarget → per-column
 *                when(matched, newVal).otherwise(old))
 *               ∪ unmatched-source insert projection
 * and RETURNING write-back (M4, record_merger.rb:158-176) is just
 * another join: matches are data here, not side effects.
 *
 * Scale notes: the update is [[Merger.fold]], which [[Deduper]] shares;
 * its join shuffles on the target pk once (or broadcasts the matched
 * side when small — it is keyed by a `min_by` aggregate, so a hot key
 * combines map-side, before the join); the insert branch is a narrow
 * projection; the union is free. Inserted rows get fresh pks generated as
 * max(existing)+dense rank — the max observed on one scan of the target's
 * pk, the rank's per-partition counts read in the job that fills its
 * cache — deterministic for the oracle, unique at any scale.
 *
 * The match is evaluated once per merge: [[Matcher.stage]] caches the
 * exact match before a fuzzy pass, and the persisted `matched` feeds the
 * update, insert and write-back phases, so the source (and the
 * `working_source_id` it gets) is read once per call. The write-back
 * reads source rows from `matched` and takes returned pks straight from
 * the match/insert key; only returned non-pk columns join `newTarget`
 * (a spec that rewrites the pk column on update returns the key it
 * matched). Under duplicate target pks that makes a pk-only write-back return each
 * source row once, while a non-pk write-back still repeats the row once
 * per duplicate target row.
 */
final case class MergeSpec(
    matchSpec: MatchSpec,
    excludedColumns: Seq[String] = Nil,
    preservedColumns: Seq[String] = Nil,
    /** (sourceOfOldValue, destination): dest := old t.sourceOfOldValue. */
    columnMap: Seq[(String, String)] = Nil,
    /** column → `$S`/`$T` template. */
    mergeExpressions: Map[String, String] = Map.empty,
    /** column → `$S` template / constant SQL. */
    insertExpressions: Map[String, String] = Map.empty,
    updateOnly: Boolean = false,
    insertOnly: Boolean = false,
    /** (targetColumn, sourceColumn): write target value back to source. */
    returnToSource: Seq[(String, String)] = Nil,
    /** insert-phase filters: `$S` templates on source columns; `$T`-
      * referencing constraints are dropped for this phase
      * (record_merger.rb:111-116 — intended semantics, without the
      * reference's destructive list mutation, SURVEY §7.5). */
    insertConstraints: Seq[MatchConstraint] = Nil)

/** Outputs of a merge. `matched` is the match join feeding all phases.
  * The CALLER owns every cache the merge created; call `unpersist()`
  * after the outputs have been evaluated (outputs evaluated later
  * recompute from the source). `caches` lists them:
  *  - the exact match, persisted by [[Matcher.stage]] when fuzzy columns
  *    follow it;
  *  - `matched`, persisted when more than one phase consumes it (upsert,
  *    or any mode with RETURNING);
  *  - the insert phase's distributed-rank frame (see
  *    `Merger.withDistributedRank`), unless update-only.
  * The fuzzy pass releases its own trigram-prep caches and pair
  * checkpoint before `merge` returns. */
final case class MergeResult(
    newTarget: DataFrame,
    updatedSource: DataFrame,
    matched: DataFrame,
    caches: Seq[DataFrame] = Nil) {
  /** Release every cache in `caches` (blocking=false). */
  def unpersist(): Unit = caches.foreach(_.unpersist())
}

object Merger {
  import Matcher.{SourceId, TargetId, MatchGroup}

  /** Columns of `source` that participate in the merge at all. */
  private def mergeableColumns(source: DataFrame, target: DataFrame,
                               spec: MergeSpec): Seq[String] = {
    val tCols = target.columns.toSet
    source.columns.toSeq
      .filter(tCols.contains)
      .filterNot(spec.excludedColumns.contains)
      .filterNot(Seq(SourceId, TargetId, MatchGroup).contains)
      .filterNot(_ == spec.matchSpec.targetPk)
  }

  /**
   * Global 1-based rank of every row by `orderCol`, computed WITHOUT a
   * single-partition window (the classic insert-pk scale-killer: a
   * global `Window.orderBy` funnels every row through one task).
   * Two-pass distributed dense rank instead:
   *   1. range-repartition + sort within partitions by `orderCol`, so
   *      partition i holds a contiguous ordered slice;
   *   2. stamp `monotonically_increasing_id` (partitionId << 33 | local
   *      offset) and persist — the barrier guarantees the offset
   *      collection and the final projection see the SAME partition
   *      layout (range boundaries come from sampling, so an unpersisted
   *      plan could re-sample between jobs);
   *   3. count each partition's rows in the job that fills the cache
   *      (one `mapPartitions` collect of ≤ numPartitions numbers, no
   *      aggregate exchange), prefix-sum them into partition base
   *      offsets, and broadcast-join the offsets back.
   * rank = partitionBase + localOffset + 1 equals the global
   * row_number by `orderCol` regardless of where sampling placed the
   * boundaries, because partitions are ordered and internally sorted.
   * Adds `rankCol` = `base` + rank (LongType).
   */
  private[graft] def withDistributedRank(df: DataFrame, orderCol: String,
                                         rankCol: String, base: Long): DataFrame =
    rankWithCache(df, orderCol, rankCol, base)._1

  /** [[withDistributedRank]] plus the persisted ranged frame its result
    * reads, for callers that release it. */
  private def rankWithCache(df: DataFrame, orderCol: String, rankCol: String,
                            base: Long): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    val nParts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val LocalMask = (1L << 33) - 1
    val ranged = df
      .repartitionByRange(nParts, col(orderCol).asc)
      .sortWithinPartitions(col(orderCol).asc)
      .withColumn("__mono", monotonically_increasing_id())
      .persist()
    import spark.implicits._
    // partition i's ids are (i << 33) + local offset: its first id names
    // it, and its row count is all the offsets need
    val parts = ranged.select(col("__mono")).as[Long].mapPartitions { it =>
      if (it.hasNext) Iterator((it.next() >> 33, 1L + it.size)) else Iterator.empty
    }.collect().sortBy(_._1)
    val offsets = parts.scanLeft(0L)(_ + _._2).init
    val offDf = parts.map(_._1).zip(offsets).toSeq.toDF("__pid", "__off")
    val ranked = ranged
      .withColumn("__pid", shiftright(col("__mono"), 33))
      .join(broadcast(offDf), Seq("__pid"))
      .withColumn(rankCol,
        lit(base) + col("__off") + col("__mono").bitwiseAND(LocalMask) + 1)
      .drop("__pid", "__mono", "__off")
    (ranked, ranged)
  }

  /**
   * The M1 update, shared by merge and dedup (record_merger.rb:118-136;
   * dedup_driver.rb:65-82 folds duplicates the same way): the row of
   * `rows` with the smallest `pick` per `rowKey` is folded into the
   * `base` row whose `baseKey` equals it. Each `base` column is routed
   * through, later entries winning: `copies` (the row's value),
   * `spec.columnMap` (base's old value of another column), then
   * `spec.mergeExpressions` (`$S` = the row's value, `$T` = base's).
   * Unrouted columns and unmatched base rows keep base's values; the
   * result has `base`'s columns in `base`'s order.
   *
   * The best row is a `min_by` AGGREGATE, not a per-key window: an
   * aggregate gets map-side partial combine, so a hot key (millions of
   * rows folding into one base row) reduces in parallel instead of
   * funneling its whole window partition through one task. `pick` is
   * unique among `rows`, so the winner is well-defined (Postgres
   * UPDATE..FROM picks an arbitrary one; SURVEY §7.4). The aggregate
   * carries only the columns the routes read from the row (`copies` and
   * the `mergeExpressions` columns), or `pick` alone when there are none
   * (a struct needs a field): Catalyst does not prune struct fields
   * through `min_by`.
   */
  private[operators] def fold(base: DataFrame, baseKey: String, rows: DataFrame,
                              rowKey: String, pick: String, spec: MergeSpec,
                              copies: Seq[String]): DataFrame = {
    val routed = (copies ++ spec.mergeExpressions.keys).distinct
      .filter(c => c != rowKey && rows.columns.contains(c))
    val carried = if (routed.isEmpty) Seq(pick) else routed
    val best = rows
      .groupBy(col(rowKey))
      .agg(min_by(struct(carried.map(col): _*), col(pick)).as("__best"))
      .select(col(rowKey) +: carried.map(c => col(s"__best.$c").as(c)): _*)
    val joined = base.as("t").join(best.as("s"),
      col(s"t.$baseKey") === col(s"s.$rowKey"), "left")
    val hit = col(s"s.$rowKey").isNotNull
    val routes: Map[String, Column] =
      copies.map(c => c -> col(s"s.$c")).toMap ++
        spec.columnMap.map { case (src, dst) => dst -> col(s"t.$src") } ++
        spec.mergeExpressions.map { case (c, tpl) =>
          c -> Template.toColumn(tpl, Some(s"s.$c"), Some(s"t.$c")) }
    joined.select(base.columns.map { c =>
      routes.get(c) match {
        case Some(v) => when(hit, v).otherwise(col(s"t.$c")).as(c)
        case None    => col(s"t.$c").as(c)
      }
    }.toIndexedSeq: _*)
  }

  /**
   * Run match + merge. `source` must be conformed; `target` is the
   * current target table state. Returns the new target, the source with
   * RETURNING write-backs applied, and the matched working source (for
   * audits).
   */
  def merge(source: DataFrame, target: DataFrame, spec: MergeSpec): MergeResult = {
    val ms = spec.matchSpec
    val pk = ms.targetPk
    val staged = Matcher.stage(source, target, ms)
    val withId = staged.source
    // Persist ONLY when >1 phase consumes the match join — without the
    // barrier the source×target shuffle join would run once per
    // consumer. updateOnly/insertOnly without RETURNING have exactly
    // one consumer and skip the cache (no InMemoryRelation in the
    // plan). Caller owns any cache created here: MergeResult.unpersist().
    val returningUses =
      if (spec.returnToSource.isEmpty) 0
      else (if (spec.insertOnly) 0 else 1) + (if (spec.updateOnly) 0 else 1)
    val nConsumers =
      (if (spec.insertOnly) 0 else 1) +   // update phase: best-per-target
      (if (spec.updateOnly) 0 else 1) +   // insert phase: unmatched set
      returningUses                       // write-back key maps
    val matched =
      if (nConsumers > 1) staged.matched.persist() else staged.matched
    val matchCaches = staged.caches ++ (if (nConsumers > 1) Seq(matched) else Nil)

    val corr = mergeableColumns(withId, target, spec)

    // ---- UPDATE phase (M1) -------------------------------------------
    val newTargetUpdated =
      if (spec.insertOnly) target
      else fold(target, pk, matched.filter(col(TargetId).isNotNull), TargetId,
        SourceId, spec, corr.filterNot(spec.preservedColumns.contains))

    // ---- INSERT phase (M2) -------------------------------------------
    val unmatched0 = matched.filter(col(TargetId).isNull)
    val unmatched = spec.insertConstraints
      .filterNot(c => Template.referencesTarget(c.template))
      .foldLeft(unmatched0) { (df, c) =>
        df.filter(Template.toColumn(c.template, Some(c.column)))
      }

    val (newTarget, insertedKeyMap, rankCache) =
      if (spec.updateOnly) (newTargetUpdated, None, None)
      else {
        // fresh pks: max(existing) + global rank by source id —
        // deterministic and unique; the max is observed on one scan of
        // the target's pk column.
        val maxPk = Dispatch.scanOnce(target, max(col(pk)).cast("long"))
        val base = if (maxPk.isNullAt(0)) 0L else maxPk.getLong(0)
        val (ranked, ranged) = rankWithCache(unmatched, SourceId, "__new_pk", base)
        val withPk = ranked.withColumn("__new_pk",
          col("__new_pk").cast(target.schema(pk).dataType))
        val insertVals: Map[String, Column] = {
          val exprs = spec.insertExpressions.map { case (c, tpl) =>
            c -> Template.toColumn(tpl, Some(c))
          }
          val copies = (corr ++ spec.preservedColumns).distinct
            .filterNot(exprs.contains)
            .map(c => c -> col(c)).toMap
          exprs ++ copies
        }
        val projected = target.columns.map { c =>
          if (c == pk) col("__new_pk").as(c)
          else insertVals.get(c) match {
            case Some(v) => v.cast(newTargetUpdated.schema(c).dataType).as(c)
            case None    => lit(null).cast(newTargetUpdated.schema(c).dataType).as(c)
          }
        }
        val inserted = withPk.select((projected :+ col(SourceId).as("__src_id")).toIndexedSeq: _*)
        (newTargetUpdated.unionByName(inserted.drop("__src_id")),
          Some(inserted.select(col("__src_id").as(SourceId), col(pk).as("__ret_pk"))),
          Some(ranged))
      }

    // ---- RETURNING write-back (M4) -----------------------------------
    // The reference's RETURNING yields the POST-merge row
    // (record_merger.rb:70-80,97-107): matched rows are addressed by
    // their match key, inserted rows by their generated pk. Any target
    // column can be returned, not just the pk. Mode rules follow the
    // suppressed phases: update_only writes back only for matched rows,
    // insert_only only for inserts.
    val updatedSource: DataFrame =
      if (spec.returnToSource.isEmpty) withId
      else {
        // every source row with its post-merge target key, read off the
        // (persisted) match: the match key unless insert-only, else the
        // generated pk — disjoint, since inserts come from the unmatched
        val matchKey =
          if (spec.insertOnly) lit(null).cast(target.schema(pk).dataType)
          else col(TargetId)
        val keyed0 = matched.select(
          withId.columns.map(col).toIndexedSeq :+ matchKey.as("__ret_key"): _*)
        val keyed = insertedKeyMap.fold(keyed0) { ins =>
          keyed0.join(ins, Seq(SourceId), "left")
            .withColumn("__ret_key", coalesce(col("__ret_key"), col("__ret_pk")))
        }
        // the key IS the returned pk; other returned columns are read
        // from newTarget
        val viaTarget = spec.returnToSource.map(_._1).distinct.filter(_ != pk)
        val src =
          if (viaTarget.isEmpty) keyed
          else keyed.join(
            newTarget.select(col(pk).as("__tv_key") +:
              viaTarget.map(c => col(c).as(s"__tv_$c")): _*),
            col("__ret_key") === col("__tv_key"), "left")
        val outCols = withId.columns.map { c =>
          spec.returnToSource.find(_._2 == c) match {
            case Some((tcol, _)) =>
              val v = if (viaTarget.contains(tcol)) col(s"__tv_$tcol") else col("__ret_key")
              coalesce(v, col(c)).cast(withId.schema(c).dataType).as(c)
            case None => col(c)
          }
        }
        src.select(outCols.toIndexedSeq: _*)
      }

    MergeResult(newTarget, updatedSource, matched, matchCaches ++ rankCache)
  }
}
