package graft

import org.apache.spark.sql.functions._
import graft.operators._

class MatcherMergerSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    (1L, "alice", "NY", 10.0),
    (2L, "bob", "LA", 20.0),
    (3L, "carol", "NY", 30.0),
    (4L, "dave", "SF", 40.0)
  ).toDF("id", "name", "city", "bal")

  private def source = Seq(
    (100L, "alice", "LA", 1.0),  // g1 match on name → 1
    (101L, "bob", "LA", 2.0),    // g1 match → 2
    (102L, "zed", "NY", 3.0),    // g2 match on city → 1 (min pk of NY)
    (103L, "nobody", "XX", 4.0)  // unmatched
  ).toDF("working_source_id", "name", "city", "bal")

  private val spec = MatchSpec(
    groups = Seq(ExactGroup.onColumns("name"), ExactGroup.onColumns("city")),
    targetPk = "id")

  test("first-match-wins precedence with min-pk tiebreak") {
    val m = Matcher.matchRecords(source, target, spec)
      .select("working_source_id", "working_target_id",
        "working_exact_match_group")
      .as[(Long, Option[Long], Option[Int])].collect()
      .map { case (k, v, g) => k -> ((v, g)) }.toMap
    assert(m(100L) == (Some(1L), Some(1)))  // name beats city
    assert(m(101L) == (Some(2L), Some(1)))
    assert(m(102L) == (Some(1L), Some(2)))  // NY ties → min pk 1
    assert(m(103L) == (None, None))
  }

  test("theta constraints restrict a group") {
    val spec2 = MatchSpec(
      groups = Seq(ExactGroup(Seq(KeyPair("name", "name")),
        constraints = Seq(MatchConstraint("bal", "$T > 15")))),
      targetPk = "id")
    val m = Matcher.matchRecords(source, target, spec2)
      .filter(col("working_target_id").isNotNull)
      .select("working_source_id").as[Long].collect().toSet
    assert(m == Set(101L)) // alice's target bal=10 fails $T > 15
  }

  test("merge update+insert: row conservation and routing") {
    val res = Merger.merge(source, target, MergeSpec(
      matchSpec = spec,
      mergeExpressions = Map("bal" -> "$T + $S"),
      preservedColumns = Seq("city")))
    val out = res.newTarget.orderBy("id").collect()
    // |target'| = |target| + |unmatched source|
    assert(out.length == 4 + 1)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getDouble(3) == 10.0 + 1.0)  // merged bal (alice)
    assert(byId(1L).getString(2) == "NY")        // preserved city
    assert(byId(1L).getString(1) == "alice")
    assert(byId(4L).getDouble(3) == 40.0)        // untouched
    assert(byId(5L).getString(1) == "nobody")    // inserted, fresh pk max+1
  }

  test("update_only and insert_only modes") {
    val up = Merger.merge(source, target,
      MergeSpec(matchSpec = spec, updateOnly = true)).newTarget
    assert(up.count() == 4)
    val ins = Merger.merge(source, target,
      MergeSpec(matchSpec = spec, insertOnly = true)).newTarget
    assert(ins.count() == 5)
    // insert_only must not modify matched rows
    assert(ins.filter(col("id") === 1L).select("name")
      .as[String].head() == "alice")
  }

  test("returning write-back maps matched and inserted pks") {
    val src2 = source.withColumn("tgt_id", lit(null).cast("long"))
    val res = Merger.merge(src2, target, MergeSpec(
      matchSpec = spec,
      excludedColumns = Seq("tgt_id"),
      returnToSource = Seq(("id", "tgt_id"))))
    val m = res.updatedSource.select("working_source_id", "tgt_id")
      .as[(Long, Long)].collect().toMap
    assert(m(100L) == 1L && m(101L) == 2L && m(102L) == 1L)
    assert(m(103L) == 5L) // inserted pk = max(4) + 1
  }

  test("returning write-back supports non-pk target columns") {
    // source writes back the POST-merge target city (arbitrary column)
    val src2 = source.withColumn("city_from_target",
      lit(null).cast("string"))
    val res = Merger.merge(src2, target, MergeSpec(
      matchSpec = spec,
      excludedColumns = Seq("city_from_target"),
      preservedColumns = Seq("city"), // target keeps its own city
      returnToSource = Seq(("city", "city_from_target"))))
    val m = res.updatedSource
      .select("working_source_id", "city_from_target")
      .as[(Long, Option[String])].collect().toMap
    assert(m(100L).contains("NY"))  // alice's target city (preserved)
    assert(m(101L).contains("LA"))
    assert(m(103L).contains("XX"))  // inserted row: its own city landed
  }

  test("merge is idempotent on re-merge of matched keys") {
    // merging a source twice with update-only copy semantics yields the
    // same target when match keys aren't themselves overwritten
    // (name-only group: the copied columns don't feed the match)
    val spec2 = MergeSpec(
      matchSpec = MatchSpec(Seq(ExactGroup.onColumns("name")),
        targetPk = "id"),
      updateOnly = true)
    val once = Merger.merge(source, target, spec2).newTarget
    val twice = Merger.merge(source, once, spec2).newTarget
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("dedup folds duplicates into min-pk survivor and enforces invariants") {
    val t = Seq(
      (1L, "k1", 10.0), (2L, "k1", 20.0), (3L, "k1", 30.0),
      (4L, "k2", 40.0), (5L, "k3", 50.0)
    ).toDF("id", "k", "v")
    val res = Deduper.dedup(t, MergeSpec(
      matchSpec = MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"),
      mergeExpressions = Map("v" -> "$T + $S")))
    assert(res.reflexiveCount == 0 && res.symmetricCount == 0)
    val out = res.newTable.select("id", "v").as[(Long, Double)]
      .collect().toMap
    assert(out.keySet == Set(1L, 4L, 5L))
    assert(out(1L) == 10.0 + 20.0) // folds min-pk duplicate (id=2)
    assert(out(4L) == 40.0 && out(5L) == 50.0)
    assert(res.duplicates.count() == 2)
  }

  test("non-zero dedup invariants: audit counts them, dedup refuses") {
    val t = Seq((1L, "k"), (2L, "k"), (3L, "k"), (4L, "z")).toDF("id", "k")
    val spec = MergeSpec(matchSpec =
      MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"))
    def orient(tpl: String) = Some(MatchConstraint("id", tpl))
    // $T <= $S: 1, 2, 3 → 1 and 4 → 4; reflexive 1→1 and 4→4,
    // symmetric (2→1, 1→1) and (3→1, 1→1)
    assert(DedupAudit.audit(t, spec, orient("$T <= $S")) ==
      DedupAuditReport(4, Map(1 -> 4L), 2, 2))
    val refl = intercept[IllegalArgumentException](
      Deduper.dedup(t, spec, orient("$T <= $S")))
    assert(refl.getMessage.contains("2 reflexive matches"))
    val unchecked = Deduper.dedup(t, spec, orient("$T <= $S"),
      enforceInvariants = false)
    assert((unchecked.reflexiveCount, unchecked.symmetricCount) == ((2L, 2L)))
    unchecked.unpersist()
    // $T <> $S: 1 → 2, 2 → 1, 3 → 1, 4 unmatched; symmetric (1→2, 2→1),
    // (2→1, 1→2) and (3→1, 1→2)
    assert(DedupAudit.audit(t, spec, orient("$T <> $S")) ==
      DedupAuditReport(4, Map(1 -> 3L), 0, 3))
    val symm = intercept[IllegalArgumentException](
      Deduper.dedup(t, spec, orient("$T <> $S")))
    assert(symm.getMessage.contains("3 symmetric matches"))
  }

  test("single-consumer merges skip the match cache; unpersist clears it") {
    import org.apache.spark.storage.StorageLevel
    // CacheManager matches by canonical plan: earlier tests cached an
    // identical match plan, which would satisfy storageLevel lookups
    // here — start from a clean cache
    spark.catalog.clearCache()
    // updateOnly without RETURNING: one consumer → no persist, so the
    // newTarget plan contains no InMemoryRelation
    val up = Merger.merge(source, target,
      MergeSpec(matchSpec = spec, updateOnly = true))
    assert(up.matched.storageLevel == StorageLevel.NONE)
    assert(!up.newTarget.queryExecution.optimizedPlan.toString
      .contains("InMemoryRelation"))
    // insertOnly without RETURNING likewise
    val ins = Merger.merge(source, target,
      MergeSpec(matchSpec = spec, insertOnly = true))
    assert(ins.matched.storageLevel == StorageLevel.NONE)
    // full upsert: multi-consumer → persisted; unpersist() releases it
    val res = Merger.merge(source, target, MergeSpec(matchSpec = spec))
    assert(res.matched.storageLevel != StorageLevel.NONE)
    res.newTarget.write.format("noop").mode("overwrite").save()
    res.unpersist()
    assert(res.matched.storageLevel == StorageLevel.NONE)
  }

  test("merge loop leaves no lingering cache entries after unpersist") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // updateOnly + RETURNING: two consumers → the match IS persisted
    // each iteration, and (no insert phase) the loop creates no
    // separately-contracted distributed-rank cache — so after
    // unpersist() the persistent-RDD set must be exactly what it was
    val src2 = source.withColumn("tgt_id", lit(null).cast("long"))
    var tgt = target
    (1 to 3).foreach { _ =>
      val res = Merger.merge(src2, tgt, MergeSpec(
        matchSpec = spec, updateOnly = true,
        excludedColumns = Seq("tgt_id"),
        mergeExpressions = Map("bal" -> "$T + $S"),
        returnToSource = Seq(("id", "tgt_id"))))
      assert(res.matched.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE)
      res.newTarget.write.format("noop").mode("overwrite").save()
      res.updatedSource.write.format("noop").mode("overwrite").save()
      tgt = res.newTarget
      res.unpersist()
    }
    assert(tgt.count() == 4)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)

    // fuzzy upsert with RETURNING: the staged exact match, the match,
    // the distributed rank, and the fuzzy pass's trigram preps and pair
    // checkpoint must all be gone after unpersist()
    val fuzzySpec = MergeSpec(
      matchSpec = spec.copy(fuzzyColumns = Seq("name")),
      excludedColumns = Seq("tgt_id"),
      returnToSource = Seq(("id", "tgt_id")))
    val typo = src2.union(Seq((104L, "davey", "XX", 5.0))
      .toDF("working_source_id", "name", "city", "bal")
      .withColumn("tgt_id", lit(null).cast("long")))
    (1 to 2).foreach { _ =>
      val res = Merger.merge(typo, target, fuzzySpec)
      res.newTarget.write.format("noop").mode("overwrite").save()
      res.updatedSource.write.format("noop").mode("overwrite").save()
      assert(res.matched.filter(col("working_exact_match_group") === 3)
        .count() == 1) // davey → dave
      res.unpersist()
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    }
  }

  test("merge audit reports per-group rates without mutation") {
    val rep = MergeAudit.audit(source, target, MergeSpec(matchSpec = spec))
    assert(rep.totalCount == 4)
    assert(rep.groupCounts == Map(1 -> 2, 2 -> 1))
    assert(math.abs(rep.matchRate - 0.75) < 1e-9)
    // reference text face (merge_audit.rb:42-48): total line +
    // "<group>: <pct>% <count>" per group, numbers = the report fields
    val r = rep.render
    assert(r.startsWith("total source records      : 4 \n"))
    assert(r.contains("1: 50.00% 2 \n"))
    assert(r.contains("2: 25.00% 1 \n"))
    // dedup face appends an error line per violated invariant
    val bad = graft.operators.DedupAuditReport(4, Map(1 -> 2), 1, 2).render
    assert(bad.contains(
      "REFLEXIVE MERGE ERROR: 1 records are flagged as their own duplicate."))
    assert(bad.contains("SYMMETRIC MERGE ERROR: 2 records are flagged " +
      "as both a duplicate and original."))
    val clean = graft.operators.DedupAuditReport(4, Map(1 -> 2), 0, 0).render
    assert(!clean.contains("ERROR"))
  }
}
