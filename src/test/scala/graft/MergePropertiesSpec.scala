package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators._

/**
 * Merge/dedup invariants from SURVEY.md §5, property-checked over
 * ScalaCheck-generated relations (deterministic seeds — scalatestplus
 * isn't on the offline classpath, so generators are sampled directly):
 *  - row conservation: |target'| = |target| + |unmatched source|
 *  - pk preservation: update never loses a pre-existing pk; inserted
 *    pks are fresh and unique
 *  - first-match-wins: a row matched by group i is never taken by j > i
 *  - dedup: reflexive/symmetric invariants hold and survivors are
 *    exactly the per-key min pks
 */
class MergePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val genTarget: Gen[Seq[(Long, String, Double)]] = for {
    n <- Gen.choose(1, 25)
    keys <- Gen.listOfN(n, Gen.choose(0, 9))
  } yield keys.zipWithIndex.map { case (k, i) =>
    (i.toLong + 1, s"k$k", i * 1.0)
  }

  private val genSource: Gen[Seq[(Long, String, Double)]] = for {
    n <- Gen.choose(1, 25)
    keys <- Gen.listOfN(n, Gen.choose(0, 14)) // some keys miss the target
  } yield keys.zipWithIndex.map { case (k, i) =>
    (100L + i, s"k$k", i * 2.0)
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val Rounds = 6

  test("merge conserves rows and preserves/extends the pk set") {
    (1 to Rounds).foreach { r =>
      val t = sample(genTarget, r)
      val s = sample(genSource, 1000 + r)
      val target = t.toDF("id", "k", "v")
      val source = s.toDF("working_source_id", "k", "v")
      val spec = MergeSpec(matchSpec =
        MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"))
      val res = Merger.merge(source, target, spec)
      val matched = res.matched.filter($"working_target_id".isNotNull).count()
      val unmatched = s.size - matched
      val out = res.newTarget.select("id").as[Long].collect()
      assert(out.length == t.size + unmatched, s"round $r")
      assert(out.distinct.length == out.length, s"round $r: pks not unique")
      assert(t.map(_._1).toSet.subsetOf(out.toSet),
        s"round $r: original pks lost")
    }
  }

  test("first-match-wins: group index is the min over matching groups") {
    (1 to Rounds).foreach { r =>
      val t = sample(genTarget, 50 + r)
      val s = sample(genSource, 2000 + r)
      val target = t.toDF("id", "k", "v")
      val source = s.toDF("working_source_id", "k", "v")
      // group 1: k equality AND target v >= 5; group 2: plain k equality
      val spec = MatchSpec(
        groups = Seq(
          ExactGroup(Seq(KeyPair("k", "k")),
            constraints = Seq(MatchConstraint("v", "$T >= 5"))),
          ExactGroup.onColumns("k")),
        targetPk = "id")
      val m = Matcher.matchRecords(source, target, spec)
        .select("working_source_id", "working_exact_match_group")
        .as[(Long, Option[Int])].collect().toMap
      val tByK = t.groupBy(_._2)
      s.foreach { case (sid, k, _) =>
        val cands = tByK.getOrElse(k, Nil)
        val expect =
          if (cands.exists(_._3 >= 5)) Some(1)
          else if (cands.nonEmpty) Some(2)
          else None
        assert(m(sid) == expect, s"round $r source $sid key $k")
      }
    }
  }

  test("pk write-back from the key map equals the newTarget-join formula") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    (1 to 4).foreach { r =>
      val t = sample(genTarget, 400 + r)
      val s = sample(genSource, 3000 + r)
      val target = t.toDF("id", "k", "v")
      val source = s.toDF("working_source_id", "k", "v")
        .withColumn("ret", lit(-1L)).withColumn("ret_v", lit(-1.0))
      val maxPk = t.map(_._1).max
      Seq("upsert" -> MergeSpec(matchSpec = null),
        "update-only" -> MergeSpec(matchSpec = null, updateOnly = true),
        "insert-only" -> MergeSpec(matchSpec = null, insertOnly = true)
      ).foreach { case (mode, m) =>
        val spec = m.copy(
          matchSpec = MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"),
          excludedColumns = Seq("ret", "ret_v"),
          mergeExpressions = Map("v" -> "$T + $S"),
          returnToSource = Seq("id" -> "ret"))
        val res = Merger.merge(source, target, spec)
        // the former formula: every source row's post-merge key (match
        // key, or the pk of its insert, found by its copied unique v),
        // looked up in newTarget
        val matchKeys =
          if (spec.insertOnly) Seq.empty[(Long, Long)].toDF("sid", "key")
          else res.matched.filter(col("working_target_id").isNotNull)
            .select(col("working_source_id").as("sid"), col("working_target_id").as("key"))
        val insertKeys = res.newTarget.filter(col("id") > maxPk)
          .join(source.select(col("working_source_id").as("sid"), col("v")), Seq("v"))
          .select(col("sid"), col("id").as("key"))
        val former = source
          .join(matchKeys.union(insertKeys),
            col("working_source_id") === col("sid"), "left")
          .join(res.newTarget.select(col("id").as("tv")),
            col("key") === col("tv"), "left")
          .select(col("working_source_id"), coalesce(col("tv"), col("ret")).as("ret"))
        val got = res.updatedSource.select("working_source_id", "ret")
        assert(got.count() == s.size, s"round $r $mode")
        assert(got.exceptAll(former).isEmpty && former.exceptAll(got).isEmpty,
          s"round $r $mode")
        res.unpersist()
      }
      // a returned non-pk column still reads the post-merge target row
      val both = Merger.merge(source, target, MergeSpec(
        matchSpec = MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"),
        excludedColumns = Seq("ret", "ret_v"),
        mergeExpressions = Map("v" -> "$T + $S"),
        returnToSource = Seq("id" -> "ret", "v" -> "ret_v")))
      val wrong = both.updatedSource
        .join(both.newTarget.select(col("id"), col("v").as("tv")),
          col("ret") === col("id"), "left")
        .filter(col("tv").isNull || col("ret_v") =!= col("tv"))
      assert(wrong.isEmpty, s"round $r: non-pk write-back")
      both.unpersist()
    }
  }

  test("one-pass self-match report equals the count and self-join formulas") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import Matcher.{TargetId, MatchGroup}
    // the formulas the report replaces: a count, a group count, a
    // filter and the symmetric self-join (merge_audit_sql.rb:21-36)
    def reference(m: DataFrame): DedupAuditReport = DedupAuditReport(
      m.count(),
      m.filter(col(MatchGroup).isNotNull).groupBy(MatchGroup).count()
        .as[(Int, Long)].collect().toMap,
      m.filter(col(TargetId).isNotNull && col(TargetId) === col("id")).count(),
      m.as("s1").join(m.as("s2"),
        col(s"s1.$TargetId") === col("s2.id") &&
          col(s"s2.$TargetId").isNotNull &&
          col("s1.id") =!= col("s2.id")).count())
    // rows (pk, target, group): pks 0-5 with repeats and nulls; targets
    // drawn from the same range make self-matches and a→b→c chains
    val genRow: Gen[(Option[Long], Option[Long], Option[Int])] = for {
      pk <- Gen.frequency(5 -> Gen.choose(0L, 5L).map(Some(_)), 1 -> Gen.const(None))
      tgt <- Gen.frequency(3 -> Gen.choose(0L, 5L).map(Some(_)), 2 -> Gen.const(None))
      g <- Gen.choose(1, 3)
    } yield (pk, tgt, tgt.map(_ => g))
    val chain = Seq((Some(7L), Some(8L), Some(1)), (Some(8L), Some(9L), Some(2)),
      (Some(9L), None, None))
    val spec = MatchSpec(Seq.fill(3)(ExactGroup.onColumns("k")), targetPk = "id")
    val rounds = Seq(Nil) ++ (1 to Rounds).map(r =>
      chain ++ sample(Gen.listOfN(24, genRow), 700 + r))
    rounds.zipWithIndex.foreach { case (rows, r) =>
      val m = rows.toDF("id", TargetId, MatchGroup)
      assert(Matcher.selfMatchReport(m, spec) == reference(m), s"round $r")
    }
  }

  test("dedup: survivors are per-key min pks; invariants always 0") {
    (1 to Rounds).foreach { r =>
      val t = sample(genTarget, 90 + r)
      val table = t.toDF("id", "k", "v")
      val res = Deduper.dedup(table, MergeSpec(matchSpec =
        MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id")))
      assert(res.reflexiveCount == 0 && res.symmetricCount == 0)
      val survivors = res.newTable.select("id").as[Long].collect().toSet
      val expect = t.groupBy(_._2).values.map(_.map(_._1).min).toSet
      assert(survivors == expect, s"round $r")
    }
  }

  test("dedup fast path treats null keys as non-matching (like the join)") {
    val table = Seq(
      (1L, Some("k"), 1.0), (2L, Some("k"), 2.0),
      (3L, None, 3.0), (4L, None, 4.0) // null keys: never duplicates
    ).toDF("id", "k", "v")
    val spec = MergeSpec(matchSpec =
      MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"))
    val fast = Deduper.dedup(table, spec)
    val general = Deduper.dedup(table, spec,
      orientation = Some(Deduper.defaultOrientation("id")))
    assert(fast.newTable.select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L))
    assert(general.newTable.select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L))
  }

  test("dedup fast path keeps null-pk rows (join-semantics parity)") {
    val table = Seq(
      (Some(1L), "k", 1.0), (Some(2L), "k", 2.0), (None, "k", 3.0)
    ).toDF("id", "k", "v")
    val spec = MergeSpec(matchSpec =
      MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"))
    val fast = Deduper.dedup(table, spec)
    // null-pk row is neither a duplicate nor dropped
    assert(fast.newTable.count() == 2)
    assert(fast.newTable.filter($"id".isNull).count() == 1)
    assert(fast.duplicates.count() == 1)
  }

  test("dedup fast path and general (join) path agree") {
    (1 to Rounds).foreach { r =>
      val t = sample(genTarget, 300 + r)
      val table = t.toDF("id", "k", "v")
      val spec = MergeSpec(
        matchSpec = MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"),
        mergeExpressions = Map("v" -> "$T + $S"))
      val fast = Deduper.dedup(table, spec) // default orientation → fast
      val general = Deduper.dedup(table, spec, // explicit → general path
        orientation = Some(Deduper.defaultOrientation("id")))
      val a = fast.newTable.select("id", "k", "v")
      val b = general.newTable.select("id", "k", "v")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"round $r")
      assert(fast.duplicates.count() == general.duplicates.count(), s"round $r")
    }
  }
}
