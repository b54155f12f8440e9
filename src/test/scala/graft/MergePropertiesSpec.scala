package graft

import org.apache.spark.sql.DataFrame
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
    // random specs against a brute-force per-row reference, with the key
    // tables broadcast and shuffled
    Seq("10485760", "-1").foreach { threshold =>
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        (1 to 2 * Rounds).foreach(r => randomSpecRound(r, threshold))
      }
    }
  }

  private type Tgt = (Option[Long], Option[String], Option[Int], Option[Double], Int)
  private type Src = (Long, Option[String], Option[Int], Option[Double], Option[Long])

  // one group's pool: its keys, constraints of each kind (`$S` only,
  // `$T` only, the pk orientation, a theta) and an aux join on t.a
  private val sOnly = MatchConstraint("v", "$S > 4")
  private val tOnly = MatchConstraint("v", "$T >= 3")
  private val oriented = MatchConstraint("id", "$T < $S")
  private val theta = MatchConstraint("v", "$T <> $S")

  /** One random round: source and target rows (null keys, null and
    * duplicate pks), the aux table's flags and a spec of 1-3 groups. */
  private final case class RandomRound(s: Seq[Src], t: Seq[Tgt], auxOk: Seq[Boolean],
                                       groups: Seq[ExactGroup], spec: MatchSpec) {
    def source: DataFrame = s.toDF(Matcher.SourceId, "k", "k2", "v", "id")
    def target: DataFrame = t.toDF("id", "k", "k2", "v", "a")
  }

  /** The aux table: row `a` carries flag `auxOk(a)`. */
  private def auxTable(auxOk: Seq[Boolean]): DataFrame =
    auxOk.zipWithIndex.map { case (ok, a) => (a, ok) }.toDF("a", "ok")

  private def opt[A](g: Gen[A], nulls: Int = 1): Gen[Option[A]] =
    Gen.frequency(5 -> g.map(Some(_)), nulls -> Gen.const(None))

  /** A target row: duplicate and null pks, null keys, `k2` in 0 to
    * `k2Max` and the aux key `a` in 0 to `aMax`. */
  private def genTgt(k2Max: Int, aMax: Int): Gen[Tgt] = for {
    id <- opt(Gen.choose(1L, 12L))
    k <- opt(Gen.choose(0, 4).map(i => s"k$i"))
    k2 <- opt(Gen.choose(0, k2Max))
    v <- opt(Gen.choose(0, 9).map(_.toDouble))
    a <- Gen.choose(0, aMax)
  } yield (id, k, k2, v, a)

  private def randomRound(r: Int): RandomRound = {
    val genT = genTgt(k2Max = 2, aMax = 3)
    val genS: Gen[Long => Src] = for {
      k <- opt(Gen.choose(0, 5).map(i => s"k$i"))
      k2 <- opt(Gen.choose(0, 2))
      v <- opt(Gen.choose(0, 9).map(_.toDouble))
      id <- opt(Gen.choose(0L, 14L))
    } yield (sid: Long) => (sid, k, k2, v, id)
    val genGroup: Gen[ExactGroup] = for {
      twoKeys <- Gen.oneOf(false, true)
      cs <- Gen.someOf(sOnly, tOnly, oriented, theta)
      aux <- Gen.oneOf(false, true)
    } yield ExactGroup(
      KeyPair("k", "k") +: (if (twoKeys) Seq(KeyPair("k2", "k2")) else Nil),
      cs.toSeq,
      if (aux) Seq(AuxJoin(null, "x", "t.a = x.a AND x.ok")) else Nil)
    val t = sample(Gen.listOfN(20, genT), 5000 + r)
    val s = sample(Gen.listOfN(20, genS), 6000 + r).zipWithIndex
      .map { case (f, i) => f(i.toLong) }
    val auxOk = sample(Gen.listOfN(4, Gen.oneOf(false, true)), 7000 + r)
    val groups = sample(Gen.choose(1, 3).flatMap(Gen.listOfN(_, genGroup)), 8000 + r)
    val auxDf = auxTable(auxOk)
    val spec = MatchSpec(groups.map(g =>
      g.copy(auxJoins = g.auxJoins.map(_.copy(df = auxDf)))), targetPk = "id")
    RandomRound(s, t, auxOk, groups, spec)
  }

  private def randomSpecRound(r: Int, label: String): Unit = {
    val rr = randomRound(r)
    val RandomRound(s, t, auxOk, groups, spec) = rr

    // brute force: SQL's three-valued logic, a null counting as false
    def holds(c: MatchConstraint, src: Src, tgt: Tgt): Boolean = c match {
      case `sOnly`    => src._4.exists(_ > 4)
      case `tOnly`    => tgt._4.exists(_ >= 3)
      case `oriented` => tgt._1.zip(src._5).exists { case (a, b) => a < b }
      case `theta`    => tgt._4.zip(src._4).exists { case (a, b) => a != b }
    }
    def keysMatch(g: ExactGroup, src: Src, tgt: Tgt): Boolean =
      src._2.isDefined && src._2 == tgt._2 &&
        (g.keys.size == 1 || (src._3.isDefined && src._3 == tgt._3))
    def expected(src: Src): (Option[Long], Option[Int]) =
      groups.zipWithIndex.iterator.map { case (g, i) =>
        val cands = t.filter(tgt => (g.auxJoins.isEmpty || auxOk(tgt._5)) &&
          keysMatch(g, src, tgt) && g.constraints.forall(holds(_, src, tgt)))
        // a null pk sorts first, as in the staged loop
        if (cands.isEmpty) None
        else Some((if (cands.exists(_._1.isEmpty)) None
          else Some(cands.flatMap(_._1).min), Some(i + 1)))
      }.collectFirst { case Some(hit) => hit }.getOrElse((None, None))

    val source = rr.source
    val out = Matcher.matchRecords(source, rr.target, spec)
    assert(out.columns.toSeq == source.columns.toSeq ++
      Seq(Matcher.TargetId, Matcher.MatchGroup), s"$label round $r")
    val got = out.select(Matcher.SourceId, Matcher.TargetId, Matcher.MatchGroup)
      .as[(Long, Option[Long], Option[Int])].collect()
    assert(got.length == s.size, s"$label round $r: ${got.length} rows")
    val bySid = got.map { case (sid, tid, g) => sid -> ((tid, g)) }.toMap
    s.foreach { src =>
      assert(bySid(src._1) == expected(src),
        s"$label round $r source $src groups ${groups.mkString("; ")}")
    }
  }

  test("a self-match equals a brute-force self-match, in the audit and the dedup") {
    // distinct tables under the broadcast and the shuffled key tables
    val rounds = 10
    Seq("10485760" -> 0, "-1" -> rounds).foreach { case (threshold, from) =>
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        (from + 1 to from + rounds).foreach(r => selfMatchRound(r, threshold))
      }
    }
  }

  /** One random table of 24 rows (null keys, null and duplicate pks)
    * matched against itself through [[DedupAudit]] and [[Deduper.dedup]],
    * each row's target and group checked against a brute-force
    * self-match under the default orientation. The round's first group
    * cycles through the kinds a key table may or may not drop keys for:
    * same-name keys (pruned), a `$T`-only filter, an aux join, an FK
    * pair `k2 = a`, a theta; 0-1 random groups follow it. */
  private def selfMatchRound(r: Int, label: String): Unit = {
    val t = sample(Gen.listOfN(24, genTgt(k2Max = 5, aMax = 5)), 9000 + r)
    val auxOk = sample(Gen.listOfN(6, Gen.oneOf(false, true)), 9100 + r)
    val aux = AuxJoin(auxTable(auxOk), "x", "t.a = x.a AND x.ok")
    val same = Seq(Seq(KeyPair("k", "k")), Seq(KeyPair("k", "k"), KeyPair("k2", "k2")))
    val fk = Seq(Seq(KeyPair("k2", "a")), Seq(KeyPair("k", "k"), KeyPair("k2", "a")))
    val sometimes = Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    def group(keys: Seq[Seq[KeyPair]], fixed: Seq[MatchConstraint],
              optional: Seq[MatchConstraint], withAux: Gen[Boolean]): Gen[ExactGroup] =
      for (ks <- Gen.oneOf(keys); cs <- Gen.someOf(optional); x <- withAux)
        yield ExactGroup(ks, fixed ++ cs, if (x) Seq(aux) else Nil)
    val first = Seq(
      group(same, Nil, Seq(sOnly), Gen.const(false)),
      group(same, Seq(tOnly), Nil, Gen.const(false)),
      group(same, Nil, Nil, Gen.const(true)),
      group(fk, Nil, Seq(sOnly), Gen.const(false)),
      group(same ++ fk, Seq(theta), Seq(sOnly, tOnly), sometimes))(r % 5)
    val any = group(same ++ fk, Nil, Seq(sOnly, tOnly, theta), sometimes)
    val groups = sample(for (g <- first; n <- Gen.choose(0, 1); rest <- Gen.listOfN(n, any))
      yield g +: rest, 9200 + r)
    val spec = MergeSpec(MatchSpec(groups, targetPk = "id"))

    def column(row: Tgt, c: String): Option[Any] = c match {
      case "k"  => row._2
      case "k2" => row._3
      case "a"  => Some(row._5)
    }
    def holds(c: MatchConstraint, src: Tgt, tgt: Tgt): Boolean = c match {
      case `sOnly`    => src._4.exists(_ > 4)
      case `tOnly`    => tgt._4.exists(_ >= 3)
      case `oriented` => tgt._1.zip(src._1).exists { case (a, b) => a < b }
      case `theta`    => tgt._4.zip(src._4).exists { case (a, b) => a != b }
    }
    // the first group with a candidate: its min pk and 1-based index
    def expected(src: Tgt): Option[(Long, Int)] =
      groups.zipWithIndex.iterator.map { case (g, i) =>
        val cands = t.filter(tgt => (g.auxJoins.isEmpty || auxOk(tgt._5)) &&
          g.keys.forall(k => column(src, k.sourceKey).isDefined &&
            column(src, k.sourceKey) == column(tgt, k.targetKey)) &&
          (g.constraints :+ oriented).forall(holds(_, src, tgt)))
        if (cands.isEmpty) None else Some((cands.flatMap(_._1).min, i + 1))
      }.collectFirst { case Some(hit) => hit }
    val want = t.indices.flatMap(i => expected(t(i)).map(i -> _)).toMap
    val symmetric = want.toSeq.map { case (i, (tid, _)) =>
      want.keys.count(j => t(j)._1.contains(tid) && t(j)._1 != t(i)._1) }.sum
    val report = DedupAuditReport(t.size,
      want.values.groupBy(_._2).map { case (g, hits) => g -> hits.size.toLong },
      0, symmetric.toLong)

    val what = s"$label round $r groups ${groups.mkString("; ")}"
    val table = t.zipWithIndex.map { case ((id, k, k2, v, a), i) => (i, id, k, k2, v, a) }
      .toDF("row", "id", "k", "k2", "v", "a")
    assert(DedupAudit.audit(table, spec) == report, what)
    val res = Deduper.dedup(table, spec, enforceInvariants = false)
    try {
      assert((res.reflexiveCount, res.symmetricCount) == ((0L, report.symmetricCount)), what)
      val got = res.duplicates.select("row", Matcher.TargetId, Matcher.MatchGroup)
        .as[(Int, Long, Int)].collect()
      assert(got.length == want.size, what)
      assert(got.map { case (i, tid, g) => i -> ((tid, g)) }.toMap == want, what)
    } finally res.unpersist()
  }

  test("the merge and dedup audits equal what merge and dedup read off their match") {
    import org.apache.spark.sql.functions.col
    import Matcher.{TargetId, MatchGroup}
    def groupCounts(m: DataFrame): Map[Int, Long] =
      m.filter(col(MatchGroup).isNotNull).groupBy(MatchGroup).count()
        .as[(Int, Long)].collect().toMap
    (1 to Rounds).foreach { r =>
      val rr = randomRound(r)
      val spec = MergeSpec(rr.spec)
      val audit = MergeAudit.audit(rr.source, rr.target, spec)
      val merged = Merger.merge(rr.source, rr.target, spec)
      try assert(audit == MergeAuditReport(merged.matched.count(),
        groupCounts(merged.matched)), s"merge round $r: ${rr.groups.mkString("; ")}")
      finally merged.unpersist()
      // the table matched against itself; the invariants are not enforced,
      // so a violating round still reports them
      val orientation = Some(Deduper.defaultOrientation("id"))
      val table = rr.target
      val dedupAudit = DedupAudit.audit(table, spec, orientation)
      val deduped = Deduper.dedup(table, spec, orientation, enforceInvariants = false)
      try assert(dedupAudit == DedupAuditReport(table.count(),
        groupCounts(deduped.duplicates), deduped.reflexiveCount,
        deduped.symmetricCount), s"dedup round $r: ${rr.groups.mkString("; ")}")
      finally deduped.unpersist()
      assert(deduped.duplicates.filter(col(TargetId).isNull).isEmpty)
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

  test("dedup treats null keys as non-matching (like the join)") {
    val table = Seq(
      (1L, Some("k"), 1.0), (2L, Some("k"), 2.0),
      (3L, None, 3.0), (4L, None, 4.0) // null keys: never duplicates
    ).toDF("id", "k", "v")
    val spec = MergeSpec(matchSpec =
      MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"))
    val implicitOrientation = Deduper.dedup(table, spec)
    val explicitOrientation = Deduper.dedup(table, spec,
      orientation = Some(Deduper.defaultOrientation("id")))
    assert(implicitOrientation.newTable.select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L))
    assert(explicitOrientation.newTable.select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 4L))
  }

  test("dedup keeps null-pk rows (join semantics)") {
    val table = Seq(
      (Some(1L), "k", 1.0), (Some(2L), "k", 2.0), (None, "k", 3.0)
    ).toDF("id", "k", "v")
    val spec = MergeSpec(matchSpec =
      MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"))
    val res = Deduper.dedup(table, spec)
    // null-pk row is neither a duplicate nor dropped
    assert(res.newTable.count() == 2)
    assert(res.newTable.filter($"id".isNull).count() == 1)
    assert(res.duplicates.count() == 1)
  }

  // Duplicate pks: a pk is a duplicate when any row holding it is, so a
  // single equality group under the default orientation is no proof that
  // the invariants are zero.
  private val dupPkSpec = MergeSpec(matchSpec =
    MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"))

  test("dedup with duplicate pks drops every row of a duplicate pk (q_dedup's NOT IN)") {
    val rows = Seq((5L, "a"), (3L, "a"), (5L, "b"), (7L, "c"), (8L, "c"))
    val table = rows.toDF("id", "k")
    val res = Deduper.dedup(table, dupPkSpec)
    try {
      assert(res.reflexiveCount == 0 && res.symmetricCount == 0)
      // the oracle's dup: rows whose key's min pk is below their own pk
      val minPk = rows.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._1).min }
      val dupPks = rows.filter { case (id, k) => minPk(k) < id }.map(_._1).toSet
      assert(dupPks == Set(5L, 8L))
      val expect = rows.filterNot { case (id, _) => dupPks(id) }.toSet
      assert(res.newTable.as[(Long, String)].collect().toSet == expect)
      assert(res.newTable.columns sameElements table.columns)
      assert(res.duplicates.select("id").as[Long].collect().toSet == dupPks)
    } finally res.unpersist()
  }

  test("dedup with duplicate pks refuses a survivor that is also a duplicate") {
    // 5 -> 2 on key a, 2 -> 1 on key b: pk 2 survives and is a duplicate
    val table = Seq((2L, "a"), (5L, "a"), (2L, "b"), (1L, "b")).toDF("id", "k")
    assert(DedupAudit.audit(table, dupPkSpec).symmetricCount == 1)
    val e = intercept[IllegalArgumentException](Deduper.dedup(table, dupPkSpec))
    assert(e.getMessage.contains("1 symmetric matches"))
    val res = Deduper.dedup(table, dupPkSpec, enforceInvariants = false)
    try assert(res.reflexiveCount == 0 && res.symmetricCount == 1)
    finally res.unpersist()
  }
}
