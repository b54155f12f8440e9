package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** End-to-end fuzzy path THROUGH the merge planner (MatchSpec.fuzzyColumns)
  * and the nested-matcher splice (J5) — the integration seams the
  * per-operator specs don't cross. */
class FuzzyMergeSpec extends SparkSpec {
  import spark.implicits._

  test("merge with fuzzy fallback matches exact first, fuzzy second") {
    val target = Seq(
      (1L, "alice cooper", 100.0),
      (2L, "bob dylan", 200.0),
      (3L, "carol king", 300.0)
    ).toDF("id", "name", "bal")
    val source = Seq(
      (10L, "alice cooper", 1.0),  // exact name match → group 1
      (11L, "bob dilan", 2.0),     // typo → fuzzy → group 2
      (12L, "zzz qqq xxx", 3.0)    // no match → insert
    ).toDF("working_source_id", "name", "bal")
    val spec = MergeSpec(
      matchSpec = MatchSpec(
        groups = Seq(ExactGroup.onColumns("name")),
        targetPk = "id",
        fuzzyColumns = Seq("name")),
      mergeExpressions = Map("bal" -> "$T + $S"))
    val res = Merger.merge(source, target, spec)
    val m = res.matched
      .select("working_source_id", "working_target_id",
        "working_exact_match_group")
      .as[(Long, Option[Long], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(10L) == (Some(1L), Some(1)))   // exact group
    assert(m(11L) == (Some(2L), Some(2)))   // fuzzy group (1 exact + 1)
    assert(m(12L) == (None, None))
    val out = res.newTarget.select("id", "bal").as[(Long, Double)]
      .collect().toMap
    assert(out(1L) == 101.0 && out(2L) == 202.0 && out(3L) == 300.0)
    assert(out.keySet == Set(1L, 2L, 3L, 4L))  // insert got pk 4
  }

  test("a fuzzy merge with RETURNING evaluates the source match once") {
    // every evaluation of a source row runs the UDF once per scan; one
    // evaluation of the exact match scans the source once per group
    // join plus once for the join back onto the source
    val evals = spark.sparkContext.longAccumulator("source-row evaluations")
    val bump = udf((s: String) => { evals.add(1); s })
    val names = Seq("alice cooper", "bob dylan", "carol king", "dave brubeck",
      "ella fitzgerald", "frank sinatra", "gil evans", "herbie hancock")
    val target = (names.zipWithIndex.map { case (n, i) => (i + 1L, n, s"c$i", 0L) } ++
      Seq((9L, "kenny dorham", "c8", 0L), (10L, "lee morgan", "c9", 0L)))
      .toDF("id", "name", "city", "hits")
    val rows = names.zipWithIndex.flatMap { case (n, i) => Seq(
      (100L + i, n, "zz", -1L),                  // exact on name
      (200L + i, n.toUpperCase, s"c$i", -1L),    // exact on city
      (300L + i, n.reverse + " q", "zz", -1L))   // inserted
    } ++ Seq((400L, "kenny dorhem", "zz", -1L), (401L, "lee morgen", "zz", -1L))
    // an RDD, not a local relation: the optimizer would fold the UDF
    val source = spark.sparkContext.parallelize(rows, 2)
      .toDF("working_source_id", "raw", "city", "ret")
      .select(col("working_source_id"), bump(col("raw")).as("name"),
        col("city"), col("ret"))
    val spec = MergeSpec(
      matchSpec = MatchSpec(
        groups = Seq(ExactGroup.onColumns("name"), ExactGroup.onColumns("city")),
        targetPk = "id",
        fuzzyColumns = Seq("name")),
      excludedColumns = Seq("ret"),
      mergeExpressions = Map("hits" -> "$T + 1"),
      returnToSource = Seq("id" -> "ret"))
    val res = Merger.merge(source, target, spec)
    try {
      val groups = res.matched.groupBy("working_exact_match_group").count()
        .as[(Option[Int], Long)].collect().toMap
      assert(groups == Map(Some(1) -> 8L, Some(2) -> 8L, Some(3) -> 2L, None -> 8L))
      assert(res.newTarget.count() == 10 + 8)
      assert(res.updatedSource.filter(col("ret") > 0).count() == rows.size)
    } finally res.unpersist()
    val bound = (spec.matchSpec.groups.size + 1L) * rows.size
    assert(evals.value <= bound, s"${evals.value} source-row evaluations")
  }

  test("fuzzy never claims a target taken by an exact stage") {
    val target = Seq((1L, "same text here")).toDF("id", "name")
    val source = Seq(
      (10L, "same text here"),   // exact
      (11L, "same text hero")    // fuzzy candidate for the SAME target
    ).toDF("working_source_id", "name")
    val spec = MatchSpec(Seq(ExactGroup.onColumns("name")), "id",
      fuzzyColumns = Seq("name"))
    val matched = Fuzzy.fuzzyMatch(
      Matcher.matchRecords(source, target, spec), target, "id",
      Seq("name"), nExactGroups = 1)
    val m = matched.select("working_source_id", "working_target_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(m(10L).contains(1L))
    assert(m(11L).isEmpty) // target 1 already claimed
  }

  test("nested matcher splices groups in declaration order (J5)") {
    val target = Seq(
      (1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")
    ).toDF("id", "k1", "k2")
    val source = Seq(
      (10L, "a", "y"),  // outer group (k1) wins over nested (k2)
      (11L, "zz", "y")  // only nested matches → group 2
    ).toDF("working_source_id", "k1", "k2")
    val outer = MatchSpec(Seq(ExactGroup.onColumns("k1")), "id")
    val nested = MatchSpec(Seq(ExactGroup.onColumns("k2")), "id")
    val m = Matcher.matchRecords(source, target, outer.withNested(nested))
      .select("working_source_id", "working_target_id",
        "working_exact_match_group")
      .as[(Long, Option[Long], Option[Int])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(10L) == (Some(1L), Some(1)))
    assert(m(11L) == (Some(3L), Some(2)))
  }
}
