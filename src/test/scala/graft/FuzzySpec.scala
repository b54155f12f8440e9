package graft

import org.apache.spark.sql.functions._
import graft.functions.Trigram
import graft.operators.Fuzzy

class FuzzySpec extends SparkSpec {
  import spark.implicits._

  test("candidatePairs distances equal the exact pg_trgm formula") {
    val src = Seq((1L, "hello world"), (2L, "goodbye moon"))
      .toDF("sid", "s")
    val tgt = Seq((10L, "hello wurld"), (11L, "totally different zebra"))
      .toDF("tid", "s")
    val got = Fuzzy.candidatePairs(src, "sid", "s", tgt, "tid", "s",
        limit = 1.0) // accept all to compare raw distances
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    for { s <- Seq((1L, "hello world"), (2L, "goodbye moon"))
          t <- Seq((10L, "hello wurld"), (11L, "totally different zebra")) } {
      val want = Trigram.distance(s._2, t._2)
      got.get((s._1, t._1)) match {
        case Some(d) => assert(math.abs(d - want) < 1e-9,
          s"${s._2} vs ${t._2}: got $d want $want")
        case None => // pair pruned = no shared trigram ⇒ distance 1.0
          assert(want == 1.0, s"${s._2} vs ${t._2} missing but want $want")
      }
    }
  }

  test("candidatePairs broadcast and inverted-index paths agree") {
    val src = Seq((1L, "Jon Smith"), (2L, "Mary Jones"), (3L, "Bob")).toDF("sid", "s")
    val tgt = Seq((10L, "John Smith"), (20L, "Marie Jones"), (30L, "Alice")).toDF("tid", "t")
    val bc = Fuzzy.candidatePairs(src, "sid", "s", tgt, "tid", "t", limit = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val inv = Fuzzy.candidatePairs(src, "sid", "s", tgt, "tid", "t", limit = 0.9,
      broadcastLimit = 0L).as[(Long, Long, Double)].collect().toSet
    assert(bc == inv)
    assert(bc.nonEmpty)
  }

  test("candidatePairs paths agree when the frequency cap binds") {
    // cap below the row counts → the broadcast path must collect and
    // exclude the over-cap trigrams to stay parity with freqOk
    val src = Seq((1L, "aaa bbb"), (2L, "aaa ccc"), (3L, "aaa ddd")).toDF("sid", "s")
    val tgt = Seq((10L, "aaa bbb"), (20L, "aaa ccc"), (30L, "aaa eee")).toDF("tid", "t")
    val bc = Fuzzy.candidatePairs(src, "sid", "s", tgt, "tid", "t",
      limit = 0.99, maxTrigramFreq = 2L)
      .as[(Long, Long, Double)].collect().toSet
    val inv = Fuzzy.candidatePairs(src, "sid", "s", tgt, "tid", "t",
      limit = 0.99, maxTrigramFreq = 2L, broadcastLimit = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(bc == inv)
    // and the cap actually changed something vs the uncapped run
    val uncapped = Fuzzy.candidatePairs(src, "sid", "s", tgt, "tid", "t",
      limit = 0.99).as[(Long, Long, Double)].collect().toSet
    assert(bc != uncapped)
  }

  test("values with no trigrams form no pairs on either branch") {
    val src = Seq((1L, "Jon Smith"), (2L, "Mary Jones"), (3L, "Bob"))
    val tgt = Seq((10L, "John Smith"), (20L, "Marie Jones"), (30L, "Alice"))
    val blanks = Seq("", "!!!", "  ")
    def pairs(s: Seq[(Long, String)], t: Seq[(Long, String)], broadcastLimit: Long) =
      Fuzzy.candidatePairs(s.toDF("sid", "s"), "sid", "s", t.toDF("tid", "t"),
        "tid", "t", limit = 1.0, broadcastLimit = broadcastLimit)
        .as[(Long, Long, Double)].collect().toSet
    for (broadcastLimit <- Seq(Fuzzy.DefaultBroadcastLimit, 0L)) {
      val want = pairs(src, tgt, broadcastLimit)
      assert(want.nonEmpty)
      val got = pairs(
        src ++ blanks.zipWithIndex.map { case (b, i) => (100L + i, b) },
        tgt ++ blanks.zipWithIndex.map { case (b, i) => (1000L + i, b) },
        broadcastLimit)
      assert(got == want, s"broadcastLimit $broadcastLimit")
    }
  }

  test("greedyAssign is one-to-one and nearest-first") {
    // s1 prefers t1 (0.1) over t2 (0.2); s2 only matches t1 (0.3).
    // greedy: (s1,t1) wins; s2 can't take t1 → s2 gets nothing from t1,
    // s1's t2 option is gone (s1 assigned) → s2,t2 at 0.6 next round.
    val pairs = Seq(
      (1L, 10L, 0.1), (1L, 20L, 0.2), (2L, 10L, 0.3), (2L, 20L, 0.6)
    ).toDF("sid", "tid", "distance")
    val asg = Fuzzy.greedyAssign(pairs, "sid", "tid")
      .as[(Long, Long, Double)].collect().toSet
    assert(asg == Set((1L, 10L, 0.1), (2L, 20L, 0.6)))
  }

  test("greedyAssign resolves conflict chains nearest-first (both paths)") {
    // t2's true-best source s2 "proposes" t1 first; a proposal-style
    // round scheme would wrongly give t2 to s3. Sequential greedy by
    // (distance, sid, tid): s1-t1 (0.1), then s2-t2 (0.3); s3 unmatched.
    val pairs = Seq(
      (1L, 10L, 0.1), (2L, 10L, 0.2), (2L, 20L, 0.3), (3L, 20L, 0.4)
    ).toDF("sid", "tid", "distance")
    val want = Set((1L, 10L, 0.1), (2L, 20L, 0.3))
    val driver = Fuzzy.greedyAssign(pairs, "sid", "tid")
      .as[(Long, Long, Double)].collect().toSet
    assert(driver == want)
    // driverLimit = 0 forces the distributed local-minimum rounds
    val dist = Fuzzy.greedyAssign(pairs, "sid", "tid", driverLimit = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(dist == want)
  }

  test("greedyAssign driver and distributed paths agree on random input") {
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 400).map { _ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong + 100L,
        (rnd.nextInt(9) + 1) / 10.0)
    }.distinct.toDF("sid", "tid", "distance")
    val a = Fuzzy.greedyAssign(pairs, "sid", "tid")
      .as[(Long, Long, Double)].collect().toSet
    val b = Fuzzy.greedyAssign(pairs, "sid", "tid", driverLimit = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("greedyAssign on an empty pair set assigns nothing (both paths)") {
    val empties = Seq(
      Seq.empty[(Long, Long, Double)].toDF("sid", "tid", "distance"),
      Seq((1L, 10L, 0.1)).toDF("sid", "tid", "distance").filter(col("sid") < 0))
    for (pairs <- empties; driverLimit <- Seq(Fuzzy.DefaultDriverAssignLimit, 0L))
      assert(Fuzzy.greedyAssign(pairs, "sid", "tid", driverLimit = driverLimit)
        .count() == 0)
  }

  test("greedyAssign ties break by (distance, sid, tid)") {
    val pairs = Seq(
      (1L, 10L, 0.2), (2L, 10L, 0.2), (1L, 20L, 0.2), (2L, 20L, 0.2)
    ).toDF("sid", "tid", "distance")
    val asg = Fuzzy.greedyAssign(pairs, "sid", "tid")
      .as[(Long, Long, Double)].collect().toSet
    assert(asg == Set((1L, 10L, 0.2), (2L, 20L, 0.2)))
  }

  test("fuzzyMatch claims each target at most once and skips exact-claimed") {
    val matched = Seq(
      (1L, Some(100L), Some(1)), // exact-matched to target 100
      (2L, None, None),
      (3L, None, None)
    ).toDF("working_source_id", "working_target_id",
        "working_exact_match_group")
      .join(Seq((1L, "alpha beta"), (2L, "alpha bets"), (3L, "alpha bete"))
        .toDF("working_source_id", "name"), Seq("working_source_id"))
    val target = Seq((100L, "alpha bets"), (101L, "alpha beta"))
      .toDF("id", "name")
    val out = Fuzzy.fuzzyMatch(matched, target, "id",
        fuzzyColumns = Seq("name"), nExactGroups = 1)
      .select("working_source_id", "working_target_id",
        "working_exact_match_group")
      .as[(Long, Option[Long], Option[Int])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (Some(100L), Some(1)))  // untouched exact match
    // target 100 is claimed → fuzzy candidates only 101; best of s2/s3
    // for 101: distances tie? s2 "alpha bets" vs 101 "alpha beta",
    // s3 "alpha bete" vs same — min sid wins ties
    val fuzzyTaken = Seq(out(2L), out(3L)).flatMap(_._1)
    assert(fuzzyTaken.distinct.size == fuzzyTaken.size) // one-to-one
    assert(out(2L)._1.contains(101L) || out(3L)._1.contains(101L))
    assert(Seq(out(2L), out(3L)).flatMap(_._2).forall(_ == 2)) // group idx
  }
}
