package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.ops.TextDedup

class MinhashIndexSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Int): String =
    s"the quick brown fox number $i jumps over the lazy dog while " +
      s"reciting paragraph $i of a long and winding synthetic corpus text"

  private def corpus = (0 until 200)
    .map(i => (i.toLong, doc(i))).toDF("doc_id", "text")

  // batch: 0-49 near-copies of corpus docs (one char appended),
  // 50-59 novel text — ids offset by 1000
  private def batch = ((0 until 50).map(i => (1000L + i, doc(i) + "!")) ++
    (50 until 60).map(i =>
      (1000L + i, s"completely unrelated content block $i with nothing shared")))
    .toDF("doc_id", "text")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_mh_$tag").toString

  test("index probe finds planted near-dups and nothing for novel docs") {
    val dir = freshDir("parity")
    TextDedup.saveMinhashIndex(corpus, "doc_id", "text", dir)
    val out = TextDedup.minhashProbeIndexed(spark, dir, batch,
      "doc_id", "text", jaccardThreshold = 0.8)
      .select($"batch_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect()
    // every near-copy links back to its source doc at high jaccard
    val bySource = out.groupBy(_._1)
    (0 until 50).foreach { i =>
      val hits = bySource.getOrElse(1000L + i, Array())
      assert(hits.exists(h => h._2 == i && h._3 >= 0.9),
        s"near-copy of doc $i not found: ${hits.mkString(",")}")
    }
    // novel docs match nothing
    (50 until 60).foreach { i =>
      assert(!bySource.contains(1000L + i), s"novel doc $i matched")
    }
  }

  test("tombstoned docs never re-link; untouched docs still do") {
    val dir = freshDir("tomb")
    TextDedup.saveMinhashIndex(corpus, "doc_id", "text", dir)
    // kill docs 0-9; near-copies of them must stop linking while
    // near-copies of live docs keep linking through every probe path
    TextDedup.minhashIndex(dir).tombstone(
      (0 until 10).map(_.toLong).toDF("doc_id"), "doc_id")
    def run(maxBloomKeys: Long, pushdownLimit: Long) =
      TextDedup.minhashProbeIndexed(spark, dir, batch, "doc_id", "text",
        jaccardThreshold = 0.8, maxBloomKeys = maxBloomKeys,
        pushdownLimit = pushdownLimit)
        .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val out = run(10L * 1000 * 1000, TextDedup.pushdownKeyLimit)
    assert(!out.exists(_._2 < 10L), "a tombstoned doc re-linked")
    (10 until 50).foreach { i =>
      assert(out.contains((1000L + i, i.toLong)), s"live doc $i lost")
    }
    // the exclusion holds identically on the bloom and plain-join paths
    assert(run(10L * 1000 * 1000, 0) == out && run(0, 0) == out)
    // tombstones hold while they stand: re-appending a dead id doesn't
    // revive it
    TextDedup.appendMinhashIndex(
      Seq((5L, doc(5))).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(!run(10L * 1000 * 1000, TextDedup.pushdownKeyLimit)
      .exists(_._2 == 5L))
    // compaction physically erases the dead rows (incl. the re-appended
    // copy of 5), clears the list, and changes NO live answer
    val before = run(10L * 1000 * 1000, TextDedup.pushdownKeyLimit)
    TextDedup.minhashIndex(dir).compact(spark)
    assert(run(10L * 1000 * 1000, TextDedup.pushdownKeyLimit) == before)
    val liveIds = spark.read.parquet(s"$dir/sets")
      .select($"doc_id".cast("long")).as[Long].collect().toSet
    assert(!liveIds.exists(_ < 10L), "compaction left dead rows in sets")
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // post-compaction the id is absent like a rebuild: a fresh append
    // of it is a NEW document and links again
    TextDedup.appendMinhashIndex(
      Seq((5L, doc(5))).toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(run(10L * 1000 * 1000, TextDedup.pushdownKeyLimit)
      .contains((1005L, 5L)))
  }

  test("pushdown, driver-bloom, and plain-join paths agree exactly") {
    val dir = freshDir("paths")
    TextDedup.saveMinhashIndex(corpus, "doc_id", "text", dir)
    def run(maxBloomKeys: Long, pushdownLimit: Long) =
      TextDedup.minhashProbeIndexed(spark, dir, batch, "doc_id", "text",
        jaccardThreshold = 0.8, maxBloomKeys = maxBloomKeys,
        pushdownLimit = pushdownLimit)
        .select($"batch_id", $"corpus_id", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val viaPushdown = run(10L * 1000 * 1000, TextDedup.pushdownKeyLimit)
    val viaDriverBloom = run(10L * 1000 * 1000, 0) // pushdown off -> bloom
    val viaPlainJoin = run(0, 0)                   // both off -> plain join
    assert(viaPushdown == viaDriverBloom && viaDriverBloom == viaPlainJoin &&
      viaPushdown.nonEmpty)
  }

  test("probe hashes with the SAVED params, not the caller defaults") {
    val dir = freshDir("meta")
    // non-default everything: if the probe re-hashed with defaults the
    // band hashes could not collide with the stored ones
    TextDedup.saveMinhashIndex(corpus, "doc_id", "text", dir,
      shingleLen = 4, numHashes = 64, bands = 16, seed = 7L)
    val out = TextDedup.minhashProbeIndexed(spark, dir, batch,
      "doc_id", "text", jaccardThreshold = 0.8)
      .select($"batch_id").distinct().as[Long].collect()
    assert(out.length >= 45, s"only ${out.length} near-copies re-linked")
  }

  test("writer validates its params") {
    intercept[IllegalArgumentException] {
      TextDedup.saveMinhashIndex(corpus, "doc_id", "text",
        freshDir("bad"), numHashes = 100, bands = 32) // 32 ∤ 100
    }
  }

  test("small probes push their band hashes into the bands scan") {
    val dir = freshDir("push")
    TextDedup.saveMinhashIndex(corpus, "doc_id", "text", dir)
    val one = batch.filter($"doc_id" === 1000L)
    val probe = TextDedup.minhashProbeIndexed(spark, dir, one,
      "doc_id", "text", jaccardThreshold = 0.8)
    // collect THIS Dataset so the inspected QueryExecution is the one
    // that ran (the bloom-layout spec template)
    assert(probe.collect().length >= 1)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        // AQE query stages are leaves to collect(); descend explicitly
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(q.plan)
        // the probe caches its candidate pairs — the bands scan lives
        // inside the InMemoryRelation's cached plan, not this tree
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          allScans(m.relation.cachedPlan)
        case s: FileSourceScanExec => Seq(s)
      }.flatten
    val scans = allScans(probe.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("bands"))
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]"))
    assert(pushed.exists(_.contains("In(bh")),
      s"bands scan has no pushed IN filter on bh: $pushed")
  }

  test("append grows the index to exactly what a rebuild would probe") {
    val dirA = freshDir("append")
    val dirB = freshDir("rebuild")
    val half1 = corpus.filter($"doc_id" < 100)
    val half2 = corpus.filter($"doc_id" >= 100)
    // non-default params: the append must prepare the batch with the
    // SAVED meta or its rows can't collide with the stored bands
    TextDedup.saveMinhashIndex(half1, "doc_id", "text", dirA,
      shingleLen = 4, numHashes = 64, bands = 16, seed = 7L)
    TextDedup.appendMinhashIndex(half2, "doc_id", "text", dirA)
    TextDedup.saveMinhashIndex(corpus, "doc_id", "text", dirB,
      shingleLen = 4, numHashes = 64, bands = 16, seed = 7L)
    def probe(dir: String) =
      TextDedup.minhashProbeIndexed(spark, dir, batch, "doc_id", "text",
        jaccardThreshold = 0.8)
        .select($"batch_id", $"corpus_id", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val appended = probe(dirA)
    val rebuilt = probe(dirB)
    assert(appended == rebuilt && appended.nonEmpty,
      s"append probe diverges: ${appended.size} vs ${rebuilt.size}")
    // the appended rows rode the partition layout: band dirs, no spill
    // of a new top-level directory
    val top = new java.io.File(s"$dirA/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(top.forall(_.startsWith("band=")), top.toString)
  }
}
