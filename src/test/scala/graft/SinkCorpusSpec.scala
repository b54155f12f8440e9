package graft

import org.apache.spark.sql.functions._

import graft.streaming.{DedupSink, SinkCorpus}

/** [[graft.streaming.SinkCorpus.purge]] — the RTBF face of the
  * streaming sinks' published corpora: affected-partition-only
  * rewrites, full-partition removal, crash healing at every entry
  * point, fail-fast contracts, and the one-call `forgetEverywhere`
  * wiring. */
class SinkCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def doc(seed: Int): String =
    (0 until 40).map(i => s"t${seed}q${(i * 13) % 41}").mkString(" ")

  /** A three-batch corpus written by the REAL sink (threshold 1.0 on
    * per-seed vocabularies: nothing links, all rows publish), plus its
    * index. Returns (idxPath, corpusPath). */
  private def freshCorpus(tag: String): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val idx = s"$dir/idx"
    val corpus = s"$dir/corpus"
    graft.ops.TextDedup.saveMinhashIndex(
      Seq((900L, doc(900))).toDF("doc_id", "text"),
      "doc_id", "text", idx, shingleLen = 5, numHashes = 32, bands = 8)
    Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(7L, 8L, 9L))
      .zipWithIndex.foreach { case (ids, b) =>
        DedupSink.applyBatch(spark, idx, corpus, "doc_id", "text",
          jaccardThreshold = 1.0,
          ids.map(i => (i, doc(i.toInt))).toDF("doc_id", "text"), b.toLong)
      }
    (idx, corpus)
  }

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("purge rewrites ONLY the affected partitions and survives " +
    "corpus-wide reads") {
    val (_, corpus) = freshCorpus("graft_sc1")
    val fs = fsOf(corpus)
    // fingerprint batch 1's file set — it holds no purged id, so the
    // purge must never touch it (the affected-partition contract)
    def files(b: Int) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$corpus/ingest_batch=$b"))
      .filter(_.isFile).map(s => (s.getPath.getName, s.getModificationTime))
      .toSet
    val before1 = files(1)
    val n = SinkCorpus.purge(Seq(2L, 9L).toDF("id"), "id", corpus, "doc_id")
    assert(n == 2) // batches 0 and 2 rewritten, batch 1 untouched
    assert(files(1) == before1, "unaffected partition was rewritten")
    val left = spark.read.parquet(corpus)
      .select(col("doc_id"), col("ingest_batch").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(left == Set((1L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L),
      (7L, 2L), (8L, 2L)))
    // idempotent: a re-run finds nothing to do
    assert(SinkCorpus.purge(Seq(2L, 9L).toDF("id"), "id", corpus,
      "doc_id") == 0)
  }

  test("a fully-purged partition reads as zero rows (or is removed); " +
    "replay of its batch id reads clean and the sink stays writable") {
    val (idx, corpus) = freshCorpus("graft_sc2")
    val fs = fsOf(corpus)
    assert(SinkCorpus.purge(Seq(4L, 5L, 6L).toDF("id"), "id", corpus,
      "doc_id") == 1)
    // the partition either swapped to a valid empty layout or was
    // removed (decided by whether the zero-row rewrite left a data
    // file) — in BOTH states a direct read of it must not throw
    val b1 = new org.apache.hadoop.fs.Path(s"$corpus/ingest_batch=1")
    if (fs.exists(b1))
      assert(spark.read.parquet(b1.toString).count() == 0)
    // replay of the erased batch: marker short-circuit, zero survivors,
    // no crash on the missing published dir
    val r = DedupSink.applyBatch(spark, idx, corpus, "doc_id", "text",
      jaccardThreshold = 1.0,
      Seq((4L, doc(4)), (5L, doc(5)), (6L, doc(6))).toDF("doc_id", "text"),
      1L)
    assert(r.isEmpty)
    // the sink keeps ingesting after the purge
    DedupSink.applyBatch(spark, idx, corpus, "doc_id", "text",
      jaccardThreshold = 1.0, Seq((10L, doc(10))).toDF("doc_id", "text"), 3L)
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 3L, 7L, 8L, 9L, 10L))
  }

  test("crash windows heal at every entry point") {
    val (idx, corpus) = freshCorpus("graft_sc3")
    val fs = fsOf(corpus)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // window A: live renamed aside, rebuilt not yet in (aside, no twin)
    require(fs.mkdirs(p(s"$corpus.__purge_aside")))
    require(fs.rename(p(s"$corpus/ingest_batch=0"),
      p(s"$corpus.__purge_aside/ingest_batch=0")))
    // plus a staging leftover
    require(fs.mkdirs(p(s"$corpus.__purge_tmp/ingest_batch=0")))
    // healing runs from the PURGE entry point...
    SinkCorpus.purge(Seq(999L).toDF("id"), "id", corpus, "doc_id")
    assert(fs.exists(p(s"$corpus/ingest_batch=0")), "aside not restored")
    assert(!fs.exists(p(s"$corpus.__purge_aside")))
    assert(!fs.exists(p(s"$corpus.__purge_tmp")))
    assert(spark.read.parquet(corpus).filter(col("ingest_batch") === 0)
      .count() == 3)
    // window B: swap completed, aside not yet dropped (aside WITH
    // twin) — live holds the purged rewrite, aside the pre-purge copy
    require(fs.mkdirs(p(s"$corpus.__purge_aside")))
    require(fs.rename(p(s"$corpus/ingest_batch=1"),
      p(s"$corpus.__purge_aside/ingest_batch=1")))
    Seq((5L, doc(5)), (6L, doc(6))).toDF("doc_id", "text")
      .write.parquet(s"$corpus/ingest_batch=1")
    // ...and from the SINK entry point (applyBatch heals before work):
    // the completed swap is kept, the stale aside dropped
    DedupSink.applyBatch(spark, idx, corpus, "doc_id", "text",
      jaccardThreshold = 1.0, Seq((11L, doc(11))).toDF("doc_id", "text"), 3L)
    assert(!fs.exists(p(s"$corpus.__purge_aside")), "stale aside kept")
    assert(spark.read.parquet(corpus).filter(col("ingest_batch") === 1)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 6L))
  }

  test("fail-fast contracts: missing corpus, lossy id type") {
    val (_, corpus) = freshCorpus("graft_sc4")
    val miss = intercept[IllegalArgumentException] {
      SinkCorpus.purge(Seq(1L).toDF("id"), "id", s"$corpus-nope", "doc_id")
    }
    assert(miss.getMessage.contains("MISSING"))
    val lossy = intercept[IllegalArgumentException] {
      SinkCorpus.purge(Seq("2").toDF("id"), "id", corpus, "doc_id")
    }
    assert(lossy.getMessage.contains("losslessly"))
  }

  test("forgetEverywhere purges the sink corpus alongside catalog and " +
    "index in one call") {
    val (idx, corpus) = freshCorpus("graft_sc5")
    val dir = java.nio.file.Files.createTempDirectory("graft_sc5cat").toString
    val docs = (1L to 9L).map(i => (i, doc(i.toInt))).toDF("doc_id", "text")
    graft.sources.SnapshotStore.commitAll(Map("docs" -> docs), s"$dir/cat")
    graft.sources.SnapshotStore.forgetEverywhere(
      Seq(3L, 7L).toDF("id"), s"$dir/cat", Map("docs" -> "doc_id"),
      indexes = Seq(graft.ops.TextDedup.minhashIndex(idx)),
      sinkCorpora = Seq((corpus, "doc_id")))
    assert(graft.sources.SnapshotStore.readTable(spark, s"$dir/cat", "docs")
      .select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L, 4L, 5L, 6L, 8L, 9L))
    assert(spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 4L, 5L, 6L, 8L, 9L))
    // the sink's own index lost the ids too (same call): an exact copy
    // of a purged doc finds no corpus-side link
    val hits = graft.ops.TextDedup.minhashProbeIndexed(spark, idx,
      Seq((1000003L, doc(3))).toDF("doc_id", "text"), "doc_id", "text", 0.9)
    assert(hits.filter(col("corpus_id") === 3L).isEmpty)
  }
}
