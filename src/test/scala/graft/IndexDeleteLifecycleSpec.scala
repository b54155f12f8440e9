package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Hnsw, IndexHandle, Retrieval, Similarity, TextDedup}

/**
 * The four persisted index families — MinHash (text near-dup), IVF-PQ
 * (embedding ANN), BM25 (lexical retrieval) and HNSW (graph ANN) — run
 * ONE delete lifecycle, `graft.ops.IndexLayout`, through their
 * `IndexHandle`s:
 *
 *   1. tombstone  → the id stops being SERVED immediately (logical
 *                   exclusion below every query path), and stays dead
 *                   even if re-appended while the tombstone stands;
 *   2. compact    → physical erase + tombstone-list clear, after which
 *                   the id is simply absent;
 *   3. append     → post-compaction, the id is a NEW document and is
 *                   served again (resurrection is an explicit two-step,
 *                   never an accident of re-ingestion).
 *
 * A right-to-be-forgotten purge that runs tombstone-then-compact on
 * every index beside `SnapshotStore.deleteCommitAll` therefore leaves
 * NO query path that can surface the entity. The lifecycle,
 * fully-tombstoned, missing-component and id-type tests run over all
 * four families (`families`), so each family gets every case.
 */
class IndexDeleteLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def exists(p: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(p))

  private def oneHot(d: Int, m: Float): Array[Float] =
    Array.tabulate(8)(i => if (i == d % 8) m else 0f)

  /** One index family under test. `rows(ids)` builds documents in which
    * id 1 is the only one `served` can surface; `servedAll` is the same
    * probe with no relevance cut (every id it returns at all);
    * `corpus` is the saved id set; `component` is a directory an
    * interrupted swap can leave missing (parked at `.__old`). */
  private final case class Family(
      name: String, idCol: String, corpus: Seq[Long],
      rows: Seq[Long] => DataFrame,
      save: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      served: String => Set[Long],
      servedAll: String => Set[Long],
      handle: String => IndexHandle,
      component: String)

  private def texts(ids: Seq[Long]): DataFrame = ids.map { i =>
    (i, if (i == 1L) "alpha beta gamma the quick brown fox jumps over " +
      "the lazy dog again and again"
    else s"delta epsilon zeta, unrelated words about spark plans $i")
  }.toDF("doc_id", "text")

  private def vectors(ids: Seq[Long]): DataFrame = ids.map { i =>
    (i, if (i == 1L) oneHot(1, 2f) else oneHot(i.toInt, 1f + (i % 3)))
  }.toDF("vec_id", "embedding")

  // i % 8 == 1 excluded: vector 1 must be the ONLY direction-1 vector
  private val vectorIds = 1L +: (2L to 24L).filter(_ % 8 != 1)
  private lazy val qVec = Seq((200L, oneHot(1, 5f))).toDF("vec_id", "embedding")

  private def minhashServed(p: String): Set[Long] = TextDedup
    .minhashProbeIndexed(spark, p, texts(Seq(1L))
      .withColumn("doc_id", lit(100L)), "doc_id", "text", 0.9)
    .select(col("corpus_id").cast("long")).as[Long].collect().toSet

  private def bm25Served(p: String): Set[Long] = {
    val got = Retrieval
      .bm25TopKIndexed(spark, p, "doc_id", Seq((1L, "alpha")), k = 5)
      .select(col("doc_id")).as[Long].collect().toSet
    Retrieval.releaseCaches()
    got
  }

  /** The ANN top-3 for a direction-1 query; `nearOnly` keeps only the
    * near-exact neighbours (cosine > 0.99), i.e. vector 1 alone. */
  private def neighbours(top: DataFrame, nearOnly: Boolean): Set[Long] =
    (if (nearOnly) top.filter(col("cosine") > 0.99) else top)
      .select(col("neighbor_id").cast("long")).as[Long].collect().toSet

  private def ivfPqServed(p: String, nearOnly: Boolean): Set[Long] =
    neighbours(Similarity.ivfPqTopKIndexed(spark, p, qVec, "vec_id",
      "embedding", k = 3, nProbe = 2), nearOnly)

  private def hnswServed(p: String, nearOnly: Boolean): Set[Long] =
    neighbours(Hnsw.hnswTopKIndexed(spark, p, qVec, "vec_id", "embedding",
      k = 3, efSearch = 24), nearOnly)

  private lazy val families = Seq(
    Family("minhash", "doc_id", Seq(1L, 2L, 3L), texts,
      save = (df, p) => TextDedup.saveMinhashIndex(df, "doc_id", "text", p,
        numHashes = 16, bands = 8),
      append = (df, p) => TextDedup.appendMinhashIndex(df, "doc_id", "text", p),
      served = minhashServed, servedAll = minhashServed,
      handle = TextDedup.minhashIndex, component = "bands"),
    Family("ivfpq", "vec_id", vectorIds, vectors,
      save = (df, p) => Similarity.saveIvfPqIndex(df, "vec_id", "embedding",
        p, nCells = 2, m = 4, k = 4, iterations = 2),
      append = (df, p) => Similarity.appendIvfPqIndex(df, "vec_id",
        "embedding", p),
      served = ivfPqServed(_, nearOnly = true),
      servedAll = ivfPqServed(_, nearOnly = false),
      handle = Similarity.ivfPqIndex, component = "codes"),
    Family("hnsw", "vec_id", vectorIds, vectors,
      save = (df, p) => Hnsw.saveHnswIndex(df, "vec_id", "embedding", p,
        m = 4, efConstruction = 24, nShards = 2),
      append = (df, p) => Hnsw.appendHnswIndex(df, "vec_id", "embedding", p),
      served = hnswServed(_, nearOnly = true),
      servedAll = hnswServed(_, nearOnly = false),
      handle = Hnsw.hnswIndex, component = "nodes"),
    Family("bm25", "doc_id", Seq(1L, 2L, 3L), texts,
      save = (df, p) => Retrieval.saveBm25Index(df, "doc_id", "text", p,
        nBuckets = 4),
      append = (df, p) => Retrieval.appendBm25Index(df, "doc_id", "text", p),
      served = bm25Served, servedAll = bm25Served,
      handle = Retrieval.bm25Index, component = "postings"))

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString

  test("the four index families share one delete lifecycle: tombstone " +
    "excludes (re-append stays dead), compact erases + clears, " +
    "fresh append resurrects") {
    val base = fresh("idxdel")
    families.foreach { f =>
      val dir = s"$base/${f.name}"
      f.save(f.rows(f.corpus), dir)
      val doc1 = f.rows(Seq(1L))
      assert(f.served(dir) == Set(1L), s"${f.name}: baseline must serve doc 1")
      f.handle(dir).tombstone(Seq(1L).toDF(f.idCol), f.idCol)
      assert(!f.served(dir).contains(1L), s"${f.name}: tombstoned id still served")
      f.append(doc1, dir)
      assert(!f.served(dir).contains(1L),
        s"${f.name}: re-appended id must stay dead while its tombstone stands")
      f.handle(dir).compact(spark)
      assert(!exists(s"$dir/tombstones"),
        s"${f.name}: compaction must clear the tombstone list")
      assert(!f.served(dir).contains(1L),
        s"${f.name}: physically erased id surfaced post-compaction")
      f.append(doc1, dir)
      assert(f.served(dir) == Set(1L),
        s"${f.name}: a fresh append after compaction must resurrect the id")
    }
  }

  test("bm25 compaction is probe-identical to a rebuild on the purged " +
    "corpus — scores, stats and zero-token docs included") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25_rebuild").toString
    // doc 6 is zero-token: present in n_docs/avgdl, absent from
    // postings — exactly the row doclens exists to keep exact
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "alpha delta delta epsilon"),
      (3L, "beta beta beta zeta"),
      (4L, "gamma delta alpha"),
      (5L, "epsilon zeta eta theta iota"),
      (6L, "   ")).toDF("doc_id", "text")
    val queries = Seq((1L, "alpha beta"), (2L, "delta zeta"))
    val live = s"$base/live"
    Retrieval.saveBm25Index(docs, "doc_id", "text", live, nBuckets = 4)
    Retrieval.bm25Index(live).tombstone(Seq(2L, 4L).toDF("doc_id"), "doc_id")
    Retrieval.bm25Index(live).compact(spark)
    val rebuilt = s"$base/rebuilt"
    Retrieval.saveBm25Index(docs.filter(!col("doc_id").isin(2L, 4L)),
      "doc_id", "text", rebuilt, nBuckets = 4)
    def probe(path: String) = {
      val got = Retrieval
        .bm25TopKIndexed(spark, path, "doc_id", queries, k = 5)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      Retrieval.releaseCaches()
      got
    }
    val a = probe(live)
    assert(a == probe(rebuilt), "compaction must equal a purged rebuild")
    assert(a.nonEmpty && !a.exists(r => r._2 == 2L || r._2 == 4L))
    // the corpus scalars themselves must agree (zero-token doc kept)
    def stats(path: String) = spark.read.parquet(s"$path/stats")
      .select(col("n_docs").cast("long"), col("sum_dl").cast("long"))
      .as[(Long, Long)].head()
    assert(stats(live) == stats(rebuilt))
    assert(stats(live)._1 == 4L) // docs 1, 3, 5 and the empty doc 6
  }

  test("bm25 compaction heals a missing doclens roster from the " +
    "postings themselves (pre-doclens index / append crash window)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25_heal").toString
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta"),
      (3L, "beta zeta eta"),
      (4L, "   ")).toDF("doc_id", "text") // doc 4 is zero-token
    Retrieval.saveBm25Index(docs, "doc_id", "text", base, nBuckets = 2)
    // simulate an index whose roster never landed (saved pre-doclens,
    // or an append crash before the doclens write)
    val dlP = new org.apache.hadoop.fs.Path(s"$base/doclens")
    dlP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(dlP, true)
    Retrieval.bm25Index(base).tombstone(Seq(2L).toDF("doc_id"), "doc_id")
    Retrieval.bm25Index(base).compact(spark) // must not throw
    val served = Retrieval
      .bm25TopKIndexed(spark, base, "doc_id", Seq((1L, "alpha beta")), k = 5)
      .select(col("doc_id")).as[Long].collect().toSet
    Retrieval.releaseCaches()
    assert(served == Set(1L, 3L), s"healed index served $served")
    // stats recovered from postings: docs 1, 3 AND the blank doc 4 —
    // whitespace-only text tokenizes to one empty-string token, so
    // even it has a (dl = 0) posting row to recover from; only a
    // NULL-text doc would be unrecoverable (the documented migration
    // cost). Healed stats equal a purged rebuild's exactly here.
    val (n, s) = spark.read.parquet(s"$base/stats")
      .select(col("n_docs").cast("long"), col("sum_dl").cast("long"))
      .as[(Long, Long)].head()
    assert(n == 3L && s == 6L, s"healed stats ($n, $s)")
    // and the healed roster now exists — the next compaction is exact
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/doclens")))
  }

  test("a bm25 id column may share a name with the terms/ table's df: " +
    "the handle finds it in postings and doclens") {
    val base = fresh("bm25_dfid")
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"), (3L, "gamma"))
      .toDF("df", "text")
    Retrieval.saveBm25Index(docs, "df", "text", base, nBuckets = 2)
    val h = Retrieval.bm25Index(base)
    assert(h.anyLive(Seq(2L).toDF("id"), "id"))
    h.tombstone(Seq(2L).toDF("id"), "id")
    h.compact(spark)
    def roster = spark.read.parquet(s"$base/doclens")
      .select(col("df")).as[Long].collect().toSet
    assert(roster == Set(1L, 3L))
    h.tombstone(Seq(1L, 3L).toDF("id"), "id")
    h.compact(spark)
    assert(roster.isEmpty && !exists(s"$base/tombstones"))
    val empty = Retrieval.bm25TopKIndexed(spark, base, "df",
      Seq((1L, "alpha")), k = 5)
    assert(empty.isEmpty && empty.columns.toSeq == Seq("qid", "df", "score"))
  }

  test("forgetEverywhere with compactIndexes = false: probes are clean " +
    "immediately, tombstones stand until maintenance compacts") {
    import graft.sources.SnapshotStore
    val base = java.nio.file.Files
      .createTempDirectory("graft_rtbf_defer").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "lambda mu nu xi omicron pi rho")).toDF("doc_id", "text")
    SnapshotStore.commitAll(Map("docs" -> docs), s"$base/cat")
    graft.ops.Retrieval.saveBm25Index(docs, "doc_id", "text",
      s"$base/bm", nBuckets = 2)
    val v = SnapshotStore.forgetEverywhere(
      Seq(2L).toDF("id"), s"$base/cat", Map("docs" -> "doc_id"),
      indexes = Seq(Retrieval.bm25Index(s"$base/bm")),
      compactIndexes = false)
    assert(v >= 2L)
    // catalog flipped atomically to the purged state
    assert(SnapshotStore.readTable(spark, s"$base/cat", "docs")
      .select(col("doc_id")).as[Long].collect().toSet == Set(1L, 3L))
    // the index serves clean NOW, via the standing tombstone...
    val served = graft.ops.Retrieval.bm25TopKIndexed(spark, s"$base/bm",
      "doc_id", Seq((1L, "zeta alpha")), k = 5)
      .select(col("doc_id")).as[Long].collect().toSet
    graft.ops.Retrieval.releaseCaches()
    assert(served == Set(1L), s"deferred-compaction probe served $served")
    // ...and the physical erase is still owed to maintenance
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/bm/tombstones")))
    Retrieval.bm25Index(s"$base/bm").compact(spark)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/bm/tombstones")))
  }

  test("forgetEverywhere re-run is probe-only (r11 anyLive pre-flight): " +
    "no tombstones written, no index files rewritten — and a deferred " +
    "compaction still completes on the next run") {
    import graft.sources.SnapshotStore
    val base = java.nio.file.Files
      .createTempDirectory("graft_rtbf_rerun").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "lambda mu nu xi omicron pi rho")).toDF("doc_id", "text")
    SnapshotStore.commitAll(Map("docs" -> docs), s"$base/cat")
    TextDedup.saveMinhashIndex(docs, "doc_id", "text", s"$base/mh",
      shingleLen = 5, numHashes = 16, bands = 4)
    graft.ops.Retrieval.saveBm25Index(docs, "doc_id", "text",
      s"$base/bm", nBuckets = 2)
    // run 1 DEFERS compaction: tombstones stand, data files keep the id
    SnapshotStore.forgetEverywhere(
      Seq(2L).toDF("id"), s"$base/cat", Map("docs" -> "doc_id"),
      indexes = Seq(TextDedup.minhashIndex(s"$base/mh"),
        Retrieval.bm25Index(s"$base/bm")),
      compactIndexes = false)
    assert(exists(s"$base/bm/tombstones"))
    // run 2 with compaction: the id is still IN the data tables
    // (deferred), so anyLive reads it as live and the erase COMPLETES
    SnapshotStore.forgetEverywhere(
      Seq(2L).toDF("id"), s"$base/cat", Map("docs" -> "doc_id"),
      indexes = Seq(TextDedup.minhashIndex(s"$base/mh"),
        Retrieval.bm25Index(s"$base/bm")))
    assert(!exists(s"$base/bm/tombstones"), "deferred erase not completed")
    assert(!exists(s"$base/mh/tombstones"))
    def fileState(p: String): Set[(String, Long)] = {
      val d = new java.io.File(p)
      d.listFiles().filter(_.isFile)
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val mhSets = fileState(s"$base/mh/sets")
    val bmDl = fileState(s"$base/bm/doclens")
    // run 3 is the idempotent RE-RUN: the pre-flight finds nothing
    // live — no tombstone dirs appear, no index file is rewritten
    SnapshotStore.forgetEverywhere(
      Seq(2L).toDF("id"), s"$base/cat", Map("docs" -> "doc_id"),
      indexes = Seq(TextDedup.minhashIndex(s"$base/mh"),
        Retrieval.bm25Index(s"$base/bm")))
    assert(!exists(s"$base/bm/tombstones") && !exists(s"$base/mh/tombstones"),
      "re-run wrote tombstones for absent ids")
    assert(fileState(s"$base/mh/sets") == mhSets,
      "re-run rewrote the minhash sets table")
    assert(fileState(s"$base/bm/doclens") == bmDl,
      "re-run rewrote the bm25 doclens table")
    // and the serving state is unchanged
    val served = graft.ops.Retrieval.bm25TopKIndexed(spark, s"$base/bm",
      "doc_id", Seq((1L, "zeta alpha lambda")), k = 5)
      .select(col("doc_id")).as[Long].collect().toSet
    graft.ops.Retrieval.releaseCaches()
    assert(served == Set(1L, 3L), s"served $served")
  }

  test("compacting a FULLY tombstoned index leaves a valid empty layout " +
    "in every family: compaction completes (twice), probes answer " +
    "empty, a fresh append resurrects service (r10 advice)") {
    val base = fresh("idxempty")
    families.foreach { f =>
      // partitioned zero-row rewrites leave no inferable files, and a
      // multi-component recompute (BM25 terms/stats) must not abort
      // midway
      val dir = s"$base/${f.name}"
      f.save(f.rows(f.corpus), dir)
      f.handle(dir).tombstone(f.corpus.toDF(f.idCol), f.idCol)
      f.handle(dir).compact(spark)
      assert(!exists(s"$dir/tombstones"), f.name)
      assert(!new java.io.File(dir).list().exists(_.endsWith(".__compact")),
        s"${f.name}: compaction must not strand .__compact dirs")
      assert(f.servedAll(dir).isEmpty,
        s"${f.name}: empty index must answer empty, not crash")
      // compacting the ALREADY-empty index is a no-op, not a crash
      f.handle(dir).compact(spark)
      f.append(f.rows(Seq(1L)), dir)
      assert(f.servedAll(dir) == Set(1L),
        s"${f.name}: append into the empty layout must serve")
    }
  }

  test("a MISSING index component is LOUD in every family — never " +
    "'validly empty': the swap-crash recovery state must not serve " +
    "zero rows or let a compaction discard the purge intent") {
    val base = fresh("idxmissing")
    families.foreach { f =>
      val dir = s"$base/${f.name}"
      f.save(f.rows(f.corpus), dir)
      f.handle(dir).tombstone(Seq(1L).toDF(f.idCol), f.idCol)
      // the component parked at .__old: the atomicSwap crash shape
      val p = new org.apache.hadoop.fs.Path(s"$dir/${f.component}")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.rename(p, new org.apache.hadoop.fs.Path(s"$p.__old")))
      intercept[IllegalStateException](f.served(dir))
      intercept[IllegalStateException](f.handle(dir).compact(spark))
      assert(exists(s"$dir/tombstones"),
        s"${f.name}: the purge intent must survive a refused compaction")
    }
  }

  test("non-integral ids are refused LOUDLY at save and tombstone time " +
    "in every family — never a silent purge no-op (r10 advice, medium)") {
    val base = fresh("idxtype")
    families.foreach { f =>
      val dir = s"$base/${f.name}"
      val strRows = f.rows(Seq(1L)).withColumn(f.idCol, lit("a"))
      // save: an index a purge could never reach must not be buildable
      intercept[IllegalArgumentException](f.save(strRows, s"$dir.bad"))
      f.save(f.rows(f.corpus), dir)
      // append: string ids landing beside long ones would break every
      // later read of the component with a parquet type mismatch
      intercept[IllegalArgumentException](f.append(strRows, dir))
      // tombstone: a purge id that would cast to null must be refused,
      // not written as a tombstone that matches nothing
      intercept[IllegalArgumentException](
        f.handle(dir).tombstone(Seq("a").toDF(f.idCol), f.idCol))
      assert(f.served(dir) == Set(1L),
        s"${f.name}: a refused call must leave the index serving")
    }
  }

  /** (file, id column, its type) for every parquet file under `dir`
    * that has an id column, read from each file's own footer. HNSW nodes store the id as
    * `id`; the other families keep the caller's name. */
  private def idTypesPerFile(dir: String, idCol: String) = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
      .map(f => f -> spark.read.parquet(f).schema)
      .flatMap { case (f, sc) =>
        sc.fields.find(c => c.name == idCol || c.name == "id")
          .map(c => (f, c.name, c.dataType)) }
    finally files.close()
  }

  test("an Int-id append to a Long-saved index writes only INT64 id " +
    "files in every family; a wider id is refused") {
    val base = fresh("idxwiden")
    families.foreach { f =>
      val dir = s"$base/${f.name}"
      f.save(f.rows(f.corpus), dir)
      f.append(f.rows(Seq(100L))
        .withColumn(f.idCol, col(f.idCol).cast("int")), dir)
      val files = idTypesPerFile(dir, f.idCol)
      assert(files.exists { case (file, c, _) =>
        !spark.read.parquet(file).filter(col(c) === 100L).isEmpty
      }, s"${f.name}: the appended id is in no file")
      files.foreach { case (file, _, dt) =>
        assert(dt == org.apache.spark.sql.types.LongType,
          s"${f.name}: $file stores its id as $dt")
      }
      // HNSW stores every id as a long whatever the input type
      if (f.name != "hnsw") {
        val narrow = s"$dir.int"
        f.save(f.rows(f.corpus)
          .withColumn(f.idCol, col(f.idCol).cast("int")), narrow)
        intercept[IllegalArgumentException](f.append(f.rows(Seq(100L)), narrow))
      }
    }
  }
}
