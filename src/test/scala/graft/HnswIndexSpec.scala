package graft

import org.apache.spark.sql.functions._

import graft.ops.{Hnsw, Similarity}

/**
 * The PERSISTED HNSW face (r10 verdict missing #2 — previously
 * build-and-query only): save / probe / append / tombstone / compact,
 * the fourth index family under the shared delete-lifecycle contract.
 * Pins under test:
 *  - a freshly saved index probes BIT-IDENTICALLY to the in-memory
 *    [[Hnsw.topK]] at equal parameters (same shard function, same
 *    sorted-id builds, same exact re-rank kernel);
 *  - append rebuilds ONLY the shards the batch touches, leaves the
 *    rest byte-untouched, and the appended ids serve;
 *  - compact ≡ fresh save on the purged corpus, row for row including
 *    the stored adjacency;
 *  - dimensionality is recorded at save and enforced loudly on
 *    append and probe.
 */
class HnswIndexSpec extends SparkSpec {
  import spark.implicits._

  private def synthVectors(n: Int, dim: Int) =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        d => ((pmod(xxhash64(col("id"), d), lit(1000L)).cast("float") -
          500.0f) / 500.0f).cast("float")).as("embedding"))

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_hnswidx_$tag").toString

  test("probe parity: a freshly saved index answers bit-identically to " +
    "the in-memory topK at equal parameters, across layouts") {
    val dir = s"${fresh("parity")}/idx"
    val corpus = synthVectors(400, 16)
    val q = synthVectors(400, 16).filter(col("vec_id") % 40 === 0)
    Hnsw.saveHnswIndex(corpus.repartition(13), "vec_id", "embedding",
      dir, m = 6, efConstruction = 24, nShards = 3)
    val indexed = Hnsw.hnswTopKIndexed(spark, dir, q, "vec_id",
      "embedding", k = 5, efSearch = 24)
      .as[(Long, Long, Int, Double)].collect().toSet
    val inMem = Hnsw.topK(corpus, q, "vec_id", "embedding", k = 5,
      m = 6, efConstruction = 24, efSearch = 24, nShards = 3)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(indexed == inMem, "persisted probe diverged from topK")
    assert(indexed.nonEmpty)
    // probing twice is stable (stored graph, deterministic entry rule)
    val again = Hnsw.hnswTopKIndexed(spark, dir, q, "vec_id",
      "embedding", k = 5, efSearch = 24)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(again == indexed)
  }

  test("append rebuilds only the touched shards, appended ids serve, " +
    "and a planted twin lands at rank 1") {
    val dir = s"${fresh("append")}/idx"
    val corpus = synthVectors(300, 16)
    Hnsw.saveHnswIndex(corpus, "vec_id", "embedding", dir,
      m = 6, efConstruction = 24, nShards = 4)
    // plant an exact twin of doc 77 under a new id; positive scaling
    // is cosine-exact
    val twin = corpus.filter(col("vec_id") === 77L)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def shardFiles(s: Int): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/nodes/shard=$s"))
        .filter(_.isFile)
        .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val before = (0 until 4).map(s => s -> shardFiles(s)).toMap
    Hnsw.appendHnswIndex(twin, "vec_id", "embedding", dir)
    val touched = (0 until 4).filter(s => shardFiles(s) != before(s))
    assert(touched.size == 1,
      s"append must rewrite exactly the batch's shard, touched $touched")
    val q = corpus.filter(col("vec_id") === 77L)
    val got = Hnsw.hnswTopKIndexed(spark, dir, q, "vec_id", "embedding",
      k = 1, efSearch = 48)
      .select(col("neighbor_id")).as[Long].collect()
    assert(got.toSeq == Seq(100077L),
      s"appended twin must be rank 1, got ${got.toSeq}")
  }

  test("compact is rebuild-equivalent: after tombstone + compact the " +
    "stored rows equal a fresh save on the purged corpus, adjacency " +
    "included") {
    val base = fresh("compact")
    val corpus = synthVectors(250, 16)
    val dead = Seq(11L, 42L, 199L)
    Hnsw.saveHnswIndex(corpus, "vec_id", "embedding", s"$base/live",
      m = 6, efConstruction = 24, nShards = 3)
    Hnsw.hnswIndex(s"$base/live").tombstone(dead.toDF("vec_id"), "vec_id")
    Hnsw.hnswIndex(s"$base/live").compact(spark)
    Hnsw.saveHnswIndex(corpus.filter(!col("vec_id").isin(dead: _*)),
      "vec_id", "embedding", s"$base/rebuilt",
      m = 6, efConstruction = 24, nShards = 3)
    def rows(p: String): Set[(Int, Long, Seq[Float], Seq[Seq[Long]])] =
      spark.read.parquet(s"$p/nodes")
        .select(col("shard").cast("int"), col("id"), col("vec"),
          col("links"))
        .as[(Int, Long, Seq[Float], Seq[Seq[Long]])].collect().toSet
    assert(rows(s"$base/live") == rows(s"$base/rebuilt"),
      "compacted store must equal a fresh save on the purged corpus")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/live/tombstones")))
  }

  test("tombstone-prune tiers answer bit-identically to the direct " +
    "anti-join: pushed-IN, driver-Bloom semi-join, and direct paths " +
    "agree on a 25%-tombstoned index (r12: index-scale delete sets " +
    "must never shuffle or broadcast the tombstone list)") {
    val dir = s"${fresh("prune")}/idx"
    val corpus = synthVectors(600, 16)
    val q = synthVectors(600, 16).filter(col("vec_id") % 29 === 0)
    Hnsw.saveHnswIndex(corpus, "vec_id", "embedding", dir,
      m = 6, efConstruction = 24, nShards = 3)
    // kill every 4th id — deletes at a scale where probes must prune
    Hnsw.hnswIndex(dir).tombstone(
      corpus.filter(col("vec_id") % 4 === 0L).select(col("vec_id")),
      "vec_id")
    def probe(): Set[(Long, Long, Int, Double)] =
      Hnsw.hnswTopKIndexed(spark, dir, q, "vec_id", "embedding",
        k = 5, efSearch = 24)
        .as[(Long, Long, Int, Double)].collect().toSet
    def withConf[A](kv: (String, String)*)(f: => A): A = {
      kv.foreach { case (c, v) => spark.conf.set(c, v) }
      try f finally kv.foreach { case (c, _) => spark.conf.unset(c) }
    }
    val direct = probe() // default threshold: tiny list, direct join
    assert(direct.nonEmpty)
    assert(direct.forall { case (_, nbr, _, _) => nbr % 4 != 0L },
      "a tombstoned id was returned")
    // force the pruned path; candidate set small → pushed-IN tier
    val pushed = withConf(
      "graft.hnsw.tombstonePruneBytes" -> "0")(probe())
    // force the pruned path AND the Bloom tier (push limit 1)
    val bloomed = withConf(
      "graft.hnsw.tombstonePruneBytes" -> "0",
      "graft.hnsw.tombstonePushLimit" -> "1")(probe())
    assert(pushed == direct, "pushed-IN tier diverged from direct")
    assert(bloomed == direct, "Bloom tier diverged from direct")
    // r12 verdict #4: the pruned path's candidate persists release in
    // one sweep once results are consumed (collected above) — a
    // serving loop must not rely on ContextCleaner timing
    def rddIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = rddIds
    val again = withConf(
      "graft.hnsw.tombstonePruneBytes" -> "0")(probe())
    assert(again == direct)
    assert((rddIds -- before).nonEmpty,
      "pruned probe must persist its candidate frame while live")
    Hnsw.releaseCaches()
    assert(rddIds.subsetOf(before),
      s"releaseCaches left candidate blocks: ${rddIds -- before}")
  }

  test("dimensionality is recorded at save and enforced loudly on " +
    "append and probe") {
    val dir = s"${fresh("dim")}/idx"
    Hnsw.saveHnswIndex(synthVectors(50, 16), "vec_id", "embedding", dir,
      m = 6, efConstruction = 24, nShards = 2)
    val q8 = synthVectors(50, 8).filter(col("vec_id") === 0L)
    val e = intercept[IllegalArgumentException] {
      Hnsw.hnswTopKIndexed(spark, dir, q8, "vec_id", "embedding", k = 1)
    }
    assert(e.getMessage.contains("dim"), e.getMessage)
    val e2 = intercept[org.apache.spark.SparkException] {
      Hnsw.appendHnswIndex(
        Seq((999999L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir)
    }
    assert(e2.getMessage.contains("dim") ||
      Option(e2.getCause).exists(_.getMessage.contains("dim")))
    // non-integral ids refuse at every entry point
    intercept[IllegalArgumentException] {
      Hnsw.saveHnswIndex(Seq(("a", Array(1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", s"$dir.bad")
    }
    intercept[IllegalArgumentException] {
      Hnsw.hnswIndex(dir).tombstone(Seq("a").toDF("vec_id"), "vec_id")
    }
  }

  test("duplicate ids fail at BUILD time, not as a bricked index: save " +
    "refuses a duplicated corpus id, append refuses an intra-batch one") {
    val dir = s"${fresh("dups")}/idx"
    val dup = synthVectors(30, 8).unionByName(
      synthVectors(30, 8).filter(col("vec_id") === 7L))
    val e = intercept[org.apache.spark.SparkException] {
      Hnsw.saveHnswIndex(dup, "vec_id", "embedding", dir,
        m = 4, efConstruction = 16, nShards = 2)
    }
    assert(e.getMessage.contains("duplicate id") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate id")))
    val clean = s"${fresh("dups2")}/idx"
    Hnsw.saveHnswIndex(synthVectors(30, 8), "vec_id", "embedding", clean,
      m = 4, efConstruction = 16, nShards = 2)
    val e2 = intercept[IllegalArgumentException] {
      Hnsw.appendHnswIndex(
        Seq((100L, Array.fill(8)(1f)), (100L, Array.fill(8)(2f)))
          .toDF("vec_id", "embedding"), "vec_id", "embedding", clean)
    }
    assert(e2.getMessage.contains("more than once"))
    // and batch-vs-existing duplicates are skipped silently (the
    // idempotence contract), never inserted twice
    Hnsw.appendHnswIndex(
      synthVectors(30, 8).filter(col("vec_id") === 7L),
      "vec_id", "embedding", clean)
    assert(spark.read.parquet(s"$clean/nodes")
      .filter(col("id") === 7L).count() == 1L)
  }

  test("crashed append windows HEAL automatically at the next entry " +
    "point, and a MISSING nodes dir is loud, never 'empty'") {
    val dir = s"${fresh("heal")}/idx"
    val corpus = synthVectors(200, 8)
    Hnsw.saveHnswIndex(corpus, "vec_id", "embedding", dir,
      m = 4, efConstruction = 16, nShards = 3)
    val q = corpus.filter(col("vec_id") === 5L)
    def probe(): Long = Hnsw.hnswTopKIndexed(spark, dir, q, "vec_id",
      "embedding", k = 3, efSearch = 16).count()
    val baseline = probe()
    assert(baseline == 3L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // window A: crash between rename-aside and rename-in — the only
    // copy of shard 1 sits at the aside; the next probe must restore
    // it, not silently answer from two shards
    fs.mkdirs(p(s"$dir/nodes.__aside"))
    assert(fs.rename(p(s"$dir/nodes/shard=1"),
      p(s"$dir/nodes.__aside/shard=1")))
    spark.catalog.refreshByPath(s"$dir/nodes")
    assert(probe() == baseline, "heal must restore the parked shard")
    assert(fs.exists(p(s"$dir/nodes/shard=1")) &&
      !fs.exists(p(s"$dir/nodes.__aside")))
    // window B: crash between rename-in and aside-delete — the swap
    // completed; the aside is a stale pre-swap copy to drop
    fs.mkdirs(p(s"$dir/nodes.__aside/shard=2"))
    val probeB = probe()
    assert(probeB == baseline)
    assert(!fs.exists(p(s"$dir/nodes.__aside")))
    // window C: a leftover staging dir is dropped and the re-run
    // append completes (idempotence)
    fs.mkdirs(p(s"$dir/nodes.__append/shard=0"))
    Hnsw.appendHnswIndex(
      Seq((900L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(!fs.exists(p(s"$dir/nodes.__append")))
    assert(spark.read.parquet(s"$dir/nodes")
      .filter(col("id") === 900L).count() == 1L)
    // a MISSING nodes dir (the whole-dir swap crash shape) is loud
    assert(fs.rename(p(s"$dir/nodes"), p(s"$dir/nodes.__old")))
    val e = intercept[IllegalStateException] { probe() }
    assert(e.getMessage.contains("MISSING"), e.getMessage)
    assert(fs.rename(p(s"$dir/nodes.__old"), p(s"$dir/nodes")))
    spark.catalog.refreshByPath(s"$dir/nodes")
    assert(probe() == baseline)
  }

  test("serving handle: loadHnswIndex answers bit-identically to the " +
    "one-shot probe, caches across probes, sees live tombstones, and " +
    "unloads cleanly") {
    val dir = s"${fresh("handle")}/idx"
    val corpus = synthVectors(400, 16)
    val q = synthVectors(400, 16).filter(col("vec_id") % 40 === 0)
    Hnsw.saveHnswIndex(corpus, "vec_id", "embedding", dir,
      m = 6, efConstruction = 24, nShards = 3)
    val oneShot = Hnsw.hnswTopKIndexed(spark, dir, q, "vec_id",
      "embedding", k = 5, efSearch = 24)
      .as[(Long, Long, Int, Double)].collect().toSet
    val h = Hnsw.loadHnswIndex(spark, dir)
    val viaHandle = h.topK(q, "vec_id", "embedding", k = 5, efSearch = 24)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(viaHandle == oneShot,
      "handle probe diverged from hnswTopKIndexed (shared kernel pin)")
    // the graphs RDD is actually persisted under its name, so repeat
    // probes serve from the block manager, not a fresh scan+build
    def cachedGraphRdds = spark.sparkContext.getPersistentRDDs.values
      .count(_.name == s"hnsw-shard-graphs:$dir")
    assert(cachedGraphRdds == 1, "handle graphs not registered as cached")
    // a tombstone written AFTER load lands on the held handle's next
    // probe (tombstones are read live, not snapshotted): the planted
    // top-1 self-twin disappears while the graph structure still serves
    val victim = viaHandle.groupBy(_._1).map { case (_, rows) =>
      rows.minBy(_._3)._2 }.head
    graft.ops.Hnsw.hnswIndex(dir).tombstone(Seq(victim).toDF("vec_id"),
      "vec_id")
    val after = h.topK(q, "vec_id", "embedding", k = 5, efSearch = 24)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(!after.exists(_._2 == victim),
      s"tombstoned id $victim still served through the held handle")
    assert(after.nonEmpty && after != viaHandle)
    h.unload()
    assert(cachedGraphRdds == 0, "unload left the graphs RDD cached")
  }
}
