package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Similarity

/**
 * Streaming SEMANTIC-dedup ingestion — [[DedupSink]]'s embedding-space
 * twin: each vector micro-batch is near-dup-filtered against
 * everything ingested so far (the persisted IVF-PQ index), then
 * against itself (SemDeDup on the batch alone), and only the novel
 * survivors publish to the corpus and append to the index — the next
 * batch dedups against the grown corpus without ever re-encoding it.
 * This is the continuous face of "train-once, ingest-forever"
 * embedding curation: the coarse cells and the PQ codebook are fixed
 * at index build (the FAISS add convention), batches pay
 * batch×probed-cells work, and nothing in the loop is proportional to
 * corpus size except the input-split-pruned codes scan.
 *
 * Idempotence under Structured Streaming's replay contract — one
 * deliberate divergence from [[DedupSink]]: duplicated INDEX rows are
 * NOT decision-neutral for a top-k probe (a replayed append would
 * consume shortlist slots with stale copies), so instead of
 * tolerating replayed appends this sink makes the append itself
 * effectively idempotent with a WRITE-AHEAD intent marker:
 *  - corpus publish: survivors land under
 *    `<corpusPath>/ingest_batch=<id>/` in overwrite mode (a replay
 *    that re-reaches the compute rewrites the same rows — the index
 *    is provably unchanged on that path, so the recompute is
 *    bit-deterministic);
 *  - index append: an intent marker naming the batch is published
 *    BEFORE the append, the batch marker after it. On re-drive, a
 *    COMPLETED append is detected BEFORE any recompute — intent ==
 *    batch, survivors published, and one published survivor id found
 *    in the codes table (the sample takes a non-null-vector survivor;
 *    null-vector rows publish but are never encoded) — and the sink
 *    short-circuits to the published rows. Recomputing against the
 *    grown index would diverge on transitive near-dup chains: the
 *    middle of an a–b–c chain drops against its indexed survivor
 *    while the far end, below threshold to the survivor, would
 *    republish UNINDEXED — invisible to every later batch's probe.
 *    The existence scan runs only on crash recovery, never on the
 *    normal path.
 */
object AnnSink {

  private val Marker = "_graft_ann_batch"
  private val Intent = "_graft_ann_intent"

  /** Last batch id whose survivors were appended to the index at
    * `indexPath`, or -1 if none (unparseable content reads as none —
    * the shared [[Markers.read]] contract). */
  def lastAppliedBatch(spark: SparkSession, indexPath: String): Long =
    Markers.read(spark, s"$indexPath/$Marker")

  /**
   * Apply ONE micro-batch: drop batch vectors whose exact re-ranked
   * cosine against an indexed neighbor reaches `cosineThreshold`,
   * collapse near-dup groups WITHIN the batch to their min-id
   * survivor ([[Similarity.semDedup]] at `batchCells`), publish, grow
   * the index. Public so specs and backfills drive the exact code the
   * streaming query runs. Returns the written survivors.
   *
   * `batchCells` sizes the within-batch SemDeDup clustering and should
   * be well below the expected batch row count; `k`/`nProbe` shape the
   * index probe (k > 1 keeps a true near-dup visible past the
   * crash-window self-link).
   */
  def applyBatch(spark: SparkSession, indexPath: String, corpusPath: String,
                 idCol: String, vecCol: String, cosineThreshold: Double,
                 batch: DataFrame, batchId: Long,
                 nProbe: Int = 4, k: Int = 4, batchCells: Int = 64,
                 compactEvery: Long = 0L): DataFrame = {
    Markers.requireSuccessMarkers(spark)
    // a crashed corpus purge (SinkCorpus.purge) heals at every sink
    // entry point, exactly like the index families' append leftovers
    SinkCorpus.healPurgeLeftovers(spark, corpusPath)
    val publishedDir = s"$corpusPath/ingest_batch=$batchId"
    val dirP = new org.apache.hadoop.fs.Path(publishedDir)
    val dfs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (batchId <= lastAppliedBatch(spark, indexPath)) {
      return if (dfs.exists(dirP)) spark.read.parquet(publishedDir)
      else batch.limit(0)
    }
    // crash-window recovery BEFORE any recompute (append done, batch
    // marker missing): recomputing against the grown index diverges on
    // transitive chains — b drops against its indexed survivor a while
    // c (chained through b, below threshold to a) wrongly survives and
    // would be published UNINDEXED, invisible to every later batch's
    // probe. Proof of the completed append: intent declared for THIS
    // batch, survivors published, and one published survivor id in the
    // codes table. The sample must carry a NON-NULL vector — null-
    // vector survivors are published but never encoded
    // (appendIvfPqIndex filters them), so sampling one would falsely
    // read "not appended" and duplicate the whole append.
    // gated on a COMPLETE job commit (_SUCCESS, written last), not
    // bare exists or has-a-data-file: a prior replay that took the
    // intent-without-proof path and crashed mid re-overwrite leaves
    // publishedDir EMPTY (an unguarded read would wedge every later
    // replay) or PARTIAL — and a partial subset holding only
    // null-vector rows would make the empty-sample proof below
    // falsely finalize the batch (Markers.isCommitted documents both
    // windows). Falling through to the recompute — safe there by
    // construction, the index is provably un-appended on that path —
    // rewrites the dir and self-heals
    if (Markers.read(spark, s"$indexPath/$Intent") == batchId &&
        Markers.isCommitted(dfs, dirP)) {
      val sample = spark.read.parquet(publishedDir)
        .filter(col(vecCol).isNotNull)
        .select(col(idCol)).limit(1).collect()
      // no encodable survivor in the COMPLETE publish (all vectors
      // null, or zero survivors) means the append was a NO-OP —
      // provably done by definition
      val appended = sample.isEmpty ||
        !spark.read.parquet(s"$indexPath/codes")
          .filter(col(idCol) === lit(sample(0).get(0))).isEmpty
      if (appended) {
        Markers.write(spark, s"$indexPath/$Marker", batchId)
        return spark.read.parquet(publishedDir)
      }
      // intent without a provable append: the index is unchanged, so
      // the recompute below reproduces the published survivors exactly
    }
    // the probe excludes self-pairs by id (the kernels' standing
    // contract) — defense in depth for any remaining window; the
    // proven-append short-circuit above means a replay after a
    // completed append never reaches this recompute
    val dupIds = Similarity.ivfPqTopKIndexed(spark, indexPath, batch,
        idCol, vecCol, k = k, nProbe = nProbe)
      .filter(col("cosine") >= cosineThreshold)
      .select(col("query_id").as(idCol)).distinct()
    val novel = batch.join(dupIds, Seq(idCol), "left_anti")
    val survivors = Similarity.semDedup(novel, idCol, vecCol,
      nCells = batchCells, threshold = cosineThreshold).persist()
    survivors.write.mode("overwrite").parquet(publishedDir)
    // write-ahead intent, then the append, then the batch marker —
    // the recovery block above consumes exactly this ordering
    Markers.write(spark, s"$indexPath/$Intent", batchId)
    Similarity.appendIvfPqIndex(survivors, idCol, vecCol, indexPath)
    Markers.write(spark, s"$indexPath/$Marker", batchId)
    survivors.unpersist()
    // in-loop maintenance: appends accumulate small files per cell;
    // compaction folds them (and erases tombstoned rows) AFTER the
    // marker — a replayed compaction is an idempotent rewrite
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      Similarity.ivfPqIndex(indexPath).compact(spark)
    // return the WRITTEN rows (the DedupSink convention): after the
    // append, re-evaluating the survivor lineage would probe the grown
    // index, where every survivor now self-links
    spark.read.parquet(publishedDir)
  }

  /**
   * Start the continuous semantic-dedup ingest: `stream` (a streaming
   * DataFrame with at least `idCol` and `vecCol`) filters through the
   * IVF-PQ index at `indexPath` and publishes survivors under
   * `corpusPath`. Seed the index first with
   * [[Similarity.saveIvfPqIndex]] — cell geometry and codebook are
   * immutable for the index's lifetime, so they must be an explicit
   * choice, not a silent default.
   */
  def start(stream: DataFrame, indexPath: String, corpusPath: String,
            idCol: String, vecCol: String, cosineThreshold: Double,
            checkpointDir: String, queryName: String = "graft_ann_sink",
            trigger: Trigger = Trigger.AvailableNow(),
            nProbe: Int = 4, k: Int = 4, batchCells: Int = 64,
            compactEvery: Long = 0L): StreamingQuery = {
    val spark = stream.sparkSession
    require(new org.apache.hadoop.fs.Path(s"$indexPath/codebook")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$indexPath/codebook")),
      s"seed the index first: $indexPath/codebook does not exist")
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, indexPath, corpusPath, idCol, vecCol,
          cosineThreshold, batch, batchId, nProbe, k, batchCells,
          compactEvery): Unit
      }
      .start()
  }
}
