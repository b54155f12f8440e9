package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Clusters, TextDedup}

/**
 * Streaming near-dup-filtered ingestion — the crawl loop run
 * CONTINUOUSLY: each document micro-batch is deduplicated against
 * everything ingested so far (the persisted MinHash index), then
 * against itself, and only the novel survivors are published to the
 * corpus and appended to the index — so the NEXT batch dedups against
 * the grown corpus without ever re-shingling it. This is the streaming
 * face of [[graft.ops.TextDedup.dedupIncremental]] with the index
 * (not the raw corpus) as the accumulated state.
 *
 * Idempotence under Structured Streaming's replay contract, per effect:
 *  - corpus publish: survivors land under
 *    `<corpusPath>/ingest_batch=<id>/` in overwrite mode — a replay
 *    rewrites the same directory with the same rows (hive-style, so a
 *    corpus read carries an `ingest_batch` lineage column for free);
 *  - index append: a write-ahead INTENT marker lands before the
 *    append, the batch marker after it (both inside the index dir,
 *    underscore-prefixed — parquet readers ignore them). A crash
 *    between the append and the batch marker is resolved on replay by
 *    PROOF, not recomputation: intent==batch plus one published
 *    survivor id found in the index's `sets` table (written LAST by
 *    the append, so its presence implies the whole append committed;
 *    one bloom-pruned point probe, recovery-only cost) short-circuits
 *    to the already-published rows — recomputing against the grown
 *    index would diverge on transitive near-dup chains. A crash
 *    INSIDE the append can at worst duplicate band rows on re-drive;
 *    those are decision-neutral — the probe's candidate set is
 *    `distinct()` over ids ([[TextDedup.appendMinhashIndex]]
 *    documents the same property).
 *
 * Scale shape: a micro-batch pays batch-sized prep plus the probe's
 * bloom/pushdown-pruned index touch ([[TextDedup.minhashProbeIndexed]]
 * — corpus rows that cannot share a band never shuffle) and an
 * LSH-banded self-join of the batch alone. Nothing in the loop is
 * proportional to corpus size except the pruned index scan.
 */
object DedupSink {

  private val Marker = "_graft_dedup_batch"
  private val Intent = "_graft_dedup_intent"

  /** Last batch id whose survivors were appended to the index at
    * `indexPath`, or -1 if none (missing/garbled markers read as none
    * — [[Markers.read]]). */
  def lastAppliedBatch(spark: SparkSession, indexPath: String): Long =
    Markers.read(spark, s"$indexPath/$Marker")

  /**
   * Apply ONE micro-batch: drop batch docs near-duplicating the
   * indexed corpus, collapse near-dup groups WITHIN the batch to their
   * min-id survivor, publish survivors, grow the index. Public so
   * specs and backfills drive the exact code the streaming query runs.
   * Returns the survivors written (empty frame if the batch was a
   * replay).
   */
  def applyBatch(spark: SparkSession, indexPath: String, corpusPath: String,
                 idCol: String, textCol: String, jaccardThreshold: Double,
                 batch: DataFrame, batchId: Long,
                 compactEvery: Long = 0L): DataFrame = {
    import spark.implicits._
    Markers.requireSuccessMarkers(spark)
    // a crashed corpus purge (SinkCorpus.purge) heals at every sink
    // entry point, exactly like the index families' append leftovers
    SinkCorpus.healPurgeLeftovers(spark, corpusPath)
    val publishedDir = s"$corpusPath/ingest_batch=$batchId"
    val dirP = new org.apache.hadoop.fs.Path(publishedDir)
    val dfs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (batchId <= lastAppliedBatch(spark, indexPath)) {
      // replay: nothing re-applies, and the call yields the SAME value
      // the original application returned — the written survivors
      return if (dfs.exists(dirP)) spark.read.parquet(publishedDir)
      else batch.limit(0)
    }
    // crash-window recovery (append done, batch marker missing): the
    // self-link filter below keeps PAIRWISE twins replay-stable, but a
    // TRANSITIVE chain a–b–c (a–c below threshold) would diverge on
    // recompute against the grown index — b links to its indexed
    // survivor a and drops, while c's chain partner b is no longer in
    // the batch's novel set, so c wrongly survives: {a,c} ≠ {a}. When
    // the append can be PROVEN done (intent declared for THIS batch,
    // survivors published, and a published survivor id already in the
    // index's sets table — one bloom-pruned point probe, recovery-only
    // cost), short-circuit: finish the marker and return the published
    // rows unchanged.
    // batch params MUST be the index's own (meta read) — the probe
    // already enforces that; the within-batch pass reads them too so
    // the two stages can never shingle differently. Read BEFORE the
    // recovery block: the proof sample below must know shingle_len.
    val (shingleLen, numHashes, bands, seed) =
      spark.read.parquet(s"$indexPath/meta")
        .select(col("shingle_len").cast("int"),
          col("num_hashes").cast("int"), col("bands").cast("int"),
          col("seed").cast("long"))
        .as[(Int, Int, Int, Long)].head()
    // the published-dir proof is gated on a COMPLETE job commit
    // (_SUCCESS, written last), not bare exists: a prior replay that
    // took the intent-without-proof path and crashed mid re-overwrite
    // leaves the dir empty (an unguarded read would wedge every later
    // replay) or PARTIAL (an empty-sample proof over the committed
    // subset would falsely finalize the batch — Markers.isCommitted
    // documents both windows). Falling through to the recompute is
    // safe there by construction: that path only runs while the index
    // is provably un-appended, and it rewrites the dir.
    if (Markers.read(spark, s"$indexPath/$Intent") == batchId &&
        Markers.isCommitted(dfs, dirP)) {
      // the sample must be a SHINGLEABLE survivor: appendMinhashIndex
      // filters size(__shh) > 0, so a survivor whose text is null or
      // whitespace-only publishes but never lands in sets (any
      // NONEMPTY normalized text emits >= 1 shingle —
      // FastHash.shingleHashesByPos's max(1, n-k+1) window) —
      // sampling one would falsely read "not appended" after a
      // completed append, re-append duplicate rows, and recompute
      // against the grown index (the transitive-chain divergence this
      // proof exists to prevent). The sample rides the SAME
      // size(shingleHashes) > 0 predicate the append filters on. No
      // shingleable survivor at all (over the COMPLETE publish) means
      // the append was a NO-OP — provably done by definition.
      val sample = spark.read.parquet(publishedDir)
        .filter(size(TextDedup.shingleHashes(col(textCol), shingleLen)) > 0)
        .select(col(idCol)).limit(1).collect()
      val appended = sample.isEmpty ||
        !spark.read.parquet(s"$indexPath/sets")
          .filter(col(idCol) === lit(sample(0).get(0))).isEmpty
      if (appended) {
        Markers.write(spark, s"$indexPath/$Marker", batchId)
        return spark.read.parquet(publishedDir)
      }
      // intent without a provable append: the index is unchanged since
      // the crashed attempt, so the recompute below reproduces the
      // published survivors exactly
    }
    // self-links excluded: a batch whose own survivors somehow appear
    // in the index (jaccard 1.0 against themselves) must not drop
    // them. The intent protocol above means a proven append never
    // reaches this recompute, so this filter is the defense-in-depth
    // net for the remaining windows (e.g. a crash inside the append
    // that landed band rows); under the unique-ids contract it is a
    // no-op on the normal path.
    val linkedIds = TextDedup.minhashProbeIndexed(spark, indexPath, batch,
      idCol, textCol, jaccardThreshold)
      .filter(col("batch_id") =!= col("corpus_id"))
      .select(col("batch_id").as(idCol)).distinct()
    val novel = batch.join(linkedIds, Seq(idCol), "left_anti")
    val intraPairs = TextDedup.minhashLshPairs(novel, idCol, textCol,
      shingleLen, numHashes, bands, jaccardThreshold, seed)
    val survivors = Clusters.dedupByPairs(novel, idCol, intraPairs)
      .persist()
    survivors.write.mode("overwrite").parquet(publishedDir)
    // write-ahead intent BEFORE the append: on a crash after the
    // append, intent==batch is what lets the replay PROVE the append
    // happened (recovery block above) instead of recomputing against
    // the grown index
    Markers.write(spark, s"$indexPath/$Intent", batchId)
    TextDedup.appendMinhashIndex(survivors, idCol, textCol, indexPath)
    // marker publish is atomic (Markers.write: temp + rename) — a
    // visible marker is always a complete value, never empty or
    // truncated garbage
    Markers.write(spark, s"$indexPath/$Marker", batchId)
    survivors.unpersist()
    // periodic maintenance INSIDE the loop: every append adds files,
    // and at streaming cadence the band dirs accumulate exactly the
    // small-files problem compaction exists for. Runs AFTER the batch
    // marker — a replayed compaction is harmless (idempotent rewrite),
    // answers are unchanged by contract (spec-pinned).
    if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
      TextDedup.minhashIndex(indexPath).compact(spark)
    // return the WRITTEN rows, not the live plan: after the index
    // append, re-evaluating the survivors lineage would probe the
    // grown index — where every survivor now links to ITSELF — and
    // silently come back empty once the probe's interior caches evict
    spark.read.parquet(publishedDir)
  }

  /**
   * Start the continuous dedup-ingest: `stream` (a streaming DataFrame
   * with at least `idCol` and `textCol`) filters through the index at
   * `indexPath` and publishes survivors under `corpusPath`. Seed the
   * index first with [[TextDedup.saveMinhashIndex]] (an empty corpus
   * with the chosen hash params is fine) — the hash geometry is
   * immutable for the index's lifetime, so it must be an explicit
   * choice, not a silent default.
   */
  def start(stream: DataFrame, indexPath: String, corpusPath: String,
            idCol: String, textCol: String, jaccardThreshold: Double,
            checkpointDir: String, queryName: String = "graft_dedup_sink",
            trigger: Trigger = Trigger.AvailableNow(),
            compactEvery: Long = 0L): StreamingQuery = {
    val spark = stream.sparkSession
    require(new org.apache.hadoop.fs.Path(s"$indexPath/meta")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$indexPath/meta")),
      s"seed the index first: $indexPath/meta does not exist")
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, indexPath, corpusPath, idCol, textCol,
          jaccardThreshold, batch, batchId, compactEvery): Unit
      }
      .start()
  }
}
