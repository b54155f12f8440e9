package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Scaling-shape check: run a chosen gate subset at TWO scale factors
 * and report the wall-time ratio against the data ratio. A plan that
 * survives 100 TB must grow roughly linearly in its input (shuffle
 * rounds × data), so on a 10× step anything far above ~10×-plus-
 * constant-overhead is a super-linear smell worth a plan audit —
 * quadratic candidate generation, a driver bottleneck that starts
 * swapping, a broadcast that stopped fitting. Small queries sit BELOW
 * the data ratio (fixed job overhead dominates), which is why the
 * flag bound is generous and only the ratio's ORDER matters.
 *
 * The same runs also stand watch over DRIVER-COLLECT boundedness
 * (r13): summed task-result bytes per gate at both fixtures — a
 * `collect()` pays its whole result through that channel, so a gate
 * whose driver-fetched bytes exceed the floor AND grow with the data
 * has an unbounded collect (the one scale claim previously taken on
 * faith). Measured r13 baseline: max 29.8 MB at sf0.1 (q_rtbf_sinks,
 * sink-corpus round trips), everything else ≤30 MB with growth that
 * tracks task count (per-task metrics overhead), not data.
 *
 * Usage: runMain graft.tools.Scaling [dirSmall dirBig [q1,q2,…]]
 * Prints one line per query: small-wall, big-wall, ratio, driver-MB
 * small/big, driver ratio, flags; exits nonzero if any query exceeds
 * the super-linear bound or the driver-collect bound.
 */
/** Sums `taskMetrics.resultSize` — the serialized bytes every task
  * ships back to the driver. A `collect()` pays its whole result
  * through this channel, so a gate whose summed result bytes grow
  * with the data has an UNBOUNDED driver collect somewhere — the
  * one scale claim ("every collect bounded: domains, nParts,
  * candidate sets, atMost budgets") the audits still took on faith
  * until r13. Status/accumulator overhead rides the same channel at
  * a few kB per task, hence the absolute floors the consumers apply.
  * Shared between [[Scaling]] (the 10×-growth leg) and
  * [[graft.Bench]] (r13 verdict #1: Bench touches all gates every
  * round, so riding the listener there puts per-gate `driver_bytes`
  * in `bench_full.json` as a round-over-round trend for free). */
private[graft] final class ResultBytesListener
    extends org.apache.spark.scheduler.SparkListener {
  val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
  override def onTaskEnd(
      e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.resultSize)
}

object Scaling {

  /** 10× data may legitimately cost up to this ×wall (shuffle fan-in,
    * spill onset, log factors); beyond it the shape needs explaining. */
  private val FlagRatio = 30.0

  /** Driver-collect watch thresholds (r13): flag a gate only when its
    * summed task-result bytes at the BIG fixture exceed the floor
    * (status/accumulator overhead is a few kB per task — hundreds of
    * tasks stay well under this) AND grew more than the ratio across
    * the 10× step (a bounded collect stays ~flat; per-task overhead
    * grows with input splits, well under 10×). Thresholds set from
    * the measured distribution — see the r13 SURVEY record. */
  private val DriverBytesFloor = 64L << 20
  private val DriverBytesRatio = 5.0

  private[graft] val DefaultQueries = Seq(
    // the bench's perennial top-cost set + the core merge/match path
    "q_hits", "q_sssp", "q_wsp", "q_triangles", "q_textrank",
    "q_text_semdedup", "q_semdedup", "q_dedup_minhash", "q_simhash",
    "q_bm25", "q_exact_match", "q_merge_upsert", "q_fuzzy_match",
    "q_dedup", "q_simsearch_ivfpq", "q_kcore", "q_problink_em",
    "q_edit_join", "q_ngram_jaccard", "q_cluster_dedup_best",
    // candidate-volume-sensitive shapes worth standing watch over
    "q_substring_spans", "q_contamination", "q_bitext_mine",
    "q_minhash_indexed", "q_er_resolve", "q_simsearch_append",
    "q_line_dedup", "q_dedup_incremental",
    // round-9 additions: the streaming sink's batch path and the
    // catalog purge (both index/catalog-rebuild-per-run, so their
    // ratio reads as I/O-shaped, not candidate-volume-shaped)
    "q_dedup_sink", "q_snapshot_delete_all", "q_embed_topk",
    // narrow-scan shape: must scale ~linearly in bytes read
    "q_keyword_tags",
    // write+manifest+pruned-read round trip: I/O-shaped like the
    // snapshot gates
    "q_manifest_prune",
    // round-10: the BM25 delete lifecycle (save + tombstone + two
    // probes + compaction per run — index-rebuild-shaped I/O)
    "q_bm25_forget",
    // round-10: the ANN sink batch path, now oracled
    "q_ann_sink",
    // round-10: sharded graph-ANN — build is shard-parallel, so the
    // ratio should track corpus size roughly linearly
    "q_hnsw_topk",
    // round-10: the full-catalog purge orchestration (FOUR index
    // saves + catalog + compaction per run since r11 — I/O-rebuild-
    // shaped)
    "q_rtbf_everywhere",
    // round-11: the persisted HNSW face (save + stored-adjacency
    // probe per run — shard-parallel build, I/O-shaped like the
    // other index round trips)
    "q_hnsw_index",
    // round-11: the sink-corpus purge lifecycle (two sinks × two
    // batches + one forgetEverywhere per run) and the HNSW serving
    // handle (save + load + two probes) — both index/corpus-rebuild-
    // shaped, so their ratio reads as I/O, not candidate volume
    "q_rtbf_sinks", "q_hnsw_handle",
    // round-11: KMV/theta sketches over events (the one new-op input
    // that actually scales with SF) — build is a dedup shuffle + a
    // WindowGroupLimit top-k, so the ratio should track events rows
    "q_theta_sketch",
    // round-12: the three window-funnel rewrites (distributed range
    // rank over bounded domains) — their whole point is linear
    // scaling regardless of domain skew, so they stand watch here
    "q_curriculum", "q_ntile", "q_percent_rank",
    // round-13: the sweep-line interval merge (the empirical window
    // audit's first catch) — same rewrite family, same watch: linear
    // in events regardless of key cardinality
    "q_merge_intervals")

  private def medianWall(spark: SparkSession, name: String, dir: String,
                         reps: Int,
                         l: ResultBytesListener): (Double, Long) = {
    val fn = graft.SparkEntry.queries(name)
    val runs = (1 to reps).map { _ =>
      org.apache.spark.sql.graftshim.ListenerDrain
        .drain(spark.sparkContext)
      l.bytes.set(0L)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      graft.Gateway.releaseAllCaches() // full hygiene: broadcasts too
      val w = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftshim.ListenerDrain
        .drain(spark.sparkContext)
      (w, l.bytes.get())
    }
    (runs.map(_._1).sorted.apply(runs.size / 2), runs.map(_._2).max)
  }

  def main(args: Array[String]): Unit = {
    val dirSmall = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val dirBig = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val queries = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(DefaultQueries)
    val spark = graft.Gateway.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // warmup both datasets' footers + codegen
    try {
      spark.read.parquet(s"$dirSmall/region.parquet").count()
      spark.read.parquet(s"$dirBig/region.parquet").count()
    } catch { case _: Throwable => }
    val listener = new ResultBytesListener
    spark.sparkContext.addSparkListener(listener)
    var flagged = 0
    println(f"${"query"}%-24s ${"small"}%8s ${"big"}%8s ${"ratio"}%7s " +
      f"${"drvS-MB"}%8s ${"drvB-MB"}%8s ${"dratio"}%7s")
    queries.foreach { q =>
      val (s, sBytes) = medianWall(spark, q, dirSmall, 3, listener)
      val (b, bBytes) = medianWall(spark, q, dirBig, 3, listener)
      val ratio = if (s > 0) b / s else Double.NaN
      val dRatio = if (sBytes > 0) bBytes.toDouble / sBytes else Double.NaN
      val wallFlag = ratio > FlagRatio
      // driver-collect watch: flag when the driver-fetched bytes BOTH
      // exceed the per-task-overhead floor and grew ≥ the bound on the
      // 10× step — a bounded collect (domain table, nParts offsets,
      // candidate set under an atMost budget) stays ~flat
      val drvFlag = bBytes > DriverBytesFloor &&
        dRatio > DriverBytesRatio
      if (wallFlag || drvFlag) flagged += 1
      val mark = (if (wallFlag) " SUPER-LINEAR" else "") +
        (if (drvFlag) " DRIVER-COLLECT-GROWS" else "")
      println(f"$q%-24s $s%8.2f $b%8.2f $ratio%7.2f " +
        f"${sBytes / 1e6}%8.1f ${bBytes / 1e6}%8.1f $dRatio%7.2f$mark")
    }
    println(s"""{"metric":"scaling","flag_ratio":$FlagRatio,""" +
      s""""driver_bytes_floor":$DriverBytesFloor,""" +
      s""""driver_bytes_ratio":$DriverBytesRatio,"flagged":$flagged}""")
    spark.stop()
    if (flagged > 0) sys.exit(1)
  }
}
