package graft

import java.util.UUID
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Functions

/**
 * Session wrapper + working-table registry (SURVEY.md §2.10 D1-D5) —
 * lib/voter_file/csv_driver.rb:52-94 rebuilt.
 *
 * The reference's driver owns a registry of uniquely-named Postgres temp
 * tables (`tmp_working_table_<rand>_<n>`, csv_driver.rb:5,59-60,76-82)
 * and guarantees cleanup (csv_driver.rb:84-94). Here a "working table" is
 * a registered DataFrame: `register` binds a name (rebinding = the
 * immutable analogue of UPDATE-in-place, SURVEY §7.4-1), temp views make
 * every registered table visible to `sql(...)`, and `cleanUp()` drops
 * views and unpersists caches. Jobs run via `Gateway.withSession`, which
 * replicates the ensure-cleanup lifecycle of import_job.rb:16-23.
 */
class Gateway(val spark: SparkSession) {
  private val sessionId = UUID.randomUUID().toString.take(8)
  private var counter = 0
  private val registry = mutable.LinkedHashMap.empty[String, DataFrame]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  Functions.register(spark)

  /** Unique working name (D1, csv_driver.rb:59-60). */
  def freshName(prefix: String = "working"): String = {
    counter += 1
    s"gw_${sessionId}_${prefix}_$counter"
  }

  /** Bind (or rebind) a name to a DataFrame; also exposed as a temp view
    * so `$S`/`$T` templates and `sql` can reference it. */
  def register(name: String, df: DataFrame): DataFrame = {
    registry.put(name, df)
    df.createOrReplaceTempView(name)
    df
  }

  def table(name: String): DataFrame =
    registry.getOrElse(name, spark.table(name))

  def tableExists(name: String): Boolean =
    registry.contains(name) || spark.catalog.tableExists(name)

  /** Cache a stage that is re-consumed (match results, invariant checks). */
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    cached += p
    p
  }

  /** Per-name SQL-extension opt-in, the reference's `load_extension`
    * surface (csv_driver.rb:170-175). The constructor already installs
    * all (registration is idempotent), so this is a fidelity no-op that
    * still validates the name. */
  def loadExtension(name: String): Unit = Functions.loadExtension(spark, name)

  /** D3: raw SQL passthrough (csv_driver.rb:177-179). */
  def sql(q: String): DataFrame = spark.sql(q)

  /** D4: run a query, read the single count value
    * (csv_driver.rb:192-195). */
  def getCount(q: String): Long = spark.sql(q).collect()(0).getLong(0)

  /**
   * Persist a target as a BUCKETED table on its merge key — the 100 TB
   * co-location story for repeated imports: when both the conformed
   * source and the target are bucketed (and bucket counts match), the
   * match/merge equi-joins read pre-partitioned buckets and the plan
   * carries NO Exchange on the join key. One bucketed write amortizes
   * across every subsequent merge into that target
   * (plan-asserted in BucketedMergeSpec).
   */
  def saveBucketed(df: DataFrame, tableName: String, bucketCol: String,
                   nBuckets: Int = 32): DataFrame = {
    df.write
      .format("parquet")
      .mode("overwrite")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", s"${spark.conf.get("spark.sql.warehouse.dir")}/$tableName")
      .saveAsTable(tableName)
    spark.table(tableName)
  }

  /** D2: drop all working state (csv_driver.rb:84-94). */
  def cleanUp(): Unit = {
    registry.keys.foreach(n => spark.catalog.dropTempView(n))
    registry.clear()
    cached.foreach(_.unpersist())
    cached.clear()
  }
}

object Gateway {

  /**
   * One release facade over every operator cache registry — THE
   * between-queries hygiene call for long-lived sessions (Verify,
   * Bench, Scaling, Stress and any serving caller route through it),
   * so no caller needs to know which family's release kills which
   * plans (r13 verdict #4: the Timeseries→Packing registry coupling is
   * an implementation detail behind this facade). Per-family
   * end-of-life semantics, stated once:
   *
   *  - [[graft.ops.Packing]] family (`withPrefixSum`,
   *    `boundedDomainRank`, `curriculumInterleave`, `equiDepthBuckets`,
   *    and [[graft.ops.Timeseries]]`.mergeIntervals`, which shares the
   *    registry): release is END-OF-LIFE for previously returned
   *    plans, ENFORCED — the partition base-offset broadcasts baked
   *    into those plans are destroyed, so a post-release re-evaluation
   *    throws instead of silently ranking against a re-sampled range
   *    layout. Call only after results are consumed.
   *  - [[graft.ops.Hnsw]], [[graft.ops.Retrieval]],
   *    [[graft.ops.DatasetCard]]: persists are pinned for SPEED, not
   *    correctness — released plans recompute correctly (deterministic
   *    beam / candidate scoring / corpus scan), just slower.
   *
   * `spark.catalog.clearCache()` is NOT a substitute for this call on
   * the Packing family: it unpersists the range layouts but leaves the
   * base-offset broadcasts alive, and a re-evaluated plan would
   * re-sample its range boundaries against stale offsets. That path is
   * defended too — the family's streaming passes validate the layout
   * against the baked-in offsets at every partition seam and throw on
   * drift (see `Packing.withPrefixSum`) — but the correct-AND-cheap
   * route is this facade. Broadcasts also accumulate (r13 ADVICE): the
   * registries hold strong references, so a harness that only ever
   * clearCache()s leaks broadcast blocks for the life of the session.
   */
  def releaseAllCaches(): Unit = {
    graft.ops.Packing.releaseCaches()
    graft.ops.Hnsw.releaseCaches()
    graft.ops.Retrieval.releaseCaches()
    graft.ops.DatasetCard.unpersistCaches()
  }

  /** Job lifecycle with guaranteed cleanup (import_job.rb:16-23). */
  def withSession[A](spark: SparkSession)(job: Gateway => A): A = {
    val gw = new Gateway(spark)
    try job(gw)
    finally gw.cleanUp()
  }

  /** Local session tuned per the harness contract: the one builder
    * every main uses (`Bench`, `Verify` and the tools), so their confs
    * cannot drift apart. A tool that needs more sets it on the returned
    * session. `tools.Smoke` alone keeps a vanilla session, the one an
    * external caller of `SparkEntry.entry` brings. */
  def localSession(cpus: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet columns are unreadable in Spark 4
      // without this; session construction is the right owner (a query
      // builder mutating session conf would be a surprising side
      // effect in a library)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
