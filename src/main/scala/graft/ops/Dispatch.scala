package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Shared predicates and driver reads for the adaptive-path dispatchers
  * (the dense tiled paths key documents by a long-cast id, so only
  * integral id types can take them — checked in one place instead of
  * per operator), and the one-job read of a count or total that a
  * dispatch or a report needs ([[scanOnce]]). */
private[graft] object Dispatch {
  def integralType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The values of the global aggregates `aggs` over `df`, in order,
    * read off ONE job: `df` runs through the `noop` sink with the
    * aggregates observed (`Dataset.observe`) instead of being
    * aggregated. `df.agg(...).collect()` costs two jobs under AQE (the
    * partial-aggregate map stage and a one-task final stage), three on
    * a persisted frame (the cache fill first); here the aggregates ride
    * the scan's own tasks, a persisted `df` is filled by that same job,
    * and an aggregated `df` keeps only its own exchange.
    *
    * `df` is first projected to the columns `aggs` read: the observe
    * node blocks column pruning, so the sink would otherwise read every
    * column of a wide scan.
    *
    * The cost is driver bytes: every task returns the aggregates'
    * partial state, with their input expressions, beside its result —
    * about 6 KB for a first count and 1.5 KB for each further simple
    * aggregate per task, where `agg(...).collect()` fetches about 3 KB
    * per task in all (a 4-task parquet scan, `local[8]`). Keep `aggs`
    * short. An empty `df` gives each aggregate's empty value: 0 for a
    * count, null for a max or a sum. */
  def scanOnce(df: DataFrame, aggs: Column*): Row = {
    require(aggs.nonEmpty, "scanOnce needs an aggregate")
    val names = aggs.indices.map(i => s"__agg$i")
    val named = aggs.zip(names).map { case (a, n) => a.as(n) }
    val read = df.agg(named.head, named.tail: _*)
      .queryExecution.analyzed.references
    val cols = df.queryExecution.analyzed.output.zip(df.columns)
      .collect { case (a, c) if read.contains(a) => df.col(s"`$c`") }
    val obs = Observation()
    df.select(cols: _*).observe(obs, named.head, named.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Row.fromSeq(names.map(m))
  }

  /** `df`'s row count, observed on one scan ([[scanOnce]]). */
  def countRows(df: DataFrame): Long = scanOnce(df, count(lit(1))).getLong(0)

  /** Spread a CPU-heavy narrow kernel across the session's cores when
    * the upstream scan cannot (optimization-guide §2.5, input skew:
    * "one huge unsplittable file … repartition immediately after the
    * read"). Fixture-scale inputs are single-file single-row-group
    * parquet, so every scan resolves to ONE effective task and a
    * narrow kernel chain (tokenize / featurize / decode / pair-score)
    * runs serially while the other cores idle — worse, AQE then picks
    * broadcast joins whose probe side inherits that single partition,
    * so the whole downstream chain stays serial. At production scale a
    * scan has ≥ parallelism splits and this is a structural no-op: the
    * partition-count guard, not the call site, is the contract.
    *
    * Deterministic HASH partitioning on `keys` — never round-robin
    * (round-robin pays a per-partition sort since SPARK-23207 and is
    * retry-unsafe for non-deterministic upstreams); callers pass a
    * high-cardinality key (the row id), so the spread is even. Every
    * declared query's result is partition-layout-independent (sorted
    * oracle compare; aggregates under the DECIMAL discipline), so this
    * cannot change what a query computes — re-verified per touched
    * gate against the DuckDB oracle.
    */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "fanOut needs a deterministic partition key")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (target <= 1) return df
    // Partition probe WITHOUT touching df.rdd: under AQE, materializing
    // .rdd forces getFinalPhysicalPlan, which eagerly EXECUTES any
    // upstream shuffle stages at plan-construction time and then
    // discards them — the repartitioned frame re-plans from the logical
    // plan, so an exchange-bearing input would pay those stages twice
    // (r14 advice, medium). The pre-preparation sparkPlan is probed
    // instead, and ONLY when it is scan-shaped (leaves + project/
    // filter — what every call site passes: a projected, possibly
    // filtered scan). For such plans execute() merely builds the RDD
    // lineage: no job runs, no exchange exists yet (EnsureRequirements
    // has not inserted any), no codegen compiles. Anything else —
    // joins, aggregates, exchanges — passes through unchanged: that IS
    // the contract (the spread exists for single-split scans; a frame
    // that already went through a shuffle is as wide as
    // spark.sql.shuffle.partitions).
    val plan = df.queryExecution.sparkPlan
    val scanShaped = !plan.exists { p =>
      !(p.isInstanceOf[org.apache.spark.sql.execution.LeafExecNode] ||
        p.isInstanceOf[org.apache.spark.sql.execution.ProjectExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.FilterExec])
    }
    if (!scanShaped) df
    else if (plan.execute().getNumPartitions >= target) df
    else df.repartition(target, keys: _*)
  }

  /** The dense-path dispatch probe shared by the Jaccard/containment
    * operators: approximate the token-hash cardinality first (one
    * cheap agg), and only collect the exact sorted vocabulary when it
    * plausibly fits `limit` (1.2 slack absorbs HLL error). `None`
    * means "take the sparse path" — either the id type can't key a
    * bitmap tile or the universe is too large. */
  def denseVocab(toks: DataFrame, tokCol: Column, idOk: Boolean,
                 limit: Int): Option[Array[Long]] = {
    val approxV =
      if (idOk && limit > 0)
        toks.agg(approx_count_distinct(tokCol)).head.getLong(0)
      else Long.MaxValue
    if (approxV <= limit * 1.2) {
      val v = toks.select(tokCol).distinct().collect().map(_.getLong(0))
      if (v.length <= limit) { java.util.Arrays.sort(v); Some(v) }
      else None
    } else None
  }
}
