package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FastHash

/**
 * KMV / theta distinct-count sketches (Beyer et al. 2007 "On synopses
 * for distinct-value estimation"; the theta-sketch framework of the
 * Apache DataSketches line) — the mergeable-sketch capability HLL
 * (`Audits.distinctSketches`) cannot provide: **set INTERSECTION and
 * difference estimates**. An HLL register array supports union only;
 * audience-overlap questions ("users who did BOTH") need a sketch
 * whose state is a SAMPLE of the keyspace, and KMV's k smallest
 * hashes are exactly that.
 *
 * State per group: the k smallest DISTINCT `fmix64(value) >>> 1`
 * hashes, kept as a sorted LONG array — pure integers, order-free by
 * construction (a min-set is layout-invariant), so every output is a
 * deterministic function of the value SET and the whole family is
 * DuckDB-replayable end to end (the same fmix64 HUGEINT replay the
 * simhash oracle established). Estimates leave the integer domain
 * only at the last step, through ONE fixed IEEE tree each (documented
 * on the estimator), so cross-engine doubles are bit-equal.
 *
 * 100 TB shape: the build is one hash projection, a (group, hash)
 * map-side-combined dedup shuffle, and a `row_number() <= k` window
 * whose input Spark caps before the window ever runs — the grouped
 * path via WindowGroupLimit (per-task top-k per group), the
 * empty-group path via LimitPushDownThroughWindow folding the
 * constant partition into a distributed TakeOrderedAndProject (both
 * spec-asserted on real plans) — so no group's full distinct set is
 * ever held; everything after runs on sketch tables — k longs per
 * group, never the data again. Sketch once, answer any rollup,
 * union, or overlap later.
 */
object ThetaSketch {

  /** 2^63 as an exactly-representable double — the hash domain size;
    * normalizes a hash h to u = h / 2^63 ∈ [0, 1). */
  private val Domain = 9.223372036854775808e18

  /** The sketch hash: Murmur3 fmix64 of the long value, shifted into
    * the non-negative half-domain. A JIT'd long→long UDF (the
    * FastHash convention — Spark's bit ops on LongType would need
    * wrapping multiplies, which ANSI mode refuses). */
  private val hashUdf = udf((v: Long) => FastHash.fmix64(v) >>> 1)

  /**
   * Build one sketch per group: `(groupCols..., theta_ks array<long>)`
   * with the k smallest distinct hashes of `valueCol`, sorted
   * ascending. Fewer than k entries ⟺ the sketch is EXACT (it holds
   * every distinct hash). Null values are ignored (SQL COUNT DISTINCT
   * semantics).
   */
  def sketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
             k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2: $k")
    // integral input required up front (the index tombstone
    // convention): values hash through a long cast, and on a non-ANSI
    // session a failed cast would become a NULL hash that survives the
    // isNotNull filter and sorts FIRST in every ascending k-min window
    // — silently corrupting theta and every estimate built on it
    val dt = df.schema(valueCol).dataType
    require(Seq[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType).contains(dt),
      s"sketch requires an integral value column, got $dt for " +
        s"'$valueCol': pre-hash non-integral keys to a long " +
        "(e.g. xxhash64) so the cast can never produce a null hash")
    val g = groupCols.map(col)
    val dedup = df.filter(col(valueCol).isNotNull)
      .select(g :+ hashUdf(col(valueCol).cast("long")).as("__h"): _*)
      .groupBy(g :+ col("__h"): _*).agg(lit(1).as("__one"))
    val w = if (groupCols.isEmpty) Window.partitionBy(lit(1))
    else Window.partitionBy(g: _*)
    dedup
      .withColumn("__rn", row_number().over(w.orderBy(col("__h"))))
      .filter(col("__rn") <= k)
      .groupBy(g: _*)
      .agg(sort_array(collect_list(col("__h"))).as("theta_ks"))
  }

  /** θ of a sketch column: the k-th smallest hash, or 2^63 (the whole
    * domain — "exact") when the sketch holds fewer than k entries. */
  private def thetaOf(ks: Column, k: Int): Column =
    when(size(ks) < k, lit(Long.MaxValue))
      .otherwise(element_at(ks, k))

  /**
   * Distinct-count estimate of a sketch column. Exact (`size`) below
   * k; otherwise the KMV unbiased estimator (k−1)/u(k) evaluated as
   * the fixed IEEE tree
   * `CAST(k-1 AS DOUBLE) / (CAST(ks[k] AS DOUBLE) / 2^63)`
   * — one cast-round, one divide, one divide, all correctly rounded,
   * so an oracle computing the same tree reproduces the bits.
   */
  def estimate(ks: Column, k: Int): Column =
    when(size(ks) < k, size(ks).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(ks, k).cast("double") / lit(Domain)))

  /**
   * Roll sketches up to a coarser grouping (or, with `groupCols` Nil,
   * to one grand total): set-union the hash arrays and keep the k
   * smallest — the KMV union, which equals the sketch of the unioned
   * value sets exactly (min-sets compose). Runs on the sketch table
   * only.
   */
  def rollup(sketches: DataFrame, groupCols: Seq[String],
             k: Int): DataFrame = {
    val g = groupCols.map(col)
    val merged = slice(array_sort(array_distinct(
      flatten(collect_list(col("theta_ks"))))), 1, k).as("theta_ks")
    if (groupCols.isEmpty) sketches.agg(merged)
    else sketches.groupBy(g: _*).agg(merged)
  }

  /**
   * Audience-overlap join — the theta-framework intersection the HLL
   * family fundamentally cannot answer: for every pair of sketch rows
   * (a × b, both tables keyed by their group columns), estimate
   * |values(a) ∩ values(b)|. θ = min(θa, θb); the retained common
   * hashes below θ are an unbiased sample of the intersection at
   * sampling rate θ/2^63, so
   * `est = CAST(common AS DOUBLE) / (CAST(θ AS DOUBLE) / 2^63)`
   * (the same fixed IEEE tree as [[estimate]]). When BOTH sketches
   * are exact the result is the exact intersection size. Output:
   * a's group columns (prefixed `a_`), b's (prefixed `b_`),
   * `common_below_theta`, `est_intersection`.
   */
  def intersect(a: DataFrame, b: DataFrame, groupCols: Seq[String],
                k: Int): DataFrame = {
    val aCols = groupCols.map(c => col(c).as(s"a_$c")) :+
      col("theta_ks").as("__ka")
    val bCols = groupCols.map(c => col(c).as(s"b_$c")) :+
      col("theta_ks").as("__kb")
    a.select(aCols: _*)
      .crossJoin(broadcast(b.select(bCols: _*)))
      .withColumn("__theta",
        least(thetaOf(col("__ka"), k), thetaOf(col("__kb"), k)))
      .withColumn("common_below_theta",
        size(filter(array_intersect(col("__ka"), col("__kb")),
          h => h < col("__theta"))))
      .withColumn("est_intersection",
        col("common_below_theta").cast("double") /
          (col("__theta").cast("double") / lit(Domain)))
      .drop("__ka", "__kb", "__theta")
  }
}
