package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/**
 * The delete lifecycle every persisted index family shares — BM25
 * ([[Retrieval.bm25Index]]), MinHash ([[TextDedup.minhashIndex]]),
 * IVF-PQ ([[Similarity.ivfPqIndex]]) and HNSW ([[Hnsw.hnswIndex]]):
 *
 *  1. '''tombstone''' — purge ids append to `<index>/tombstones` (as
 *     longs); every probe anti-joins them ([[liveRows]]) below its
 *     scoring kernel, so a deleted id stops being SERVED immediately,
 *     and stays dead if re-appended while its tombstone stands;
 *  2. '''compact''' — the family's kernel rewrites each component
 *     beside itself as `<component>.__compact` from the live rows, the
 *     handle promotes them with [[Layout.atomicSwap]] in the family's
 *     declared swap order, and only then deletes the tombstone list.
 *     A crash at any point is finished by compacting again: the list
 *     drops only once nothing it names remains, and each declared
 *     order keeps the earlier-promoted components a consistent
 *     logical-exclusion state —
 *     - BM25: postings, terms, doclens, stats (postings-only promoted
 *       is exactly the tombstoned state);
 *     - MinHash: bands, sets (a promoted bands dir over old sets merely
 *       carries unreachable set rows);
 *     - IVF-PQ: codes; HNSW: nodes (one swap each);
 *  3. '''append''' after compaction — the id is a new document again.
 *
 * Ids must be integral in every family: tombstones match through a
 * long cast, which yields null — matching nothing, silently — for any
 * other type, and a later compaction would then discard the purge
 * intent. Save, append and tombstone all refuse such ids
 * ([[requireIntegralId]]), and an append widens a narrower integral id
 * to the stored one ([[Family.appendable]]).
 *
 * A MISSING component is never read as "validly empty" (the
 * [[Layout.readParquetIfData]] contract): after an atomicSwap crash
 * between its renames the data's only copy sits at `<dir>.__old`, and
 * a compaction over an empty view would delete it and the tombstone
 * list with it.
 */
object IndexLayout {

  /** The one tombstone column name [[IndexHandle.tombstones]] returns,
    * whatever the family's on-disk name. */
  private[ops] val Tomb = "__tomb"

  /**
   * A persisted index family: what differs between the four, and
   * nothing else.
   *
   * @param roster     the component whose rows ARE the index membership
   *                   (the any-live pre-flight reads it)
   * @param fixedCols  the layout's own column names across its
   *                   components; the id is the first other non-array
   *                   column ([[idField]])
   * @param swapOrder  the components the compaction kernel rewrites as
   *                   `<c>.__compact`, in promotion order
   * @param kernel     `(spark, path, tombstones)` → writes every
   *                   `swapOrder` component's `.__compact` dir from the
   *                   live rows and returns true, or returns false when
   *                   the index holds no data files and nothing needs
   *                   rewriting
   * @param tombColumn the tombstone column as stored on disk
   * @param tombBloom  write a parquet bloom on the tombstone column
   *                   (HNSW's probe prunes a large list through it)
   * @param heal       repairs a crashed append before any lifecycle step
   */
  final class Family private[ops] (
      val name: String,
      val roster: String,
      val fixedCols: Set[String],
      val swapOrder: Seq[String],
      val kernel: (SparkSession, String, DataFrame) => Boolean,
      val tombColumn: String = Tomb,
      val tombBloom: Boolean = false,
      val heal: (SparkSession, String) => Unit = (_, _) => ()) {

    /** The id field of any of the family's component schemas. */
    private[ops] def idField(schema: StructType): StructField =
      schema.fields.find(f => !fixedCols(f.name) &&
        !f.dataType.isInstanceOf[ArrayType]).getOrElse(
        throw new IllegalStateException(
          s"no id column in $name index schema ${schema.simpleString}"))

    /** The id field of the index at `path`, from its roster's footer. */
    private[ops] def rosterIdField(spark: SparkSession,
                                   path: String): StructField =
      idField(spark.read.parquet(s"$path/$roster").schema)

    /** `batch` ready to append to the index at `path`: its id must be
      * integral, and a narrower one widens to the type the roster's
      * footer stores. Parquet readers take one footer's type for the
      * whole directory, so an INT32 id file beside INT64 ones fails a
      * later read. A wider id is refused (narrowing would wrap); an
      * index holding no data files stores no type and takes the
      * batch's. */
    private[ops] def appendable(batch: DataFrame, idCol: String,
                                path: String, op: String): DataFrame = {
      requireIntegralId(batch, idCol, op)
      val got = batch.schema(idCol).dataType
      Layout.readParquetIfData(batch.sparkSession, s"$path/$roster")
        .map(r => idField(r.schema).dataType).filter(_ != got)
        .fold(batch) { stored =>
          require(got.defaultSize < stored.defaultSize,
            s"$op: id column $idCol is $got, wider than the $stored " +
              s"the $name index stores")
          batch.withColumn(idCol, col(idCol).cast(stored))
        }
    }
  }

  /** Refuse a non-integral id column: see the object note. */
  private[ops] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(Dispatch.integralType(dt),
      s"$op requires an integral id column, got $dt: the delete " +
        "lifecycle matches ids through a long cast, which yields null " +
        "(matches nothing, silently) for any other type")
  }

  /** `rows` minus the tombstoned ids: the anti-join below every probe
    * and compaction. `tomb` is bounded by the deleted-id count, so
    * Spark broadcasts it when it fits. */
  private[ops] def liveRows(rows: DataFrame, id: Column, tomb: DataFrame): DataFrame =
    rows.join(tomb, id.cast("long") === col(Tomb), "left_anti")

  /** Read a component that may validly hold no data files (a
    * partitioned zero-row rewrite leaves only `_SUCCESS`) as an empty
    * frame of `empty`; a MISSING dir throws. */
  private[ops] def readOrEmpty(spark: SparkSession, dir: String,
                               empty: => StructType): DataFrame =
    Layout.readParquetIfData(spark, dir).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], empty))
}

/** One persisted index of a [[IndexLayout.Family]] at `path`: its
  * delete lifecycle (see [[IndexLayout]]). */
final case class IndexHandle(family: IndexLayout.Family, path: String) {
  import IndexLayout.Tomb

  private def tombDir = s"$path/tombstones"

  /** Tombstone `ids` (column `idCol`): every later probe excludes them. */
  def tombstone(ids: DataFrame, idCol: String): Unit = {
    IndexLayout.requireIntegralId(ids, idCol, s"tombstoning a ${family.name} index")
    val c = family.tombColumn
    var w = ids.select(col(idCol).cast("long").as(c)).distinct()
      .write.mode("append")
    if (family.tombBloom)
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", "1000000")
    w.parquet(tombDir)
  }

  /** Tombstoned ids as one long column `__tomb` (empty if
    * none were written). Fixed schema: no footer-inference job. */
  def tombstones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(StructType(Seq(StructField(family.tombColumn, LongType))))
        .parquet(tombDir).distinct().withColumnRenamed(family.tombColumn, Tomb)
    else Seq.empty[Long].toDF(Tomb)
  }

  /** True iff any of `ids` is in the index's roster — the
    * `forgetEverywhere` pre-flight: an idempotent purge re-run skips
    * the tombstone write and the compaction rebuild when nothing
    * matches. A standing tombstone still counts as live (its ids are
    * still in the data), so a deferred erase completes on the next
    * run. Loud on a missing roster; a valid-empty one holds nothing. */
  def anyLive(ids: DataFrame, idCol: String): Boolean = {
    val spark = ids.sparkSession
    family.heal(spark, path)
    Layout.readParquetIfData(spark, s"$path/${family.roster}").exists { r =>
      !r.select(col(family.idField(r.schema).name).cast("long").as("__cid"))
        .join(ids.select(col(idCol).cast("long").as("__cid")).distinct(),
          Seq("__cid"), "left_semi").isEmpty
    }
  }

  /** Physically erase the tombstoned ids: run the family's kernel,
    * promote its `.__compact` dirs in the declared order, then delete
    * the tombstone list. Probes answer the same before and after. */
  def compact(spark: SparkSession): Unit = {
    family.heal(spark, path)
    if (family.kernel(spark, path, tombstones(spark)))
      family.swapOrder.foreach(c =>
        Layout.atomicSwap(spark, s"$path/$c.__compact", s"$path/$c"))
    val p = new org.apache.hadoop.fs.Path(tombDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
