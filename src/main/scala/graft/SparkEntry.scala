package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates._

/**
 * Driver contract — one named query per implemented operator from
 * SURVEY.md §2 (+ the training-data-pipeline extensions), each paired
 * with ANSI SQL for the DuckDB oracle. Every gate is one [[Gate]] value,
 * its query and oracle written side by side in a family object under
 * [[graft.gates]]; this object indexes them.
 */
object SparkEntry {

  /** Every gate, family by family. Built once per process, and refused
    * at initialization if two gates share a name. */
  val gates: Seq[Gate] = Gate.registry(
    ImportGates.all, TextGates.all, TokenGates.all, IndexGates.all,
    VectorGates.all, GraphGates.all, TableGates.all, StatsGates.all,
    MultimodalGates.all)

  /** Flagship: the reference's central use case — conform + staged match
    * + merge (SURVEY §7.2), the `q_merge_upsert` gate — on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    queries("q_merge_upsert")(spark, dir)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  /** DuckDB dialect, over the same parquet tables; the rows-only gates
    * have no entry. */
  val oracleSql: Map[String, String] =
    gates.flatMap(g => g.oracle.map(g.name -> _)).toMap

  /** `SPARK_GRAFT_ONLY`: an optional comma-separated list of gate names
    * for targeted local runs; unset, every gate runs. */
  private[graft] val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  /** The gates `Bench` and `Verify` run: those named in
    * `SPARK_GRAFT_ONLY`, or all of them. */
  private[graft] def selected: Seq[Gate] =
    gates.filter(g => only.forall(_.contains(g.name)))
}
