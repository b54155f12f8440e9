package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * One gate: `build` runs the named query on a session and a
 * fixture directory, and `oracle` is the DuckDB SQL over the same
 * parquet tables whose result must equal it (`None` for a gate checked
 * on its rows only). Each family object in this package writes a gate's
 * build and oracle side by side; [[graft.SparkEntry]] is their index.
 *
 * Oracle-parity rules observed throughout:
 *  - aliases match exactly between the Spark result and the SQL;
 *  - double aggregation goes through DECIMAL (exact, order-independent)
 *    before a final cast back to double;
 *  - per-row double arithmetic keeps the same expression tree on both
 *    sides (bit-identical IEEE results);
 *  - array folds (dot products, list sums) use sequential fold order on
 *    both sides;
 *  - every top-k has a deterministic tiebreak.
 */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Gate {

  /** The families' gates in order, refused when two share a name: a
    * name-keyed map would keep only the last of them, silently. */
  def registry(families: Seq[Gate]*): Seq[Gate] = {
    val gates = families.flatten
    val dups = gates.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }

  /** Temp-dir disambiguator for the round-trip/write gates: stable
    * within a run (bench reps overwrite-then-reread the same path) but
    * distinct across processes, so two concurrent harness runs over the
    * same data dir cannot race on a shared path, and `dir.hashCode`
    * collisions across data dirs cannot silently share one. */
  private[gates] def tmpToken(dir: String): String =
    s"${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current().pid()}"

  /** Inferred-schema memo for the fixture tables, keyed by data path.
    * Every bare `spark.read.parquet` runs one driver footer-inference
    * job before anything else (profiled: 1–2 such jobs in EVERY gate,
    * a fixed tax on all 229 of them — the same cost class the index
    * metadata reads shed in r15 via pinned schemas). A table's schema
    * is metadata, not data: inferring it once per process and passing
    * it explicitly is exactly what a catalog-backed table does, and at
    * production scale it is the difference between one footer job per
    * QUERY and one per TABLE. The rows are still read from parquet on
    * every evaluation — nothing about the data is memoized. */
  private val tSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]

  private[gates] def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
      // Spark 4 only reads as a long under
      // spark.sql.legacy.parquet.nanosAsLong) and plain TIMESTAMP
      // (MICROS); adapt on the column's resolved type rather than
      // assuming either fixture layout. Either way the result is the
      // session-zoned microsecond timestamp DuckDB sees (UTC session,
      // so the NTZ→TZ cast is wall-clock-identical). The conf is set
      // BEFORE the memoized inference so the cached schema is the one
      // that conf produces (LongType for a NANOS fixture).
      if (!s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.schema(tSchema(s, dir, name))
        .parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else s.read.schema(tSchema(s, dir, name))
      .parquet(s"$dir/$name.parquet")

  private def tSchema(s: SparkSession, dir: String,
                      name: String): org.apache.spark.sql.types.StructType =
    tSchemas.computeIfAbsent(s"$dir/$name.parquet",
      p => s.read.parquet(p).schema)
}
