package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.{CsvSource, CsvSpec}

/** One finished job: its output checks (a failure message each, or None),
  * the semantic counts a traced job measured, and a release hook for the
  * caches it holds. */
final case class Outcome(checks: Seq[Option[String]], counts: Map[String, Double],
                         release: () => Unit) {
  def failures: Seq[String] = checks.flatten
}

trait Workload {
  def name: String
  /** Input rows one job processes (CSV data lines or table rows). */
  def rows: Long
  /** Warm jobs a run measures: the medians are over the first this many
    * after the cold job, however many more fit in the run. Warm times
    * still fall over the first few jobs, so this count is fixed. */
  def warmJobs: Int
  /** Generate the seeded inputs under `dir`; the timed part of set-up. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  /** Untimed preparation of the expected outputs. */
  def prepareChecks(): Unit = ()
  /** The job as a user runs it, then its output checks. */
  def run(spark: SparkSession, out: String): () => Outcome
  /** The same job with a span around each layer call; it calls
    * `tr.begin()` once the job's existing tables are materialized. */
  def traced(spark: SparkSession, tr: Tracer, out: String): () => Outcome
}

object Workloads {
  import Matcher.{SourceId, TargetId, MatchGroup}

  def apply(name: String): Workload = name match {
    case "import_fuzzy" => new ImportWorkload(nTarget = 20000, nSource = 3000)
    case "dedup"        => new DedupWorkload(nBase = 30000)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  private def force(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  private def expect(name: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$name: got $got, expected $want")

  /** Logical plan shape tells which branch a Fuzzy call took. */
  private def hasNode(df: DataFrame, node: String): Boolean =
    df.queryExecution.logical.exists(_.nodeName == node)

  final class ImportWorkload(nTarget: Int, nSource: Int) extends Workload {
    val name = "import_fuzzy"
    val warmJobs = 2
    private var dir = ""
    private var truth: ImportTruth = _
    private var fuzzyExpected = 0L
    def rows: Long = truth.csvLines

    private def csvSpec = CsvSpec(s"$dir/source.csv",
      removeExpression = Some(Gen.RemoveExpression))
    private def targetPath = s"$dir/target"
    private val FuzzyKey = "fuzzy_key"

    private val wtSpec = new WorkingTableSpec()
        .mapColumn("state_file_id", as = "nullif(trim($S), '')")
        .mapColumn("first_name", as = "upper(trim($S))")
        .mapColumn("middle_name", as = "upper(trim($S))")
        .mapColumn("last_name", as = "upper(trim($S))")
        .mapColumn("born_at", from = "birth_date",
          as = "to_date($S, 'MM/dd/yyyy')", sqlType = "DATE")
        .mapColumn("gender")
        .mapColumn("address", from = "residential_address", as = "upper(trim($S))")
        .mapColumn("city", as = "upper(trim($S))")
        .mapColumn("zip5", from = "zip",
          as = "substr(regexp_replace($S, '[^0-9]', ''), 1, 5)")
        .mapColumn("phone", as = "nullif(regexp_replace($S, '[^0-9]', ''), '')")
        .mapColumn("party")
        .mapColumn("registered_at", from = "registration_date",
          as = "to_timestamp($S, 'yyyy-MM-dd HH:mm:ss')", sqlType = "TIMESTAMP")
        .addColumn("voter_id", "BIGINT")
        .constrainColumn("last_name", "$S IS NOT NULL")
        .mapColumn(FuzzyKey, from = "first_name",
          as = "upper(concat_ws(' ', trim($S), trim(last_name), trim(residential_address)))")

    private val mergeSpec = MergeSpec(
      MatchSpec(
        groups = Seq(ExactGroup.onColumns("state_file_id"),
          ExactGroup.onColumns("first_name", "last_name", "zip5")),
        targetPk = "voter_id",
        fuzzyColumns = Seq(FuzzyKey)),
      mergeExpressions = Map("phone" -> "coalesce($S, $T)",
        "registered_at" -> "least($S, $T)"),
      returnToSource = Seq("voter_id" -> "voter_id"))

    def generate(spark: SparkSession, seed: Long, d: String): Unit = {
      dir = d
      truth = Gen.imports(spark, seed, nTarget, nSource, g1 = 0.5, g2 = 0.2,
        fuzzyShare = 0.15, dir = d)
    }

    override def prepareChecks(): Unit =
      fuzzyExpected = Reference.fuzzyAccepted(truth.fuzzySources,
        truth.fuzzyTargets, mergeSpec.matchSpec.fuzzyLimit)

    private def audits(spark: SparkSession, raw: DataFrame, out: String) = {
      val malformed = CsvSource.malformedCount(spark, csvSpec)
      val csv = CsvAudit.audit(raw, Seq("state_file_id"),
        Seq("state_file_id", "first_name", "last_name", "zip", "phone"), malformed)
      val db = DatabaseAudit.audit(spark.read.parquet(s"$out/new_target"),
        Seq("first_name", "last_name", "phone", "party", "born_at"), Seq("party"))
      (csv, db)
    }

    private def write(newTarget: DataFrame, updatedSource: DataFrame, out: String): Unit = {
      newTarget.write.mode("overwrite").parquet(s"$out/new_target")
      updatedSource.write.mode("overwrite").parquet(s"$out/updated_source")
    }

    def run(spark: SparkSession, out: String): () => Outcome = {
      val raw = CsvSource.read(spark, csvSpec)
      val conformed = WorkingTable.conform(raw, wtSpec)
      val res = Merger.merge(conformed, spark.read.parquet(targetPath), mergeSpec)
      write(res.newTarget, res.updatedSource, out)
      val (csv, db) = audits(spark, raw, out)
      () => Outcome(check(spark, res.matched, out, csv, db), Map.empty,
        () => res.unpersist())
    }

    def traced(spark: SparkSession, tr: Tracer, out: String): () => Outcome = {
      val ms = mergeSpec.matchSpec
      val pk = ms.targetPk
      val (target, nTarget) = force(spark.read.parquet(targetPath))
      tr.begin()
      val (raw, nRaw) = tr.span("csvsource")(force(CsvSource.read(spark, csvSpec)))()
      val (conformed, nConf) = tr.span("workingtable")(force(WorkingTable.conform(raw, wtSpec)))()
      val (exact, _) = tr.span("matcher")(
        force(Matcher.matchRecords(Matcher.withSourceId(conformed), target, ms)))()
      // the fuzzy phase's own first step (as in Fuzzy.fuzzyMatch): still
      // unmatched sources against targets no exact group claimed
      val src = exact.filter(col(TargetId).isNull).select(col(SourceId), col(FuzzyKey))
      val claimed = exact.filter(col(TargetId).isNotNull).select(col(TargetId).as(pk)).distinct()
      val avail = target.join(claimed, Seq(pk), "left_anti").select(col(pk), col(FuzzyKey))
      val (pairs, nPairs) = tr.span("fuzzy.candidates")(force(Fuzzy.candidatePairs(
        src, SourceId, FuzzyKey, avail, pk, FuzzyKey, ms.fuzzyLimit)))(p =>
        Map("fuzzy.candidates.branch" -> (if (hasNode(p._1, "Join")) "index-join" else "broadcast-probe")))
      val (assigned, nAcc) = tr.span("fuzzy.assign")(force(Fuzzy.greedyAssign(pairs, SourceId, pk)))(a =>
        Map("fuzzy.assign.mode" -> (if (hasNode(a._1, "LocalRelation")) "driver-scan" else "distributed-rounds")))
      val (res, newTarget, updated) = tr.span("merger") {
        val r = Merger.merge(conformed, target, mergeSpec)
        val (nt, _) = force(r.newTarget)
        val (us, _) = force(r.updatedSource)
        (r, nt, us)
      }()
      tr.span("sink")(write(newTarget, updated, out))()
      val (csv, db) = tr.span("audits")(audits(spark, raw, out))()
      () => {
        val matched = exact.filter(col(TargetId).isNotNull).count()
        val counts = Map(
          "csvsource.rows" -> nRaw.toDouble,
          "csvsource.malformed" -> csv.malformedCount.toDouble,
          "workingtable.rows" -> nConf.toDouble,
          "matcher.matched" -> matched.toDouble,
          "matcher.match_rate" -> matched.toDouble / nConf,
          "merger.updated" -> res.matched.filter(col(TargetId).isNotNull)
            .select(TargetId).distinct().count().toDouble,
          "merger.inserted" -> (newTarget.count() - nTarget).toDouble,
          "merger.returned" -> updated.filter(col("voter_id").isNotNull).count().toDouble,
          "fuzzy.pairs" -> nPairs.toDouble, "fuzzy.accepted" -> nAcc.toDouble,
          "fuzzy.accept_ratio" -> (if (nPairs == 0) 0.0 else nAcc.toDouble / nPairs))
        Outcome(check(spark, res.matched, out, csv, db), counts, () => {
          res.unpersist()
          Seq(raw, conformed, target, exact, pairs, assigned, newTarget, updated)
            .foreach(_.unpersist())
        })
      }
    }

    private def check(spark: SparkSession, matched: DataFrame, out: String,
                      csv: CsvAuditReport, db: DatabaseAuditReport): Seq[Option[String]] = {
      val groups = matched.filter(col(MatchGroup).isNotNull).groupBy(MatchGroup).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val inserted = truth.sourceRows - truth.group1 - truth.group2 - fuzzyExpected
      val nt = spark.read.parquet(s"$out/new_target")
        .agg(count(lit(1)), countDistinct(col("voter_id"))).head()
      val us = spark.read.parquet(s"$out/updated_source")
        .agg(count(lit(1)), count(col("voter_id"))).head()
      Seq(
        expect("new target rows", nt.getLong(0), truth.targetRows + inserted),
        expect("distinct pks", nt.getLong(1), nt.getLong(0)),
        expect("source rows matched or inserted", us.getLong(0), truth.sourceRows),
        expect("write-back non-null", us.getLong(1), truth.sourceRows),
        expect("group 1 matches", groups.getOrElse(1, 0L), truth.group1),
        expect("group 2 matches", groups.getOrElse(2, 0L), truth.group2),
        expect("fuzzy accepts", groups.getOrElse(3, 0L), fuzzyExpected),
        expect("malformed rows", csv.malformedCount, truth.malformed),
        expect("csv audit rows", csv.rowCount, truth.csvLines - truth.malformed),
        expect("database audit rows", db.rowCount, nt.getLong(0)))
    }
  }

  final class DedupWorkload(nBase: Int) extends Workload {
    val name = "dedup"
    val warmJobs = 3
    private var path = ""
    private var truth: DedupTruth = _
    def rows: Long = truth.rows

    private val spec = MergeSpec(
      MatchSpec(
        groups = Seq(ExactGroup.onColumns("state_file_id"),
          ExactGroup.onColumns("first_name", "last_name", "born_at")),
        targetPk = "voter_id"),
      mergeExpressions = Map("phone" -> "coalesce($T, $S)",
        "registered_at" -> "least($S, $T)"))

    def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
      path = s"$dir/voters"
      truth = Gen.dedup(spark, seed, nBase, g1 = 0.10, g2 = 0.05, path)
    }

    def run(spark: SparkSession, out: String): () => Outcome = {
      val table = spark.read.parquet(path)
      val audit = DedupAudit.audit(table, spec)
      val res = Deduper.dedup(table, spec)
      res.newTable.write.mode("overwrite").parquet(s"$out/new_table")
      () => Outcome(check(spark, audit, res, out), Map.empty, () => res.unpersist())
    }

    def traced(spark: SparkSession, tr: Tracer, out: String): () => Outcome = {
      val (table, nRows) = force(spark.read.parquet(path))
      tr.begin()
      val audit = tr.span("audits")(DedupAudit.audit(table, spec))()
      val pk = spec.matchSpec.targetPk
      val selfSpec = spec.matchSpec.copy(groups = spec.matchSpec.groups.map(g =>
        g.copy(constraints = g.constraints :+ Deduper.defaultOrientation(pk))))
      val (matched, _) = tr.span("matcher")(
        force(Matcher.matchRecords(Matcher.withSourceId(table), table, selfSpec)))()
      val (res, newTable) = tr.span("deduper") {
        val r = Deduper.dedup(table, spec)
        (r, force(r.newTable)._1)
      }()
      tr.span("sink")(newTable.write.mode("overwrite").parquet(s"$out/new_table"))()
      () => {
        val nMatched = matched.filter(col(TargetId).isNotNull).count()
        val counts = Map(
          "matcher.matched" -> nMatched.toDouble,
          "matcher.match_rate" -> nMatched.toDouble / nRows,
          "deduper.duplicates" -> res.duplicates.count().toDouble,
          "deduper.reflexive" -> res.reflexiveCount.toDouble,
          "deduper.symmetric" -> res.symmetricCount.toDouble)
        Outcome(check(spark, audit, res, out), counts, () => {
          res.unpersist()
          Seq(table, matched, newTable).foreach(_.unpersist())
        })
      }
    }

    private def check(spark: SparkSession, audit: DedupAuditReport, res: DedupResult,
                      out: String): Seq[Option[String]] = Seq(
      expect("duplicates", res.duplicates.count(), truth.duplicates),
      expect("reflexive", res.reflexiveCount, 0L),
      expect("symmetric", res.symmetricCount, 0L),
      expect("audit matches", audit.groupCounts.values.sum, truth.duplicates),
      expect("audit reflexive", audit.reflexiveCount, 0L),
      expect("audit symmetric", audit.symmetricCount, 0L),
      expect("new table rows", spark.read.parquet(s"$out/new_table").count(),
        truth.rows - truth.duplicates))
  }
}
