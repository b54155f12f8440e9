package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, concat, count, lit, max, udf}
import org.apache.spark.sql.graftshim.ListenerDrain
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators._
import graft.ops.Dispatch
import graft.sources.{CsvSource, CsvSpec}

/** Each report is one aggregation: the number of SQL executions a
  * report call runs, counted by a QueryExecutionListener. The fuzzy
  * assignment and candidate generation are held to the same standard:
  * no action and no shuffle beyond the ones that produce their result.
  * The import and dedup calls also hold a Spark-job budget: every count,
  * max and audit total they read is observed on one scan
  * ([[Dispatch.scanOnce]]). */
class ReportExecutionsSpec extends SparkSpec {
  import spark.implicits._

  /** The SQL executions `body` runs, with its result. */
  private def executions[A](body: => A): (A, Int) = {
    val n = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = n.incrementAndGet()
    }
    ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val a = body
      ListenerDrain.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.listenerManager.unregister(listener)
  }

  /** The Spark jobs `body` runs, with its result. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerDrain.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `metric` summed over the tasks `body` runs, with its result. */
  private def taskBytes[A](metric: TaskMetrics => Long)(body: => A): (A, Long) = {
    val sc = spark.sparkContext
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) bytes.addAndGet(metric(t.taskMetrics))
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerDrain.drain(sc)
      (a, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The shuffle bytes written by the tasks `body` runs, with its result. */
  private def shuffleBytes[A](body: => A): (A, Long) =
    taskBytes(_.shuffleWriteMetrics.bytesWritten)(body)

  /** The task-result bytes the driver fetches for `body`, with its result. */
  private def driverBytes[A](body: => A): (A, Long) = taskBytes(_.resultSize)(body)

  private val table = Seq((1L, "k", "a"), (2L, "k", "b"), (3L, "j", "c"),
    (4L, "j", "d"), (5L, "z", "e")).toDF("id", "k", "v")
  private val spec = MergeSpec(
    matchSpec = MatchSpec(Seq(ExactGroup.onColumns("k")), targetPk = "id"),
    mergeExpressions = Map("v" -> "concat($T, $S)"))
  private val orientation = Some(Deduper.defaultOrientation("id"))

  test("the dedup audit is one execution and caches nothing") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val (rep, n) = executions(DedupAudit.audit(table, spec, orientation))
    assert(rep == DedupAuditReport(5, Map(1 -> 2L), 0, 0))
    assert(n == 1)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("the general dedup path checks its invariants in one execution") {
    // outputs are lazy, so every execution here is an invariant check
    val (res, n) = executions(Deduper.dedup(table, spec, orientation))
    try {
      assert(n == 1)
      assert(res.newTable.count() == 3)
    } finally res.unpersist()
  }

  test("the csv audit and the repair-path malformed count are one pass each") {
    val f = Files.createTempFile("graft_report", ".csv")
    Files.writeString(f, "id,name\n1,a\n2,\n2,c\n3,d,EXTRA\n")
    val csv = CsvSpec(f.toString, quote = "\"")
    val df = CsvSource.read(spark, csv)
    val (rep, nAudit) = executions(
      CsvAudit.audit(df, keys = Seq("id", "name"), columns = Seq("name")))
    assert(nAudit == 1)
    assert(rep.rowCount == 3 && rep.coverage == Map("name" -> 2L))
    assert(rep.keyDuplicates == Map("id" -> 1L, "name" -> 0L))
    // the header line, then one conditional-count aggregate
    val (malformed, nMalformed) = executions(CsvSource.malformedCount(spark, csv))
    assert(malformed == 1 && nMalformed == 2)
  }

  test("the driver-scan assignment is two executions and caches nothing") {
    val pairs = Seq((1L, 10L, 0.1), (1L, 20L, 0.2), (2L, 10L, 0.3), (2L, 20L, 0.6))
      .toDF("sid", "tid", "distance")
    val before = spark.sparkContext.getPersistentRDDs.size
    // the checkpoint that counts the pairs, then the sorted collect
    val (asg, n) = executions(Fuzzy.greedyAssign(pairs, "sid", "tid"))
    assert(Fuzzy.lastAssignMode.get() == "driver-scan")
    assert(n == 2)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(asg.as[(Long, Long, Double)].collect().toSet ==
      Set((1L, 10L, 0.1), (2L, 20L, 0.6)))
  }

  test("the probe branch shuffles the target once, as its (pk, string) projection") {
    val rnd = new scala.util.Random(17)
    def word() = Seq.fill(4 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString
    val names = Seq.fill(4000)(Seq.fill(3)(word()).mkString(" "))
    val tgt = names.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("tid", "t")
    // one-typo copies of some targets, so the probe finds pairs
    val src = names.take(60).zipWithIndex.map { case (s, i) => (i.toLong, s.drop(1)) }
      .toDF("sid", "s")
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (_, oneShuffle) = shuffleBytes(
      tgt.select("tid", "t").repartition(nPart).foreach(_ => ()))
    val (nPairs, pairBytes) = shuffleBytes(
      Fuzzy.candidatePairs(src, "sid", "s", tgt, "tid", "t").count())
    assert(nPairs >= 60)
    assert(pairBytes <= 1.2 * oneShuffle,
      s"candidatePairs wrote $pairBytes shuffle bytes, one target shuffle $oneShuffle")
  }

  test("a driver read is one job: empty input, a persisted input, a CSV frame") {
    // an empty input gives each aggregate its empty value
    Seq(spark.range(10).toDF("id").filter(col("id") < 0), Seq.empty[Long].toDF("id"))
      .foreach { empty =>
        val (r, n) = jobs(Dispatch.scanOnce(empty, count(lit(1)), max(col("id"))))
        assert(r.getLong(0) == 0L && r.isNullAt(1))
        assert(n <= 1)
      }
    // a persisted input is filled by the scan: a later read runs no row
    val evals = spark.sparkContext.longAccumulator("scanned rows")
    val bump = udf((x: Long) => { evals.add(1); x })
    val cached = spark.range(0, 100, 1, 4).select(bump(col("id")).as("x")).persist()
    try {
      val (r, n) = jobs(Dispatch.scanOnce(cached, count(lit(1)), max(col("x"))))
      assert(r.getLong(0) == 100L && r.getLong(1) == 99L && n == 1)
      assert(evals.value == 100L)
      assert(cached.count() == 100L && evals.value == 100L)
    } finally cached.unpersist()
    // a CSV frame with wrong-arity and quoted-delimiter lines counts as
    // count() does, on the plain and the repair path
    val f = Files.createTempFile("graft_scan", ".csv")
    Files.writeString(f, "id,name\n1,\"a,b\"\n2\n3,c,EXTRA\n4,\"d\"\n\n5,e\n")
    Seq(CsvSpec(f.toString, quote = "\"", dropMalformed = false),
      CsvSpec(f.toString, quote = "\"")).foreach { csv =>
      val df = CsvSource.read(spark, csv)
      val (r, n) = jobs(Dispatch.scanOnce(df, count(lit(1))))
      assert(r.getLong(0) == df.count(), csv)
      assert(n == 1)
    }
  }

  test("a csv audit of a repeated key counts each key's duplicates once") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("id", "name")
    val rep = CsvAudit.audit(df, keys = Seq("id", "id", "name"), columns = Seq("name"))
    assert(rep.keyDuplicates == Map("id" -> 0L, "name" -> 1L))
    assert(rep.rowCount == 3 && rep.coverage == Map("name" -> 3L))
    assert(!rep.keyIsUnique)
  }

  // Spark jobs per call on the fixtures below (local[8], 8 shuffle
  // partitions, AQE). Reading each total as an aggregate instead of
  // observing it cost 23, 5, 4, 3, 3 and 3.
  private val MergeBudget = 19
  private val DedupBudget = 4
  private val DedupAuditBudget = 3
  private val CsvAuditBudget = 2
  private val MalformedBudget = 2
  private val DatabaseAuditBudget = 1

  /** `body`'s Spark jobs, held to `budget`. */
  private def withinBudget[A](call: String, budget: Int)(body: => A): A = {
    val (a, n) = jobs(body)
    assert(n <= budget, s"$call ran $n Spark jobs, budget $budget")
    a
  }

  test("the import and dedup calls hold their Spark-job budgets") {
    // fuzzy + RETURNING merge: the exact match's cache, the trigram
    // preps, the pair checkpoint and sort, the max pk, the rank
    val names = Seq("alice cooper", "bob dylan", "carol king", "dave brubeck")
    val target = names.zipWithIndex.map { case (n, i) => (i + 1L, n, s"c$i", 0L) }
      .toDF("id", "name", "city", "hits")
    val source = (names.zipWithIndex.flatMap { case (n, i) => Seq(
      (100L + i, n, "zz", -1L), (200L + i, n.reverse + " q", "zz", -1L))
    } ++ Seq((300L, "bob dilan", "zz", -1L))).toDF("working_source_id", "name", "city", "ret")
    val merge = withinBudget("Merger.merge", MergeBudget)(Merger.merge(source.filter(
      col("working_source_id") =!= 101L), target, MergeSpec(
      matchSpec = MatchSpec(Seq(ExactGroup.onColumns("name")), targetPk = "id",
        fuzzyColumns = Seq("name")),
      excludedColumns = Seq("ret"),
      returnToSource = Seq("id" -> "ret"))))
    try assert(merge.updatedSource.filter(col("ret") > 0).count() == 8)
    finally merge.unpersist()
    // the explicit and the default orientation take the same path
    for (o <- Seq(orientation, None)) {
      val dedup = withinBudget(s"Deduper.dedup($o)", DedupBudget)(
        Deduper.dedup(table, spec, o))
      try assert(dedup.newTable.count() == 3) finally dedup.unpersist()
    }
    withinBudget("DedupAudit", DedupAuditBudget)(DedupAudit.audit(table, spec, orientation))
    val f = Files.createTempFile("graft_budget", ".csv")
    Files.writeString(f, "id,name\n1,a\n2,\n2,c\n3,d,EXTRA\n")
    val csv = CsvSpec(f.toString, quote = "\"")
    val raw = CsvSource.read(spark, csv)
    withinBudget("CsvAudit", CsvAuditBudget)(
      CsvAudit.audit(raw, keys = Seq("id", "name"), columns = Seq("name")))
    assert(withinBudget("malformedCount", MalformedBudget)(
      CsvSource.malformedCount(spark, csv)) == 1)
    val db = withinBudget("DatabaseAudit", DatabaseAuditBudget)(DatabaseAudit.audit(
      table, coverageColumns = Seq("k", "v"), geocodingAddressColumn = Some("v"),
      geocodingLatColumn = "id"))
    assert(db.rowCount == 5 && db.needsGeocodingCount.contains(0L))
  }

  // Task-result bytes of the DedupAudit call below (local[8]): 47,788
  // with the key table holding the 10 repeated keys, 214,524 when it
  // held all 20,000.
  private val DedupAuditDriverBytes = 100000L

  test("a dedup audit sends the repeated keys through the driver, not every key") {
    // 20,000 rows on unique keys, then 10 more on 10 of those keys
    val n = 20000L
    val keyed = spark.range(n + 10).select(col("id"),
      concat(lit("k"), col("id") % n).as("k"))
    val (rep, bytes) = driverBytes(DedupAudit.audit(keyed, spec, orientation))
    assert(rep == DedupAuditReport(n + 10, Map(1 -> 10L), 0, 0))
    assert(bytes <= DedupAuditDriverBytes,
      s"DedupAudit fetched $bytes task-result bytes, bound $DedupAuditDriverBytes")
  }
}
