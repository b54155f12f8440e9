package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.ListenerDrain
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators._
import graft.sources.{CsvSource, CsvSpec}

/** Each report is one aggregation: the number of SQL executions a
  * report call runs, counted by a QueryExecutionListener. The fuzzy
  * assignment and candidate generation are held to the same standard:
  * no action and no shuffle beyond the ones that produce their result. */
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

  /** The shuffle bytes written by the tasks `body` runs, with its result. */
  private def shuffleBytes[A](body: => A): (A, Long) = {
    val sc = spark.sparkContext
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      ListenerDrain.drain(sc)
      (a, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

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
}
