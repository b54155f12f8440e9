package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.ListenerDrain
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators._
import graft.sources.{CsvSource, CsvSpec}

/** Each report is one aggregation: the number of SQL executions a
  * report call runs, counted by a QueryExecutionListener. */
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
}
