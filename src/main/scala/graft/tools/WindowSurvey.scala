package graft.tools

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.graftshim.PlanProbe

/** One-shot survey for the r13 empirical window audit: for every
  * window in every gate's OPTIMIZED logical plan, measure the child
  * row count and the partition-key group count on the sf0.001 fixture
  * and print them, so the audit's flag thresholds are picked against
  * the real distribution instead of guessed. Windows whose input is
  * structurally limit-bounded (a WindowGroupLimit / Limit beneath)
  * are reported as exempt without measurement. */
object WindowSurvey {

  def limitBoundedL(w: Window): Boolean =
    w.child.collectFirst {
      case g: WindowGroupLimit => g
      case l: GlobalLimit => l
      case l: LocalLimit => l
    }.isDefined

  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dirS = sys.env.getOrElse("SURVEY_SMALL", "/root/testdata/sf0.001")
    val dirB = sys.env.getOrElse("SURVEY_BIG", "/root/testdata/sf0.01")
    val cache = scala.collection.mutable.HashMap[String, (Long, Long)]()
    def measure(w: Window): (Long, Long) = {
      val key = w.partitionSpec.map(_.canonicalized).mkString(",") +
        "|" + w.child.canonicalized.toString
      cache.getOrElseUpdate(key, {
        val rows = PlanProbe.ofRows(spark, w.child).count()
        val groups = PlanProbe
          .ofRows(spark, PlanProbe.distinctOf(w.partitionSpec, w.child))
          .count()
        (rows, groups)
      })
    }
    def liveWindows(name: String, dir: String): Seq[Window] =
      graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
        .collectWithSubqueries { case w: Window => w }
        .filter(w => w.partitionSpec.nonEmpty && !limitBoundedL(w))
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val small = liveWindows(name, dirS)
        if (small.nonEmpty) {
          val big = liveWindows(name, dirB)
          if (big.size != small.size)
            println(f"$name%-24s WINDOW-COUNT-MISMATCH " +
              s"${small.size} vs ${big.size}")
          else small.zip(big).foreach { case (ws, wb) =>
            val pk = ws.partitionSpec.map(_.sql).mkString(", ")
            val (rs, gs) = measure(ws)
            val (rb, gb) = measure(wb)
            val avgS = if (gs == 0) 0.0 else rs.toDouble / gs
            val avgB = if (gb == 0) 0.0 else rb.toDouble / gb
            val bloat = if (avgS == 0) 1.0 else avgB / avgS
            println(f"$name%-24s rows=$rs%-6d->$rb%-8d groups=$gs%-5d" +
              f"->$gb%-7d avg=$avgS%-7.1f->$avgB%-9.1f bloat=$bloat%-6.2f" +
              f" pk=[$pk]")
          }
        }
      } catch {
        case e: Throwable =>
          println(f"$name%-24s SURVEY-FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
