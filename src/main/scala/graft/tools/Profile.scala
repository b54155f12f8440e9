package graft.tools

import org.apache.spark.scheduler._

/** Per-stage wall/task breakdown for one or more gates under the EXACT
  * Bench session shape (local[$SPARK_GRAFT_CPUS], shuffle.partitions =
  * cpus, AQE on, noop sink) — guide §1's "decide whether the time goes
  * to shuffle read, compute, or scheduling" loop without the UI (the
  * sandbox runs headless). Prints, per stage: wall span, summed task
  * time, task count, and the stage name — so a 1-task stage burning
  * seconds (the serial-scan signature) or a 100-job query (driver
  * round-trip latency) is readable at a glance.
  *
  * Diagnostic harness only: never run by the driver, no artifact.
  */
object Profile {
  private final case class StageAgg(
    name: String, var tasks: Int = 0, var taskMs: Long = 0L,
    var firstLaunch: Long = Long.MaxValue, var lastFinish: Long = 0L,
    var cpuNs: Long = 0L, var gcMs: Long = 0L, var deserMs: Long = 0L,
    var fetchWaitMs: Long = 0L, var shufReadB: Long = 0L,
    var shufWriteB: Long = 0L, var spillB: Long = 0L,
    var inRecords: Long = 0L, var outRecords: Long = 0L)

  def main(args: Array[String]): Unit = {
    val spark = graft.Gateway.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    try spark.read.parquet(s"$dir/region.parquet").count()
    catch { case _: Throwable => }

    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobSites =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        // group jobs by SQL execution id: each ACTION (write/count/
        // head) is one execution; AQE stage-materialization jobs share
        // their parent's id, so `execs` below counts real actions and
        // jobs/exec shows the AQE stage fan-out. The name is the
        // result stage's callsite (the action's code line).
        val exec = j.properties match {
          case p if p != null =>
            Option(p.getProperty("spark.sql.execution.id")).getOrElse("-")
          case _ => "-"
        }
        val name = j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("?")
        jobSites.merge(s"exec=$exec  $name", 1, (a, b) => a + b)
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.putIfAbsent(s.stageInfo.stageId, StageAgg(s.stageInfo.name))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val a = stages.get(t.stageId)
        if (a != null && t.taskInfo != null) a.synchronized {
          a.tasks += 1
          a.taskMs += t.taskInfo.duration
          a.firstLaunch = math.min(a.firstLaunch, t.taskInfo.launchTime)
          a.lastFinish = math.max(a.lastFinish, t.taskInfo.finishTime)
          val m = t.taskMetrics
          if (m != null) {
            a.cpuNs += m.executorCpuTime
            a.gcMs += m.jvmGCTime
            a.deserMs += m.executorDeserializeTime
            a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            a.shufReadB += m.shuffleReadMetrics.totalBytesRead
            a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
            a.spillB += m.diskBytesSpilled
            a.inRecords += m.inputMetrics.recordsRead +
              m.shuffleReadMetrics.recordsRead
            a.outRecords += m.outputMetrics.recordsWritten +
              m.shuffleWriteMetrics.recordsWritten
          }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.drop(1).foreach { q =>
      // warm run: codegen + JIT land here, mirroring Bench's rep
      // structure where the median sheds the cold rep
      try graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"[profile] $q warm-up FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
      graft.Gateway.releaseAllCaches()
      org.apache.spark.sql.graftshim.ListenerDrain.drain(spark.sparkContext)
      stages.clear(); jobs.set(0); jobSites.clear()
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"[profile] $q FAILED: ${e.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftshim.ListenerDrain.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.sortBy(_._1)
      val sumTask = ss.map(_._2.taskMs).sum / 1e3
      val sumSpan = ss.map { case (_, a) =>
        if (a.lastFinish > 0) (a.lastFinish - a.firstLaunch) / 1e3 else 0.0
      }.sum
      println(f"==== $q wall=$wall%.2fs jobs=${jobs.get()} stages=${ss.size} " +
        f"sum_task=$sumTask%.1fs sum_stage_span=$sumSpan%.1fs ====")
      import scala.jdk.CollectionConverters._
      jobSites.asScala.toSeq.sortBy(-_._2.intValue()).foreach {
        case (site, n) => println(f"  jobs $n%3d  $site")
      }
      ss.sortBy { case (_, a) =>
        -(if (a.lastFinish > 0) a.lastFinish - a.firstLaunch else 0L)
      }.take(Integer.getInteger("profile.topStages", 18).intValue())
        .foreach { case (id, a) =>
          val span = if (a.lastFinish > 0) (a.lastFinish - a.firstLaunch) / 1e3 else 0.0
          println(f"  stage $id%4d span=$span%6.2fs tasks=${a.tasks}%4d " +
            f"taskSum=${a.taskMs / 1e3}%7.2fs cpu=${a.cpuNs / 1e9}%6.2fs " +
            f"gc=${a.gcMs / 1e3}%5.2fs deser=${a.deserMs / 1e3}%5.2fs " +
            f"fw=${a.fetchWaitMs / 1e3}%5.2fs in=${a.inRecords}%8d " +
            f"out=${a.outRecords}%8d sw=${a.shufWriteB / 1024}%7dK " +
            f"spill=${a.spillB / 1024}%6dK  ${a.name.take(70)}")
        }
      spark.catalog.clearCache()
      graft.Gateway.releaseAllCaches()
    }
    spark.stop()
  }
}
