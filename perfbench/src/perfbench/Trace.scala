package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Resource totals of a set of completed Spark stages. */
final case class Usage(jobs: Long, taskS: Double, shuffleMb: Double,
                       spillMb: Double, driverMb: Double)

/**
 * Listener that keeps every job and completed stage in memory, tagged with
 * the job group that was set when the job started, plus the bytes of
 * persisted RDD blocks (current and peak). Events arrive on the listener
 * thread; readers call [[BenchBus.drain]] first and read under the lock.
 */
final class Recorder extends SparkListener {
  final case class StageRec(group: String, startMs: Long, endMs: Long,
                            taskS: Double, shuffleB: Long, spillB: Long, resultB: Long)

  private val jobGroups = mutable.ArrayBuffer.empty[String]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cachedB = 0L
  private var peakB = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobGroups += g
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stageRecs += StageRec(stageGroup.getOrElse(si.stageId, null),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      m.executorRunTime / 1000.0, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, m.resultSize)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedB += size - blocks.getOrElse(id, 0L)
      if (size == 0L) blocks.remove(id) else blocks(id) = size
      peakB = math.max(peakB, cachedB)
    }
  }

  /** Position marker: everything recorded after it belongs to a window. */
  def mark(): (Int, Int) = synchronized {
    peakB = cachedB
    (jobGroups.size, stageRecs.size)
  }

  /** Peak persisted bytes since the last [[mark]], over its starting level. */
  def peakSinceMark(base: Long): Long = synchronized(peakB - base)
  def cachedBytes: Long = synchronized(cachedB)

  def usage(from: (Int, Int), group: String => Boolean = _ => true): Usage = synchronized {
    val st = stageRecs.drop(from._2).filter(s => group(s.group))
    Usage(jobGroups.drop(from._1).count(group).toLong, st.map(_.taskS).sum,
      st.map(_.shuffleB).sum / 1e6, st.map(_.spillB).sum / 1e6,
      st.map(_.resultB).sum / 1e6)
  }

  /** Running intervals of the stages of one job group. */
  def intervals(from: (Int, Int), group: String): Seq[(Long, Long)] = synchronized {
    stageRecs.drop(from._2).filter(_.group == group).map(s => (s.startMs, s.endMs)).toSeq
  }
}

/** A span around one call into a layer. Times are epoch milliseconds so
  * they line up with Spark's stage timestamps. */
final case class Span(id: Int, layer: String, startMs: Long,
                      endMs: Long, attrs: Map[String, String]) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/**
 * Span recorder for one traced job. Each span sets a job group of its own
 * before the layer call, so every Spark job the call issues (including the
 * eager ones inside the library) is charged to that span.
 */
final class Tracer(sc: SparkContext, rec: Recorder) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var from: (Int, Int) = (0, 0)
  private var rootStart = 0L

  def group(id: Int): String = s"perfbench-span-$id"

  def begin(): Unit = {
    BenchBus.drain(sc)
    spans.clear()
    from = rec.mark()
    rootStart = System.currentTimeMillis()
  }

  /** Run `body` as one span of `layer`; `attrs` may add span attributes
    * computed from the body's result. */
  def span[A](layer: String)(body: => A)(attrs: A => Map[String, String] = (_: A) => Map.empty[String, String]): A = {
    val id = nextId
    nextId += 1
    sc.setJobGroup(group(id), layer, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try {
      val out = body
      spans += Span(id, layer, t0, System.currentTimeMillis(), attrs(out))
      out
    } finally sc.clearJobGroup()
  }

  /** Close the traced job: wall seconds and the recorded spans. */
  def end(): (Double, Seq[Span]) = {
    val wall = (System.currentTimeMillis() - rootStart) / 1000.0
    BenchBus.drain(sc)
    (wall, spans.toList)
  }

  def usage(s: Span): Usage = rec.usage(from, _ == group(s.id))

  /** Span wall minus the union of its stages' running intervals. */
  def gapSeconds(s: Span): Double =
    s.seconds - Tracer.unionMs(rec.intervals(from, group(s.id))
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }) / 1000.0
}

object Tracer {
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
