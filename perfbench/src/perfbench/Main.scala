package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/**
 * Benchmark driver: one closed-loop client running one job at a time in
 * this Spark driver process (`local[N]`, N = available cores, shuffle
 * partitions = N). After set-up it runs one cold job, then the workload's
 * fixed number of warm jobs, and more warm jobs only while `--seconds` have
 * not yet passed; the medians are taken over the first
 * [[Workload.warmJobs]] warm jobs alone, so they do not depend on how many
 * jobs fit. With `--trace 0` it prints the end-to-end metrics; with
 * `--trace 1` it alternates traced and plain warm jobs and prints the
 * per-layer metrics. The last stdout line is the result object.
 *
 * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *        --work DIR --trace-out FILE
 */
object Main {
  val Layers: Seq[String] = Seq("csvsource", "workingtable", "matcher",
    "fuzzy.candidates", "fuzzy.assign", "merger", "sink", "deduper", "audits")

  /** Layer spans that run again inside a composite call (`Merger.merge`
    * runs the matcher and fuzzy phases, `Deduper.dedup` runs the matcher):
    * the composite's self time is its span minus these spans, measured on
    * the same inputs. Its other metrics are the whole call's. */
  val Derived: Map[String, Seq[String]] = Map(
    "merger" -> Seq("matcher", "fuzzy.candidates", "fuzzy.assign"),
    "deduper" -> Seq("matcher"))

  val DerivedNote: String = Derived.map { case (l, parts) =>
    s"$l.s = $l span - ${parts.mkString(" - ")} spans" }.mkString("; ")

  val Counts: Seq[String] = Seq("csvsource.rows", "csvsource.malformed",
    "workingtable.rows", "matcher.matched", "matcher.match_rate", "fuzzy.pairs",
    "fuzzy.accepted", "fuzzy.accept_ratio", "merger.updated", "merger.inserted",
    "merger.returned", "deduper.duplicates", "deduper.reflexive", "deduper.symmetric")

  /** A span with its Spark usage and driver gap seconds. */
  type SpanRow = (Span, Usage, Double)

  final case class Job(wall: Double, cpu: Double, usage: Usage, peakMb: Double,
                       checks: Int, failures: Seq[String], layers: Map[String, Double],
                       spans: Seq[SpanRow])

  private def processCpuSec(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def fmix64(x: Long): Long = {
    var h = x
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Serial host-speed kernel, the shape of `graft.Bench`'s calibration
    * at a sixth of its length: a fixed fmix64 chain on one core. */
  private def calibrate(): Double = {
    var h = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 20000000) { h = fmix64(h + i); i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (h == 0) System.err.println("calib sink")
    dt
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else BigDecimal(x).bigDecimal.stripTrailingZeros.toPlainString

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    var spark: SparkSession = null
    try {
      // set-up, timed once as a run pays it: session start (with the JVM's
      // class loading), then the seeded inputs
      val t0 = System.nanoTime()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      val sc = spark.sparkContext
      sc.setLogLevel("WARN")
      val rec = new Recorder
      sc.addSparkListener(rec)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val g0 = System.nanoTime()
      w.generate(spark, seed, s"$work/input")
      val genS = (System.nanoTime() - g0) / 1e9
      val setupS = sessionS + genS
      w.prepareChecks()
      val calibBefore = median(Seq.fill(3)(calibrate()))
      val out = s"$work/out"
      val tracer = new Tracer(sc, rec)

      def runJob(traceIt: Boolean): Job = {
        BenchBus.drain(sc)
        val from = rec.mark()
        val base = rec.cachedBytes
        val c0 = processCpuSec()
        val j0 = System.nanoTime()
        val attempt = scala.util.Try {
          if (traceIt) {
            val checks = w.traced(spark, tracer, out)
            val (spanWall, spans) = tracer.end()
            (checks, spanWall, spans)
          } else (w.run(spark, out), 0.0, Seq.empty[Span])
        }
        val wall = (System.nanoTime() - j0) / 1e9
        val cpu = processCpuSec() - c0
        BenchBus.drain(sc)
        val usage = rec.usage(from)
        val peak = rec.peakSinceMark(base) / 1e6
        val k0 = System.nanoTime()
        val job = attempt.flatMap { case (checks, spanWall, spans) =>
          scala.util.Try {
            val rows = spans.map(s => (s, tracer.usage(s), tracer.gapSeconds(s)))
            val o = checks()
            o.release()
            Job(wall, cpu, usage, peak, o.checks.size, o.failures,
              if (traceIt) layerMetrics(rows, spanWall) ++ o.counts else Map.empty, rows)
          }
        }.recover { case e: Throwable =>
          System.err.println(s"[perfbench] job failed: $e")
          e.printStackTrace()
          Job(wall, cpu, usage, peak, 0, Seq(s"exception: $e"), Map.empty, Nil)
        }.get
        spark.catalog.clearCache()
        System.err.println(f"[perfbench] ${if (traceIt) "traced" else "plain"} job: $wall%.2f s, " +
          f"checks ${(System.nanoTime() - k0) / 1e9}%.2f s")
        job.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
        job
      }

      val cold = runJob(traceIt = false)
      val warm = mutable.ArrayBuffer.empty[Job]
      val tracedJobs = mutable.ArrayBuffer.empty[Job]
      val w0 = System.nanoTime()
      def elapsed = (System.nanoTime() - w0) / 1e9
      while (warm.size < w.warmJobs || elapsed < seconds) {
        if (traced) tracedJobs += runJob(traceIt = true)
        warm += runJob(traceIt = false)
      }
      val calibAfter = median(Seq.fill(3)(calibrate()))

      val all = Seq(cold) ++ warm ++ tracedJobs
      val failed = all.count(_.failures.nonEmpty)
      val ok = warm.take(w.warmJobs).filter(_.failures.isEmpty).toSeq
      def med(f: Job => Double) = median(ok.map(f))
      val jobS = med(_.wall)
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("cold_job_s", cold.wall, "s"),
          ("job_s", jobS, "s"),
          ("rows_per_s", if (jobS > 0) w.rows / jobS else 0.0, "rows/s"),
          ("cpu_s", med(_.cpu), "s"),
          ("spark_jobs", med(_.usage.jobs.toDouble), "count"),
          ("shuffle_mb", med(_.usage.shuffleMb), "MB"),
          ("driver_mb", med(_.usage.driverMb), "MB"),
          ("peak_cached_mb", med(_.peakMb), "MB"))
        else {
          val tok = tracedJobs.take(w.warmJobs).filter(_.failures.isEmpty).toSeq
          def tmed(k: String) = median(tok.map(_.layers.getOrElse(k, 0.0)))
          val perLayer = for (l <- Layers; (m, unit) <- LayerMetrics)
            yield (s"$l.$m", tmed(s"$l.$m"), unit)
          perLayer ++ Counts.map(k => (k, tmed(k), if (k.endsWith("_ratio") || k.endsWith("_rate")) "ratio" else "count")) ++
            Seq(("trace.overhead_s", median(tok.map(_.wall)) - jobS, "s"),
              ("trace.unattributed_s", tmed("trace.unattributed_s"), "s"))
        }
      val attrs = tracedJobs.flatMap(_.spans.flatMap(_._1.attrs)).toMap
      val meta = Seq(
        "workload" -> str(w.name), "seed" -> seed.toString, "cores" -> cores.toString,
        "session_s" -> num(sessionS), "generate_s" -> num(genS),
        "warm_jobs" -> ok.size.toString, "warm_jobs_run" -> warm.size.toString,
        "traced_jobs_run" -> tracedJobs.size.toString,
        "error_rate" -> num(failed.toDouble / all.size),
        "checks_run" -> all.map(_.checks).sum.toString,
        "calib_before_s" -> num(calibBefore), "calib_after_s" -> num(calibAfter),
        "calib_drift" -> (math.abs(calibAfter - calibBefore) > 0.1 * calibBefore).toString,
        "warm_job_s" -> warm.map(j => num(j.wall)).mkString("[", ", ", "]"),
        "traced_job_s" -> tracedJobs.map(j => num(j.wall)).mkString("[", ", ", "]")) ++
        (if (traced) Seq("derived" -> str(DerivedNote)) else Nil) ++
        attrs.toSeq.sorted.map { case (k, v) => k -> str(v) }
      if (traced) args.get("trace-out").foreach(p => writeTrace(p, w.name, seed, tracedJobs.toSeq))
      println(obj(Seq("meta" -> obj(meta))))
      println(obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> all.size.toString,
        "failed" -> failed.toString,
        "metrics" -> obj(metrics.map { case (k, v, u) =>
          k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }))))
    } finally {
      if (spark != null) spark.stop()
      Gen.deleteRecursively(new File(work))
    }
  }

  val LayerMetrics: Seq[(String, String)] = Seq("s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB", "driver_mb" -> "MB",
    "gap_s" -> "s")

  /** Per-layer metrics of one traced job (spans are flat children of the
    * job, so a span's self time is its wall, except for the [[Derived]]
    * layers), plus the job time no span covers. */
  private def layerMetrics(rows: Seq[SpanRow], wall: Double): Map[String, Double] = {
    def vec(layer: String): Seq[Double] = rows.filter(_._1.layer == layer)
      .map { case (s, u, gap) => Seq(s.seconds, u.jobs.toDouble, u.taskS, u.shuffleMb,
        u.spillMb, u.driverMb, gap) }
      .foldLeft(Seq.fill(7)(0.0))((a, b) => a.zip(b).map(p => p._1 + p._2))
    val perLayer = Layers.flatMap { l =>
      val own = vec(l)
      val self = Derived.get(l).filter(_ => own.head > 0)
        .fold(own.head)(parts => own.head - parts.map(vec(_).head).sum)
      LayerMetrics.map(_._1).zip(self +: own.tail).map { case (m, x) => s"$l.$m" -> x }
    }
    val covered = Tracer.unionMs(rows.map(r => (r._1.startMs, r._1.endMs))) / 1000.0
    (perLayer :+ ("trace.unattributed_s" -> math.max(0.0, wall - covered))).toMap
  }

  /** Spans of every traced job as JSON lines, written once at the end. */
  private def writeTrace(path: String, workload: String, seed: Long,
                         jobs: Seq[Job]): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try jobs.zipWithIndex.foreach { case (job, j) =>
      job.spans.foreach { case (s, u, gap) =>
        pw.println(obj(Seq("workload" -> str(workload), "seed" -> seed.toString,
          "job" -> j.toString, "span" -> s.id.toString, "layer" -> str(s.layer),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "jobs" -> u.jobs.toString, "task_s" -> num(u.taskS),
          "shuffle_mb" -> num(u.shuffleMb), "spill_mb" -> num(u.spillMb),
          "driver_mb" -> num(u.driverMb), "gap_s" -> num(gap)) ++
          s.attrs.toSeq.map { case (k, v) => k -> str(v) }))
      }
    } finally pw.close()
  }
}
