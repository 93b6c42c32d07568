package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One unit of a workload's work, measured untraced.
  * @param wallS    wall of the unit
  * @param docs     input docs the unit processed
  * @param problems failed output checks; non-empty marks the unit failed */
final case class UnitOut(wallS: Double, docs: Double,
                         recall: Double, precision: Double,
                         extra: Map[String, Double], problems: Seq[String])

trait Workload {
  /** Generate and stage the inputs; timed, `setupReps` times. */
  def setup(): Unit
  def setupReps: Int = 3
  /** One discarded unit, so the JIT and Spark's code generation are warm
    * before the first recorded unit. */
  def warmUp(): Unit = unit()
  def unit(): UnitOut
  /** One traced unit: (traced wall, per-layer metrics, failed checks). */
  def traced(t: Tracer): (Double, Map[String, Double], Seq[String])
}

object Workload {
  def driverMetrics(t: Tracer, root: Span): Map[String, Double] = {
    val core = t.runCoreS
    Map(
      "driver.jobs" -> t.runJobs.toDouble,
      "driver.gap_s" -> t.gapS(root),
      "driver.core_s" -> core,
      "driver.busy_frac" -> core / (Main.cores * root.durS))
  }
}

/** Wall time of a block. */
object Clock {
  def apply[T](f: => T): (T, Double) = {
    val w0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - w0) / 1e9)
  }
}

object Main {
  val cores = 4

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it; the max when
    * there are too few samples for that. Returns (value, samples, pct). */
  def tail(xs: Seq[Double]): (Double, Int, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, s.size, 100.0)
    else {
      val idx = s.size - 11
      (s(idx), s.size, 100.0 * (idx + 1) / s.size)
    }
  }

  private val t0 = System.nanoTime()
  /** Seconds since the harness started, for the log. */
  def at: String = f"[${(System.nanoTime() - t0) / 1e9}%.1fs]"

  def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").take(3).mkString(" ")

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work-dir")
    val resultPath = Paths.get(opt("result"))
    val loads = scala.collection.mutable.ArrayBuffer(s"start ${loadAvg()}")
    println(s"perfbench: workload=$workload seed=$seed seconds=$seconds trace=${opt("trace")} " +
      s"local[$cores] nproc=${Runtime.getRuntime.availableProcessors()} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory() / (1 << 20)} " +
      s"cc_driver_edge_limit=${graft.pipeline.ConnectedComponents.driverEdgeLimit}")
    if (Runtime.getRuntime.availableProcessors() < cores)
      println(s"perfbench: WARNING nproc ${Runtime.getRuntime.availableProcessors()} < local[$cores]: " +
        "task threads oversubscribe the host; figures are not comparable")

    val (spark, sessionS) = Clock(session(work))
    val dir = s"$work/input"
    val parts = cores * 2
    val w: Workload = workload match {
      case "web_large" => new PipelineWorkload(spark, dir, parts, trace,
        n => Corpus.webLarge(seed, 8000 / n))
      case "dup_heavy" => new PipelineWorkload(spark, dir, parts, trace,
        n => Corpus.dupHeavy(seed, megaSize = 1300 / n, cliqueTop = 320 / n, chains = 120 / n,
          negatives = 300 / n, boiler = 1050 / n))
      case "upsert" => new UpsertWorkload(spark, dir, parts, seed, nBase = 200, batchSize = 30)
      case "data_prep" => new DataPrepWorkload(spark, dir, parts, seed, nDocs = 1500, nVecs = 2000)
      case other => sys.error(s"unknown workload $other")
    }
    val setupTimes = (1 to w.setupReps).map(_ => Clock(w.setup())._2)
    val setupS = sessionS + median(setupTimes)
    println(f"perfbench: $at setup session=$sessionS%.3fs inputs=${setupTimes.map(x => f"$x%.3f").mkString(",")}s")
    loads += s"setup ${loadAvg()}"
    val (_, warmS) = Clock(w.warmUp())
    println(f"perfbench: $at warm-up $warmS%.3fs")
    System.gc()

    val units = scala.collection.mutable.ArrayBuffer.empty[UnitOut]
    val tracedRuns = scala.collection.mutable.ArrayBuffer.empty[(Double, Map[String, Double], Seq[String])]
    val tracer = if (trace) {
      val l = new TraceListener
      spark.sparkContext.addSparkListener(l)
      Some(new Tracer(spark.sparkContext, l))
    } else None
    val spanFile = Paths.get(work, "spans.jsonl")
    // units until the window closes, at least one; when tracing, each
    // untraced unit is followed by a traced one
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || units.isEmpty) {
      val u = w.unit()
      units += u
      println(f"perfbench: $at unit $i wall=${u.wallS}%.3fs recall=${u.recall}%.4f precision=${u.precision}%.4f " +
        s"problems=${u.problems.mkString("; ")}")
      tracer.foreach { t =>
        t.startRun(s"r$i")
        val tr = w.traced(t)
        t.dump(spanFile)
        tracedRuns += tr
        println(f"perfbench: $at traced unit $i wall=${tr._1}%.3fs problems=${tr._3.mkString("; ")} " +
          tr._2.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      }
      loads += s"unit$i ${loadAvg()}"
      System.gc()
      i += 1
    }

    val attempted = units.size + tracedRuns.size
    val failed = units.count(_.problems.nonEmpty) + tracedRuns.count(_._3.nonEmpty)
    val lat = units.map(_.wallS).toSeq
    val (tailS, tailN, tailPct) = tail(lat)
    val e2e = Seq(
      "setup_s" -> setupS,
      "docs_per_s" -> median(units.map(u => u.docs / u.wallS).toSeq),
      "dup_pair_recall" -> units.map(_.recall).min,
      "pair_precision" -> units.map(_.precision).min,
      "peak_rss_mb" -> peakRssMb())
    val extras = units.flatMap(_.extra.keys).distinct.map(k => k -> median(units.flatMap(_.extra.get(k)).toSeq))
    println(f"perfbench: latency p50=${median(lat)}%.4fs tail=$tailS%.4fs (p$tailPct%.0f of $tailN samples) " +
      f"failed_frac=${failed.toDouble / attempted}%.4f")
    extras.foreach { case (k, v) => println(f"perfbench: $k=$v%.6f") }
    println(s"perfbench: $at loadavg ${loads.mkString(" | ")}")

    // names only: run.py takes the metric list and units from BENCHMARK.json
    val metrics: Seq[(String, Double)] =
      if (!trace) e2e
      else {
        val layer = tracedRuns.toSeq.flatMap(_._2.keys).distinct.sorted.map { k =>
          k -> median(tracedRuns.flatMap(_._2.get(k)).toSeq)
        }
        val tracedWall = median(tracedRuns.map(_._1).toSeq)
        val untracedWall = median(units.map(_.wallS).toSeq)
        layer ++ Seq(
          "trace.wall_s" -> tracedWall,
          "trace.untraced_wall_s" -> untracedWall,
          "trace.overhead_frac" -> (tracedWall / untracedWall - 1.0),
          "host.load1_max" -> loads.map(_.split(" ")(1).toDouble).max)
      }
    metrics.foreach { case (k, v) => println(f"perfbench: metric $k = $v%.6f") }
    val json = metrics.map { case (k, v) =>
      s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
    }.mkString("{", ",", "}")
    Files.write(resultPath,
      s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$json}"""
        .getBytes("UTF-8"))
    spark.stop()
  }
}
