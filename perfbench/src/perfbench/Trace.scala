package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced call: name, wall interval (epoch ms), the span that caused
  * it, and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startMs: Long, var endMs: Long = -1L) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Task totals attributed to one job group (one span). */
final class GroupStats {
  var jobs = 0
  var coreMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** The benchmark's own SparkListener: maps stages to the job group their
  * job ran under and sums task metrics per group. */
final class TraceListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val groups = mutable.Map.empty[String, GroupStats]
  /** (group, startMs, endMs) per job; end = -1 until the job ends */
  val jobs = mutable.Map.empty[Int, (String, Long, Long)]

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobs(e.jobId) = (g, e.time, -1L)
    val st = stats(g)
    st.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (g, s, _) => jobs(e.jobId) = (g, s, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stats(stageGroup.getOrElse(e.stageId, ""))
      st.coreMs += m.executorRunTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.diskBytesSpilled
      st.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  def seenGroup(g: String): Boolean = synchronized {
    jobs.values.exists { case (jg, _, end) => jg == g && end >= 0 }
  }

  def reset(): Unit = synchronized { stageGroup.clear(); groups.clear(); jobs.clear() }
}

/** Spans around the benchmark's calls into each layer. Every span runs
  * its actions under its own job group, so the listener can attribute
  * tasks to it. Spans stay in memory; `dump` writes them at the end. */
final class Tracer(sc: SparkContext, val listener: TraceListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var runId = ""

  def group(id: Int): String = s"$runId/$id"

  def startRun(id: String): Unit = {
    runId = id
    spans.clear()
    listener.reset()
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, name, stack.headOption.getOrElse(-1), runId, System.currentTimeMillis())
    stack = id :: stack
    sc.setJobGroup(group(id), name)
    try body
    finally {
      spans(id).endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), spans(p).name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener has seen every event posted so far: the bus
    * delivers in order, so seeing a sentinel job's end means every
    * earlier task and job event was delivered. */
  def drain(): Unit = {
    val g = s"$runId/drain"
    sc.setJobGroup(g, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000L
    while (!listener.seenGroup(g) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(listener.seenGroup(g), "listener bus did not drain")
  }

  def named(name: String): Option[Span] = spans.find(_.name == name)

  def selfS(s: Span): Double =
    s.durS - spans.filter(_.parent == s.id).map(_.durS).sum

  def stats(s: Span): GroupStats = listener.groups.getOrElse(group(s.id), new GroupStats)

  /** Heaviest stage of the span: max task time over median task time. */
  def taskSkew(s: Span): Double = {
    val stages = stats(s).stageTaskMs.values.filter(_.size >= 2)
    if (stages.isEmpty) 1.0
    else {
      val ts = stages.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      ts.last.toDouble / math.max(1L, med)
    }
  }

  /** Wall of `root` covered by no running job (ms resolution). */
  def gapS(root: Span): Double = {
    val iv = listener.jobs.values.toSeq.collect {
      case (g, s, e) if g.startsWith(runId + "/") && !g.endsWith("/drain") && e >= 0 =>
        (math.max(s, root.startMs), math.min(e, root.endMs))
    }.filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    ((root.endMs - root.startMs) - covered) / 1000.0
  }

  /** Jobs of the current run, the drain sentinel excluded. */
  def runJobs: Int =
    listener.jobs.values.count { case (g, _, _) =>
      g.startsWith(runId + "/") && !g.endsWith("/drain") }

  /** Task time of the current run, in core-seconds. */
  def runCoreS: Double =
    listener.groups.collect { case (g, st) if g.startsWith(runId + "/") => st.coreMs }.sum / 1000.0

  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"run":"${s.run}","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}
