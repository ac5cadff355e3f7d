package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One traced call. `kind` is `root` (an iteration), `layer` (a call into a
  * layer, or a CLI verb) or `measure` (work the benchmark adds only to
  * measure: noop prefixes, file listings), which traced wall time excludes. */
final case class Span(id: Int, name: String, parent: Int, kind: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
  def group: String = s"perfbench-$id"
}

/** Resources one span's Spark jobs used, summed from task metrics. */
final case class Res(cpuNs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
                     bytesWritten: Long = 0, recordsWritten: Long = 0) {
  def +(o: Res): Res = Res(cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, bytesWritten + o.bytesWritten, recordsWritten + o.recordsWritten)
  def -(o: Res): Res = Res(cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, bytesWritten - o.bytesWritten, recordsWritten - o.recordsWritten)
}

object SelfTime {
  /** Length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover (each child clipped to the parent). */
  def selfNs(parent: (Long, Long), children: Seq[(Long, Long)]): Long =
    (parent._2 - parent._1) -
      unionNs(children.map(c => (math.max(c._1, parent._1), math.min(c._2, parent._2))))
}

/** Per-job task metrics. A job belongs to the span whose job group it
  * carries; jobs started under another group (a streaming query sets its
  * own) belong to the span that was open when they were submitted. */
final class JobListener extends SparkListener {
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobs = new ConcurrentHashMap[Int, (String, Long)]()
  private val perJob = new ConcurrentHashMap[Int, Res]()
  @volatile var totalCpuNs = 0L
  @volatile var totalSpill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, (g.getOrElse(""), e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val r = Res(m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten)
    synchronized { totalCpuNs += r.cpuNs; totalSpill += r.spillBytes }
    val job = stageJob.getOrDefault(e.stageId, -1)
    perJob.merge(job, r, (a: Res, b: Res) => a + b)
  }

  /** Resources of every span, by span id. */
  def attribute(spans: Seq[Span]): Map[Int, Res] = {
    val byGroup = spans.map(s => s.group -> s.id).toMap
    val leaves = spans.filter(_.kind != "root")
    val out = mutable.Map.empty[Int, Res].withDefaultValue(Res())
    perJob.asScala.foreach { case (job, r) =>
      Option(jobs.get(job)).foreach { case (g, t) =>
        val owner = byGroup.get(g).orElse(
          leaves.find(s => s.startMs <= t && t <= s.endMs).map(_.id))
        owner.foreach(id => out(id) = out(id) + r)
      }
    }
    out.toMap
  }

  def clear(): Unit = { stageJob.clear(); jobs.clear(); perJob.clear() }
}

/** Records spans when enabled; otherwise runs bodies untouched. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](name: String, kind: String = "layer")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        stack.headOption match {
          case Some((p, pName)) => sc.setJobGroup(s"perfbench-$p", pName, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, kind, s0, s1, m0, m1)
      }
    }

  def toJson(res: Map[Int, Res]): String = spans.sortBy(_.id).map { s =>
    val r = res.getOrElse(s.id, Res())
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"kind":"${s.kind}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"cpu_ns":${r.cpuNs},""" +
      s""""shuffle_bytes":${r.shuffleBytes},"spill_bytes":${r.spillBytes},""" +
      s""""bytes_written":${r.bytesWritten},"records_written":${r.recordsWritten}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
