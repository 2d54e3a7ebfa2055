package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A named interval inside one operation of the traced run. */
final case class Span(name: String, parent: String, op: Int, startNs: Long, endNs: Long)

/** Listener counts for one operation. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskCpuNs = 0L; var taskRunMs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
  val jobStartMs = ArrayBuffer.empty[Long]
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** In-memory tracer of the traced run. Operations run one at a time on
  * one client thread, so every listener event seen while operation `k`
  * is current belongs to `k`; [[end]] drains the listener bus before the
  * next operation starts. */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var current = -1
  private val counters = scala.collection.mutable.Map.empty[Int, OpCounters]
  private val open = scala.collection.mutable.Map.empty[Int, Long]
  val spans = ArrayBuffer.empty[Span]

  def begin(op: Int): Unit = synchronized {
    counters(op) = new OpCounters; current = op
  }
  def end(op: Int): OpCounters = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { current = -1; counters(op) }
  }
  def span[T](name: String, parent: String, op: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans += Span(name, parent, op, t0, System.nanoTime())
  }

  private def cur: Option[OpCounters] = counters.get(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.foreach { c => c.jobs += 1; c.jobStartMs += e.time; open(e.jobId) = e.time }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => cur.foreach(_.jobIntervals += (s -> e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    cur.foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.foreach { c =>
      c.tasks += 1
      if (!e.taskInfo.successful) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

object Trace {
  /** Wall time of `[fromMs, toMs]` during which no job was running. */
  def driverOnlyMs(fromMs: Long, toMs: Long, jobs: Seq[(Long, Long)]): Long = {
    var busy = 0L; var edge = fromMs
    jobs.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        val from = math.max(s, edge)
        if (e > from) { busy += e - from; edge = e }
      }
    math.max(0L, toMs - fromMs - busy)
  }

  /** Files under `roots` with their (size, mtime), for write accounting. */
  def snapshot(roots: Seq[java.io.File]): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f) else Nil
    roots.flatMap(walk).map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  /** (files, bytes) created or changed between two snapshots. */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Long, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size.toLong, changed.values.map(_._1).sum)
  }
}
