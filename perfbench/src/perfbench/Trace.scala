package perfbench

import java.io.OutputStream
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem, Syncable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Monotonic nanosecond clock shared by spans, listener events and status
  * events. Spark stamps its events in epoch milliseconds; [[fromEpochMs]]
  * maps them onto the same axis. */
object Clock {
  private val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def now: Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L + offset
  def secs(ns: Long): Double = ns / 1e9
}

/** One timed interval at a layer boundary. `parent` is the span that
  * caused it (-1 at the top); spans of one workload run share the run's
  * trace. */
final class Span(val id: Int, val parent: Int, val layer: String,
                 val name: String, val start: Long, var end: Long) {
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def dur: Long = end - start
  def contains(t: Long): Boolean = start <= t && t <= end
}

/** In-memory span store, written out once at the end of the run. */
final class Tracer {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty

  def add(layer: String, name: String, parent: Span, start: Long,
          end: Long): Span = synchronized {
    val s = new Span(spans.size, if (parent == null) -1 else parent.id,
      layer, name, start, end)
    spans += s
    s
  }

  def open(layer: String, name: String, parent: Span): Span =
    add(layer, name, parent, Clock.now, -1L)

  /** Time `f` as a span; the span is returned with the result. */
  def timed[A](layer: String, name: String, parent: Span)(f: => A): (A, Span) = {
    val s = open(layer, name, parent)
    try (f, s) finally s.end = Clock.now
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = {
    val out = ArrayBuffer(s)
    var i = 0
    while (i < out.size) { out ++= children(out(i)); i += 1 }
    out.toSeq
  }

  /** Innermost span of `within` that contains `t` (deepest, then latest
    * started), or `root`. */
  def innermost(within: Seq[Span], t: Long, root: Span): Span = {
    val depth = mutable.Map(root.id -> 0)
    within.foreach { s => if (s.id != root.id)
      depth(s.id) = depth.getOrElse(s.parent, 0) + 1 }
    within.filter(s => s.end >= 0 && s.contains(t))
      .maxByOption(s => (depth.getOrElse(s.id, 0), s.start)).getOrElse(root)
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Summed per layer, in seconds. */
  def selfTimes(within: Seq[Span]): Map[String, Double] = {
    val kids = within.groupBy(_.parent)
    within.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Trace.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        Clock.secs(math.max(0L, s.dur - covered))
      }.sum
    }
  }

  def toJson: String = spans.map { s =>
    graft.core.Json.canonical((Seq("id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end) ++ s.attrs).toMap)
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-job record built by [[BenchListener]]: the job's window, its job
  * group, and the task metrics of all its stages. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = -1L
  var failed = false
  var stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedMs, durMs = 0L
  var shuffleRead, shuffleWrite, input, output, spill = 0L
}

/** The benchmark's own SparkListener: every job with its group and time
  * window, task metrics folded into the job that ran them, and SQL
  * execution windows. Read only after [[org.apache.spark.perfbench.BusDrain]]. */
final class BenchListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val byId = mutable.Map.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, JobRec]
  val sqlWindows = new ConcurrentLinkedQueue[(Long, Long)]()
  private val sqlStarts = mutable.Map.empty[Long, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, Clock.fromEpochMs(e.time))
    byId(e.jobId) = j
    e.stageIds.foreach(s => stageToJob(s) = j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.remove(e.jobId).foreach { j =>
      j.end = Clock.fromEpochMs(e.time)
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId)) {
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      val info = e.taskInfo
      val dur = math.max(0L, info.finishTime - info.launchTime)
      j.durMs += dur
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        val fetch = if (info.gettingResultTime > 0)
          info.finishTime - info.gettingResultTime else 0L
        j.schedMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch)
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { sqlStarts(s.executionId) = Clock.fromEpochMs(s.time) }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized {
        sqlStarts.remove(s.executionId).foreach(st =>
          sqlWindows.add((st, Clock.fromEpochMs(s.time))))
      }
    case _ =>
  }

  /** Jobs that started inside [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.start >= from && j.start <= to).toSeq
}

/** A local filesystem under the `benchclock:` scheme that stamps every
  * line written to a `status.jsonl` with the clock, so the status events
  * the batch runner emits (task enter, pickup start, storing, completed)
  * become span boundaries without any hook inside the program. */
class ClockFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("benchclock:///")

  private def stamped(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (f.getName != "status.jsonl") out
    else new FSDataOutputStream(new ClockFs.Stamping(out), null)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    stamped(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    stamped(f, super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
}

object ClockFs {
  val scheme = "benchclock"
  /** (time, line) of every status line written, in write order. */
  val lines = new ConcurrentLinkedQueue[(Long, String)]()

  private final class Stamping(out: FSDataOutputStream)
      extends OutputStream with Syncable {
    override def write(b: Int): Unit = out.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      lines.add((Clock.now,
        new String(b, off, len, java.nio.charset.StandardCharsets.UTF_8)))
      out.write(b, off, len)
    }
    override def flush(): Unit = out.flush()
    override def hflush(): Unit = out.hflush()
    override def hsync(): Unit = out.hsync()
    override def close(): Unit = out.close()
  }

  /** Status events written since `from`, parsed, with their times. */
  def eventsSince(from: Long): Seq[(Long, Map[String, Any])] =
    lines.asScala.filter(_._1 >= from).toSeq.flatMap { case (t, text) =>
      text.split("\n").filter(_.trim.nonEmpty)
        .map(l => t -> graft.core.Json.parseJson(l))
    }
}
