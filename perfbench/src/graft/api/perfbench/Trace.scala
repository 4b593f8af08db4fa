package graft.api.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans, recorded from the benchmark's own code around calls
  * into a layer's public functions; written out when the run ends. With
  * tracing off, only the timing is kept. Times are epoch milliseconds with
  * sub-millisecond digits, so they line up with Spark's listener events. */
final class Tracer(val on: Boolean) {
  final case class Span(id: Long, parent: Long, op: String, name: String,
                        start: Double, end: Double, attrs: Map[String, Any])

  private val origin = System.currentTimeMillis() - System.nanoTime() / 1e6
  def now(): Double = origin + System.nanoTime() / 1e6

  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }

  /** Runs `f` inside a span named `name`; `attrs` is filled by `f` through
    * the returned map and recorded with the span. */
  def span[T](name: String, op: String = null)(f: mutable.Map[String, Any] => T): T = {
    if (!on) return f(mutable.Map.empty)
    val (parent, parentOp) = current.get
    val id = ids.incrementAndGet()
    val o = if (op != null) op else parentOp
    current.set((id, o))
    val attrs = mutable.Map.empty[String, Any]
    val t0 = now()
    try f(attrs)
    finally {
      spans.add(Span(id, parent, o, name, t0, now(), attrs.toMap))
      current.set((parent, parentOp))
    }
  }

  /** Seconds taken by `f`, also recorded as a span. */
  def timed(name: String, op: String = null)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    span(name, op)(_ => f)
    (System.nanoTime() - t0) / 1e9
  }
}

/** Spark's public listener events, summed for the measured window and
  * keyed by the operation that caused them: the submitting thread sets
  * the `perfbench.op` local property, jobs carry it, and SQL executions
  * are linked to it through their jobs. A query's plan record arrives in
  * `onSuccess` without its execution id; the SQL end event that triggered
  * it comes next on the same listener queue and carries the id. */
final class SparkCollector extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  private val lock = new Object
  private val execOp = mutable.Map.empty[Long, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, (String, Long, Int)]
  val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val pending = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  val counts: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = counts(k) = counts(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    if (!active) return
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse("")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execOp(x.toLong) = op)
    jobStart(e.jobId) = (op, e.time, e.stageInfos.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0, stages) =>
      add("jobs", 1)
      jobs += Map("op" -> op, "start" -> t0.toDouble, "end" -> e.time.toDouble, "stages" -> stages)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    if (!active) return
    add("stages", 1)
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    if (!active || e.taskInfo == null) return
    add("tasks", 1)
    stageSubmit.get(e.stageId).foreach(s => add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
    Option(e.taskMetrics).foreach { m =>
      add("executor_run_ms", m.executorRunTime)
      add("bytes_read", m.inputMetrics.bytesRead)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = lock.synchronized {
    if (!active) return
    val phases = qe.tracker.phases
    val rec = mutable.Map.empty[String, Any]
    Seq("analysis", "optimization", "planning").foreach { ph =>
      phases.get(ph).foreach { s =>
        rec(s"${ph}_ms") = (s.endTimeMs - s.startTimeMs).toDouble
        rec(s"${ph}_start") = s.startTimeMs.toDouble
        rec(s"${ph}_end") = s.endTimeMs.toDouble
      }
    }
    rec("files_read") = Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
    pending += rec
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => lock.synchronized {
      val op = execOp.getOrElse(end.executionId, "")
      pending.foreach { rec => rec("op") = op; plans += rec.toMap }
      pending.clear()
    }
    case _ => ()
  }

  def snapshot(): Map[String, Any] = lock.synchronized {
    Map("jobs" -> jobs.toList, "plans" -> plans.toList, "counts" -> counts.toMap)
  }
}

object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap still in use after a full collection, in MB: what the program
    * keeps (caches, listener state) once the workload is over. */
  def heapRetainedMb: Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

}

/** The local file system, counting the metadata and open calls each
  * thread makes. Traced runs install it as `fs.file.impl`. */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
  override def listStatus(f: Path): Array[FileStatus] = { CountingFs.inc(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { CountingFs.inc(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { CountingFs.inc(); super.open(f, bufferSize) }
}

object CountingFs {
  private val calls = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array(0L)
  }
  def inc(): Unit = calls.get()(0) += 1
  /** Calls made so far by the calling thread. */
  def count: Long = calls.get()(0)
}
