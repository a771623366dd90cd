package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._

/** One span: a call into a layer's public function, timed from outside.
  * `start`/`end` are seconds on the benchmark's monotonic clock; job
  * intervals use the same clock, at the listener's millisecond resolution.
  */
final class Span(val id: Int, val parent: Int, val trace: Int, val name: String,
    val start: Double) {
  var end: Double = Double.NaN
  var storageBytesEnd: Long = 0L
  val jobs: mutable.Buffer[(Double, Double)] = mutable.Buffer.empty
  var tasks = 0L
  var failedTasks = 0L
  var busyS = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def toJson: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "trace" -> trace, "name" -> name,
    "start" -> start, "end" -> end, "jobs" -> jobs.map { case (a, b) => Seq(a, b) }.toSeq,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "busy_s" -> busyS,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "storage_bytes_end" -> storageBytesEnd)
}

object Clock {
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - nano0) / 1e9
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM process, in seconds. */
  def cpu(): Double = os.getProcessCpuTime / 1e9
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread, in seconds. */
  def threadCpu(): Double = threads.getCurrentThreadCpuTime / 1e9
  /** CPU time of the JIT compiler threads, in seconds, from Linux's
    * `/proc/self/task` (0 elsewhere). Exact only while no compiler thread
    * exits, so run.py starts the JVM with a fixed number of them. */
  def jitCpu(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      scala.util.Try(java.nio.file.Files.readString(new java.io.File(t, "stat").toPath)).toOption
    }.filter(st => st.contains("(C1 CompilerThre") || st.contains("(C2 CompilerThre")).map { st =>
      // utime and stime, fields 14 and 15, in clock ticks of 10 ms
      val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) / 100.0
    }.sum
  /** A listener event's wall-clock millis on the [[now]] clock. */
  def fromMillis(ms: Long): Double = (ms - milli0) / 1e3
}

/** Listener attached by the benchmark: attributes jobs, stages and task
  * metrics to the span whose id the submitting thread carried as a local
  * property, counts failed tasks, and follows every block update to find the
  * peak storage memory held by the RDD blocks (caches and checkpoints) that
  * an operation stores itself.
  */
final class BenchListener extends SparkListener {
  private val spans = mutable.Map[Int, Span]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, (Int, Double)]()
  private val blockMem = mutable.Map[String, Long]()
  private var before = Set.empty[String]
  private var opTotal = 0L
  private var opPeak = 0L
  private var opTaskCpu = 0L
  var failedTasks = 0L

  def register(s: Span): Unit = synchronized { spans(s.id) = s }

  /** Starts a new operation: blocks held now are not its own. Call with
    * the listener bus drained. */
  def startOp(): Unit = synchronized {
    before = blockMem.keySet.toSet
    opTotal = 0L
    opPeak = 0L
    opTaskCpu = 0L
  }

  /** Peak bytes held by the blocks the current operation stored. */
  def opCacheBytes: Long = synchronized { opPeak }

  /** CPU time of the tasks that ended since [[startOp]], in seconds. */
  def opTaskCpuS: Double = synchronized { opTaskCpu / 1e9 }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(-1)
    jobSpan(e.jobId) = (sid, Clock.fromMillis(e.time))
    e.stageIds.foreach(st => stageSpan(st) = sid)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (sid, t0) =>
      spans.get(sid).foreach(_.jobs += ((t0, Clock.fromMillis(e.time))))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = e.reason != TaskSuccess
    if (failed) failedTasks += 1
    Option(e.taskMetrics).foreach(m => opTaskCpu += m.executorCpuTime + m.executorDeserializeCpuTime)
    spans.get(stageSpan.getOrElse(e.stageId, -1)).foreach { s =>
      s.tasks += 1
      if (failed) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.busyS += m.executorRunTime / 1e3
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      if (!before.contains(key)) {
        opTotal += mem - blockMem.getOrElse(key, 0L)
        opPeak = math.max(opPeak, opTotal)
      }
      if (mem == 0L) blockMem.remove(key) else blockMem(key) = mem
    }
  }
}

/** Span recorder for the traced run. Spans stay in memory until the run
  * ends; [[Main]] writes them out with the result.
  */
final class Tracer(sc: SparkContext, listener: BenchListener) {
  private val stack = mutable.Stack[Span]()
  val spans: mutable.Buffer[Span] = mutable.Buffer.empty
  private var trace = 0

  def newTrace(): Unit = trace += 1

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), trace, name, Clock.now())
    spans += s
    listener.register(s)
    stack.push(s)
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try body
    finally {
      s.end = Clock.now()
      s.storageBytesEnd = sc.getRDDStorageInfo.map(_.memSize).sum
      stack.pop()
      sc.setLocalProperty(Tracer.Prop, parent.map(_.id.toString).orNull)
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
