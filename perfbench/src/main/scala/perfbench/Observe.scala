package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans kept in memory and written out when the run ends. Times are
  * System.nanoTime values; `run` names the pass or iteration. */
final case class Span(id: Long, parent: Long, name: String,
                      start: Long, end: Long, run: String)

final class Tracer {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var enabled = false
  @volatile var run = ""

  /** System.nanoTime at an epoch-millisecond instant (listener times). */
  private val (epoch0, nano0) = (System.currentTimeMillis(), System.nanoTime())
  def nanoAt(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L

  def nextId(): Long = ids.incrementAndGet()
  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Time `body`; when tracing, also record it as a span under the
    * innermost open span of this thread. Returns (value, seconds). */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = if (enabled) nextId() else 0L
    val parent = current
    if (enabled) stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      if (enabled) {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, name, t0, System.nanoTime(), run))
      }
    }
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq
  }

  /** The recorded child of `parent` open at `at` (nanoTime), or
    * `parent` itself when none is. */
  def innermost(parent: Long, at: Long): Long =
    all.find(s => s.parent == parent && s.start <= at && at <= s.end).map(_.id)
      .getOrElse(parent)
}

/** Stage-level task metrics summed over one unit of work. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var result = 0L; var input = 0L; var output = 0L

  def toMap: Map[String, Double] = Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.task_s" -> taskMs / 1e3,
    "exec.cpu_s" -> cpuNs / 1e9, "exec.gc_s" -> gcMs / 1e3,
    "exec.shuffle_read_mb" -> shuffleRead / 1048576.0,
    "exec.shuffle_write_mb" -> shuffleWrite / 1048576.0,
    "exec.spill_mb" -> spill / 1048576.0,
    "exec.result_mb" -> result / 1048576.0,
    "exec.input_mb" -> input / 1048576.0,
    "exec.output_mb" -> output / 1048576.0)
}

/** Public-listener view of Spark jobs and stages. Events arrive on
  * Spark's listener bus thread; [[flush]] runs a marker job and waits
  * for its end event, after which every earlier event on the queue
  * has been seen. */
final class ExecListener extends SparkListener {
  import ExecListener.Job
  private val jobs = mutable.ArrayBuffer[Job]()
  private val byId = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageDone = mutable.ArrayBuffer[(Int, StageInfo)]()
  private var flushJob = -1
  private var flushSeen = false
  val FlushKey = "perfbench.flush"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.properties != null && e.properties.getProperty(FlushKey) != null) {
      flushJob = e.jobId
    } else {
      val j = Job(e.jobId, e.time, -1L, e.stageIds)
      jobs += j; byId(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == flushJob) { flushSeen = true; notifyAll() }
    else byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageDone += ((e.stageInfo.stageId, e.stageInfo)) }

  def flush(sc: org.apache.spark.SparkContext): Unit = {
    synchronized { flushSeen = false }
    sc.setLocalProperty(FlushKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FlushKey, null)
    synchronized {
      val deadline = System.currentTimeMillis() + 5000
      while (!flushSeen && System.currentTimeMillis() < deadline) wait(100)
    }
  }

  /** Jobs that started within [from, to] (epoch ms), with their task
    * metrics, and the union of their active intervals in ms. Clears
    * nothing: windows of one run do not overlap. */
  def window(from: Long, to: Long): (ExecTotals, Long) = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start <= to)
    val ids = js.map(_.id).toSet
    val t = new ExecTotals
    t.jobs = js.size
    stageDone.filter { case (sid, _) => stageJob.get(sid).exists(ids) }
      .foreach { case (_, si) =>
        t.stages += 1; t.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          t.taskMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime; t.result += m.resultSize
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.input += m.inputMetrics.bytesRead
          t.output += m.outputMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    val iv = js.map(j => (j.start, if (j.end < 0) to else math.min(j.end, to)))
      .sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    (t, busy)
  }

  def jobSpans(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    jobs.filter(j => j.start >= from && j.start <= to)
      .map(j => (j.start, if (j.end < 0) to else j.end)).toSeq
  }
}

object ExecListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
}

/** Public StreamingQueryListener view of micro-batches. The program
  * runs its streams in sessions of their own (SparkSession.newSession),
  * so the listener is installed on every session through
  * `spark.sql.streaming.streamingQueryListeners`; Spark instantiates the
  * class per session and all instances report here. */
final class StreamProbe extends StreamingQueryListener {
  import StreamProbe._
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    lock.synchronized { started += 1 }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    lock.synchronized { ended += 1; lock.notifyAll() }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (recording) lock.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      batches += Batch(p.id.toString, d("triggerExecution"), d("addBatch"),
        d("walCommit"), d("commitOffsets"), ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum)
    }
}

object StreamProbe {
  final case class Batch(query: String, trigger: Long, addBatch: Long,
                         wal: Long, commit: Long, stateRows: Long,
                         stateBytes: Long, dropped: Long)
  private val lock = new Object
  private val batches = mutable.ArrayBuffer[Batch]()
  private var started = 0
  private var ended = 0
  @volatile var recording = false

  /** Wait (bounded) until every started query has reported its end,
    * then return and forget the batches recorded so far. */
  def drain(): Seq[Batch] = lock.synchronized {
    val deadline = System.currentTimeMillis() + 3000
    while (ended < started && System.currentTimeMillis() < deadline) lock.wait(100)
    val out = batches.toSeq
    batches.clear()
    out
  }
}

/** Samples the driver thread's stack and charges each interval to the
  * innermost frame of a named module — the self time a span around
  * every call into that module would give. */
final class StackSampler(target: Thread, intervalMs: Long,
                         classify: Array[StackTraceElement] => Option[String])
    extends Thread("perfbench-sampler") {
  setDaemon(true)
  private val acc = mutable.Map[String, Long]().withDefaultValue(0L)
  @volatile private var running = true

  override def run(): Unit = {
    var last = System.nanoTime()
    while (running) {
      Thread.sleep(intervalMs)
      val now = System.nanoTime()
      val m = classify(target.getStackTrace)
      acc.synchronized { m.foreach(k => acc(k) += now - last) }
      last = now
    }
  }

  def finish(): Map[String, Double] = {
    running = false
    join()
    acc.synchronized(acc.map { case (k, v) => k -> v / 1e9 }.toMap)
  }
}
