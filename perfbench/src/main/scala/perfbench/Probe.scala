package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Everything the benchmark observes from outside the program: Spark's
  * public listener events, streaming progress, and spans the benchmark
  * records around its own calls into the program's modules.
  *
  * Streaming progress is always collected (it is where a micro-batch's
  * `triggerExecution` comes from). The Spark listener and spans are on
  * only when tracing; with tracing off they cost nothing. Everything is
  * kept in memory and written out once, after the run.
  */
final class Probe(val tracing: Boolean) {
  import Probe._

  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobAcc = new java.util.concurrent.ConcurrentHashMap[Int, TaskAcc]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanSeq = new AtomicLong(0)
  private val current = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  /** When false, spans and job records are dropped: lets a traced run
    * interleave untraced operations to measure the tracing overhead.
    * Sequential workloads flip it between operations; concurrent ones
    * mute single threads with [[muted]] and name their jobs' operation
    * with the [[Untraced]] prefix. */
  @volatile var recording: Boolean = true
  val muted: ThreadLocal[java.lang.Boolean] = ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
      if (recording && !op.startsWith(Untraced)) {
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        jobAcc.put(e.jobId, new TaskAcc)
        jobs.add(Job(e.jobId, e.time, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val acc = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobAcc.get(j)))
      if (m != null) acc.foreach(_.add(m))
    }
  }

  def attach(spark: SparkSession): this.type = {
    spark.streams.addListener(streamListener)
    if (tracing) spark.sparkContext.addSparkListener(sparkListener)
    this
  }

  def detach(spark: SparkSession): Unit = {
    spark.streams.removeListener(streamListener)
    if (tracing) spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Time `f` as a span named `name`, nested under the caller's open
    * span; `op` names the batch or request it belongs to. */
  def span[A](name: String, op: String = "")(f: => A): A =
    if (!tracing || !recording || muted.get) f
    else {
      val id = spanSeq.incrementAndGet()
      val parent = current.get.headOption.getOrElse(0L)
      current.set(id :: current.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
        current.set(current.get.tail)
      }
    }

  def spanList: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
  def jobList: Seq[Job] = jobs.asScala.toSeq.sortBy(_.startMs)
  def tasksOf(job: Int): TaskAcc = Option(jobAcc.get(job)).getOrElse(new TaskAcc)

  /** Task totals over a set of jobs. */
  def tasks(js: Iterable[Job]): TaskAcc = {
    val t = new TaskAcc
    js.foreach(j => t.merge(tasksOf(j.id)))
    t
  }

  /** Spans and jobs as one JSON document. */
  def dumpJson: String = {
    val sp = spanList.map(s => Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "op" -> Json.str(s.op),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    val jb = jobList.map(j => Json.obj("job" -> j.id.toString, "op" -> Json.str(j.op),
      "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString))
    Json.obj("spans" -> sp.mkString("[", ",", "]"), "jobs" -> jb.mkString("[", ",", "]"))
  }
}

object Probe {
  /** Spark local property naming the operation a job belongs to. */
  val OpProperty = "perfbench.op"
  /** Operation-name prefix of jobs a traced run deliberately leaves
    * unrecorded. */
  val Untraced = "untraced-"

  final case class Span(id: Long, parent: Long, name: String, op: String,
      startNs: Long, endNs: Long)

  final case class Job(id: Int, startMs: Long, op: String) {
    @volatile var endMs: Long = -1L
  }

  /** Task-metric totals. */
  final class TaskAcc {
    var tasks = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesWritten = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      bytesWritten += m.outputMetrics.bytesWritten
    }
    def merge(o: TaskAcc): Unit = synchronized {
      tasks += o.tasks; cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes
      spillBytes += o.spillBytes; bytesWritten += o.bytesWritten
    }
  }

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** JVM-wide garbage-collection time so far. */
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** This process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
