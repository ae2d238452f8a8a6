package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the span that
  * caused it (0 = none); times are epoch microseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      start: Long, end: Long)

/** Wall clock shared by the benchmark's spans and Spark's listener
  * events (which carry epoch milliseconds). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** Task CPU of every task that ends while registered — the one figure
  * an untraced run needs (`core_s_per_op`). */
final class CpuMeter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** The traced run's recorder. The benchmark opens a span around every
  * call it makes into an engine layer and publishes the innermost span
  * id as a Spark local property, which Spark copies into every job the
  * call submits — also from `Pipeline`'s branch threads, which inherit
  * local properties — so each job names the span it belongs to. Spark's
  * own task, job, planning and streaming-progress metrics arrive
  * through the listeners registered here; everything stays in memory
  * until [[writeSpans]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  // exec counters (task level)
  val cpuNs, gcMs, shuffleWrite, shuffleRead, spill, written, scanBytes,
      scanRows, tasks, jobs, stages = new AtomicLong
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  // task CPU by the span whose call submitted the task's job
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val cpuBySpan = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  // planning phases (ms) over every query execution that finished
  val planning = mutable.Map[String, Double]().withDefaultValue(0.0)
  // streaming progress durations (ms), summed over triggers
  val progress = mutable.Map[String, Double]().withDefaultValue(0.0)
  val triggers = new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (e.time * 1000, parent))
      e.stageIds.foreach(stageSpan.put(_, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, parent) =>
        spans.add(Span(ids.incrementAndGet(), parent, "exec",
          s"job${e.jobId}", s, e.time * 1000))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        cpuBySpan.merge(stageSpan.getOrDefault(e.stageId, 0L),
          m.executorCpuTime, (a: Long, b: Long) => a + b)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        written.addAndGet(m.outputMetrics.bytesWritten)
        scanBytes.addAndGet(m.inputMetrics.bytesRead)
        scanRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      addPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      addPhases(qe)
  }

  /** Adds the Catalyst phase times `qe` has recorded so far. */
  def addPhases(qe: QueryExecution): Unit = planning.synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      planning(phase) += s.durationMs.toDouble }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized {
        triggers.incrementAndGet()
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          progress(k) += v.doubleValue }
      }
  }

  def register(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drains the listener bus so no event of the traced window is lost,
    * then detaches every listener. */
  def unregister(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Times `body` as a span of `layer`; jobs it submits from this
    * thread (or threads it starts) link to the span. */
  def span[A](layer: String, name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    val parent = outer.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(SpanProperty)
    stack.set(id :: outer)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = Clock.us()
    try body
    finally {
      spans.add(Span(id, parent, layer, name, t0, Clock.us()))
      stack.set(outer)
      sc.setLocalProperty(SpanProperty, prevProp)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Worst stage's slowest task over its median task, over stages with
    * at least two tasks (1.0 when every stage ran a single task). */
  def taskSkew: Double = {
    val ratios = taskMs.values.asScala.map(_.asScala.toSeq.sorted).collect {
      case ds if ds.size >= 2 =>
        ds.last.toDouble / math.max(1.0, ds(ds.size / 2).toDouble)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Self time per layer (µs): each span's duration minus the part of
    * its interval that its children cover. Jobs are the `exec` layer;
    * concurrent jobs of one parent count once (their union). */
  def selfTimes: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.filter(_.layer != "exec").foreach { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
      out(s.layer) += (s.end - s.start) - unionLength(cs)
      val jobsOf = kids.getOrElse(s.id, Nil).filter(_.layer == "exec")
      out("exec") += unionLength(jobsOf.map(j => (j.start, j.end)))
    }
    out.toMap
  }

  /** Time inside the benchmark's top-level op spans with no job of
    * their subtree running (µs), summed over the ops. */
  def driverGap: Double = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    def jobsUnder(id: Long): Seq[(Long, Long)] =
      kids.getOrElse(id, Nil).flatMap { c =>
        if (c.layer == "exec") Seq((c.start, c.end)) else jobsUnder(c.id)
      }
    all.filter(s => s.layer == "bench" && s.parent == 0L).map { s =>
      val js = jobsUnder(s.id).map { case (a, b) =>
        (math.max(a, s.start), math.min(b, s.end)) }
      (s.end - s.start) - unionLength(js)
    }.sum
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_us":${s.start},"end_us":${s.end},""" +
        s""""task_cpu_ns":${cpuBySpan.getOrDefault(s.id, 0L)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Length of the union of closed intervals (empty ones ignored). */
  def unionLength(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
