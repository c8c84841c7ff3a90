package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spans around public engine calls plus Spark job attribution.
  *
  * A span has a name, start and end, a parent and the id of the operation
  * it belongs to. While a span is open its id is the Spark job group of the
  * calling thread; threads the engine starts inherit it, so every job the
  * call runs is charged to the span. Spans are kept in memory and written
  * out once, at the end of the run. When tracing is off, `span` only runs
  * the body.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  /** Spans are recorded only while active (the loop turns them off for
    * its untraced half).
    */
  @volatile var active: Boolean = true

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private var nextId = 0L
  private var nextOp = 0L

  /** Task metrics per job group, filled by the listener. */
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, JobMetrics]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val started = new java.util.concurrent.atomic.AtomicLong(0L)
  private val ended = new java.util.concurrent.atomic.AtomicLong(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      val g = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
      if (g != null) {
        metricsOf(g).jobs += 1
        e.stageIds.foreach(s => stageGroup.put(s, g))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val tm = e.taskMetrics
      if (g != null && tm != null) {
        val m = metricsOf(g)
        m.synchronized {
          m.tasks += 1
          m.cpuNs += tm.executorCpuTime
          m.gcMs += tm.jvmGCTime
          m.inputBytes += tm.inputMetrics.bytesRead
          m.outputBytes += tm.outputMetrics.bytesWritten
          m.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
          m.shuffleReadBytes += tm.shuffleReadMetrics.totalBytesRead
          m.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  private def metricsOf(g: String): JobMetrics =
    byGroup.computeIfAbsent(g, _ => new JobMetrics)

  /** Start a new operation: spans opened outside any span share its id. */
  def newOp(): Long = synchronized { nextOp += 1; nextOp }

  def span[A](name: String, op: Long = 0L)(body: => A): A = {
    if (!enabled || !active) return body
    val parent = stack.get()
    val s = synchronized {
      nextId += 1
      Span(nextId, parent.headOption.map(_.id).getOrElse(0L), name,
        if (op != 0L) op else parent.headOption.map(_.op).getOrElse(0L),
        System.nanoTime(), 0L)
    }
    val prevGroup = sc.getLocalProperty(JobGroupKey)
    val prevDesc = sc.getLocalProperty(JobDescKey)
    sc.setJobGroup(s"span-${s.id}", name)
    stack.set(s :: parent)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.set(parent)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
      synchronized { spans += s }
    }
  }

  /** Wait until the listener has seen the end of every job started so far. */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (ended.get() < started.get() && System.nanoTime() < deadline)
      Thread.sleep(20)
    // task-end events of a finished job precede its job-end event
    Thread.sleep(50)
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Jobs and task metrics of the spans with this name and every span
    * below them.
    */
  def metricsUnder(name: String): JobMetrics = {
    drain()
    val xs = all
    val roots = xs.filter(_.name == name).map(_.id).toSet
    val children = xs.groupBy(_.parent)
    val ids = mutable.Set.empty[Long]
    def walk(id: Long): Unit = if (ids.add(id)) children.getOrElse(id, Nil).foreach(c => walk(c.id))
    roots.foreach(walk)
    val out = new JobMetrics
    ids.foreach(id => Option(byGroup.get(s"span-$id")).foreach(out.add))
    out
  }

  /** Summed wall time of the spans with this name. */
  def wallMs(name: String): Seq[Double] = all.filter(_.name == name).map(_.wallMs)

  /** Self time per span name: wall minus the wall of direct children. */
  def selfMs: Map[String, Double] = {
    val xs = all
    val childWall = xs.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallMs).sum }
    xs.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => math.max(0.0, s.wallMs - childWall.getOrElse(s.id, 0.0))).sum
    }
  }

  /** Write every span as one JSON line, then one line per span name with
    * its summed self time.
    */
  def writeTo(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
          s""""name":${Util.jsonStr(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      selfMs.toSeq.sortBy(_._1).foreach { case (n, ms) =>
        w.println(s"""{"name":${Util.jsonStr(n)},"self_ms":${Util.jsonNum(ms)}}""")
      }
    } finally w.close()
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

/** Always-on, cheap count of the CPU time of every finished Spark task.
  * Unlike process CPU it leaves out JIT compiler and GC threads, whose
  * share shrinks run by run while a fresh JVM warms up.
  */
final class TaskCpu(sc: SparkContext) {
  private val ns = new java.util.concurrent.atomic.AtomicLong(0L)
  private val started = new java.util.concurrent.atomic.AtomicLong(0L)
  private val ended = new java.util.concurrent.atomic.AtomicLong(0L)
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) ns.addAndGet(e.taskMetrics.executorCpuTime)
  })

  /** Task CPU nanoseconds so far, once the listener has caught up. */
  def total(): Long = {
    val deadline = System.nanoTime() + 10000000000L
    while (ended.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(20)
    ns.get()
  }
}

object Trace {
  /** Spark's local-property keys for the job group and its description. */
  val JobGroupKey = "spark.jobGroup.id"
  val JobDescKey = "spark.job.description"

  final case class Span(id: Long, parent: Long, name: String, op: Long,
                        startNs: Long, var endNs: Long) {
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  final class JobMetrics {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L

    def add(o: JobMetrics): Unit = o.synchronized {
      jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
      inputBytes += o.inputBytes; outputBytes += o.outputBytes
      shuffleWriteBytes += o.shuffleWriteBytes
      shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    }
  }
}
