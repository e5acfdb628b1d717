package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary, with the counters the
  * benchmark's listeners attributed to it while it was the innermost
  * open span. Counters are exclusive of child spans. Codegen compiles
  * and GC time are JVM-wide deltas (in local mode every task reports
  * the same collections, so summing task GC time would count each one
  * once per running task).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val workload: String, val pass: Int, val startNs: Long) {
  var endNs: Long = startNs
  var codegenCompiles: Long = 0L
  var gcMs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-span job/task counters filled from the listener bus. */
final class Counters {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var taskCpuNs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var planMs = 0L
  /** (start, end) wall-clock millis of each job. */
  val jobIntervals = ArrayBuffer[(Long, Long)]()
}

/** Spans kept in memory and written out when the run ends. Jobs are
  * attributed through a Spark local property (inherited by the threads
  * a call spawns), tasks through their stage's job, and query-planning
  * phases to the span open when the listener bus delivers them: the
  * bus is drained before every span closes, so that span is the one the
  * query ran in.
  */
final class Tracer(spark: SparkSession, workload: String) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  @volatile private var openSpan = -1

  def countersOf(id: Int): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobSpan.put(e.jobId, (id, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, id))
      if (id >= 0) countersOf(id).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, t0) =>
        if (id >= 0) { val c = countersOf(id); c.synchronized(c.jobIntervals += ((t0, e.time))) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id: Int = stageSpan.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      if (id >= 0 && m != null) {
        val c = countersOf(id)
        c.synchronized {
          c.tasks += 1
          c.taskCpuNs += m.executorCpuTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val id = openSpan
      if (id >= 0) {
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        val c = countersOf(id)
        c.synchronized(c.planMs += ms)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Time `body` as a span named `name`; nested calls become children. */
  def span[T](name: String, pass: Int)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.length, name, parent.map(_.id).getOrElse(-1), workload, pass,
      System.nanoTime())
    spans += s
    // counters exclusive of children: pause the parent's, resume after
    def enter(x: Span): Unit = {
      org.apache.spark.PerfbenchBus.drain(sc)
      x.codegenCompiles -= compiles; x.gcMs -= gcMs
      sc.setLocalProperty(Prop, x.id.toString); openSpan = x.id
    }
    def leave(x: Span): Unit = {
      org.apache.spark.PerfbenchBus.drain(sc)
      x.codegenCompiles += compiles; x.gcMs += gcMs
    }
    parent.foreach(leave)
    stack = s :: stack
    enter(s)
    try body
    finally {
      leave(s)
      s.endNs = System.nanoTime()
      stack = stack.tail
      parent match {
        case Some(p) => enter(p)
        case None => sc.setLocalProperty(Prop, null); openSpan = -1
      }
    }
  }

  private val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** `s` and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)

  /** Span wall time minus the union of the intervals of the jobs
    * launched inside it, in ms: time the driver spent with no job running.
    */
  def driverOnlyMs(s: Span): Double = {
    val lo = s.startNs / 1e6 + wallOffsetMs
    val hi = s.endNs / 1e6 + wallOffsetMs
    val ivs = subtree(s).flatMap { x =>
      val c = countersOf(x.id); c.synchronized(c.jobIntervals.toList)
    }.map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = lo
    ivs.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0.0, hi - lo - covered)
  }

  /** Children of span `id`. */
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Self time: a span's wall minus its children's. */
  def selfS(s: Span): Double = s.wallS - children(s.id).map(_.wallS).sum

  def dumpJson: String = spans.map { s =>
    val c = countersOf(s.id)
    Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "workload" -> s.workload, "pass" -> s.pass,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_s" -> selfS(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
      "plan_ms" -> c.planMs, "codegen_compiles" -> s.codegenCompiles,
      "task_cpu_ms" -> c.taskCpuNs / 1e6, "shuffle_bytes" -> c.shuffleBytes,
      "spill_bytes" -> c.spillBytes, "gc_ms" -> s.gcMs,
      "driver_only_ms" -> driverOnlyMs(s))
  }.mkString("[\n", ",\n", "\n]\n")
}
