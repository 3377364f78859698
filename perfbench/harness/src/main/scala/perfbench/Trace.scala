package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a layer call made by the benchmark. */
final case class Span(name: String, id: Int, parent: Int, op: Int,
    startNs: Long, var endNs: Long = -1L)

/** Spark work attributed to one span. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** In-memory span recorder plus a SparkListener that charges jobs,
  * tasks, task CPU, shuffle and spill to the span open when the job was
  * submitted (the span id rides the job's local properties). Nothing is
  * written until the benchmark ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Key

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStarted = new ConcurrentHashMap[Int, java.lang.Long]()
  /** (start, end) epoch-ms of every finished job. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  sc.addSparkListener(this)

  def span[T](name: String, op: Int)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(name, nextId, parent, op, System.nanoTime)
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime
      stack = stack.tail
      sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def workOf(id: Int): Work = work.computeIfAbsent(id, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(stageSpan.put(_, id))
    jobStarted.put(e.jobId, e.time)
    val w = workOf(id)
    w.synchronized { w.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarted.remove(e.jobId)).foreach(s =>
      jobIntervals.add((s.longValue, e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = workOf(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.cpuNs += m.executorCpuTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Per-span-name totals for one op: seconds, jobs, tasks, task CPU
    * seconds, shuffle MB and spill MB, keyed "<span>.<field>". Only the
    * op's top-level layer spans (children of its root span) count. */
  def layerTotals(op: Int, root: Span): Map[String, Double] = {
    drain()
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = out(k) = out(k) + v
    for (s <- spans if s.op == op && s.parent == root.id) {
      add(s"${s.name}.s", (s.endNs - s.startNs) / 1e9)
      // a layer's work includes the work of any span nested in it
      val ids = descendants(s.id) + s.id
      ids.foreach { id =>
        Option(work.get(id)).foreach { w =>
          add(s"${s.name}.jobs", w.jobs.toDouble)
          add(s"${s.name}.tasks", w.tasks.toDouble)
          add(s"${s.name}.cpu_s", w.cpuNs / 1e9)
          add(s"${s.name}.shuffle_mb", w.shuffleBytes / 1e6)
          add(s"${s.name}.spill_mb", w.spillBytes / 1e6)
        }
      }
    }
    val all = (descendants(root.id) + root.id).toSeq.flatMap(id => Option(work.get(id)))
    out("spark.jobs") = all.map(_.jobs).sum.toDouble
    out("spark.tasks") = all.map(_.tasks).sum.toDouble
    out.toMap
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id).toSet
    kids ++ kids.flatMap(descendants)
  }

  /** Milliseconds of [startMs, endMs] during which at least one job ran. */
  def busyMs(startMs: Long, endMs: Long): Long = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) busy += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    busy
  }
}

object Tracer {
  val Key = "perfbench.span"

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}
