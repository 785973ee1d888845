package dmarcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work done on behalf of one span (or one layer, when summed). */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** Attributes jobs and task metrics to the job group that submitted them.
  * Groups, not job descriptions, carry the attribution: library code
  * such as `TrainingData.prepareWeb` sets and clears descriptions of its
  * own, but leaves the group alone.
  */
final class GroupListener extends SparkListener {
  import Tracer.GroupKey
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val work = new ConcurrentHashMap[String, Work]

  private def of(group: String): Work = work.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val w = of(g)
    w.synchronized(w.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = of(stageGroup.getOrDefault(e.stageId, ""))
      w.synchronized {
        w.tasks += 1
        w.cpuNs += m.executorCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def get(group: String): Work = Option(work.get(group)).getOrElse(new Work)
}

final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. A span is a named interval around a
  * call into one layer, with the span that caused it and the run it
  * belongs to. Spans stay in memory until [[write]]. While tracing, each
  * span is also the Spark job group of the jobs its body submits, so
  * the [[GroupListener]] can attribute Spark work to it. Disabled, a span
  * is only its body: the untraced run registers no listener and sets no
  * job groups.
  */
object Tracer {
  /** Spark's local-property keys for the job group and description */
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
}

final class Tracer(sc: SparkContext, val runId: String, val enabled: Boolean) {
  import Tracer._
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val origin = System.nanoTime()
  val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, parent: Long = -1L)(body: => T): T =
    spanWith[T](name, parent)(_ => Map.empty)(body)

  /** A span whose attributes are derived from the body's result. */
  def spanWith[T](name: String, parent: Long = -1L)(attrs: T => Map[String, Any])(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val up: Long = if (parent >= 0) parent else current.get()
      val prevGroup = sc.getLocalProperty(GroupKey)
      val prevDesc = sc.getLocalProperty(DescKey)
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      current.set(id)
      val t0 = System.nanoTime()
      var out: Option[T] = None
      try { out = Some(body); out.get }
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, name, up, runId, t0, t1, out.map(attrs).getOrElse(Map("failed" -> true))))
        current.set(up)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      }
    }

  /** id of the innermost open span on this thread (0 at top level) */
  def currentId: Long = current.get()

  private def group(id: Long) = s"dmarcbench-$runId-$id"

  /** Spark work attributed to the span itself (not to its children). */
  def workOf(s: Span): Work = { drain(); listener.get(group(s.id)) }

  def drain(): Unit = if (enabled) org.apache.spark.ListenerBusAccess.drain(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Span duration minus the part of it that its children cover. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** All spans as JSON lines: times in ms from the recorder's creation. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val ss = all
    val kids = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      val w = listener.get(group(s.id))
      Json.obj(Seq(
        "run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6,
        "self_ms" -> selfSeconds(s, kids.getOrElse(s.id, Nil)) * 1e3,
        "jobs" -> w.jobs, "tasks" -> w.tasks, "executor_cpu_s" -> w.cpuNs / 1e9,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "spill_bytes" -> w.spillBytes,
        "input_bytes" -> w.inputBytes, "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
