package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spark work attributed to one span: jobs, tasks, summed task run time,
  * records read, shuffle bytes and spilled bytes.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  def addTask(m: TaskMetrics): Unit = synchronized {
    tasks += 1
    taskMs += m.executorRunTime
    inputRecords += m.inputMetrics.recordsRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  def +=(o: Counters): Unit = synchronized {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    inputRecords += o.inputRecords; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
  }

  def json: Map[String, Any] = Map("jobs" -> jobs, "tasks" -> tasks,
    "task_ms" -> taskMs, "input_records" -> inputRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes)
}

/** The benchmark's own SparkListener: maps each job to the span whose job
  * group was set on the submitting thread, and each finished task to its
  * stage's job, so every span accumulates the Spark work it caused.
  */
final class SpanListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val drainJobs = new ConcurrentHashMap[Int, String]()
  private val drained = ConcurrentHashMap.newKeySet[String]()

  def of(spanId: Long): Counters = bySpan.computeIfAbsent(spanId, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(Tracer.DrainPrefix)) {
      drainJobs.put(e.jobId, group)
      return
    }
    val sid = Tracer.spanOf(group)
    e.stageIds.foreach(st => stageSpan.put(st, sid))
    val c = of(sid)
    c.synchronized(c.jobs += 1)
  }

  /** A drain job's end marks its tag as seen: the listener bus delivers
    * events in posting order, so every earlier event has arrived too.
    */
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(drainJobs.remove(e.jobId)).foreach(tag => drained.add(tag))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || !stageSpan.containsKey(e.stageId)) return
    of(stageSpan.get(e.stageId)).addTask(m)
  }

  def sawDrain(tag: String): Boolean = drained.contains(tag)
}

/** One recorded span: `<module>.<function>` name, start and end (nanoTime),
  * the id of its parent span (0 for a top-level span) and the request or
  * epoch id it serves.
  */
final class Span(val id: Long, val name: String, val parent: Long,
    val op: Long, val start: Long) {
  @volatile var end: Long = 0L
  def ms: Double = (end - start) / 1e6
}

/** Span recorder. Spans are recorded only inside `op(traced = true)` on a
  * tracing run; everywhere else `span` is a plain call of its body. Each
  * recorded span sets a Spark job group on the calling thread, so the
  * listener can attribute the jobs it starts. Spans stay in memory and are
  * written once at the end.
  */
final class Tracer(sc: SparkContext, val listening: Boolean) {
  private val ids = new AtomicLong
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  val listener = new SpanListener
  if (listening) sc.addSparkListener(listener)

  /** Runs one operation, recording its spans when `traced` is set. */
  def op[T](traced: Boolean)(body: => T): T = {
    val before = on.get()
    on.set(traced && listening)
    try body finally on.set(before)
  }

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on.get()) body
    else {
      val parent = current.get()
      val s = new Span(ids.incrementAndGet(), name,
        if (parent == null) 0L else parent.id,
        if (op >= 0 || parent == null) op else parent.op, System.nanoTime())
      current.set(s)
      sc.setJobGroup(Tracer.groupOf(s.id), name)
      try body
      finally {
        s.end = System.nanoTime()
        recorded.add(s)
        current.set(parent)
        if (parent == null) sc.clearJobGroup()
        else sc.setJobGroup(Tracer.groupOf(parent.id), parent.name)
      }
    }

  /** A span around a step that returns a lazy frame. When recording, the
    * frame is cached and counted at the step boundary, so the span holds
    * the step's own compute.
    */
  def step(name: String)(df: => DataFrame): DataFrame = span(name) {
    val d = df
    if (on.get()) { val c = d.cache(); c.count(); c } else d
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * a one-task job tagged as a drain marker is submitted, and events reach
    * a listener in posting order.
    */
  def drain(): Unit = if (listening) {
    val tag = s"${Tracer.DrainPrefix}${ids.incrementAndGet()}"
    sc.setJobGroup(tag, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!listener.sawDrain(tag) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.start)
}

object Tracer {
  val GroupPrefix = "graftbench-span-"
  val DrainPrefix = "graftbench-drain-"
  def groupOf(id: Long): String = s"$GroupPrefix$id"
  def spanOf(group: String): Long =
    if (group != null && group.startsWith(GroupPrefix))
      group.stripPrefix(GroupPrefix).toLong
    else -1L
}

/** Read-side view of a finished traced run: durations, self times and
  * inclusive Spark counters per span.
  */
final class SpanReport(val all: Seq[Span], listener: SpanListener, windowStart: Long) {
  private val children: Map[Long, Seq[Span]] = all.groupBy(_.parent)
  private val inclusiveCache = mutable.HashMap.empty[Long, Counters]

  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def ms(name: String): Seq[Double] = named(name).map(_.ms)
  def seconds(name: String): Seq[Double] = ms(name).map(_ / 1e3)

  /** Duration minus the union of the child spans' intervals. */
  def selfMs(s: Span): Double = s.ms - covered(children.getOrElse(s.id, Nil)) / 1e6

  /** Spark work of a span and all its descendants. */
  def inclusive(s: Span): Counters = inclusiveCache.getOrElseUpdate(s.id, {
    val c = new Counters
    c += listener.of(s.id)
    children.getOrElse(s.id, Nil).foreach(ch => c += inclusive(ch))
    c
  })

  private def covered(ss: Seq[Span]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ss.sortBy(_.start).foreach { s =>
      if (s.start > curE) {
        if (curE > curS) total += curE - curS
        curS = s.start; curE = s.end
      } else curE = math.max(curE, s.end)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Every span as one JSON object, times relative to the window start. */
  def spansJson: Seq[Map[String, Any]] = all.map { s =>
    scala.collection.immutable.ListMap[String, Any](
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> (s.start - windowStart) / 1e6, "dur_ms" -> s.ms,
      "self_ms" -> selfMs(s)) ++ listener.of(s.id).json
  }
}
