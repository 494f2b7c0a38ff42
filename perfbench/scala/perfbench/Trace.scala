package perfbench

import graft.functions.JValue
import graft.functions.JValue._
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

/** In-memory spans and counters for the traced run. A span records its
  * name, start, end and the span that caused it (the enclosing span on
  * the same thread); spans are kept in memory and written out once, at
  * the end. When tracing is off every call is a plain pass-through. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[String, LongAdder]
  private val maxima = new ConcurrentHashMap[String, java.lang.Long]
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Long]](() => new java.util.ArrayDeque[Long])

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val st = stack.get
      val parent = if (st.isEmpty) 0L else st.peek
      st.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        st.pop()
        spans.add(Span(id, parent, name, t0, t1))
      }
    }

  /** Record a span measured elsewhere (e.g. queue wait across threads). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0L, name, startNs, endNs))

  def count(name: String, n: Long = 1): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def max(name: String, v: Long): Unit =
    if (enabled) maxima.merge(name, v, (a, b) => math.max(a, b))

  def reset(): Unit = { spans.clear(); counters.clear(); maxima.clear() }

  /** Per span name: count, total and self milliseconds, median
    * duration. Self time is the span's duration minus its children's
    * (children nest on one thread, so they never overlap). */
  def summary(): JObj = {
    val all = spans.asScala.toVector
    val childMs = all.groupMapReduce(_.parent)(_.ms)(_ + _)
    val byName = all.groupBy(_.name).toVector.sortBy(_._1).map { case (name, ss) =>
      val durs = ss.map(_.ms).sorted
      val self = ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      name -> (JObj(Vector(
        "n" -> num(ss.size), "total_ms" -> num(durs.sum), "self_ms" -> num(self),
        "p50_ms" -> num(durs(durs.size / 2)))): JValue)
    }
    val cs = counters.asScala.toVector.sortBy(_._1).map { case (k, v) => k -> (num(v.sum): JValue) }
    val ms = maxima.asScala.toVector.sortBy(_._1).map { case (k, v) => k -> (num(v.longValue): JValue) }
    JObj(Vector("spans" -> JObj(byName), "counters" -> JObj(cs), "maxima" -> JObj(ms)))
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toVector.sortBy(_.startNs).map { s =>
      JValue.render(JObj(Vector("id" -> num(s.id), "parent" -> num(s.parent),
        "name" -> JStr(s.name), "start_ns" -> num(s.startNs), "end_ns" -> num(s.endNs))))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def num(v: Double): JNum = JNum(if (v.isNaN || v.isInfinite) "0" else v.toString)
  def num(v: Long): JNum = JNum(v.toString)
}

/** Spark counters by workload kind. Each thread that submits Spark work
  * tags it with the local property `perfbench.kind` (query, load); jobs
  * and tasks are attributed through their stage. */
final class SparkCounters extends SparkListener {
  private val stageKind = new ConcurrentHashMap[Int, String]
  private val jobs = new ConcurrentHashMap[String, LongAdder]
  private val tasks = new ConcurrentHashMap[String, LongAdder]
  val taskCpuNs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder

  private def add(m: ConcurrentHashMap[String, LongAdder], k: String): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).increment()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val kind = Option(js.properties).flatMap(p => Option(p.getProperty(SparkCounters.Key)))
      .getOrElse("other")
    js.stageIds.foreach(stageKind.put(_, kind))
    add(jobs, kind)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    add(tasks, stageKind.getOrDefault(te.stageId, "other"))
    val m = te.taskMetrics
    if (m != null) {
      taskCpuNs.add(m.executorCpuTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def jobsOf(kind: String): Long = Option(jobs.get(kind)).map(_.sum).getOrElse(0L)
  def tasksOf(kind: String): Long = Option(tasks.get(kind)).map(_.sum).getOrElse(0L)

  def reset(): Unit = {
    jobs.clear(); tasks.clear()
    Seq(taskCpuNs, shuffleWriteBytes, spillBytes).foreach(_.reset())
  }
}

object SparkCounters {
  val Key = "perfbench.kind"
  def tag(spark: org.apache.spark.sql.SparkSession, kind: String): Unit =
    spark.sparkContext.setLocalProperty(Key, kind)
}

/** Process-level figures read from the JVM's own beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = {
    val cb = ManagementFactory.getCompilationMXBean
    if (cb == null || !cb.isCompilationTimeMonitoringSupported) 0L else cb.getTotalCompilationTime
  }

  /** Wait until the JIT compile queue goes quiet (two near-idle 100 ms
    * samples in a row, capped), so compiler threads started by a warm-up
    * do not spend their CPU inside a measured window. */
  def quiesceJit(capMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + capMs * 1000000L
    var last = jitMs
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jitMs
      if (now - last < 20) quiet += 1 else quiet = 0
      last = now
    }
  }
}
