package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group. */
final class GroupCounters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
}

/** Attributes jobs, stages, tasks, executor run time, shuffle and spill
  * bytes to the job group that submitted them. Registered only for traced
  * runs.
  */
final class JobGroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  def counters(group: String): GroupCounters =
    groups.computeIfAbsent(group, _ => new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      counters(g).jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach { g =>
      stageGroup.put(e.stageInfo.stageId, g)
      counters(g).stages.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) {
      val c = counters(g)
      val m = e.taskMetrics
      c.tasks.incrementAndGet()
      c.runMs.addAndGet(m.executorRunTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** One timed call at a layer boundary. `parent` is the enclosing span's
  * id (0 for a request's root); every span of a request shares `req`.
  */
final case class Span(id: Long, req: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def group: String = s"pb-$req-$id"
}

/** Spans kept in memory and written out when the run ends. With
  * `enabled = false` every call runs its body directly: no span, no job
  * group, no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener: JobGroupListener =
    if (enabled) { val l = new JobGroupListener; sc.addSparkListener(l); l } else null
  private val ids = new AtomicLong
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  def nextRequest(): Long = ids.incrementAndGet()

  /** Run `f` as span `name` of request `req`; its Spark jobs run under the
    * span's own job group, so the listener can attribute them.
    */
  def span[A](req: Long, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = current.get
      val id = ids.incrementAndGet()
      val gid = s"pb-$req-$id"
      sc.setJobGroup(gid, name)
      val s0 = Span(id, req, if (parent == null) 0L else parent.id, name, System.nanoTime(), 0L)
      current.set(s0)
      try f
      finally {
        spans.add(s0.copy(endNs = System.nanoTime()))
        current.set(parent)
        if (parent == null) sc.clearJobGroup() else sc.setJobGroup(parent.group, parent.name)
      }
    }

  /** Every recorded span, once the listener has seen all their events. */
  def finish(): Seq[Span] = {
    if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
    spans.toArray(new Array[Span](0)).toSeq.sortBy(_.id)
  }

  /** Spark work of one span alone (its children's jobs run under their
    * own groups).
    */
  def own(s: Span): GroupCounters =
    if (!enabled) new GroupCounters
    else Option(listener.groups.get(s.group)).getOrElse(new GroupCounters)

  /** Spark work of a span and every span below it: (jobs, tasks, shuffle
    * bytes, spill bytes).
    */
  def total(s: Span, kids: Map[Long, Seq[Span]]): (Long, Long, Long, Long) = {
    def sub(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(sub)
    sub(s).map(own).foldLeft((0L, 0L, 0L, 0L)) { case ((j, t, sh, sp), c) =>
      (j + c.jobs.get, t + c.tasks.get, sh + c.shuffleWrite.get + c.shuffleRead.get, sp + c.spill.get)
    }
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfMs(s: Span, kids: Map[Long, Seq[Span]]): Double = {
    var covered = 0L
    var edge = s.startNs
    kids.getOrElse(s.id, Nil).sortBy(_.startNs).foreach { k =>
      val a = math.max(edge, k.startNs)
      val b = math.min(s.endNs, k.endNs)
      if (b > a) { covered += b - a; edge = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Writes every span, with its own Spark counters and self time, as one
    * JSON array.
    */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val kids = Tracer.children(all)
    val rows = all.map { s =>
      val c = own(s)
      f"""{"id":${s.id},"req":${s.req},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"dur_ms":${s.ms}%.4f,"self_ms":${selfMs(s, kids)}%.4f,""" +
        f""""jobs":${c.jobs.get},"stages":${c.stages.get},"tasks":${c.tasks.get},""" +
        f""""run_ms":${c.runMs.get},"shuffle_write":${c.shuffleWrite.get},""" +
        f""""shuffle_read":${c.shuffleRead.get},"spill":${c.spill.get}}"""
    }
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Spans by the id of their parent span. */
  def children(all: Seq[Span]): Map[Long, Seq[Span]] = all.groupBy(_.parent)
}
