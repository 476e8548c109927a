package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span the bench recorded around one call into the engine. Times are
  * epoch-relative nanoseconds (`t0`/`t1`, for durations) plus epoch
  * milliseconds (`ms0`/`ms1`, the clock Spark's job events use). */
final case class Span(id: Long, parent: Long, name: String, thread: String,
    t0: Long, t1: Long, ms0: Long, ms1: Long, writes: Boolean,
    attrs: Map[String, String]) {
  def ms: Double = (t1 - t0) / 1e6
}

/** One Spark job, attributed to the span that submitted it. */
final case class JobRec(jobId: Int, tagged: Long, ms0: Long,
    var ms1: Long = -1L, var tasks: Int = 0, var shuffleBytes: Long = 0L)

/** Per-span cost as the trace sees it: the span's wall time, the Spark
  * jobs it ran, their tasks and shuffle bytes, the part of the wall that
  * no job covered (driver gap), and self time (wall minus child spans). */
final case class SpanCost(span: Span, jobs: Int, tasks: Int,
    shuffleBytes: Long, jobCoverMs: Double, selfMs: Double) {
  def driverGapMs: Double = math.max(0.0, span.ms - jobCoverMs)
}

/** In-memory spans plus a SparkListener that attributes each job to the
  * span open on the submitting thread: [[span]] tags the thread with
  * `setLocalProperty(Tracer.Key, id)`, and the listener reads the tag off
  * the job's properties. Spans are kept in memory and written out once,
  * at the end of the run.
  *
  * Engine worker threads (the commit pool) inherit a COPY of the local
  * properties of the thread that created them, so their jobs can carry
  * the id of a span that had already ended when the job started, or no
  * id at all. Such a job is re-attributed to the innermost span opened
  * with `writes = true` (only the writer's calls start commit legs) that
  * was open at the job's start, and counted in [[reattributed]]. Calls
  * the bench deliberately leaves untraced run under [[untraced]], whose
  * jobs carry the id -1 and are never re-attributed.
  *
  * Disabled, [[span]] is a plain call: no listener is registered and no
  * property is set. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }
  @volatile var reattributed = 0
  private val nanoBase = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val tagged = Option(js.properties).flatMap(p =>
        Option(p.getProperty(Tracer.Key))).map(_.toLong).getOrElse(0L)
      jobs.put(js.jobId, JobRec(js.jobId, tagged, js.time))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.ms1 = je.time)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(te.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.synchronized {
            j.tasks += 1
            Option(te.taskMetrics).foreach(m =>
              j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
          }
        }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String, writes: Boolean = false,
      attrs: => Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = current.get()
      current.set(id)
      sc.setLocalProperty(Tracer.Key, id.toString)
      val thread = Thread.currentThread().getName
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        spans.add(Span(id, parent, name, thread, t0 + nanoBase, t1 + nanoBase,
          ms0, ms1, writes, attrs))
        current.set(parent)
        sc.setLocalProperty(Tracer.Key,
          if (parent == 0L) null else parent.toString)
      }
    }

  /** Runs `body` with the thread tagged as deliberately untraced. */
  def untraced[T](body: => T): T =
    if (!enabled) body
    else {
      sc.setLocalProperty(Tracer.Key, "-1")
      try body
      finally sc.setLocalProperty(Tracer.Key,
        if (current.get() == 0L) null else current.get().toString)
    }

  /** Every recorded span with its attributed cost. Drains the listener
    * bus first, so all jobs of finished spans are counted. */
  def costs(): Seq[SpanCost] = {
    if (!enabled) return Seq.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    val all = spans.asScala.toSeq.sortBy(_.t0)
    val byId = all.map(s => s.id -> s).toMap
    val byParent = all.groupBy(_.parent)
    def within(s: Span, ms: Long) = s.ms0 <= ms && ms <= s.ms1
    var moved = 0
    val jobsBySpan = jobs.values().asScala.toSeq.groupBy { j =>
      val stale = j.tagged == 0L || byId.get(j.tagged).exists(!within(_, j.ms0))
      if (!stale) j.tagged
      else all.filter(w => w.writes && within(w, j.ms0)).sortBy(-_.t0)
        .headOption.map { w => moved += 1; w.id }.getOrElse(j.tagged)
    }
    reattributed = moved
    all.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Seq.empty)
      val cover = Tracer.unionMs(js.map(j => (
        math.max(j.ms0, s.ms0), math.min(if (j.ms1 < 0) s.ms1 else j.ms1, s.ms1))))
      val children = byParent.getOrElse(s.id, Seq.empty)
      val childCover = Tracer.unionMs(children.map(c => (c.t0, c.t1))) / 1e6
      SpanCost(s, js.size, js.map(_.tasks).sum, js.map(_.shuffleBytes).sum,
        cover, math.max(0.0, s.ms - childCover))
    }
  }

  /** Spans and jobs as JSON lines. */
  def jsonLines(runId: String): Iterator[String] =
    costs().iterator.map { c =>
      val s = c.span
      Json.obj(Seq("run" -> Json.str(runId), "span" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "thread" -> Json.str(s.thread), "start_ns" -> s.t0.toString,
        "end_ns" -> s.t1.toString, "jobs" -> c.jobs.toString,
        "tasks" -> c.tasks.toString, "shuffle_bytes" -> c.shuffleBytes.toString,
        "job_ms" -> Json.num(c.jobCoverMs), "self_ms" -> Json.num(c.selfMs)) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
    } ++ jobs.values().asScala.toSeq.sortBy(_.jobId).iterator.map { j =>
      Json.obj(Seq("run" -> Json.str(runId), "job" -> j.jobId.toString,
        "tagged_span" -> j.tagged.toString, "start_ms" -> j.ms0.toString,
        "end_ms" -> j.ms1.toString, "tasks" -> j.tasks.toString,
        "shuffle_bytes" -> j.shuffleBytes.toString))
    }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length of the union of intervals (any unit). */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total.toDouble
  }
}
