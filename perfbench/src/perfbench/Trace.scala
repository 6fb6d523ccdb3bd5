package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One closed span: a call from the benchmark into a public function
  * of the program. Times are wall-clock milliseconds (comparable with
  * listener event times) plus nanoseconds for durations.
  */
final case class Span(
    id: Int, name: String, parent: Int, op: Long, depth: Int,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled, `span` is a plain call. Spans
  * nest per thread; a span opened on a helper thread of the program
  * takes the benchmark thread's innermost open span as its parent.
  */
final class Tracer {
  /** Off during set-up and checks; on for the traced timed loop. */
  @volatile var enabled = false
  private final case class Open(id: Int, name: String, parent: Int,
      depth: Int, startMs: Long, startNs: Long)
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val mainThread = Thread.currentThread()
  private val stacks = new ThreadLocal[List[Open]] {
    override def initialValue(): List[Open] = Nil
  }
  @volatile private var mainTop: Option[Open] = None
  @volatile var op: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = stacks.get()
      val parent = stack.headOption.orElse(mainTop)
      val o = Open(ids.incrementAndGet(), name, parent.map(_.id).getOrElse(0),
        parent.map(_.depth + 1).getOrElse(0),
        System.currentTimeMillis(), System.nanoTime())
      push(o :: stack)
      try body
      finally {
        val s = Span(o.id, o.name, o.parent, op, o.depth, o.startMs,
          System.currentTimeMillis(), o.startNs, System.nanoTime())
        push(stack)
        closed.synchronized(closed += s)
      }
    }

  private def push(stack: List[Open]): Unit = {
    stacks.set(stack)
    if (Thread.currentThread() eq mainThread) mainTop = stack.headOption
  }

  def spans: Seq[Span] = closed.synchronized(closed.toList).sortBy(_.id)
}

/** Spark-side cost of one job: its stages' task metrics summed. */
final class JobCost {
  var tasks = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** Collects every job with its submission time, and every finished
  * task's metrics charged to the job that first listed its stage (a
  * later job that reuses a shuffle stage skips it and runs no tasks).
  */
final class JobListener extends SparkListener {
  private val submitted = mutable.ArrayBuffer.empty[(Int, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val costs = mutable.HashMap.empty[Int, JobCost]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    submitted += ((e.jobId, e.time))
    costs(e.jobId) = new JobCost
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); c <- costs.get(job)) {
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** (submission time, cost) of every job seen. */
  def jobs: Seq[(Long, JobCost)] = synchronized {
    submitted.toList.map { case (id, t) => (t, costs(id)) }
  }
}

/** Per-span-name totals after attribution. */
final class LayerTotals {
  var calls = 0L
  var selfS = 0.0
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

object Attribution {

  /** The innermost span open at time `t` (deepest, then latest
    * started), if any.
    */
  def owner(spans: Seq[Span], t: Long): Option[Span] =
    spans.iterator.filter(s => s.startMs <= t && t <= s.endMs)
      .maxByOption(s => (s.depth, s.startNs))

  /** A span's duration minus the union of its children's intervals. */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs),
      math.min(c.endNs, s.endNs))).filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Self time per span id and jobs charged per span id. */
  def attribute(spans: Seq[Span], jobs: Seq[(Long, JobCost)])
      : (Map[Int, Double], Map[Int, Seq[JobCost]], Seq[JobCost]) = {
    val kids = spans.groupBy(_.parent)
    val self = spans.map(s => s.id -> selfSeconds(s, kids.getOrElse(s.id, Nil))).toMap
    val (owned, outside) = jobs.map { case (t, c) => (owner(spans, t).map(_.id), c) }
      .partition(_._1.isDefined)
    val charged = owned.groupBy(_._1.get).map { case (k, v) => k -> v.map(_._2) }
    (self, charged, outside.map(_._2))
  }

  def totals(spans: Seq[Span], jobs: Seq[(Long, JobCost)])
      : (Map[String, LayerTotals], Seq[JobCost]) = {
    val (self, charged, outside) = attribute(spans, jobs)
    val out = mutable.LinkedHashMap.empty[String, LayerTotals]
    spans.foreach { s =>
      val t = out.getOrElseUpdate(s.name, new LayerTotals)
      t.calls += 1
      t.selfS += self(s.id)
      charged.getOrElse(s.id, Nil).foreach { c =>
        t.jobs += 1
        t.tasks += c.tasks
        t.inputBytes += c.inputBytes
        t.shuffleBytes += c.shuffleBytes
        t.spillBytes += c.spillBytes
        t.peakExecMem = math.max(t.peakExecMem, c.peakExecMem)
      }
    }
    (out.toMap, outside)
  }
}
