package perfbench

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval around one public engine call made by the benchmark.
  * `op` is the id of the top-level span (the operation) it belongs to;
  * `parent` is 0 for an operation. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** One Spark job as the listener saw it. `group` is the job group the
  * benchmark set on the submitting thread (`op-<id>`). */
final case class JobRec(jobId: Int, group: Option[String], startNs: Long, endNs: Long,
                        stageIds: Seq[Int]) {
  def durNs: Long = endNs - startNs
}

/** One completed Spark stage with its summed task metrics. */
final case class StageRec(stageId: Int, name: String, startNs: Long, endNs: Long,
                          tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleWrite: Long, shuffleWriteRecords: Long,
                          shuffleRead: Long, spill: Long, inputBytes: Long,
                          outputBytes: Long) {
  def durNs: Long = endNs - startNs
}

/** Records job and stage spans from the Spark scheduler. Event times are
  * wall-clock millis; they are mapped onto the nanoTime axis of the spans. */
final class StageListener extends SparkListener {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def ns(ms: Long): Long = ms * 1000000L - offsetNs
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Option[String], Long, Seq[Int])]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    starts.put(e.jobId, (group, ns(e.time), e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (g, s, ids) =>
      jobs.add(JobRec(e.jobId, g, s, ns(e.time), ids))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val end = si.completionTime.getOrElse(System.currentTimeMillis())
    stages.add(StageRec(si.stageId, si.name, ns(si.submissionTime.getOrElse(end)), ns(end),
      si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  /** Blocks until every job the status tracker knows has been delivered
    * to this listener (events arrive asynchronously). */
  def drain(sc: SparkContext): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def pending = starts.size > 0 || sc.statusTracker.getActiveJobIds().nonEmpty
    while (pending && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50) // trailing stage-completed events
  }
}

/** Span recorder. With `on = false` every method only runs its body: the
  * end-to-end run carries no listener and no bookkeeping. With `on = true`
  * the listener records the whole run, and spans and job groups are
  * recorded while `active` is set. Spans stay in memory until the run ends. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  @volatile var active: Boolean = on
  private val ids = new AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Int)]] { override def initialValue() = Nil }
  val listener: Option[StageListener] =
    if (on) { val l = new StageListener; sc.addSparkListener(l); Some(l) } else None

  /** A top-level operation: its own op id, and the Spark job group
    * `op-<id>` on this thread so its jobs attach to it. */
  def op[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      sc.setJobGroup(s"op-$id", name)
      try record(id, 0, id, name, layer, body)
      finally sc.clearJobGroup()
    }

  /** A span nested in the current operation (a top-level op if none). */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else stack.get match {
      case (parent, op) :: _ => record(ids.incrementAndGet(), parent, op, name, layer, body)
      case Nil => this.op(name, layer)(body)
    }

  private def record[T](id: Int, parent: Int, op: Int, name: String, layer: String,
                        body: => T): T = {
    stack.set((id, op) :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, op, name, layer, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  def trace(): Trace = {
    import scala.jdk.CollectionConverters._
    listener.foreach(_.drain(sc))
    Trace(spans.asScala.toSeq.sortBy(_.startNs),
      listener.map(_.jobs.asScala.toSeq.sortBy(_.startNs)).getOrElse(Nil),
      listener.map(_.stages.asScala.toSeq.sortBy(_.startNs)).getOrElse(Nil))
  }
}

/** The recorded run: spans, jobs and stages, with each job attached to the
  * operation that caused it. */
final case class Trace(spans: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec]) {
  private val stageById = stages.map(s => s.stageId -> s).toMap
  private val opSpans = spans.filter(_.parent == 0)
  private val opById = opSpans.map(s => s.id -> s).toMap

  /** Job → op id. The job group decides when the group's op was running at
    * job start; otherwise (threads the engine starts itself, such as
    * futures, inherit a stale group) the one op running at that time. */
  val opOfJob: Map[Int, Int] = jobs.flatMap { j =>
    val byGroup = j.group.filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)
      .filter(id => opById.get(id).exists(s => covers(s, j.startNs)))
    val live = opSpans.filter(covers(_, j.startNs))
    byGroup.orElse(if (live.size == 1) Some(live.head.id) else None).map(j.jobId -> _)
  }.toMap

  private def covers(s: Span, t: Long): Boolean = s.startNs - 2000000L <= t && t <= s.endNs + 2000000L

  def jobsOf(opId: Int): Seq[JobRec] = jobs.filter(j => opOfJob.get(j.jobId).contains(opId))
  def stagesOf(opId: Int): Seq[StageRec] = jobsOf(opId).flatMap(_.stageIds).distinct.flatMap(stageById.get)
  def ops(name: String): Seq[Span] = opSpans.filter(_.name == name)
  def children(id: Int): Seq[Span] = spans.filter(_.parent == id)

  /** Self time per layer, summed: a span's duration minus the union of its
    * child spans and the Spark jobs attached to it; a job's duration minus
    * its stages (layer `spark.job`, driver-side scheduling); a stage's whole
    * duration (layer `spark.stage`, task execution). A job attaches to the
    * innermost span of its op that was running when it started. */
  def selfTimeNs(opIds: Set[Int]): Map[String, Long] = {
    val jobParent: Map[Int, Int] = jobs.flatMap { j =>
      opOfJob.get(j.jobId).filter(opIds).map { op =>
        val inner = spans.filter(s => s.op == op && covers(s, j.startNs)).maxBy(_.startNs)
        j.jobId -> inner.id
      }
    }.toMap
    val spanSelf = spans.filter(s => opIds(s.op)).map { s =>
      val kids = children(s.id).map(c => (c.startNs, c.endNs)) ++
        jobs.filter(j => jobParent.get(j.jobId).contains(s.id)).map(j => (j.startNs, j.endNs))
      s.layer -> (s.durNs - Trace.unionNs(kids, s.startNs, s.endNs))
    }
    val attached = jobs.filter(j => opOfJob.get(j.jobId).exists(opIds))
    val jobSelf = attached.map { j =>
      val st = j.stageIds.flatMap(stageById.get).map(s => (s.startNs, s.endNs))
      "spark.job" -> (j.durNs - Trace.unionNs(st, j.startNs, j.endNs))
    }
    val stageSelf = attached.flatMap(_.stageIds).distinct.flatMap(stageById.get)
      .map(s => "spark.stage" -> s.durNs)
    (spanSelf ++ jobSelf ++ stageSelf).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** Share of the time in `intervals` that no operation span covers. */
  def unattributedShare(intervals: Seq[(Long, Long)]): Double = {
    val total = intervals.map { case (a, b) => b - a }.sum
    val ops = opSpans.map(s => (s.startNs, s.endNs))
    if (total <= 0) 0.0
    else 1.0 - intervals.map { case (a, b) => Trace.unionNs(ops, a, b) }.sum.toDouble / total
  }

  /** JSON dump of every span, job and stage. */
  def json: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val sp = spans.map(s => s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${q(s.name)},"layer":${q(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val jb = jobs.map(j => s"""{"job":${j.jobId},"op":${opOfJob.getOrElse(j.jobId, 0)},"start_ns":${j.startNs},"end_ns":${j.endNs},"stages":[${j.stageIds.mkString(",")}]}""")
    val st = stages.map(s => s"""{"stage":${s.stageId},"name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"tasks":${s.tasks},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},"shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},"spill":${s.spill},"input":${s.inputBytes}}""")
    s"""{"spans":[${sp.mkString(",\n")}],\n"jobs":[${jb.mkString(",\n")}],\n"stages":[${st.mkString(",\n")}]}\n"""
  }
}

object Trace {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
