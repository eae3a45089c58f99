package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._

/** One recorded span: a call into one layer, or a whole operation. Times
  * are epoch milliseconds with sub-millisecond digits, the clock Spark
  * stamps its job events with. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
                      thread: String, start: Double, end: Double)

/** Records spans around layer calls and, when enabled, attributes Spark
  * jobs and tasks to the innermost open span through a local property on
  * the calling thread. Disabled, [[span]] only runs its body. Spans stay
  * in memory until the run ends. */
final class Tracer(sc: SparkContext, val enabled: Boolean, cores: Int) {
  import Tracer._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span, request)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  // wall clock = a fixed epoch origin plus the monotonic clock's progress
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private def now(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  val listener: Option[Attribution] =
    if (enabled) { val l = new Attribution; sc.addSparkListener(l); Some(l) }
    else None

  /** Spans are recorded only while active: the benchmark pauses the
    * tracer around its own untimed work (input generation, expected
    * answers). */
  @volatile var active: Boolean = enabled

  /** Run `body` as a root span named `name` for request `request`. */
  def op[T](name: String, request: Long)(body: => T): T =
    if (!active) body else within(name, request, root = true)(body)

  /** Run `body` as a child span of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body else within(name, -1L, root = false)(body)

  private def within[T](name: String, request: Long, root: Boolean)(body: => T): T = {
    val stack = open.get()
    val parent = if (root || stack.isEmpty) -1L else stack.head._1
    val req = if (root || stack.isEmpty) request else stack.head._2
    val id = ids.incrementAndGet()
    val prevProp = sc.getLocalProperty(SpanProperty)
    open.set((id, req) :: stack)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = now()
    try body
    finally {
      val t1 = now()
      spans.add(Span(id, name, parent, req, Thread.currentThread().getName, t0, t1))
      sc.setLocalProperty(SpanProperty, prevProp)
      open.set(stack)
    }
  }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Per-span-name layer statistics over the spans recorded so far. */
  def layerStats(): Map[String, LayerStats] = {
    listener.fold(Map.empty[String, LayerStats])(statsFrom)
  }

  private def statsFrom(l: Attribution): Map[String, LayerStats] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val all = recorded
    val byId = all.map(s => s.id -> s).toMap
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobsBySpan = l.jobs.values.toSeq.groupBy(_.span)
    def roots(s: Span): Long = byId.get(s.parent).map(roots).getOrElse(s.id)

    // per instance: the totals of the span and everything below it
    final case class Inst(op: Long, wall: Double, driverOnly: Double,
                          jobs: Int, runMs: Double, shuffleBytes: Double,
                          stages: Seq[StageRec])
    val insts = all.map { s =>
      val sub = subtree(s).map(_.id).toSet
      val js = sub.toSeq.flatMap(id => jobsBySpan.getOrElse(id, Nil))
      val jobIv = js.map(j => (j.start, if (j.end > 0) j.end else s.end))
      val stages = js.flatMap(_.stages).flatMap(l.stages.get).distinct
      s.name -> Inst(roots(s), (s.end - s.start) / 1e3,
        Stats.driverOnly((s.start, s.end), jobIv) / 1e3, js.size,
        stages.map(_.runMs).sum, stages.map(_.shuffleWriteBytes).sum, stages)
    }
    insts.groupBy(_._1).map { case (name, xs) =>
      // additive stats: summed over the span's instances in one operation,
      // then the median over operations
      val perOp = xs.map(_._2).groupBy(_.op).values.toSeq
      def med(f: Inst => Double) = Stats.median(perOp.map(_.map(f).sum))
      val is = xs.map(_._2)
      val wallSum = is.map(_.wall).sum
      val stages = is.flatMap(_.stages)
      val stageWall = stages.map(_.wallMs).sum
      name -> LayerStats(
        wallS = med(_.wall),
        driverOnlyS = med(_.driverOnly),
        jobs = med(_.jobs.toDouble),
        coresBusy = if (wallSum > 0) is.map(_.runMs).sum / 1e3 / (wallSum * cores) else 0.0,
        // each stage's longest task over the stage's wall, weighted by wall
        maxTaskShare = if (stageWall > 0)
          stages.map(st => st.maxTaskMs).sum / stageWall else 0.0,
        shuffleMb = med(_.shuffleBytes) / (1 << 20),
        instances = is.size)
    }
  }

  /** Spans and jobs as JSON-ready rows, with each span's self time. */
  def dump(): Map[String, Any] = {
    listener.foreach(_ => org.apache.spark.perfbench.Bus.drain(sc))
    val all = recorded
    val children = all.groupBy(_.parent)
    val jobs = listener.map(_.jobs.values.toSeq.sortBy(_.id)).getOrElse(Nil)
    val jobsBySpan = jobs.groupBy(_.span)
    Map(
      "spans" -> all.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        val js = jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end))
        scala.collection.immutable.ListMap(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "request" -> s.request, "thread" -> s.thread,
          "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> Stats.selfTime((s.start, s.end), kids),
          "own_jobs" -> js.size,
          "own_driver_only_ms" -> Stats.driverOnly((s.start, s.end), js))
      },
      "jobs" -> jobs.map(j => scala.collection.immutable.ListMap(
        "id" -> j.id, "span" -> j.span, "start_ms" -> j.start,
        "end_ms" -> j.end, "stages" -> j.stages)),
      "stages" -> listener.map(_.stages.values.toSeq.sortBy(_.id)).getOrElse(Nil).map(st =>
        scala.collection.immutable.ListMap(
          "id" -> st.id, "wall_ms" -> st.wallMs, "executor_run_ms" -> st.runMs,
          "executor_cpu_ms" -> st.cpuMs, "max_task_ms" -> st.maxTaskMs,
          "shuffle_write_bytes" -> st.shuffleWriteBytes)))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class LayerStats(wallS: Double, driverOnlyS: Double,
                              jobs: Double, coresBusy: Double,
                              maxTaskShare: Double, shuffleMb: Double,
                              instances: Int)

  final class JobRec(val id: Int, val span: Long, val start: Double,
                     val stages: Seq[Int]) {
    @volatile var end: Double = -1
  }

  final class StageRec(val id: Int) {
    var runMs = 0.0
    var cpuMs = 0.0
    var shuffleWriteBytes = 0.0
    var maxTaskMs = 0.0
    var wallMs = 0.0
  }

  /** Listener that keeps every job, stage and task total of the run. The
    * listener bus calls it from one thread. */
  final class Attribution extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.HashMap.empty[Int, StageRec]
    @volatile var taskFailures = 0L
    @volatile var stageRetries = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (e.stageInfo.attemptNumber() > 0) stageRetries += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
      for (a <- i.submissionTime; b <- i.completionTime) st.wallMs += (b - a).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      if (e.reason != Success) taskFailures += 1
      st.maxTaskMs = math.max(st.maxTaskMs, e.taskInfo.duration.toDouble)
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.cpuMs += m.executorCpuTime / 1e6
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}
