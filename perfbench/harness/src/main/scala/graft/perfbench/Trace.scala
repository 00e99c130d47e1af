package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are seconds since the tracer
  * started; `counts` holds the listener counts the span caused. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val start: Double) {
  var end: Double = Double.NaN
  val counts: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def dur: Double = end - start
}

/** In-memory spans plus Spark's public listeners, all attached from the
  * benchmark. Disabled, `span` only runs its body: no listener is
  * registered and nothing is recorded, so untraced runs time the
  * program alone.
  *
  * Counts reach the span that caused them: entering a span sets the
  * `perfbench.span` job property, so each job (and its stages and tasks)
  * carries the id of the innermost open span of the thread that started
  * it; stream and worker threads inherit it from the thread that started
  * them. Catalyst phase times arrive through a QueryExecutionListener
  * without job properties, so `settle` drains the bus and hands them to
  * the span given. */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  def now(): Double = (System.nanoTime() - origin) / 1e9

  val spans = mutable.ArrayBuffer.empty[Span]
  // per thread; a worker thread starts inside the span that created it
  private val open = new InheritableThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(JobListener)
    s.listenerManager.register(QeListener)
    s.streams.addListener(StreamListener)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = open.get
      val sp = spans.synchronized {
        val sp = new Span(spans.size, name, outer.headOption.map(_.id).getOrElse(-1), now())
        spans += sp
        sp
      }
      open.set(sp :: outer)
      spark.sparkContext.setLocalProperty(Tracer.Prop, sp.id.toString)
      try body
      finally {
        sp.end = now()
        open.set(outer)
        spark.sparkContext.setLocalProperty(Tracer.Prop,
          outer.headOption.map(_.id.toString).orNull)
      }
    }

  /** Drain the listener bus; pending Catalyst phase times go to `owner`. */
  def settle(owner: Option[Span]): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    var qe = pendingQe.poll()
    while (qe != null) {
      owner.foreach(sp => qe.foreach { case (k, v) => add(sp.id, k, v) })
      qe = pendingQe.poll()
    }
  }

  def last(name: String): Option[Span] =
    spans.synchronized(spans.reverseIterator.find(_.name == name))

  private def add(spanId: Int, key: String, v: Double): Unit =
    if (spanId >= 0) spans.synchronized(spans(spanId).counts(key) += v)

  private val pendingQe = new ConcurrentLinkedQueue[Map[String, Double]]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private object QeListener extends QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def s(k: String) = p.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      pendingQe.add(Map("analysis_s" -> s("analysis"),
        "optimizer_s" -> s("optimization"), "planning_s" -> s("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private object JobListener extends SparkListener {
    private final class Job(val span: Int, val start: Long) {
      val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    private val jobs = mutable.Map.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]
    private def spanOfStage(stage: Int): Int =
      stageJob.get(stage).flatMap(jobs.get).map(_.span).getOrElse(-1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = new Job(span, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      add(span, "jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val span = spanOfStage(e.stageInfo.stageId)
      add(span, "stages", 1)
      if (e.stageInfo.numTasks == 1) add(span, "single_task_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = spanOfStage(e.stageId)
      stageJob.get(e.stageId).flatMap(jobs.get)
        .foreach(_.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime)))
      add(span, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(span, "run_s", m.executorRunTime / 1e3)
        add(span, "cpu_s", m.executorCpuTime / 1e9)
        add(span, "gc_s", m.jvmGCTime / 1e3)
        add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(span, "shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble)
        add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(span, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    /** Time the job spent outside its tasks: its wall minus the union of
      * its task intervals (scheduling, result handling, driver work). */
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { j =>
        var covered = 0L
        var reach = j.start
        j.tasks.sortBy(_._1).foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        add(j.span, "outside_tasks_s", math.max(0L, e.time - j.start - covered) / 1e3)
      }
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Per-span counts summed over the spans whose name satisfies `pick`. */
  def sum(spans: Iterable[Span], key: String)(pick: Span => Boolean): Double =
    spans.filter(pick).map(_.counts(key)).sum

  /** Share of the measured windows that no span satisfying `layer`
    * covers. */
  def uncovered(spans: Iterable[Span], windows: Seq[(Double, Double)])
               (layer: Span => Boolean): Double = {
    var covered = 0.0
    windows.foreach { case (from, to) =>
      var reach = from
      spans.filter(layer).map(s => (math.max(s.start, from), math.min(s.end, to)))
        .toSeq.sortBy(_._1).foreach { case (a, b) =>
          val lo = math.max(a, reach)
          if (b > lo) { covered += b - lo; reach = b }
        }
    }
    val total = windows.map { case (a, b) => b - a }.sum
    if (total > 0) 1.0 - covered / total else 0.0
  }

  /** Progress of the given stream runs (one run per query start). */
  def progressOf(q: Seq[StreamingQueryProgress], runs: Set[java.util.UUID])
      : Seq[StreamingQueryProgress] =
    q.filter(p => runs(p.runId))

  def durations(p: StreamingQueryProgress): Map[String, Double] =
    p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
}
