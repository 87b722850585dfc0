package lakebench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are microseconds on the epoch clock, so
  * Spark's job events (epoch milliseconds) line up with them.
  */
final case class Span(id: Int, parent: Int, name: String, opId: String,
    startUs: Long, endUs: Long)

object Span {
  /** Self time per span id: duration minus the part of it that the
    * span's children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(Stats.clip(
        kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs)), s.startUs, s.endUs))
      s.id -> ((s.endUs - s.startUs) - covered)
    }.toMap
  }
}

/** Spark work one op launched, from the traced run's listeners. */
final case class OpSpark(jobs: Int, tasks: Int, taskCpuMs: Double,
    driverGapMs: Double, sqlPlanMs: Double)

/** Collects job intervals and task counts per job group, and planning
  * time per SQL execution, attributed to the op that was running.
  */
final class OpListener extends SparkListener with QueryExecutionListener {
  final class JobRec(val group: String, val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var tasks = 0
    @volatile var cpuNs = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile var currentOp: String = ""
  val planMs = new ConcurrentHashMap[String, java.lang.Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(group, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.tasks += 1
        if (e.taskMetrics != null) r.cpuNs += e.taskMetrics.executorCpuTime
      }
    }

  private def plan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    planMs.merge(currentOp, ms, (a, b) => a + b)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
}

/** Runs and times the benchmark's ops. Every op is wrapped: an exception
  * or a failed output check is counted as a failed op with its name and
  * message, and is never retried. With `traced`, each op also records
  * spans, tags its Spark jobs with a job group, and waits for the
  * listener bus so the Spark counts are complete.
  */
final class Harness(spark: SparkSession, val traced: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = t0EpochUs + (System.nanoTime() - t0Nano) / 1000L

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val opSpark = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[OpSpark]]
  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0
  var succeeded = 0
  var listenerWaitMs = 0.0

  private val listener = new OpListener
  private var stack: List[(Int, String)] = Nil // (span id, op id)
  private var opSeq = 0

  if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def record(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Forget samples and Spark counts (after set-up), keeping failures. */
  def resetSamples(): Unit = { samples.clear(); opSpark.clear(); spans.clear() }

  /** Time `body` as a child interval of the running op, recorded as the
    * sample `<op>.<name>`.
    */
  def span[T](name: String)(body: => T): T = {
    val opName = stack.headOption.map(_._2.takeWhile(_ != '#')).getOrElse("")
    val start = nowUs
    val id = spans.size
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    if (traced) spans += Span(id, parent, name, stack.headOption.map(_._2).getOrElse(""), start, -1L)
    stack = (id, stack.headOption.map(_._2).getOrElse("")) :: stack
    try body
    finally {
      stack = stack.tail
      val end = nowUs
      if (traced) spans(id) = spans(id).copy(endUs = end)
      record(s"$opName.$name", (end - start) / 1000.0)
    }
  }

  /** Run one op, recording its wall time in ms under `name` when it
    * succeeds and its output passes `check` (None = correct).
    */
  def op[T](name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    opSeq += 1
    val opId = s"$name#$opSeq"
    val sc = spark.sparkContext
    if (traced) {
      listener.currentOp = opId
      sc.setJobGroup(opId, name, interruptOnCancel = false)
    }
    val id = spans.size
    val start = nowUs
    if (traced) spans += Span(id, -1, name, opId, start, -1L)
    stack = (id, opId) :: stack
    val result =
      try Right(body)
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
      finally stack = stack.tail
    val end = nowUs
    if (traced) {
      sc.clearJobGroup()
      spans(id) = spans(id).copy(endUs = end)
      val w0 = System.nanoTime()
      org.apache.spark.LakebenchBus.drain(sc)
      listenerWaitMs += (System.nanoTime() - w0) / 1e6
      collectSpark(name, opId, id, start, end)
    }
    result match {
      case Left(e) =>
        failures += name -> s"${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      case Right(v) =>
        check(v) match {
          case Some(msg) => failures += name -> msg; None
          case None =>
            succeeded += 1
            record(name, (end - start) / 1000.0)
            Some(v)
        }
    }
  }

  private def collectSpark(name: String, opId: String, spanId: Int,
      start: Long, end: Long): Unit = {
    val mine = listener.jobs.asScala.toSeq.filter(_._2.group == opId).sortBy(_._1)
    val intervals = mine.map { case (_, j) =>
      (j.startMs * 1000L, (if (j.endMs < 0) end / 1000L else j.endMs) * 1000L)
    }
    // each job hangs under the innermost span of the op it started in
    val opSpans = spans.drop(spanId).filter(_.opId == opId).toSeq
    mine.zip(intervals).foreach { case ((jobId, _), (a, b)) =>
      val parent = opSpans.filter(sp => sp.startUs <= a && a < sp.endUs)
        .map(_.id).maxOption.getOrElse(spanId)
      spans += Span(spans.size, parent, s"job-$jobId", opId, a, b)
    }
    mine.foreach { case (j, _) => listener.jobs.remove(j) }
    val plan = Option(listener.planMs.remove(opId)).map(_.doubleValue).getOrElse(0.0)
    opSpark.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += OpSpark(
      mine.size, mine.map(_._2.tasks).sum, mine.map(_._2.cpuNs).sum / 1e6,
      Stats.driverGap(start, end, intervals) / 1000.0, plan)
  }

  /** Self time per span name, summed over the run (ms). */
  def selfTimeMs: Map[String, Double] = {
    val self = Span.selfTimes(spans.toSeq)
    spans.groupBy(s => if (s.name.startsWith("job-")) "spark.job" else s.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1000.0 }
  }
}
