package omopbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counts of one op, gathered from listener events. */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Job(start: Long, var end: Long, stages: Seq[Int])
  final class Stage {
    var tasks = 0L; var runMs = 0L; var maxMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var input = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]
  var aqeUpdates = 0L
  val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage)
    s.tasks += 1
    s.maxMs = math.max(s.maxMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized { aqeUpdates += 1 }
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qe.tracker.phases.foreach { case (p, s) => phaseMs(p) += s.durationMs } }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Jobs started within [from, to] (epoch ms). */
  def jobsIn(from: Long, to: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= from && j.start <= to).toSeq
  }
}

/** Spans around the layer calls of one op, plus the listener, codegen and
  * JIT counts over the op's window. Listeners are attached only between
  * [[begin]] and [[end]], so untraced ops in the same JVM run without them.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double)

  private var rec: Recorder = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var t0Ns = 0L
  private var t0Ms = 0L
  private var compiles0 = 0L
  private var jitMs0 = 0L
  private val jit = ManagementFactory.getCompilationMXBean

  def span[T](name: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    val n = System.nanoTime()
    try body
    finally spans += Span(name, s, System.currentTimeMillis(), (System.nanoTime() - n) / 1e9)
  }

  def begin(): Unit = {
    spans.clear()
    rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    jitMs0 = jit.getTotalCompilationTime
    t0Ms = System.currentTimeMillis()
    t0Ns = System.nanoTime()
  }

  /** Remove the listeners once they have seen every event posted so far. */
  def detach(): Unit = if (rec != null) {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    rec = null
  }

  /** Close the op window and return its layer fields. */
  def end(): Map[String, Double] = {
    val wall = (System.nanoTime() - t0Ns) / 1e9
    val t1Ms = System.currentTimeMillis()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    // the compile-time histogram keeps a sample, not a sum: mean × count
    val compileS = compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3
    val jitS = (jit.getTotalCompilationTime - jitMs0) / 1e3
    val r = rec
    detach()

    val jobs = r.jobsIn(t0Ms, t1Ms)
    val st = jobs.flatMap(_.stages).distinct.flatMap(r.stages.get)
    // wall time not covered by any running job
    val covered = jobs.map(j => (math.max(j.start, t0Ms), math.min(j.end, t1Ms)))
      .sortBy(_._1)
      .foldLeft((0L, t0Ms)) { case ((acc, reach), (s, e)) =>
        val from = math.max(s, reach)
        if (e > from) (acc + (e - from), e) else (acc, reach)
      }._1
    val taskS = st.map(_.runMs).sum / 1e3
    val cpus = spark.sparkContext.defaultParallelism
    val bySpan = spans.groupBy(_.name).map { case (n, ss) =>
      val jobsInSpan = ss.map(s => r.jobsIn(s.startMs, s.endMs).size).sum
      Seq(s"${n}_s" -> ss.map(_.seconds).sum, s"${n}_jobs" -> jobsInSpan.toDouble)
    }.flatten
    Map(
      "span_wall_s" -> wall,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.critical_path_s" -> st.map(_.maxMs).sum / 1e3,
      "spark.driver_gap_s" -> math.max(0.0, wall - covered / 1e3),
      "spark.occupancy" -> taskS / (wall * cpus),
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> st.map(_.input).sum.toDouble,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "catalyst.analysis_s" -> r.phaseMs("analysis") / 1e3,
      "catalyst.optimization_s" -> r.phaseMs("optimization") / 1e3,
      "catalyst.planning_s" -> r.phaseMs("planning") / 1e3,
      "aqe.replans" -> r.aqeUpdates.toDouble,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compileS,
      "jvm.jit_s" -> jitS,
    ) ++ bySpan
  }
}
