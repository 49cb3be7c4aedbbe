package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span tracer for the traced run.
  *
  * A span is (name, layer, start, end, parent); the harness opens one around
  * each call into an engine module. A `SparkListener` and a
  * `QueryExecutionListener` record every job, task and executed query, and
  * a log appender records codegen compile times; each is attributed to the
  * innermost span open when it started. Nothing here touches the engine's
  * code: it only observes the session.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageToJob = mutable.Map.empty[Int, Int]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)] // (phase, startMs, endMs)
  private val compiles = mutable.ArrayBuffer.empty[(Long, Double)]     // (timeMs, seconds)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = new Job(e.time)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jobId <- stageToJob.get(e.stageId); job <- jobs.get(jobId); m <- Option(e.taskMetrics)) {
        job.tasks += 1
        job.runMs += m.executorRunTime
        job.cpuNs += m.executorCpuTime
        job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        job.spill += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val codegenLog = new CodegenLog(t => synchronized { compiles += t })

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegenLog.attach()
  }

  def stop(): Unit = {
    drain(spark.sparkContext)
    codegenLog.detach()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  def span[A](name: String, layer: String)(body: => A): A = {
    val s = Span(spans.size, name, layer, open.headOption.map(_.id), System.currentTimeMillis(),
      System.nanoTime())
    spans += s
    open.push(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open.pop()
    }
  }

  /** Innermost span whose interval holds `ms`. */
  private def spanAt(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startMs)

  /** Per-span engine counters (self: a job counts toward the innermost span
    * open when it was submitted), after draining the listener bus.
    */
  def attribute(): Map[Int, Engine] = {
    drain(spark.sparkContext)
    synchronized(attributeDrained())
  }

  private def attributeDrained(): Map[Int, Engine] = {
    val acc = mutable.Map.empty[Int, Engine].withDefault(_ => Engine())
    def add(ms: Long)(f: Engine => Engine): Unit = spanAt(ms).foreach(s => acc(s.id) = f(acc(s.id)))
    val jobSpan = jobs.values.toSeq.flatMap(j => spanAt(j.start).map(s => (j, s.id)))
    jobSpan.foreach { case (j, id) =>
      val e = acc(id)
      acc(id) = e.copy(jobs = e.jobs + 1, tasks = e.tasks + j.tasks, runS = e.runS + j.runMs / 1e3,
        cpuS = e.cpuS + j.cpuNs / 1e9, shuffleReadMb = e.shuffleReadMb + j.shuffleRead / MB,
        shuffleWriteMb = e.shuffleWriteMb + j.shuffleWrite / MB, spillMb = e.spillMb + j.spill / MB)
    }
    phases.foreach { case (phase, start, end) =>
      val d = (end - start) / 1e3
      add(start)(e => phase match {
        case "analysis"     => e.copy(analysisS = e.analysisS + d)
        case "optimization" => e.copy(optimizationS = e.optimizationS + d)
        case "planning"     => e.copy(planningS = e.planningS + d)
        case _              => e
      })
    }
    compiles.foreach { case (ms, secs) => add(ms)(e => e.copy(codegenS = e.codegenS + secs)) }
    val ownJobs = jobSpan.groupMap(_._2)(_._1)
    spans.map { s =>
      // Driver idle: the span's own time (children excluded) that none of
      // its own jobs covers.
      val own = ownJobs.getOrElse(s.id, Nil)
        .map(j => (j.start max s.startMs, (if (j.end < 0) s.endMs else j.end) min s.endMs))
        .sortBy(_._1)
      var covered = 0L; var upTo = Long.MinValue
      own.foreach { case (a, b) =>
        val from = a max upTo
        if (b > from) { covered += b - from; upTo = b }
      }
      val childMs = spans.filter(_.parent.contains(s.id)).map(c => c.endMs - c.startMs).sum
      val idle = ((s.endMs - s.startMs - childMs - covered) max 0L) / 1e3
      s.id -> acc(s.id).copy(idleS = idle)
    }.toMap
  }

  /** Own time of a span: its wall time minus its children's. */
  def selfSeconds(s: Span): Double =
    (s.seconds - spans.filter(_.parent.contains(s.id)).map(_.seconds).sum) max 0.0
}

object Tracer {
  private val MB = 1024.0 * 1024.0

  /** Engine layers the harness opens spans for ("pass" spans are roots). */
  val Layers = Seq("sources", "meertrap", "load", "atnf", "sessions", "queries", "gate")

  final case class Span(id: Int, name: String, layer: String, parent: Option[Int],
                        startMs: Long, startNs: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final class Job(val start: Long) {
    var end = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  final case class Engine(jobs: Long = 0, tasks: Long = 0, runS: Double = 0, cpuS: Double = 0,
                          shuffleReadMb: Double = 0, shuffleWriteMb: Double = 0,
                          spillMb: Double = 0, idleS: Double = 0, analysisS: Double = 0,
                          optimizationS: Double = 0, planningS: Double = 0,
                          codegenS: Double = 0) {
    def +(o: Engine): Engine = Engine(jobs + o.jobs, tasks + o.tasks, runS + o.runS,
      cpuS + o.cpuS, shuffleReadMb + o.shuffleReadMb, shuffleWriteMb + o.shuffleWriteMb,
      spillMb + o.spillMb, idleS + o.idleS, analysisS + o.analysisS,
      optimizationS + o.optimizationS, planningS + o.planningS, codegenS + o.codegenS)

    def metrics: Seq[(String, Double, String)] = Seq(
      ("spark.jobs", jobs.toDouble, "count"), ("spark.tasks", tasks.toDouble, "count"),
      ("spark.exec_run_s", runS, "s"), ("spark.exec_cpu_s", cpuS, "s"),
      ("spark.shuffle_read_mb", shuffleReadMb, "MB"), ("spark.shuffle_write_mb", shuffleWriteMb, "MB"),
      ("spark.spill_mb", spillMb, "MB"), ("spark.driver_idle_s", idleS, "s"),
      ("catalyst.analysis_s", analysisS, "s"), ("catalyst.optimization_s", optimizationS, "s"),
      ("catalyst.planning_s", planningS, "s"), ("codegen.compile_s", codegenS, "s"))
  }

  /** Waits until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.GraftSparkShim.drainListenerBus(sc)
}

/** Collects "Code generated in N ms" from Spark's code generator logger. */
final class CodegenLog(sink: ((Long, Double)) => Unit) {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val loggerName = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case pattern(ms) => sink((e.getTimeMillis, ms.toDouble / 1e3))
      case _           => ()
    }
  }
  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  def attach(): Unit = {
    appender.start()
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(loggerName, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    ctx.getConfiguration.removeLogger(loggerName)
    ctx.updateLoggers()
    appender.stop()
  }
}
