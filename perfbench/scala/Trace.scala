package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's per-layer accounting, taken from outside the
  * program: Spark's own listener interfaces (jobs, stages, tasks, SQL
  * executions and their Catalyst phases), the codegen metrics and log
  * line of every compilation, and per-operation wall intervals. Nothing
  * is recorded in the untraced run, so the difference between the two
  * runs' timed walls is the tracing overhead.
  */
final class Trace(spark: SparkSession, cores: Int) {
  private val sc = spark.sparkContext
  private val lock = new Object

  // counters, cumulative since the session started
  private val jobs = new AtomicLong
  private val constructJobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val sqlExecs = new AtomicLong
  private val planMs = new AtomicLong
  private val compileMicros = new AtomicLong
  // intervals in epoch ms
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private val execStart = scala.collection.mutable.Map.empty[Long, (Long, String)]
  private val writeSpans = ArrayBuffer.empty[(Long, Long, String)]
  private val opSpans = ArrayBuffer.empty[(String, Long, Long)]
  private var constructNs = 0L
  private var constructed = 0L

  private val phaseKey = "perfbench.phase"

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (Option(e.properties).exists(_.getProperty(phaseKey) == "construct"))
        constructJobs.incrementAndGet()
      lock.synchronized { jobStart(e.jobId) = e.time }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized {
        jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlExecs.incrementAndGet()
        val plan = Option(s.physicalPlanDescription).getOrElse("")
        if (plan.contains("InsertIntoHadoopFsRelationCommand"))
          lock.synchronized { execStart(s.executionId) = (s.time, plan.take(2000)) }
      case x: SparkListenerSQLExecutionEnd =>
        lock.synchronized {
          execStart.remove(x.executionId).foreach { case (t, p) =>
            writeSpans += ((t, x.time, p))
          }
        }
      case _ =>
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum); ()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  // every compilation logs "Code generated in <ms> ms" at INFO
  CodegenLog.install(ms => compileMicros.addAndGet((ms * 1000).toLong))
  private def compilations: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def drain(): Unit = org.apache.spark.perfbenchaccess.Bus.drain(sc)

  private final case class Snap(jobs: Long, cjobs: Long, stages: Long,
      tasks: Long, runMs: Long, cpuNs: Long, shuffle: Long, spill: Long,
      sql: Long, planMs: Long, comp: Long, compUs: Long)
  private def snap() = Snap(jobs.get, constructJobs.get, stages.get,
    tasks.get, runMs.get, cpuNs.get, shuffleBytes.get, spillBytes.get,
    sqlExecs.get, planMs.get, compilations, compileMicros.get)
  private var s0: Snap = _

  def begin(): Unit = {
    drain()
    s0 = snap()
    lock.synchronized { jobSpans.clear(); writeSpans.clear(); opSpans.clear() }
    constructNs = 0L; constructed = 0L
  }

  private var opT0 = 0L
  def opStart(name: String): Unit = opT0 = System.currentTimeMillis()
  def opEnd(name: String): Unit =
    lock.synchronized { opSpans += ((name, opT0, System.currentTimeMillis())) }

  /** `f` is construction: its time is billed to `queries.construct_s`
    * and the jobs it starts to `queries.construct_jobs`.
    */
  def construct[T](f: => T): T = {
    sc.setLocalProperty(phaseKey, "construct")
    val a = System.nanoTime()
    try f
    finally {
      constructNs += System.nanoTime() - a
      constructed += 1
      sc.setLocalProperty(phaseKey, null)
    }
  }

  def end(wall: Double, nOps: Int, res: Main.Result): Unit = {
    drain()
    val s1 = snap()
    val n = nOps.toDouble.max(1)
    val (spans, writes, ops) = lock.synchronized {
      (jobSpans.toSeq, writeSpans.toSeq, opSpans.toSeq)
    }
    val dStages = (s1.stages - s0.stages).toDouble
    res.put("exec.jobs", (s1.jobs - s0.jobs) / n, "count")
    res.put("exec.stages", dStages / n, "count")
    res.put("exec.tasks", (s1.tasks - s0.tasks) / n, "count")
    res.put("exec.tasks_per_stage",
      if (dStages > 0) (s1.tasks - s0.tasks) / dStages else 0.0, "count")
    res.put("exec.run_s", (s1.runMs - s0.runMs) / 1e3 / n, "s")
    res.put("exec.cpu_s", (s1.cpuNs - s0.cpuNs) / 1e9 / n, "s")
    res.put("exec.shuffle_mb", (s1.shuffle - s0.shuffle) / 1048576.0 / n, "MB")
    res.put("exec.spill_mb", (s1.spill - s0.spill) / 1048576.0 / n, "MB")
    res.put("exec.slot_use", (s1.runMs - s0.runMs) / 1e3 / (wall * cores), "ratio")
    res.put("exec.no_job_s", ops.map { case (_, a, b) =>
      b - a - covered(spans, a, b) }.sum / 1e3 / n, "s")
    res.put("catalyst.sql_executions", (s1.sql - s0.sql) / n, "count")
    res.put("catalyst.plan_ms", (s1.planMs - s0.planMs).toDouble / n, "ms")
    res.put("codegen.compilations", (s1.comp - s0.comp) / n, "count")
    res.put("codegen.compile_ms", (s1.compUs - s0.compUs) / 1e3 / n, "ms")
    if (constructed > 0) {
      res.put("queries.construct_s", constructNs / 1e9 / constructed, "s")
      res.put("queries.construct_jobs",
        (s1.cjobs - s0.cjobs).toDouble / constructed, "count")
    }
    if (writes.nonEmpty) {
      res.put("warehouse.write_s",
        writes.map(w => w._2 - w._1).sum / 1e3 / n, "s")
      // the refresh split at its first write to a DW table
      val splits = ops.map { case (_, a, b) =>
        val firstDw = writes.filter(w => w._1 >= a && w._1 <= b &&
          w._3.contains("/dw_")).map(_._1)
        val at = if (firstDw.isEmpty) b else firstDw.min
        (at - a, b - at)
      }
      res.put("etl.ods_s", splits.map(_._1).sum / 1e3 / n, "s")
      res.put("etl.dw_s", splits.map(_._2).sum / 1e3 / n, "s")
    }
    val storage = sc.getRDDStorageInfo
    res.put("materialized.cached_mb",
      (storage.map(_.memSize).sum + storage.map(_.diskSize).sum) / 1048576.0, "MB")
  }

  /** Milliseconds of [a, b] covered by at least one span. */
  private def covered(spans: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var reach = a
    spans.map { case (s, e) => (s.max(a), e.min(b)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - s.max(reach); reach = e }
      }
    total
  }
}

/** Captures the codegen compiler's per-compilation log line. */
object CodegenLog {
  import org.apache.logging.log4j.Level
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  private val logger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(onCompile: Double => Unit): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case pattern(ms) => onCompile(ms.toDouble)
          case _ =>
        }
    }
    app.start()
    val cfg = ctx.getConfiguration
    val lc = new LoggerConfig(logger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(logger, lc)
    ctx.updateLoggers()
  }
}
