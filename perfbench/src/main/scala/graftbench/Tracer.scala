package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with a parent, kept in memory until the run
  * ends. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
    tags: Seq[(String, String)])

/** Counters of one layer, summed over the runs a [[Tracer]] is attached to. */
final class Counters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
  def apply(k: String): Double = c.getOrElse(k, 0.0)
}

/** Measures the engine's layers from outside: Spark's public listener
  * interfaces for jobs, stages, tasks, cached blocks and query plans.
  *
  * Each job is attributed to the engine module whose source file is the
  * job's call site. The file-to-module map is read from the source tree's
  * directory listing at run time, so a new file is attributed without an
  * edit here. Jobs started by the benchmark's own write count as query
  * execution (`exec`).
  *
  * Events are counted only while a query span is open ([[open]] … [[close]]);
  * [[close]] drains the listener bus first, so every event of the span has
  * been delivered when its counts are read.
  */
final class Tracer(spark: SparkSession, srcRoot: String) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val counters = new Counters
  val spans = mutable.ArrayBuffer.empty[Span]
  val modules: Map[String, String] = {
    val root = new java.io.File(srcRoot)
    val dirs = Option(root.listFiles).getOrElse(Array.empty).filter(_.isDirectory)
    val nested = dirs.flatMap { d =>
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(d).filter(_.getName.endsWith(".scala")).map(_.getName -> d.getName)
    }
    val top = Option(root.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".scala")).map(_.getName -> "graft")
    (top ++ nested).toMap
  }

  private var nextId = 1
  private var current: Option[Int] = None
  private val stageJob = mutable.Map.empty[Int, (Int, String, String)] // stage -> (span, module, phase)
  private val jobStart = mutable.Map.empty[Int, (Long, String, String)]
  private val blocks = mutable.Map.empty[String, Long]
  private val executionSite = mutable.Map.empty[String, String]
  private var cachedBytes = 0L

  def reserve(): Int = synchronized { val id = nextId; nextId += 1; id }

  def newSpan(parent: Int, name: String, t0: Double, t1: Double,
      tags: Seq[(String, String)] = Nil): Unit = synchronized {
    spans += Span(reserve(), parent, name, t0, t1, tags)
  }

  def open(spanId: Int): Unit = synchronized {
    current = Some(spanId)
    blocks.clear()
    cachedBytes = 0L
  }

  def close(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized { current = None }
  }

  def moduleOf(callSite: String): String = {
    val file = """at ([^\s:]+\.scala)""".r.findFirstMatchIn(callSite).map(_.group(1)).getOrElse("")
    modules.getOrElse(file, if (file == "BenchMain.scala") "exec" else "other")
  }

  /** A SQL execution's call site is the action that started it; jobs the
    * execution submits from other threads (adaptive query stages,
    * broadcasts) inherit it. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      if (current.nonEmpty) executionSite(s.executionId.toString) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.foreach { span =>
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(executionSite.get)
        .orElse(prop("callSite.short"))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?"))
      val phase = props.map(_.getProperty(BenchMain.PhaseKey, "exec")).getOrElse("exec")
      val module = moduleOf(site)
      jobStart(e.jobId) = (e.time, site, module)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, (span, module, phase)))
      counters.add("session.jobs", 1)
      counters.add(s"$module.jobs", 1)
      if (phase == "build") counters.add("registry.build_jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (span <- current; (t0, site, module) <- jobStart.remove(e.jobId))
      newSpan(span, "job", t0.toDouble, e.time.toDouble,
        Seq("job" -> e.jobId.toString, "module" -> module, "call_site" -> site))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (_ <- current; (span, module, _) <- stageJob.get(si.stageId)) {
      counters.add("session.stages", 1)
      counters.add(s"$module.stages", 1)
      if (si.attemptNumber() > 0) counters.add("session.retried_stages", 1)
      newSpan(span, "stage", si.submissionTime.getOrElse(0L).toDouble,
        si.completionTime.getOrElse(0L).toDouble,
        Seq("stage" -> si.stageId.toString, "module" -> module, "call_site" -> si.name,
          "tasks" -> si.numTasks.toString))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (_ <- current; (_, module, _) <- stageJob.get(e.stageId)) {
      counters.add("session.tasks", 1)
      if (!e.taskInfo.successful) counters.add("session.failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        val mb = 1024.0 * 1024.0
        counters.add("session.task_s", m.executorRunTime / 1e3)
        counters.add(s"$module.task_s", m.executorRunTime / 1e3)
        counters.add("session.cpu_s", m.executorCpuTime / 1e9)
        counters.add("session.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        counters.add("session.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        counters.add("session.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
        counters.add("session.input_mb", m.inputMetrics.bytesRead / mb)
        counters.add("session.input_rows", m.inputMetrics.recordsRead.toDouble)
        counters.add("session.output_mb", m.outputMetrics.bytesWritten / mb)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (current.nonEmpty && info.blockId.isRDD) {
      val key = info.blockId.name
      cachedBytes += info.memSize - blocks.getOrElse(key, 0L)
      blocks(key) = info.memSize
      counters.max("cache.peak_mb", cachedBytes / (1024.0 * 1024.0))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { if (current.nonEmpty) plan(qe) }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    synchronized { if (current.nonEmpty) plan(qe) }

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    counters.add("plans.analysis_s", phase("analysis"))
    counters.add("plans.optimize_s", phase("optimization"))
    counters.add("plans.planning_s", phase("planning"))
    qe.tracker.rules.filter(_._1.startsWith("graft.")).foreach { case (_, r) =>
      counters.add("plans.graft_rule_s", r.totalTimeNs / 1e9)
      counters.add("plans.graft_rule_runs", r.numInvocations.toDouble)
      counters.add("plans.graft_rule_fired", r.numEffectiveInvocations.toDouble)
    }
    val nodes = collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }
    counters.add("plans.graft_nodes",
      nodes.count(_.getClass.getName.startsWith("graft.")).toDouble)
    counters.add("functions.native_exprs", nodes.map(_.expressions.map(_.collect {
      case x if x.getClass.getName.startsWith("graft.") => x
    }.size).sum).sum.toDouble)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
