package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, registered from outside the library:
  * a `SparkListener` for jobs, stages and tasks, and a
  * `QueryExecutionListener` for Catalyst's phases. Jobs carry the
  * benchmark's span (operation and phase) as a local property; each is
  * attributed to a repository module by its call-site file. Queries
  * are attributed to the span that contains their analysis start.
  */
final class Tracer(spark: SparkSession, details: Boolean) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[Query]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.SpanKey)))
      tag.foreach { t =>
        val Array(op, phase) = t.split(":", 2)
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
        jobs.put(e.jobId, new Job(op.toInt, phase, site, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      job(e.stageInfo.stageId).foreach(j => j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      job(e.stageId).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (e.reason != Success) j.taskFailures += 1
          j.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.diskBytesSpilled
            j.input += m.inputMetrics.bytesRead
            j.output += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private def job(stage: Int): Option[Job] =
    Option(stageJob.get(stage)).flatMap(id => Option(jobs.get(id)))

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    // record mode only: which native expressions and tables the query used
    val used: Set[String] = if (!details) Set.empty else scala.util.Try {
      val plan = qe.optimizedPlan
      plan.collectWithSubqueries { case p => p }.flatMap { p =>
        p.expressions.flatMap(_.collect {
          case x if x.getClass.getName.startsWith("graft.functions.") =>
            "fn:" + x.getClass.getSimpleName
        }) ++ (p match {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.map("table:" + _.getName.stripSuffix(".parquet"))
            case _ => Nil
          }
          case _ => Nil
        })
      }.toSet
    }.getOrElse(Set.empty)
    queries.add(Query(start, ms("analysis"), ms("optimization"), ms("planning"), used))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qel)

  private var usedByOp: Map[String, Seq[String]] = Map.empty
  /** Record mode: native expressions and tables each operation used. */
  def used: Map[String, Seq[String]] = usedByOp

  /** Waits for the listener bus to deliver every started job's end. */
  private def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    Thread.sleep(200)
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    Thread.sleep(200)
  }

  /** Per-layer metrics, as totals per round. */
  def finish(spans: Seq[Harness.Span], samples: Seq[Map[String, Any]],
      rounds: Int, cpus: Int): Map[String, Double] = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
    val byOp = spans.groupBy(_.op)
    val js = jobs.values.asScala.toSeq.filter(j => byOp.contains(j.op))
    val moduleOfJob: Job => String = j =>
      Harness.moduleOfSite(j.site, byOp(j.op).head.module)
    val n = rounds.toDouble
    val mb = 1024.0 * 1024.0
    def sum(f: Job => Double, p: Job => Boolean = _ => true) = js.filter(p).map(f).sum / n

    val inSpan = queries.asScala.toSeq.flatMap(q =>
      spans.find(s => q.startMs >= s.startMs && q.startMs <= s.endMs).map(s => (s, q)))
    usedByOp = inSpan.groupBy(_._1.name).map { case (name, qs) =>
      name -> qs.flatMap(_._2.used).distinct.sorted }

    val wall = spans.map(_.seconds).sum / n
    val runS = sum(_.runMs / 1e3)
    val modules = Seq("Tables", "Relational", "Aggregates", "Windows", "Scalars",
      "EventWindows", "Similarity", "Dedup", "TextAnalysis", "Multimodal",
      "Graph", "Pipeline", "engine")
    val jobsByModule = js.groupBy(moduleOfJob).map { case (m, v) => m -> v.size / n }
    val known = modules.toSet

    // chiv's legs inside each archive call, from job timestamps
    val archives = spans.filter(_.phase == "archive").map { s =>
      val aj = js.filter(_.op == s.op).sortBy(_.start)
      val last = aj.lastOption
      (s, aj, last)
    }
    def engine(f: ((Harness.Span, Seq[Job], Option[Job])) => Double) = archives.map(f).sum / n
    val archiveSamples = samples.filter(_.get("module").contains("engine"))

    Map(
      "trace.wall_s" -> wall,
      "tables.job_s" -> sum(_.seconds, j => moduleOfJob(j) == "Tables"),
      "build.s" -> spans.filter(_.phase == "build").map(_.seconds).sum / n,
      "build.jobs" -> js.count(_.phase == "build") / n,
      "action.s" -> spans.filter(_.phase != "build").map(_.seconds).sum / n,
      "action.jobs" -> js.count(_.phase != "build") / n,
      "catalyst.queries" -> inSpan.size / n,
      "catalyst.analysis_s" -> (inSpan.map(_._2.analysisMs).sum +
        samples.map(_.getOrElse("analysis_ms", 0L).asInstanceOf[Long]).sum) / 1e3 / n,
      "catalyst.optimization_s" -> inSpan.map(_._2.optimizationMs).sum / 1e3 / n,
      "catalyst.planning_s" -> inSpan.map(_._2.planningMs).sum / 1e3 / n,
      "sched.jobs" -> js.size / n,
      "sched.stages" -> sum(_.stages.toDouble),
      "sched.tasks" -> sum(_.tasks.toDouble),
      "sched.task_failures" -> sum(_.taskFailures.toDouble),
      "sched.checkpoint_jobs" -> js.count(_.api.toLowerCase.contains("checkpoint")) / n,
      "sched.overhead_s" -> sum(j => (j.taskMs - j.runMs) / 1e3),
      "exec.run_s" -> runS,
      "exec.cpu_s" -> sum(_.cpuNs / 1e9),
      "exec.gc_s" -> sum(_.gcMs / 1e3),
      "exec.busy_ratio" -> (if (wall > 0) runS / (wall * cpus) else 0.0),
      "shuffle.write_mb" -> sum(_.shuffleWrite / mb),
      "shuffle.read_mb" -> sum(_.shuffleRead / mb),
      "spill.mb" -> sum(_.spill / mb),
      "input.mb" -> sum(_.input / mb),
      "output.mb" -> sum(_.output / mb),
      "engine.pre_job_s" -> engine { case (s, aj, _) =>
        aj.headOption.map(j => (j.start - s.startMs) / 1e3).getOrElse(0.0) },
      "engine.job_s" -> engine { case (_, aj, _) => aj.map(_.seconds).sum },
      "engine.format_task_s" -> engine { case (_, _, l) => l.map(_.runMs / 1e3).getOrElse(0.0) },
      "engine.driver_tail_s" -> engine { case (s, _, l) =>
        l.map(j => (s.endMs - j.end) / 1e3).getOrElse(0.0) },
      "engine.parts" -> engine { case (_, _, l) => l.map(_.tasks.toDouble).getOrElse(0.0) },
      "engine.out_mb" -> archiveSamples.map(_.getOrElse("bytes", 0L).asInstanceOf[Long] / mb).sum / n,
      "engine.staging_left" -> archiveSamples.map(_.getOrElse("staging_left", 0).asInstanceOf[Int]).sum / n,
    ) ++ modules.map(m => s"jobs.$m" -> jobsByModule.getOrElse(m, 0.0)) ++
      Map("jobs.other" -> jobsByModule.filter { case (m, _) => !known(m) }.values.sum)
  }
}

object Tracer {
  final class Job(val op: Int, val phase: String, val site: String, val start: Long) {
    @volatile var end: Long = -1
    var stages, tasks, taskFailures = 0
    var taskMs, runMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, input, output = 0L
    /** The Spark API the user code called: the call site's first line. */
    def api: String = site.takeWhile(_ != '\n')
    def seconds: Double = if (end < 0) 0.0 else (end - start) / 1e3
  }
  final case class Query(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, used: Set[String])
}
