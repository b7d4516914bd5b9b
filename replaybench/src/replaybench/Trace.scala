package replaybench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

final case class JobRec(id: Int, startMs: Long, var endMs: Long)

final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long, peakMem: Long,
                         shuffleReadBytes: Long, shuffleReadRows: Long, fetchWaitMs: Long,
                         shuffleWriteBytes: Long, shuffleWriteNs: Long)

/** One planned query seen by the query-execution listener: its physical
  * plan and the driver's analysis, optimization and planning time. */
final case class QueryRec(plan: SparkPlan, planMs: Double)

/** Position in the recorder's logs; the records between two marks belong
  * to the calls made between them. */
final case class Mark(jobs: Int, tasks: Int, queries: Int)

/** Collects job, task and planned-query records from Spark's listeners.
  * Registered only while a traced call runs. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = new ArrayBuffer[JobRec]
  val tasks = new ArrayBuffer[TaskRec]
  val queries = new ArrayBuffer[QueryRec]

  def mark: Mark = synchronized(Mark(jobs.size, tasks.size, queries.size))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val r = m.shuffleReadMetrics
      val w = m.shuffleWriteMetrics
      tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.peakExecutionMemory, r.remoteBytesRead + r.localBytesRead, r.recordsRead, r.fetchWaitTime,
        w.bytesWritten, w.writeTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    synchronized { queries += QueryRec(qe.executedPlan, ms) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** A traced interval: name, start and end (ns, monotonic), the enclosing
  * span, the run it belongs to, and the recorder marks at its edges. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long, from: Mark, to: Mark) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each call the benchmark makes into a layer. Disabled, it
  * only runs the body, so untraced passes carry no listener or drain. */
final class Tracer(spark: SparkSession, val run: String) {
  val recorder = new Recorder
  val spans = new ArrayBuffer[Span]
  private var stack: List[Int] = Nil
  private var on = false

  def enabled: Boolean = on

  def enable(flag: Boolean): Unit = if (flag != on) {
    on = flag
    if (flag) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    } else {
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
      spark.listenerManager.unregister(recorder)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size + stack.size
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      ListenerDrain(spark.sparkContext)
      val from = recorder.mark
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        ListenerDrain(spark.sparkContext)
        stack = stack.tail
        spans += Span(id, name, parent, run, t0, t1, from, recorder.mark)
      }
    }

  def lastSpan(name: String): Span = spans.findLast(_.name == name).get
}

/** Per-layer figures for one timed unit (a batch pass, or one stream
  * micro-batch), derived from the records inside its span. */
object Layers {

  /** Every node of a physical plan, looking through adaptive wrappers,
    * query stages and reused exchanges. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: inner.flatMap(planNodes)
  }

  private val HostExecs = Set("BboReplayExec", "WindowExec", "FlatMapGroupsWithStateExec")

  private def metric(nodes: Seq[SparkPlan], name: String)(pick: SparkPlan => Boolean): Double =
    nodes.filter(pick).flatMap(_.metrics.get(name)).map(_.value.toDouble).sum

  /** @param unit the span of the timed unit
    * @param plans the executed plans of the unit's queries
    * @param planMs driver time spent building and planning the unit's query
    * @param buildMs, buildJobs time and jobs of the API call that built it */
  def of(rec: Recorder, unit: Span, plans: Seq[SparkPlan], planMs: Double,
         buildMs: Double, buildJobs: Int, cores: Int): Map[String, Double] = {
    val (jobs, tasks) = rec.synchronized {
      (rec.jobs.slice(unit.from.jobs, unit.to.jobs).toList,
        rec.tasks.slice(unit.from.tasks, unit.to.tasks).toList)
    }
    val nodes = plans.flatMap(planNodes)
    def named(n: String)(p: SparkPlan) = p.getClass.getSimpleName == n
    def host(p: SparkPlan) = HostExecs(p.getClass.getSimpleName)

    // Tasks that read a shuffle run the stage hosting the replay operator;
    // the others read the input and write the exchange.
    val hostStages = tasks.filter(_.shuffleReadBytes > 0).map(_.stageId).toSet
    val (hostTasks, inputTasks) = tasks.partition(t => hostStages(t.stageId))

    val wallS = unit.seconds
    val inJobsS = {
      val ivs = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      ivs.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total / 1e3
    }
    val stageS = hostTasks.map(_.runMs).sum / 1e3
    val sortS = metric(nodes, "sortTime")(named("SortExec")) / 1e3
    val fetchWaitS = tasks.map(_.fetchWaitMs).sum / 1e3
    val readBytes = hostTasks.map(_.shuffleReadBytes.toDouble)
    val writeS = tasks.map(_.shuffleWriteNs).sum / 1e9
    val leaves = nodes.filter(_.children.isEmpty)

    Map(
      "driver.jobs" -> jobs.size.toDouble,
      "driver.tasks" -> tasks.size.toDouble,
      "driver.plan_ms" -> planMs,
      "driver.gap_s" -> math.max(0.0, wallS - inJobsS),
      "operators.build_ms" -> buildMs,
      "operators.build_jobs" -> buildJobs.toDouble,
      "scan.rows" -> metric(leaves, "numOutputRows")(_ => true),
      "scan.time_s" -> math.max(0.0, inputTasks.map(_.runMs).sum / 1e3 - writeS),
      "exchange.bytes_written" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "exchange.write_s" -> writeS,
      "exchange.fetch_wait_s" -> fetchWaitS,
      "exchange.skew" ->
        (if (readBytes.isEmpty || readBytes.sum == 0) 1.0
         else readBytes.max / (readBytes.sum / readBytes.size)),
      "sort.time_s" -> sortS,
      "sort.peak_mem_mb" -> (if (hostTasks.isEmpty) 0.0 else hostTasks.map(_.peakMem).max / 1048576.0),
      "sort.spill_bytes" -> metric(nodes, "spillSize")(named("SortExec")),
      // the window operator keeps no row count; its input rows, one output
      // row each, stand in
      "plans.rows_out" ->
        (if (nodes.exists(p => host(p) && p.metrics.contains("numOutputRows")))
          metric(nodes, "numOutputRows")(host)
        else hostTasks.map(_.shuffleReadRows).sum.toDouble),
      "plans.stage_s" -> stageS,
      "plans.self_s" -> (stageS - sortS - fetchWaitS),
      "plans.max_task_s" -> (if (hostTasks.isEmpty) 0.0 else hostTasks.map(_.runMs).max / 1e3),
      "plans.cpu_util" -> tasks.map(_.cpuNs).sum / 1e9 / (wallS * cores),
      "plans.gc_s" -> tasks.map(_.gcMs).sum / 1e3) ++
      (if (nodes.exists(p => host(p) && p.metrics.contains("numBooks")))
        Map("plans.books" -> metric(nodes, "numBooks")(host)) else Map.empty)
  }

  /** Mean of each metric over the traced units: several figures are whole
    * milliseconds summed over a unit's tasks, which a median would round
    * to zero on short micro-batches. */
  def means(units: Seq[Map[String, Double]]): Map[String, Double] =
    if (units.isEmpty) Map.empty
    else units.head.keys.map(k => k -> units.map(_(k)).sum / units.size).toMap
}
