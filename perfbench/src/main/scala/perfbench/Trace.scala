package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Exact plan-shape counts of one executed (final, post-AQE) plan. */
object PlanShape {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def counts(p: SparkPlan): Map[String, Double] = {
    val all = nodes(p)
    def n(f: PartialFunction[SparkPlan, Boolean]): Double =
      all.count(x => f.applyOrElse(x, (_: SparkPlan) => false)).toDouble
    Map(
      "plan.exchanges" -> n { case _: ShuffleExchangeExec => true },
      "plan.broadcast_exchanges" -> n { case _: BroadcastExchangeExec => true },
      "plan.sort_merge_joins" -> n { case _: SortMergeJoinExec => true },
      "plan.windows" -> n { case _: WindowExec => true },
      "plan.windows_unpartitioned" -> n { case w: WindowExec => w.partitionSpec.isEmpty },
      // localCheckpoint / createDataFrame(rdd) leaves: the barriers the
      // construction phase left in the final plan
      "plan.checkpoint_scans" -> n { case _: RDDScanExec => true })
  }

  /** Catalyst phase times of one query execution, in ms. */
  def phases(qe: QueryExecution): Map[String, Double] = {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(s => s.durationMs.toDouble).getOrElse(0.0)
    Map("sql.analysis_ms" -> ms("analysis"), "sql.optimization_ms" -> ms("optimization"),
      "sql.planning_ms" -> ms("planning"))
  }
}

/** In-memory span and counter store for the traced run.
  *
  * The harness opens a span around each call it makes into a layer and
  * tags every job started inside it with the SparkContext local
  * property [[SpanKey]]; jobs are attributed by that tag (AQE submits
  * stages from its own threads, so the call site cannot be used).
  * Stages and tasks inherit their job's span. SQL executions and
  * Dataset actions issued inside a program call (the pipeline's own
  * actions) carry no harness span of their own and are kept as a
  * timeline, split afterwards by what their plans do. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobSpan = mutable.Map[Int, String]()
  private val stageSpan = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  val jobs = mutable.ArrayBuffer[Job]()
  val spans = mutable.ArrayBuffer[Span]()
  val execs = mutable.Map[Long, Exec]()
  /** Plan shape and Catalyst phases of each Dataset action. */
  val actions = mutable.ArrayBuffer[Map[String, Double]]()
  val counters = mutable.Map[(String, String), Double]().withDefaultValue(0.0)
  @volatile private var current: String = "none"

  def add(span: String, key: String, v: Double): Unit = synchronized {
    counters((span, key)) += v
  }

  /** Runs `body` as span `name`, tagging every job it starts. */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    current = name
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body finally {
      val dur = (System.nanoTime() - n0) / 1e9
      synchronized { spans += Span(name, t0, t0 + math.round(dur * 1000), dur) }
      sc.setLocalProperty(SpanKey, null)
      current = "none"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    val s = tag.getOrElse(current)
    if (tag.isEmpty) counters(("all", "trace.untagged_jobs")) += 1
    jobSpan(e.jobId) = s
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = s)
    counters((s, "jobs")) += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += Job(jobSpan.getOrElse(e.jobId, "none"), jobStart.getOrElse(e.jobId, e.time), e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stageSpan.getOrElse(i.stageId, current)
    val m = i.taskMetrics
    def add(k: String, v: Double): Unit = counters((s, k)) += v
    add("stages", 1)
    add("tasks", i.numTasks)
    if (m != null) {
      add("run_s", m.executorRunTime / 1e3)
      add("cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("input_mb", m.inputMetrics.bytesRead / 1e6)
      if (i.rddInfos.exists(r => r.scope.exists(_.name.toLowerCase.contains("json"))))
        add("json_scans", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageSpan.getOrElse(e.stageId, current)
    if (!e.taskInfo.successful) counters((s, "failed_tasks")) += 1
    val m = e.taskMetrics
    if (m != null) {
      val busy = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + e.taskInfo.gettingResultTime
      counters((s, "scheduler_delay_s")) += math.max(0L, e.taskInfo.duration - busy) / 1e3
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized {
        execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId), s.time, -1L,
          describe(s.sparkPlanInfo))
      }
    case x: SparkListenerSQLExecutionEnd =>
      synchronized { execs.get(x.executionId).foreach(_.end = x.time) }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val shape = PlanShape.counts(qe.executedPlan) ++ PlanShape.phases(qe)
    synchronized { actions += shape }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.waitUntilEmpty(spark)

  def clear(): Unit = synchronized {
    jobSpan.clear(); stageSpan.clear(); jobStart.clear(); jobs.clear()
    spans.clear(); execs.clear(); actions.clear(); counters.clear()
  }

  private def describe(p: SparkPlanInfo): String =
    (p.nodeName + " " + p.simpleString) +: p.children.map(describe) mkString "\n"
}

object Tracer {
  val SpanKey = "perfbench.span"
  final case class Span(name: String, start: Long, end: Long, seconds: Double)
  final case class Job(span: String, start: Long, end: Long)
  final case class Exec(id: Long, root: Long, start: Long, var end: Long, plan: String) {
    def isRoot: Boolean = id == root
    def isWrite: Boolean = plan.contains("InsertIntoHadoopFsRelationCommand")
  }

  /** Total length of the union of [start, end] intervals, in seconds. */
  def covered(iv: Iterable[(Long, Long)]): Double = {
    var total, reach = 0L
    var lo = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > reach) { if (lo != Long.MinValue) total += reach - lo; lo = s; reach = e }
      else reach = math.max(reach, e)
    }
    if (lo != Long.MinValue) total += reach - lo
    total / 1e3
  }

  /** Clips intervals to [lo, hi]. */
  def clip(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.toSeq.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
}
