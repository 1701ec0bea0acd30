package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records every external-catalog create/rename/drop, pre and post, with the
  * time it happened. The catalog posts these synchronously on the calling
  * thread, so the timestamps bound the catalog operation itself. This is
  * attached in every run: the swap window is an end-to-end metric.
  */
final class CatalogEvents(rec: Records) extends ExternalCatalogEventListener {
  override def onEvent(e: ExternalCatalogEvent): Unit = {
    val t = Clock.now()
    val (db, name, to) = e match {
      case r: RenameTablePreEvent => (r.database, r.name, r.newName)
      case r: RenameTableEvent => (r.database, r.name, r.newName)
      case x: TableEvent => (x.database, x.name, null)
      case x: DatabaseEvent => (x.database, null, null)
      case _ => (null, null, null)
    }
    rec.add("cat", "t" -> t, "ev" -> e.getClass.getSimpleName, "db" -> db,
      "name" -> name, "to" -> to)
  }
}

/** The traced run's listeners: Spark's scheduler events (jobs, stages,
  * tasks), SQL-execution start/end with each plan's Exchange count, and the
  * QueryExecutionListener's per-action Catalyst phase times. They only
  * append records; all aggregation happens after the run.
  */
final class Trace(rec: Records) extends SparkListener with QueryExecutionListener {

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).map(_.getProperty(Trace.ReqKey)).orNull
    rec.add("job", "id" -> e.jobId, "t0" -> e.time.toDouble, "req" -> req,
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.add("job_end", "id" -> e.jobId, "t1" -> e.time.toDouble,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val base = Seq("id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "t0" -> s.submissionTime.map(_.toDouble), "t1" -> s.completionTime.map(_.toDouble),
      "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined)
    val metrics = if (m == null) Nil else Seq(
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime, "result_bytes" -> m.resultSize,
      "spill_bytes" -> (m.diskBytesSpilled + m.memoryBytesSpilled),
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "output_bytes" -> m.outputMetrics.bytesWritten)
    rec.add("stage", (base ++ metrics): _*)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    // Spark UI's scheduler delay: the task's duration not spent running,
    // deserializing, serializing its result or shipping it back
    val sched = if (m == null) 0L else math.max(0L, i.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    rec.add("task", "stage" -> e.stageId, "t0" -> i.launchTime.toDouble,
      "t1" -> i.finishTime.toDouble, "sched_ms" -> sched, "failed" -> !i.successful)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      rec.add("sql", "id" -> s.executionId, "t0" -> s.time.toDouble,
        "exchanges" -> Trace.exchanges(s.sparkPlanInfo))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      rec.add("sql_plan", "id" -> u.executionId,
        "exchanges" -> Trace.exchanges(u.sparkPlanInfo))
    case x: SparkListenerSQLExecutionEnd =>
      rec.add("sql_end", "id" -> x.executionId, "t1" -> x.time.toDouble)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    phases(funcName, qe, ok = false)

  private def phases(funcName: String, qe: QueryExecution, ok: Boolean): Unit =
    rec.add("qe", "t" -> Clock.now(), "func" -> funcName, "ok" -> ok,
      "phases" -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs })

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Trace {
  /** Local property naming the operation (query or table pass) a job runs for. */
  val ReqKey = "perfbench.req"

  /** Shuffle and broadcast Exchange nodes in a physical plan. */
  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1 else 0) +
      p.children.map(exchanges).sum
}
