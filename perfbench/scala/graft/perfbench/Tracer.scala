package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners, attached from outside the program: one
  * record per SQL execution (start, end, what it writes), the jobs
  * and stages each execution ran, and the write command's own metrics.
  * Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession, rawPath: String, adapterPath: String) {
  import Tracer.Stage

  final class Exec(val id: Long, val startMs: Long, val plan: String) {
    @volatile var endMs: Long = -1L
    @volatile var files: Long = 0L
    @volatile var outBytes: Long = 0L
    @volatile var outRows: Long = 0L
    private def writes(path: String) =
      plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(path)
    /** What the execution does: the pump's micro-batch (`pump_batch`),
      * its raw and adapter parquet writes, its live raw and adapter
      * inserts (both read the persisted micro-batch), or `other`
      * (the monitor's queries, the read-back).
      */
    val kind: String =
      if (writes(adapterPath)) "adapter_write"
      else if (writes(rawPath)) "raw_write"
      else if (plan.contains("InMemoryTableScan") && plan.contains("from_json")) "live_adapter"
      else if (plan.contains("InMemoryTableScan")) "live_raw"
      else if (plan.contains("MicroBatchScan") && !plan.contains("Aggregate")) "pump_batch"
      else "other"
    /** parses the payload JSON (the adapter frame) */
    val parses: Boolean = plan.contains("from_json")
  }

  val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val jobsOfExec = new ConcurrentHashMap[Long, java.lang.Integer]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, new Exec(s.executionId, s.time, s.physicalPlanDescription))
      case e: SparkListenerSQLExecutionEnd =>
        Option(execs.get(e.executionId)).foreach(_.endMs = e.time)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach { id =>
          jobExec.put(j.jobId, id.toLong)
          jobsOfExec.merge(id.toLong, 1, (a, b) => a + b)
          j.stageIds.foreach(s => stageJob.put(s, j.jobId))
        }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      Option(stageJob.get(i.stageId)).flatMap(j => Option(jobExec.get(j))).foreach { ex =>
        val m = Option(i.taskMetrics)
        val shuffled = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        stages.put(i.stageId, Stage(i.stageId, ex, shuffleMap = shuffled > 0, i.numTasks,
          m.map(_.executorRunTime).getOrElse(0L), shuffled))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      nodes(qe.executedPlan).foreach {
        case w: DataWritingCommandExec =>
          w.cmd match {
            case ins: InsertIntoHadoopFsRelationCommand =>
              val m = w.metrics
              def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
              val path = ins.outputPath.toString
              // the command's own execution if recorded, else the newest
              // unfilled write of that path
              Option(execs.get(qe.id)).filter(_.kind.endsWith("_write")).orElse(
                execs.values().asScala
                  .filter(e => e.kind.endsWith("_write") && e.plan.contains(path) && e.outRows == 0L)
                  .toSeq.sortBy(-_.id).headOption).foreach { e =>
                e.files = v("numFiles"); e.outBytes = v("numOutputBytes"); e.outRows = v("numOutputRows")
              }
            case _ =>
          }
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case w: DataWritingCommandExec => w +: nodes(w.child)
    case other => other +: other.children.flatMap(nodes)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Stages run by the given execution. */
  def stagesOf(execId: Long): Seq[Stage] =
    stages.values().asScala.filter(_.execId == execId).toSeq
}

object Tracer {
  /** A completed stage of a recorded execution. */
  final case class Stage(id: Int, execId: Long, shuffleMap: Boolean, tasks: Int,
                         runMs: Long, shuffleBytes: Long)
}
