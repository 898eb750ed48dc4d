package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes Spark from outside graft, for the traced run.
  *
  * The harness tags each phase of an op with the local property
  * [[Trace.PhaseKey]] (`build`, `exec` or `commit`); jobs and stages carry
  * it, so task counters are attributed to the phase that caused them.
  * The QueryExecutionListener records Catalyst's planning phases and the
  * file relations of every executed plan. [[take]] drains the listener
  * bus and hands back everything seen since the previous call.
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace._

  private val counters = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stagePhase = mutable.Map.empty[Int, String]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Counters, executed plans and task intervals since the last call. */
  def take(): (Map[String, Long], Seq[Qe], Seq[(Long, Long)]) = {
    drain()
    synchronized {
      val out = (counters.toMap, qes.toList, tasks.toList)
      counters.clear(); qes.clear(); tasks.clear()
      out
    }
  }

  private def add(phase: String, key: String, n: Long): Unit = counters(s"$phase.$key") += n

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ph = phaseOf(e.properties)
    add(ph, "jobs", 1)
    e.stageInfos.foreach(s => stagePhase(s.stageId) = ph)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagePhase(e.stageInfo.stageId) = phaseOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val ph = stagePhase.getOrElse(s.stageId, "other")
    add(ph, "stages", 1)
    val m = s.taskMetrics
    if (m != null) {
      add(ph, "task_ms", m.executorRunTime)
      add(ph, "cpu_ns", m.executorCpuTime)
      add(ph, "gc_ms", m.jvmGCTime)
      add(ph, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add(ph, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add(ph, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(ph, "input_rows", m.inputMetrics.recordsRead)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val ph = stagePhase.getOrElse(e.stageId, "other")
    add(ph, "tasks", 1)
    if (!e.taskInfo.successful) add(ph, "failed_tasks", 1)
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val rels = qe.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          val roots = h.location.rootPaths
          val name =
            if (roots.size == 1) roots.head.getName.stripSuffix(".parquet") else "files"
          Some((name, l.output.headOption.map(_.exprId.id).getOrElse(-1L)))
        case _ => None
      }
    }.flatten
    val q = Qe(ms("analysis"), ms("optimization"), ms("planning"), rels)
    synchronized { qes += q }
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  /** One executed plan: Catalyst phase times and its file relations
    * as (table, id of the relation's first output column). */
  final case class Qe(analysisMs: Long, optimizerMs: Long, physicalMs: Long,
                      relations: Seq[(String, Long)])

  def qeJson(q: Qe): Map[String, Any] = Map(
    "analysis_ms" -> q.analysisMs, "optimizer_ms" -> q.optimizerMs,
    "physical_ms" -> q.physicalMs,
    "relations" -> q.relations.map { case (t, id) => Seq(t, id) })
}
