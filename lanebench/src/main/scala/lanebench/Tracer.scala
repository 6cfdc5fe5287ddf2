package lanebench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the Spark side of a traced run from outside the program: one
  * job group per lane visit, job and stage intervals with their task
  * counts and metrics, and the planning phases of every query execution.
  * Everything is kept in memory and handed over as plain maps; span
  * building and per-module sums happen in `metrics.py`.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, java.util.Map[String, Any]]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val stageWait = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Map[String, Any]]()

  def beginVisit(visitNo: Int): Unit =
    spark.sparkContext.setJobGroup(s"$GroupPrefix$visitNo", s"lane visit $visitNo")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val visit = if (group.startsWith(GroupPrefix)) group.stripPrefix(GroupPrefix).toInt else -1
    jobs.put(e.jobId, jmap("job" -> e.jobId, "visit" -> visit, "start_ms" -> e.time,
      "stages" -> e.stageIds.asJava))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.put("end_ms", e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = e.stageInfo
    stageSubmit.put((s.stageId, s.attemptNumber()), java.lang.Long.valueOf(s.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val key = (e.stageId, e.stageAttemptId)
    val submit = Option(stageSubmit.get(key)).map(_.longValue)
    submit.foreach(s => stageWait.merge(key, math.max(0L, e.taskInfo.launchTime - s), (a, b) => a + b))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val key = (s.stageId, s.attemptNumber())
    stages.add(jmap(
      "stage" -> s.stageId, "attempt" -> s.attemptNumber(), "name" -> s.name,
      "start_ms" -> s.submissionTime.getOrElse(0L), "end_ms" -> s.completionTime.getOrElse(0L),
      "tasks" -> s.numTasks,
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
      "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
      "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" -> (if (m == null) 0L else m.diskBytesSpilled),
      "wait_ms" -> Option(stageWait.get(key)).map(_.longValue).getOrElse(0L),
      "failed" -> s.failureReason.isDefined))
  }

  private def recordPlan(func: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = new java.util.LinkedHashMap[String, Any]()
    qe.tracker.phases.foreach { case (name, p) =>
      phases.put(name, jmap("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs))
    }
    plans.add(jmap("func" -> func, "ok" -> ok, "phases" -> phases))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(funcName, qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(funcName, qe, ok = false)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Waits for the listener bus to deliver every event, then detaches. */
  def stop(): Unit = {
    spark.sparkContext.clearJobGroup()
    org.apache.spark.lanebench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def json: java.util.Map[String, Any] = jmap(
    "jobs" -> jobs.values().asScala.toSeq.sortBy(_.get("job").asInstanceOf[Int]).asJava,
    "stages" -> stages.asScala.toSeq.asJava,
    "plans" -> plans.asScala.toSeq.asJava)
}

object Tracer {
  val GroupPrefix = "lanebench:"

  def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}
