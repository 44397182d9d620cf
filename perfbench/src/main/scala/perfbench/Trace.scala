package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of work, in epoch microseconds. Spans of one
  * operation share `op`; `layer` is build, write, plan, job, trigger
  * or op itself.
  */
final case class Span(op: Int, layer: String, name: String,
    startUs: Long, endUs: Long) {
  def us: Long = endUs - startUs
}

/** Wall clock in epoch microseconds, monotonic within a run. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One micro-batch progress report. */
final case class Trigger(runId: String, atUs: Long, batchId: Long,
    inputRows: Long, durations: Map[String, Long], stateRows: Long,
    stateCommitMs: Long)

/** Conf-registered (spark.sql.streaming.streamingQueryListeners), so
  * the child sessions graft's streams run in get an instance too;
  * every instance reports into the same queue.
  */
class TriggerListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    TriggerListener.seen.add(Trigger(p.runId.toString,
      Instant.parse(p.timestamp).toEpochMilli * 1000L, p.batchId,
      p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum))
  }
}

object TriggerListener {
  val seen = new ConcurrentLinkedQueue[Trigger]()
  def drain(): Seq[Trigger] = Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
}

/** Job, stage and task roll-up plus the Catalyst phases and final
  * plan census of every executed query. Registered only for the traced
  * half of a run.
  */
class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer.{Job, Stage}

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Span]()
  val census = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  @volatile var ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val build = Option(e.properties).exists(_.getProperty(Tracer.PhaseKey) == "build")
    val j = Job(e.jobId, e.time * 1000L, e.time * 1000L, build)
    open.put(e.jobId, j)
    jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(open.remove(e.jobId)).foreach(_.endUs = e.time * 1000L)
    ended += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val ts = Option(taskMs.remove(i.stageId)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
    val skew = if (ts.isEmpty) 1.0 else ts.last.toDouble / math.max(1L, ts(ts.size / 2))
    if (m != null) stages.add(Stage(i.numTasks, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled, m.diskBytesSpilled, skew))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      plans.add(Span(-1, "plan", phase, s.startTimeMs * 1000L, s.endTimeMs * 1000L))
    }
    Tracer.walk(qe.executedPlan).foreach { n =>
      census.merge(n, 1L, (a: Long, b: Long) => a + b)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** True once every started job has ended (listener buses drained). */
  def settled: Boolean = ended >= jobs.size
}

object Tracer {
  final case class Job(id: Int, startUs: Long, var endUs: Long, build: Boolean)
  final case class Stage(tasks: Int, cpuNs: Long, gcMs: Long,
      inBytes: Long, inRows: Long, shWrite: Long, shRead: Long,
      fetchWaitMs: Long, spillMem: Long, spillDisk: Long, skew: Double)

  val PhaseKey = "perfbench.phase"
  val Counted = Set("ShuffleExchangeExec", "BroadcastExchangeExec",
    "ReusedExchangeExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
    "BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec")

  /** Counted operator class names of the final (post-AQE) plan,
    * subqueries included.
    */
  def walk(p: SparkPlan): Seq[String] = {
    val here = Some(p.getClass.getSimpleName).filter(Counted)
    val below: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r if r.getClass.getSimpleName == "ReusedExchangeExec" => Nil
      case other => other.children ++ other.subqueries
    }
    here.toSeq ++ below.flatMap(walk)
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by the spans nested directly inside it.
    */
  def selfUs(spans: Seq[Span]): Map[String, Long] = {
    val rank = Map("op" -> 0, "build" -> 1, "write" -> 1, "trigger" -> 2,
      "plan" -> 3, "job" -> 3)
    val byOp = spans.groupBy(_.op)
    byOp.values.flatMap { ss =>
      ss.map { s =>
        val kids = ss.filter(c => rank(c.layer) > rank(s.layer) &&
          c.startUs >= s.startUs && c.startUs < s.endUs &&
          !ss.exists(m => rank(m.layer) > rank(s.layer) && rank(m.layer) < rank(c.layer) &&
            m.startUs <= c.startUs && c.startUs < m.endUs))
        s.layer -> (s.us - covered(kids.map(k => (k.startUs, math.min(k.endUs, s.endUs)))))
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
      if (b <= reach) (sum, reach)
      else (sum + b - math.max(a, reach), b)
    }._1
}
