package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, fed only by Spark's public
  * listener APIs and by the benchmark's own timers around calls into
  * the engine. Every job carries the job group the benchmark set for
  * the operation that ran it: `c|<op>` while the engine builds the
  * DataFrame (construction), `x|<op>` while it executes. Counters are
  * kept per operation name so a batch workload can report them per
  * query.
  */
final class Trace {
  final class Layer {
    val constructNs, jobs, constructJobs, stages, tasks, singleTaskStages,
        taskFailures, inputBytes, inputRows, shuffleWrite, shuffleRead,
        spill, jobNs = new LongAdder
    val taskRunMs, taskCpuNs, taskGcMs, schedDelayMs = new LongAdder
    val analysisMs, optimizeMs, physicalMs = new LongAdder
    val ops = new LongAdder
    val skews = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
  }

  val layers = new ConcurrentHashMap[String, Layer]()
  def layer(op: String): Layer = layers.computeIfAbsent(op, _ => new Layer)

  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.List[Long]]()

  /** Operation name and phase from a job group `c|name` / `x|name`. */
  private def opOf(props: java.util.Properties): (String, Boolean) = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("x|(untagged)")
    val i = g.indexOf('|')
    if (i < 0) (g, false) else (g.substring(i + 1), g.startsWith("c|"))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (op, construct) = opOf(e.properties)
      val l = layer(op)
      l.jobs.increment()
      if (construct) l.constructJobs.increment()
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(sid => stageOp.put(sid, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op = jobOp.remove(e.jobId)
      val t0 = jobStart.remove(e.jobId)
      if (op != null) layer(op).jobNs.add((e.time - t0) * 1000000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, "(untagged)")
      val l = layer(op)
      l.tasks.increment()
      e.reason match {
        case TaskSuccess =>
        case _ => l.taskFailures.increment()
      }
      val m = e.taskMetrics
      if (m != null) {
        l.taskRunMs.add(m.executorRunTime)
        l.taskCpuNs.add(m.executorCpuTime)
        l.taskGcMs.add(m.jvmGCTime)
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        l.schedDelayMs.add(math.max(0L, delay))
        l.inputBytes.add(m.inputMetrics.bytesRead)
        l.inputRows.add(m.inputMetrics.recordsRead)
        l.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        l.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        l.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        stageTaskMs.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
          .add(m.executorRunTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sid = e.stageInfo.stageId
      val l = layer(stageOp.getOrDefault(sid, "(untagged)"))
      l.stages.increment()
      if (e.stageInfo.numTasks == 1) l.singleTaskStages.increment()
      val times = Option(stageTaskMs.remove(sid)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
      if (times.nonEmpty) {
        val med = times(times.size / 2).toDouble
        l.skews.add(if (med > 0) times.last / med else 1.0)
      }
    }
  }

  /** Planning phases arrive on the listener bus thread, which does not
    * carry the caller's job group, so they are summed under one name. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val l = layer("(plans)")
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      l.analysisMs.add(ms("analysis"))
      l.optimizeMs.add(ms("optimization"))
      l.physicalMs.add(ms("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  // streaming progress, summed over every micro-batch of every query
  val batches, batchMs, addBatchMs, planningMs, commitMs, streamRows = new LongAdder
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches.increment()
        batchMs.add(d.getOrElse("triggerExecution", 0L))
        addBatchMs.add(d.getOrElse("addBatch", 0L))
        planningMs.add(d.getOrElse("queryPlanning", 0L))
        commitMs.add(d.getOrElse("commitOffsets", 0L))
        streamRows.add(p.numInputRows)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener events arrive on an asynchronous bus; wait until the
    * counters stop moving before reading them. */
  def settle(): Unit = {
    def snapshot = layers.values.asScala.map(l => l.tasks.sum + l.jobs.sum + l.stages.sum).sum
    var last = -1L
    var cur = snapshot
    while (cur != last) { Thread.sleep(300); last = cur; cur = snapshot }
  }

  /** Counters summed over the named operations (all when None). */
  def totals(only: Option[Set[String]] = None): Map[String, Double] = {
    val ls = layers.asScala.collect { case (k, v) if only.forall(_.contains(k)) => v }.toSeq
    def sum(f: Layer => LongAdder) = ls.map(l => f(l).sum.toDouble).sum
    val ops = math.max(1.0, sum(_.ops))
    val stages = sum(_.stages)
    val skews = ls.flatMap(_.skews.asScala.toSeq).sorted
    Map(
      "construct.s" -> sum(_.constructNs) / 1e9 / ops,
      "construct.jobs" -> sum(_.constructJobs) / ops,
      "plans.analysis_ms" -> sum(_.analysisMs) / ops,
      "plans.optimize_ms" -> sum(_.optimizeMs) / ops,
      "plans.physical_ms" -> sum(_.physicalMs) / ops,
      "exec.s" -> sum(_.jobNs) / 1e9 / ops,
      "exec.jobs" -> sum(_.jobs) / ops,
      "exec.stages" -> stages / ops,
      "exec.tasks" -> sum(_.tasks) / ops,
      "exec.task_run_s" -> sum(_.taskRunMs) / 1e3 / ops,
      "exec.task_cpu_s" -> sum(_.taskCpuNs) / 1e9 / ops,
      "exec.task_gc_s" -> sum(_.taskGcMs) / 1e3 / ops,
      "exec.sched_delay_s" -> sum(_.schedDelayMs) / 1e3 / ops,
      "exec.input_bytes" -> sum(_.inputBytes) / ops,
      "exec.input_rows" -> sum(_.inputRows) / ops,
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite) / ops,
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead) / ops,
      "exec.spill_bytes" -> sum(_.spill) / ops,
      "exec.single_task_stages" -> (if (stages > 0) sum(_.singleTaskStages) / stages else 0.0),
      "exec.stage_skew" -> (if (skews.isEmpty) 0.0 else skews(skews.size / 2)),
      "exec.task_failures" -> sum(_.taskFailures),
      "ops" -> sum(_.ops))
  }

  def streamTotals: Map[String, Double] = {
    val n = math.max(1.0, batches.sum.toDouble)
    Map(
      "streaming.batch_ms" -> batchMs.sum / n,
      "streaming.add_batch_ms" -> addBatchMs.sum / n,
      "streaming.planning_ms" -> planningMs.sum / n,
      "streaming.commit_ms" -> commitMs.sum / n,
      "streaming.input_rows" -> streamRows.sum / n)
  }
}

/** Runs an operation under the job groups the [[Trace]] attributes by. */
object Tag {
  def construct[T](op: String)(f: => T)(implicit spark: SparkSession): T =
    tagged(s"c|$op")(f)
  def exec[T](op: String)(f: => T)(implicit spark: SparkSession): T =
    tagged(s"x|$op")(f)
  private def tagged[T](group: String)(f: => T)(implicit spark: SparkSession): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }
}
