package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import graft.evm.Rpc
import graft.pipeline.PipelineRunner.{Batch, Definition}

/** Timestamps of one pipeline batch, taken around the Definition calls
  * the runner makes: transform entry/return and commit entry/return. */
final case class BatchTimes(run: String, batch: Batch, spanId: Long, transformIn: Long,
    transformOut: Long, commitIn: Long, commitOut: Long) {
  def seconds: Double = (commitOut - transformIn) / 1e9
  def trace: String = s"$run/batch-${batch.number}"
}

/** Wraps a pipeline Definition with timers around every call the runner
  * makes into it. Batch timestamps are always kept (they give the batch
  * and lag metrics); spans are recorded only when the tracer is on. */
final class ProbedDefinition(inner: Definition, val run: String, tracer: Tracer)
    extends Definition {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchTimes]()
  val resumes = new LongAdder
  val tipProbes = new LongAdder
  val tipProbeNs = new LongAdder
  val resumeNs = new LongAdder
  private val open = new ConcurrentHashMap[Long, (Long, Long, Long)]()

  private def timed[T](name: String, trace: String, parent: Long = -1L,
      acc: LongAdder = null)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name, trace, parent)(body)
    finally if (acc != null) acc.add(System.nanoTime() - t0)
  }

  /** Probes run on the runner's calling thread; traced, their jobs are
    * grouped under the probe's trace. */
  private def probe[T](spark: SparkSession, name: String, trace: String,
      acc: LongAdder)(body: => T): T =
    if (!tracer.enabled) timed(name, trace, acc = acc)(body)
    else {
      spark.sparkContext.setJobGroup(trace, name)
      try timed(name, trace, acc = acc)(body)
      finally spark.sparkContext.clearJobGroup()
    }

  def resume(spark: SparkSession): Option[Long] = {
    resumes.increment()
    probe(spark, "runner.resume", s"$run/resume", resumeNs)(inner.resume(spark))
  }

  def tip(spark: SparkSession): Long = {
    tipProbes.increment()
    probe(spark, "runner.tip_probe", s"$run/tip", tipProbeNs)(inner.tip(spark))
  }

  def transform(spark: SparkSession, batch: Batch): DataFrame = {
    val id = tracer.nextId()
    val t0 = System.nanoTime()
    val df = timed("sql.transform_plan", s"$run/batch-${batch.number}", id)(
      inner.transform(spark, batch))
    open.put(batch.number, (id, t0, System.nanoTime()))
    df
  }

  def commit(spark: SparkSession, batch: Batch, df: DataFrame): Unit = {
    val (id, tIn, tOut) = open.remove(batch.number)
    val cIn = System.nanoTime()
    timed("sql.commit", s"$run/batch-${batch.number}", id)(inner.commit(spark, batch, df))
    val cOut = System.nanoTime()
    tracer.record(Span(id, 0L, s"$run/batch-${batch.number}", "runner.batch", tIn, cOut))
    batches.add(BatchTimes(run, batch, id, tIn, tOut, cIn, cOut))
  }

  override def transformConf: Map[String, String] = inner.transformConf
}

/** Counts and times every call into the RPC layer. */
final class TracedTransport(inner: Rpc.Transport) extends Rpc.Transport {
  val calls = new ConcurrentHashMap[String, LongAdder]()
  val nanos = new LongAdder
  val bytes = new LongAdder
  def reset(): Unit = { calls.clear(); nanos.reset(); bytes.reset() }
  def call(method: String, params: List[Any]): String = {
    val t0 = System.nanoTime()
    val r = inner.call(method, params)
    nanos.add(System.nanoTime() - t0)
    bytes.add(r.length)
    calls.computeIfAbsent(method, _ => new LongAdder).increment()
    r
  }
}

/** Per-task engine counters, summed for one job or for the window. */
final class TaskSums {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

final case class JobRecord(id: Int, trace: String, startNs: Long, endNs: Long,
    sums: TaskSums)

/** Spark listener keyed by job group: every job is attributed to the
  * trace of the batch, query or increment that submitted it. A group
  * that is a whole trace (it holds a '/') is used as is; the runner's
  * `batch-N` groups are prefixed with the current pipeline run. Listener
  * events carry wall-clock milliseconds; they are mapped onto the
  * monotonic clock the spans use. */
final class JobListener(tracePrefix: () => String) extends SparkListener {
  private val wall0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toNs(ms: Long): Long = nano0 + (ms - wall0Ms) * 1000000L

  private val openJobs = new ConcurrentHashMap[Int, (String, Long, TaskSums)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, java.util.List[Long]]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRecord]()
  @volatile var window = new TaskSums
  @volatile var stages = 0L

  def idle: Boolean = openJobs.isEmpty

  /** Forget everything seen so far: the timed window starts now. */
  def reset(): Unit = synchronized {
    jobs.clear(); stageTasks.clear(); window = new TaskSums; stages = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("nogroup")
    val trace = if (group.contains('/')) group else s"${tracePrefix()}/$group"
    openJobs.put(e.jobId, (trace, toNs(e.time), new TaskSums))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = openJobs.remove(e.jobId)
    if (o != null) jobs.add(JobRecord(e.jobId, o._1, o._2, toNs(e.time), o._3))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    window.add(e.taskMetrics)
    Option(stageJob.get(e.stageId)).flatMap(j => Option(openJobs.get(j)))
      .foreach(_._3.add(e.taskMetrics))
    stageTasks.computeIfAbsent(e.stageId, _ => new java.util.ArrayList[Long]())
      .add(e.taskInfo.duration)
  }

  /** max / median task time of the stage with the most task time. */
  def taskSkew: Double = synchronized {
    val heaviest = stageTasks.values.asScala.map(_.asScala.toSeq)
      .filter(_.nonEmpty).maxByOption(_.sum)
    heaviest.map { ts =>
      val med = Stats.median(ts.map(_.toDouble))
      if (med > 0) ts.max / med else 1.0
    }.getOrElse(0.0)
  }
}

/** Sink writes the pipeline performs inside its own commit step, seen
  * through the session's query listener: time, files and bytes. */
final class WriteListener extends QueryExecutionListener {
  val writeNs = new LongAdder
  val filesWritten = new LongAdder
  val bytesWritten = new LongAdder

  def reset(): Unit =
    Seq(writeNs, filesWritten, bytesWritten).foreach(_.reset())

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    // adaptive execution can wrap the write command in a query stage
    Plans.nodes(qe.executedPlan).collect { case w: DataWritingCommandExec => w }.foreach { w =>
      writeNs.add(durationNs)
      w.cmd.metrics.get("numFiles").foreach(m => filesWritten.add(m.value))
      w.cmd.metrics.get("numOutputBytes").foreach(m => bytesWritten.add(m.value))
    }
  }

  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Plans {
  /** Every node of an executed plan, looking through adaptive wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exchanges(df: DataFrame): Int =
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[Exchange])

  /** (files, bytes) read by the file scans of an executed frame. */
  def scanned(df: DataFrame): (Long, Long) = {
    val scans = nodes(df.queryExecution.executedPlan)
      .filter(_.nodeName.contains("Scan"))
    (scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum,
      scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum)
  }
}
