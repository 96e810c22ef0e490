package graftbench

import java.io.File
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{PipelineConfig, PipelineRunner, SqlPipeline, Templates}
import graft.pipeline.PipelineRunner.Config

/** State shared by the workloads of one benchmark run: the session, the
  * tracer and listeners (traced runs only), the fresh temp root, and the
  * metrics and output checks gathered so far. */
final class Bench(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val tmpRoot: File) {

  val tracer = new Tracer(traced)
  @volatile var runTag: String = s"$workload/setup"
  val jobs: Option[JobListener] =
    if (traced) Some(new JobListener(() => runTag)) else None
  jobs.foreach(spark.sparkContext.addSparkListener)
  val writes = new WriteListener
  if (traced) spark.listenerManager.register(writes)
  val rpc = mutable.ArrayBuffer.empty[TracedTransport]
  /** Probes of every pipeline run in the timed window. */
  val defs = mutable.ArrayBuffer.empty[ProbedDefinition]
  /** Every session this run made, to count the temp views left behind. */
  val sessions = mutable.ArrayBuffer[SparkSession](spark)

  // ---- metrics -----------------------------------------------------------
  /** Every metric this run measured, by name: (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  val notes = mutable.ArrayBuffer.empty[String]

  /** Median and tail of `xs` under `name`_p50 / `name`_tail. */
  def timing(name: String, xs: Seq[Double], unit: String): Unit = {
    put(s"${name}_p50_$unit", Stats.median(xs), unit)
    Stats.tail(xs) match {
      case Some(t) =>
        put(s"${name}_tail_$unit", t.value, unit)
        notes += f"${name}_tail_$unit is p${t.percentile}%.1f of n=${t.n}"
      case None =>
        notes += s"${name}_tail_$unit: n=${xs.length}, too few samples for a tail"
    }
    put(s"${name}_samples", xs.length, "count")
  }

  // ---- output checks -----------------------------------------------------
  val attempted = new LongAdder
  val failed = new LongAdder
  val failures = mutable.ArrayBuffer.empty[String]

  /** Count one attempted operation; a false `ok` counts as failed. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted.increment()
    if (!ok) {
      failed.increment()
      failures.synchronized { failures += s"$what $detail" }
    }
  }

  def expectEq[T](what: String, got: T, want: T): Unit =
    check(what, got == want, s"got $got want $want")

  // ---- helpers -----------------------------------------------------------
  def path(name: String): String = new File(tmpRoot, name).getPath

  def deleteTree(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Run `body` with the Spark jobs it submits on this thread grouped
    * under `trace`. */
  def grouped[T](trace: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(trace, trace)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Run `body`, noting its wall time under `name` (printed to stderr
    * as it happens, so a slow step shows before the run ends). */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      notes += f"step $name took $s%.3f s"
      System.err.println(f"[perfbench] step $name took $s%.3f s")
    }
  }

  /** Time `body` in seconds, as a span when traced. */
  def timed[T](name: String, trace: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name, trace)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A pipeline session the way `SqlPipeline.run` makes one: a child
    * session with the UDFs registered and the yaml's conf applied. */
  def pipelineSession(): SparkSession = {
    val s = spark.newSession()
    graft.functions.EvmFunctions.registerAll(s)
    graft.functions.HexExpressions.registerAll(s)
    if (traced) s.listenerManager.register(writes)
    sessions += s
    s
  }

  /** Run one config pipeline through `PipelineRunner.runWithRetry`
    * with `env` as the AGN_* overrides, its Definition wrapped in
    * probes. Returns the probes and the runner result. */
  def runPipeline(tag: String, dir: String, vars: Map[String, String],
      env: Map[String, String], tweak: Config => Config = identity)
      : (ProbedDefinition, PipelineRunner.Result) = {
    val session = pipelineSession()
    val (yamlText, templates) = SqlPipeline.loadPipeline(dir)
    val config = PipelineConfig.parse(yamlText).withEnvOverrides(env)
    config.sparkConf.foreach { case (k, v) => session.conf.set(k, v) }
    config.setupFiles.foreach { f =>
      templates.get(f).foreach(t => session.sql(Templates.render(t, vars)))
    }
    val defn = new ProbedDefinition(SqlPipeline.definition(dir, vars), s"$workload/$tag",
      tracer)
    runTag = s"$workload/$tag"
    val res =
      try PipelineRunner.runWithRetry(session, defn, tweak(config.toRunnerConfig))
      finally runTag = s"$workload/idle"
    // every committed batch is one attempted operation; each retry of
    // the whole run (a resume probe beyond the first) is a failed one
    defn.batches.forEach(_ => attempted.increment())
    (1L until defn.resumes.sum()).foreach { _ =>
      check(s"$tag run retried", ok = false)
    }
    (defn, res)
  }

  /** Install the fake chain under `url`, wrapped in a counting transport
    * when traced. */
  def registerChain(url: String, chain: graft.evm.Rpc.Transport): Unit =
    graft.evm.Rpc.register(url,
      if (traced) { val t = new TracedTransport(chain); rpc.synchronized(rpc += t); t }
      else chain)

  /** Used heap in MB after a full collection, once the asynchronous
    * unpersists and the context cleaner have settled (cached blocks live
    * on the heap, so a block still being dropped would count). */
  def retainedHeapMb(): Double = {
    System.gc()
    val deadline = System.nanoTime() + 3000000000L
    Thread.sleep(300)
    while (spark.sparkContext.getRDDStorageInfo.exists(_.memSize > 0) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def resetHeapPeaks(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Wait until the listener has seen the end of every job it saw start. */
  def drainListeners(): Unit = jobs.foreach { l =>
    val deadline = System.nanoTime() + 10000000000L
    Thread.sleep(200)
    while (!l.idle && System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object Bench {
  def exampleDir(name: String): String = new File("examples", name).getPath

  /** Sum of `f` over the blocks [a, b]. */
  def sumOver(a: Long, b: Long)(f: Long => Long): Long = {
    var s = 0L
    var n = a
    while (n <= b) { s += f(n); n += 1 }
    s
  }

  def collectLong(df: DataFrame): Seq[Long] =
    df.head().toSeq.map(v => if (v == null) Long.MinValue else v.asInstanceOf[Number].longValue)
}
