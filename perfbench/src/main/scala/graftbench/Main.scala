package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process runs one workload:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --tmp <dir> --results <dir>
  *
  * It prints every metric it measured as `[perfbench] name = value unit`
  * lines, then, as its last stdout line, one JSON object with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * It exits 1 when an output check failed. */
object Main {

  /** End-to-end metrics printed in the summary line of an untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "items/s", "latency_p50_ms" -> "ms",
    "heap_retained_mb" -> "MB")

  /** How many times set-up builds the fixture; the median is reported. */
  val FixtureReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { usage(); "" })
    val workload = Workload(need("workload"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val tmpRoot = new File(need("tmp"))
    val results = new File(need("results"))
    tmpRoot.mkdirs(); results.mkdirs()

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(tmpRoot, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmpRoot, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)

    val b = new Bench(spark, name, seed, seconds, traced, tmpRoot)
    val readyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    var ok = false
    try {
      workload.warmUp(b)
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val fixtureS = (0 until FixtureReps).map { rep =>
        val t0 = System.nanoTime()
        workload.fixture(b, rep)
        (System.nanoTime() - t0) / 1e9
      }
      b.put("setup_s", sessionS + Stats.median(fixtureS), "s")
      b.notes += f"setup: session $readyS%.3f s, warm-up ${sessionS - readyS}%.3f s, fixture builds ${
        fixtureS.map(s => f"$s%.3f").mkString(", ")} s"

      b.drainListeners()
      b.jobs.foreach(_.reset())
      b.writes.reset()
      b.rpc.foreach(_.reset())
      b.tracer.replace(Nil)
      b.resetHeapPeaks()
      val m0 = Machine.sample()
      workload.measure(b)
      val m1 = Machine.sample()
      b.notes += f"measured window ${(m1.nanos - m0.nanos) / 1e9}%.3f s"
      b.drainListeners()
      b.put("jvm.heap_peak_mb", b.heapPeakMb(), "MB")
      b.put("heap_retained_mb", b.retainedHeapMb(), "MB")
      b.put("jvm.persistent_rdds_end", spark.sparkContext.getPersistentRDDs.size, "count")
      b.put("jvm.temp_views_end", b.sessions.map(s =>
        s.catalog.listTables().collect().count(_.isTemporary)).sum, "count")
      val quiet = Machine.between(m0, m1)
      b.put("machine.external_cores", quiet.externalCores, "cores")
      b.put("machine.throttled_s", quiet.throttledS, "s")
      b.put("machine.processors", quiet.processors, "count")
      if (quiet.contended) b.notes += "CONTENDED: the machine was busy during the window"
      if (traced) Layers.fill(b)
      ok = true
    } catch {
      case e: Throwable =>
        b.check(s"$name run", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    val attempted = b.attempted.sum()
    val failed = b.failed.sum()
    val correct = ok && failed == 0
    b.put("error_rate", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio")

    b.metrics.foreach { case (k, (v, u)) => println(f"[perfbench] $k = $v%.6g $u") }
    b.notes.foreach(n => println(s"[perfbench] note: $n"))
    b.failures.take(20).foreach(f => println(s"[perfbench] FAILED: $f"))

    val tag = s"$name-seed$seed-trace${if (traced) 1 else 0}"
    if (traced) b.tracer.writeJsonl(new File(results, s"$tag.spans.jsonl"))
    val all = b.metrics.map { case (k, (v, u)) => s""""$k":${metricJson(v, u)}""" }
    writeFile(new File(results, s"$tag.json"), all.mkString("{", ",", "}"))

    val wanted = if (traced) Layers.names else EndToEnd
    val summary = wanted.map { case (k, u) =>
      val v = b.metrics.get(k).map(_._1).getOrElse(0.0)
      s""""$k":${metricJson(v, u)}"""
    }
    println(s"""{"correct":$correct,"attempted":${math.max(1L, attempted)},""" +
      s""""failed":$failed,"metrics":${summary.mkString("{", ",", "}")}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def metricJson(v: Double, unit: String): String = {
    val num = if (v.isNaN || v.isInfinite) "0" else v.toString
    s"""{"value":$num,"unit":"$unit"}"""
  }

  private def writeFile(f: File, s: String): Unit =
    java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))

  private def usage(): Nothing = {
    System.err.println("usage: Main --workload <backfill|follow_tip|serve_sink|neardup> " +
      "--seed <n> --seconds <s> --trace <0|1> --tmp <dir> --results <dir>")
    sys.exit(2)
  }
}
