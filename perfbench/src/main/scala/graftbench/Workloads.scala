package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.evm.FakeChain
import graft.operators.{IncrementalIndex, Materialize, TextDedup}
import graft.pipeline.{SinkTable, SqlPipeline}

/** One benchmark workload. `warmUp` runs once per process; `fixture`
  * builds the workload's inputs and runs several times, the last build
  * being the one measured; `measure` is the timed window. */
trait Workload {
  def warmUp(b: Bench): Unit
  def fixture(b: Bench, rep: Int): Unit
  def measure(b: Bench): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "backfill" => new Backfill
    case "follow_tip" => new FollowTip
    case "serve_sink" => new ServeSink
    case "neardup" => new NearDup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val BlocksDir: String = Bench.exampleDir("ethereum_blocks_spark")
  val LogsDir: String = Bench.exampleDir("ethereum_logs_spark")
  val DecodedLogsDir: String = Bench.exampleDir("ethereum_decoded_logs_spark")
  val TransferSig = "'event Transfer(address indexed,address indexed,uint256)'"

  /** First block of a seed's chain segment. */
  def startBlock(seed: Long): Long = 1000000L + math.floorMod(seed, 100000L) * 1000L

  def batchEnv(blocks: Long): Map[String, String] =
    Map("AGN_BATCHER_MAXBATCHSIZE" -> blocks.toString)

  /** Blocks sink of [a, b] holds each block once, with FakeChain's fields. */
  def checkBlocks(b: Bench, what: String, path: String, a: Long, z: Long): Unit = {
    val spark = b.spark
    val raw = spark.read.parquet(path)
    b.expectEq(s"$what raw rows", raw.count(), z - a + 1)
    val got = Bench.collectLong(SinkTable(path, Seq("number")).read(spark).agg(
      count(lit(1)), countDistinct(col("number")), min(col("number")), max(col("number")),
      sum(col("number")), sum(col("gas_used")), sum(col("size")),
      sum(unix_seconds(col("timestamp")))))
    val want = Seq(z - a + 1, z - a + 1, a, z, Bench.sumOver(a, z)(identity),
      Bench.sumOver(a, z)(n => 21000L * FakeChain.nTx(n)),
      Bench.sumOver(a, z)(n => 500L + 100L * FakeChain.nTx(n)),
      Bench.sumOver(a, z)(FakeChain.timestampOf))
    b.expectEq(s"$what block fields", got, want)
  }

  /** Logs sink of [a, b] holds each block's logs once, FakeChain's count. */
  def checkLogs(b: Bench, what: String, path: String, a: Long, z: Long): Unit = {
    val spark = b.spark
    val nLogs = Bench.sumOver(a, z)(n => FakeChain.nTx(n).toLong)
    val live = SinkTable(path, Seq("block_number", "log_index")).read(spark)
    val token0 = FakeChain.tokenAddress(0)
    val token1 = FakeChain.tokenAddress(1)
    val got = Bench.collectLong(live.agg(
      count(lit(1)), sum(col("block_number")), sum(col("log_index")),
      sum(unix_seconds(col("timestamp"))),
      sum(when(col("address") === when(col("log_index") % 2 === 0, lit(token0))
        .otherwise(lit(token1)), 1).otherwise(0))))
    val want = Seq(nLogs, Bench.sumOver(a, z)(n => n * FakeChain.nTx(n)),
      Bench.sumOver(a, z) { n => val k = FakeChain.nTx(n).toLong; k * (k - 1) / 2 },
      Bench.sumOver(a, z)(n => FakeChain.timestampOf(n) * FakeChain.nTx(n)), nLogs)
    b.expectEq(s"$what log fields", got, want)
  }

  def warmPipelines(b: Bench): Unit = {
    val tip = 999L
    val blocks = 40L
    val url = s"fake://chain?tip=$tip"
    b.registerChain(url, new FakeChain(tip))
    val root = b.path("warmup")
    Seq(BlocksDir -> "blocks", LogsDir -> "logs").foreach { case (dir, name) =>
      b.runPipeline(s"warmup-$name", dir,
        Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> s"$root/$name"), batchEnv(blocks / 2),
        _.copy(defaultStart = tip - blocks + 1))
    }
    b.deleteTree(root)
  }

  /** Parquet files under `path`. */
  def parquetFiles(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (!f.exists()) Nil
    else org.apache.commons.io.FileUtils.listFiles(f, Array("parquet"), true)
      .toArray(Array.empty[java.io.File]).toSeq
  }
}

import Workload._

/** Closed batch job: the blocks then the logs config pipeline, from empty
  * sinks to a fixed tip, in batches of `BatchBlocks`. */
final class Backfill extends Workload {
  val PassBlocks = 4000L
  val BatchBlocks = 1000L
  val SecondsPerPass = 8.0

  def warmUp(b: Bench): Unit = warmPipelines(b)
  def fixture(b: Bench, rep: Int): Unit = b.deleteTree(b.path("backfill"))

  def measure(b: Bench): Unit = {
    val passes = math.max(1, math.round(b.seconds / SecondsPerPass).toInt)
    val first = startBlock(b.seed)
    var busyS = 0.0
    var items = 0L
    val batchS = mutable.ArrayBuffer.empty[Double]
    val perPipeline = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    (0 until passes).foreach { k =>
      val a = first + k * PassBlocks
      val z = a + PassBlocks - 1
      val url = s"fake://chain?tip=$z"
      b.registerChain(url, new FakeChain(z))
      val blocks = b.path(s"backfill/$k/blocks")
      val logs = b.path(s"backfill/$k/logs")
      val t0 = System.nanoTime()
      val defs = Seq(BlocksDir -> blocks, LogsDir -> logs).map { case (dir, sink) =>
        b.runPipeline(s"pass$k-${new java.io.File(sink).getName}", dir,
          Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> sink), batchEnv(BatchBlocks),
          _.copy(defaultStart = a))._1
      }
      busyS += (System.nanoTime() - t0) / 1e9
      items += PassBlocks
      defs.zip(Seq("blocks", "logs")).foreach { case (d, p) =>
        d.batches.forEach { t =>
          batchS += t.seconds
          perPipeline.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += t.seconds
        }
      }
      b.defs ++= defs
      checkBlocks(b, s"pass $k blocks", blocks, a, z)
      checkLogs(b, s"pass $k logs", logs, a, z)
      if (k == passes - 1)
        b.put("sink.files_live", (parquetFiles(blocks) ++ parquetFiles(logs)).size, "count")
      b.deleteTree(b.path(s"backfill/$k"))
    }
    b.put("items_per_s", items / busyS, "items/s")
    b.timing("batch", batchS.toSeq, "s")
    val medians = perPipeline.toSeq.sortBy(_._1).map { case (p, xs) =>
      val m = Stats.median(xs.toSeq)
      b.put(s"batch_${p}_p50_s", m, "s")
      m
    }
    // each pipeline's median batch, averaged: the two pipelines' batches
    // differ in cost, so one median over both would sit between them
    b.put("latency_p50_ms", medians.sum / medians.size * 1000, "ms")
  }
}

/** Open loop: the blocks config pipeline follows a clock chain whose tip
  * moves at `RatePerSec` blocks per second with seeded jitter. */
final class FollowTip extends Workload {
  val RatePerSec = 25.0
  val PollMs = 50L

  def warmUp(b: Bench): Unit = warmPipelines(b)
  def fixture(b: Bench, rep: Int): Unit = b.deleteTree(b.path("follow"))

  def measure(b: Bench): Unit = {
    val first = startBlock(b.seed)
    val url = s"bench://clock/${b.seed}"
    val sink = b.path("follow/blocks")
    val offsets = ClockChain.schedule(b.seed, RatePerSec, b.seconds * 1000000000L)
    val chain = new ClockChain(first, offsets, System.nanoTime())
    b.registerChain(url, chain)
    val (d, _) = b.runPipeline("follow", BlocksDir,
      Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> sink), Map.empty,
      _.copy(followTip = true, tipPollIntervalMs = PollMs,
        maxIdlePolls = 1000L / PollMs, defaultStart = first))
    b.defs += d
    val bts = mutable.ArrayBuffer.empty[BatchTimes]
    d.batches.forEach(bts += _)
    val lags = bts.map(t => ClockChain.lagSeconds(chain, t.batch.end, t.commitOut)).toSeq
    val lastCommit = bts.map(_.commitOut).max
    b.put("items_per_s", (chain.last - first + 1) / ((lastCommit - chain.t0Ns) / 1e9), "items/s")
    b.timing("batch", bts.map(_.seconds).toSeq, "s")
    b.timing("lag", lags, "s")
    b.put("latency_p50_ms", Stats.median(lags) * 1000, "ms")
    b.put("blocks_per_batch", (chain.last - first + 1).toDouble / bts.size, "count")
    b.check("follow reached the final tip", bts.map(_.batch.end).max == chain.last,
      s"${bts.map(_.batch.end).max} vs ${chain.last}")
    checkBlocks(b, "follow blocks", sink, first, chain.last)
    b.put("sink.files_live", parquetFiles(sink).size, "count")
  }
}

/** A closed single-client loop over a logs sink of blocks [a, a + n):
  * two point lookups by key, then one 100-block range aggregate, each
  * through `SinkTable.read` and checked against FakeChain. */
final class ReadLoop(b: Bench, sink: SinkTable, a: Long, n: Long) {
  val lookups = mutable.ArrayBuffer.empty[Double]
  val ranges = mutable.ArrayBuffer.empty[Double]
  var planS = 0.0
  var scannedFiles = 0L
  var scannedBytes = 0L
  private val token0 = FakeChain.tokenAddress(0)
  private val token1 = FakeChain.tokenAddress(1)

  def query(q: Int, rnd: java.util.Random): Unit = {
    val spark = b.spark
    val trace = s"${b.workload}/read/q-$q"
    b.grouped(trace) {
      val t0 = System.nanoTime()
      b.tracer.span("sink.read", trace) {
        if (q % 3 != 2) {
          var blk = a + rnd.nextInt(n.toInt)
          while (FakeChain.nTx(blk) == 0) blk = a + rnd.nextInt(n.toInt)
          val i = rnd.nextInt(FakeChain.nTx(blk))
          val df = b.tracer.span("sink.read_plan", trace) {
            val d = sink.read(spark)
              .filter(col("block_number") === blk && col("log_index") === i)
              .select(col("address"), col("transaction_hash"), unix_seconds(col("timestamp")))
            d.queryExecution.executedPlan
            d
          }
          planS += (System.nanoTime() - t0) / 1e9
          val rows = df.collect()
          lookups += (System.nanoTime() - t0) / 1e6
          scanned(df)
          b.check(s"lookup ($blk, $i)", rows.length == 1 &&
            java.util.Arrays.equals(rows(0).getAs[Array[Byte]](0),
              if (i % 2 == 0) token0 else token1) &&
            java.util.Arrays.equals(rows(0).getAs[Array[Byte]](1), FakeChain.h32(s"tx$blk-$i")) &&
            rows(0).getLong(2) == FakeChain.timestampOf(blk), s"${rows.length} rows")
        } else {
          val lo = a + rnd.nextInt((n - 100).toInt)
          val hi = lo + 99
          val df = b.tracer.span("sink.read_plan", trace) {
            val d = sink.read(spark).filter(col("block_number").between(lo, hi))
              .agg(count(lit(1)), sum(col("log_index")), sum(col("block_number")))
            d.queryExecution.executedPlan
            d
          }
          planS += (System.nanoTime() - t0) / 1e9
          val got = Bench.collectLong(df)
          ranges += (System.nanoTime() - t0) / 1e6
          scanned(df)
          b.expectEq(s"range [$lo, $hi]", got, Seq(
            Bench.sumOver(lo, hi)(k => FakeChain.nTx(k).toLong),
            Bench.sumOver(lo, hi) { k => val t = FakeChain.nTx(k).toLong; t * (t - 1) / 2 },
            Bench.sumOver(lo, hi)(k => k * FakeChain.nTx(k))))
        }
      }
    }
  }

  private def scanned(df: DataFrame): Unit = {
    val (f, by) = Plans.scanned(df)
    scannedFiles += f
    scannedBytes += by
  }
}

/** Reads: point lookups and block-range aggregates on a logs sink left
  * the way follow mode leaves it, the derived decoded-logs pipeline over
  * it, then one compaction. */
final class ServeSink extends Workload {
  val SourceBlocks = 800L
  val AppendBlocks = 100L
  val QueriesPerSecond = 3
  val WarmUpQueries = 15
  val DerivedBatches = 8L

  private var staging: String = _
  private var logs: String = _
  private def first(b: Bench) = startBlock(b.seed)

  /** The logs sink table exactly as the logs config pipeline declares it. */
  private def logsTable(path: String): SinkTable =
    SqlPipeline.sinkSpec(SqlPipeline.loadPipeline(LogsDir)._1, Map("SINK_PATH" -> path)).table

  /** Ingest the source range once with the logs config pipeline, in one
    * batch; the fixture replays these rows as follow-mode appends. */
  def warmUp(b: Bench): Unit = {
    val a = first(b)
    val z = a + SourceBlocks - 1
    val url = s"fake://chain?tip=$z"
    b.registerChain(url, new FakeChain(z))
    staging = b.path("serve-staging")
    b.runPipeline("staging", LogsDir, Map("RPC_ENDPOINT" -> url, "SINK_PATH" -> staging),
      batchEnv(SourceBlocks), _.copy(defaultStart = a))
    val rnd = new java.util.Random(-1L - b.seed)
    val reads = new ReadLoop(b, logsTable(staging), a, SourceBlocks)
    (0 until WarmUpQueries).foreach(q => reads.query(q, rnd))
    b.runPipeline("warmup-derived", DecodedLogsDir, Map("SOURCE_PATH" -> staging,
      "SINK_PATH" -> b.path("warmup-decoded"), "EVENT_SIGS" -> TransferSig),
      batchEnv(SourceBlocks / DerivedBatches),
      _.copy(defaultStart = a, stopAfterBatches = Some(1L)))
    b.deleteTree(b.path("warmup-decoded"))
  }

  /** A logs sink the way follow mode leaves it: one small append per
    * `AppendBlocks` blocks, then one overlapping re-ingest of the upper
    * half, so superseded versions exist. */
  def fixture(b: Bench, rep: Int): Unit = {
    val a = first(b)
    if (logs != null) b.deleteTree(logs)
    logs = b.path(s"serve$rep/logs")
    val sink = logsTable(logs)
    val rows = b.spark.read.parquet(staging).drop("_ingest_seq", "_part")
    val appends = SourceBlocks / AppendBlocks
    (0L until appends).foreach { k =>
      val lo = a + k * AppendBlocks
      sink.append(rows.filter(col("block_number").between(lo, lo + AppendBlocks - 1)), k)
    }
    sink.append(rows.filter(col("block_number") >= a + SourceBlocks / 2), appends)
  }

  /** Row checksum of the dedup-on-read view (count, hash sum). */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).longValue)
  }

  def measure(b: Bench): Unit = {
    val spark = b.spark
    val a = first(b)
    val sink = logsTable(logs)
    val rnd = new java.util.Random(b.seed)
    val queries = QueriesPerSecond * b.seconds
    val reads = new ReadLoop(b, sink, a, SourceBlocks)
    (0 until queries).foreach(q => reads.query(q, rnd))
    import reads._
    b.timing("lookup", lookups.toSeq, "ms")
    b.timing("range", ranges.toSeq, "ms")
    b.put("sink.read_plan_s", planS, "s")
    b.put("sink.files_scanned_per_query", scannedFiles.toDouble / queries, "count")
    b.put("sink.bytes_scanned_per_query", scannedBytes.toDouble / queries, "B")

    // derived pipeline: range reads of the sink, ABI decode, append
    val decoded = b.path("serve-decoded")
    val t0 = System.nanoTime()
    val (d, _) = b.runPipeline("derived", DecodedLogsDir,
      Map("SOURCE_PATH" -> logs, "SINK_PATH" -> decoded, "EVENT_SIGS" -> TransferSig),
      batchEnv(SourceBlocks / DerivedBatches), _.copy(defaultStart = a))
    val deriveS = (System.nanoTime() - t0) / 1e9
    b.defs += d
    val bts = mutable.ArrayBuffer.empty[Double]
    d.batches.forEach(t => bts += t.seconds)
    b.timing("batch", bts.toSeq, "s")
    val source = sink.read(spark)
    val dec = SinkTable(decoded, Seq("address", "signature", "block_number", "log_index"))
      .read(spark)
    // every source log is a Transfer: one decoded row per source row,
    // same keys, and the amount FakeChain put in each
    val keys = Seq(col("block_number"), col("log_index"))
    b.expectEq("decoded keys match source Transfer logs", checksum(dec.select(keys: _*)),
      checksum(source.select(keys: _*)))
    b.expectEq("decoded signature and amount", dec.filter(
      col("signature") =!= "Transfer(address,address,uint256)" ||
        get_json_object(col("inputs"), "$.arg2").cast("long") =!=
          col("block_number") * 1000 + col("log_index") + 1).count(), 0L)

    // compaction must not change what readers see
    val raw = sink.readRaw(spark).count()
    val before = checksum(sink.read(spark))
    b.put("sink.superseded_ratio", raw.toDouble / before._1, "ratio")
    val bytesBefore = b.writes.bytesWritten.sum()
    val (_, compactS) = b.grouped(s"${b.workload}/compact") {
      b.timed("sink.compact", s"${b.workload}/compact")(sink.compact(spark))
    }
    b.drainListeners()
    b.put("sink.compact_bytes_rewritten", (b.writes.bytesWritten.sum() - bytesBefore).toDouble, "B")
    b.expectEq("read unchanged by compact", checksum(sink.read(spark)), before)
    b.expectEq("compact dropped superseded rows", sink.readRaw(spark).count(), before._1)
    b.put("compact_s", compactS, "s")
    b.put("sink.files_live", parquetFiles(logs).size, "count")
    b.put("items_per_s", SourceBlocks / (deriveS + compactS), "items/s")
    b.put("latency_p50_ms", Stats.median(lookups.toSeq), "ms")
  }
}

/** Operator kernels: MinHash-LSH and winnowing pairs over a corpus with
  * planted near-duplicate families, a band index build, then ingest
  * increments probed against the index and appended to it. */
final class NearDup extends Workload {
  val Threshold = 0.8
  val Families = 100
  val Variants = 3
  val Loose = 100
  val Singles = 1400
  val IncrementDocs = 100
  val IncrementsPerSecond = 1.25

  private var corpus: Seq[Doc] = Nil
  private var corpusPath: String = _

  private def write(b: Bench, docs: Seq[Doc], path: String): DataFrame = {
    import b.spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("id", "text").write.parquet(path)
    b.spark.read.parquet(path)
  }

  def warmUp(b: Bench): Unit = {
    implicit val s: SparkSession = b.spark
    val gen = new Corpus.Gen(-1L - b.seed)
    val docs = Corpus.build(gen, 0L, 40, Variants, 20, 200)
    val df = b.step("warm-up corpus")(write(b, docs, b.path("warmup-corpus")))
    b.step("warm-up lsh")(Materialize.scoped(
      TextDedup.minHashLshPairs(df, "id", "text", Threshold).collect()))
    b.step("warm-up winnow")(Materialize.scoped(
      TextDedup.winnowOverlapPairs(df, "id", "text").collect()))
    val idx = b.step("warm-up index")(
      Materialize.eager(TextDedup.minHashBandIndex(df, "id", "text")))
    b.step("warm-up increments")((0 until 2).foreach { k =>
      Materialize.scoped(
        TextDedup.dedupAgainstIndex(df.limit(20), idx, "id", "text").collect())
      val add = TextDedup.minHashBandIndex(df.filter(col("id") % 2 === k), "id", "text")
      val next = Materialize.eager(IncrementalIndex.append(idx, add))
      next.count()
      release(next)
    })
    release(idx)
    b.deleteTree(b.path("warmup-corpus"))
  }

  def fixture(b: Bench, rep: Int): Unit = {
    val gen = new Corpus.Gen(b.seed)
    corpus = Corpus.build(gen, 0L, Families, Variants, Loose, Singles)
    if (corpusPath != null) b.deleteTree(corpusPath)
    corpusPath = b.path(s"corpus$rep")
    write(b, corpus, corpusPath)
  }

  /** Free a materialized index's blocks now rather than at GC. */
  private def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = true)
    case _ => ()
  }

  def measure(b: Bench): Unit = {
    implicit val spark: SparkSession = b.spark
    import spark.implicits._
    val w = b.workload
    val docs = spark.read.parquet(corpusPath)
    val text = corpus.map(d => d.id -> d).toMap
    val family = mutable.Map(corpus.map(d => d.id -> d.family): _*)
    val planted = Corpus.plantedPairs(corpus)
    val above = planted.filter(_._3 >= Threshold).map(p => (p._1, p._2)).toSet
    var exchanges = 0L
    val t0 = System.nanoTime()

    val (lsh, lshS) = b.grouped(s"$w/corpus/lsh") {
      b.timed("operators.lsh_pairs", s"$w/corpus/lsh") {
        Materialize.scoped {
          val df = TextDedup.minHashLshPairs(docs, "id", "text", Threshold)
          val r = df.collect()
          exchanges += Plans.exchanges(df)
          r
        }
      }
    }
    val (winnow, winnowS) = b.grouped(s"$w/corpus/winnow") {
      b.timed("operators.winnow_pairs", s"$w/corpus/winnow") {
        Materialize.scoped {
          val df = TextDedup.winnowOverlapPairs(docs, "id", "text")
          val r = df.collect()
          exchanges += Plans.exchanges(df)
          r
        }
      }
    }
    var (index, buildS) = b.grouped(s"$w/corpus/index") {
      b.timed("operators.index_build", s"$w/corpus/index") {
        val idx = Materialize.eager(TextDedup.minHashBandIndex(docs, "id", "text"))
        idx.count()
        idx
      }
    }
    val increments = math.max(4, math.round(b.seconds * IncrementsPerSecond).toInt)
    val gen = new Corpus.Gen(b.seed * 7919L + 17L)
    val accepted = mutable.ArrayBuffer.empty[Doc]
    val incS = mutable.ArrayBuffer.empty[Double]
    var probeS = 0.0
    var appendS = 0.0
    var nextId = corpus.size.toLong
    (0 until increments).foreach { k =>
      // a fifth near-duplicates of corpus docs, a tenth of earlier
      // accepted docs, the rest new
      val batch = (0 until IncrementDocs).map { j =>
        val id = nextId; nextId += 1
        val src =
          if (j < IncrementDocs / 5) Some(corpus(gen.nextInt(corpus.size)))
          else if (j < IncrementDocs * 3 / 10 && accepted.nonEmpty)
            Some(accepted(gen.nextInt(accepted.size)))
          else None
        src match {
          case Some(s) =>
            val words = s.text.split(" ")
            Doc(id, gen.variant(words, gen.positions(1)).mkString(" "), s.family)
          case None => Doc(id, gen.fresh().mkString(" "), id)
        }
      }
      batch.foreach(d => family(d.id) = d.family)
      val batchDf = batch.map(d => (d.id, d.text)).toDF("id", "text")
      val trace = s"$w/inc-$k"
      val tInc = System.nanoTime()
      val (verdicts, pS) = b.grouped(trace) {
        b.timed("operators.index_probe", trace) {
          Materialize.scoped(TextDedup.dedupAgainstIndex(batchDf, index, "id", "text")
            .collect())
        }
      }
      val keptIds = verdicts.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
      val kept = batch.filter(d => keptIds.contains(d.id))
      val (next, aS) = b.grouped(trace) {
        b.timed("operators.index_append", trace) {
          val add = TextDedup.minHashBandIndex(
            kept.map(d => (d.id, d.text)).toDF("id", "text"), "id", "text")
          val idx = Materialize.eager(IncrementalIndex.append(index, add))
          idx.count()
          idx
        }
      }
      incS += (System.nanoTime() - tInc) / 1e9
      probeS += pS
      appendS += aS
      release(index)
      index = next
      accepted ++= kept
      // verdicts: near-duplicates resolve to their own family, new docs stay
      val byId = verdicts.map(r => r.getLong(0) -> r).toMap
      batch.foreach { d =>
        val r = byId.get(d.id)
        val isNew = d.family == d.id
        b.check(s"increment $k doc ${d.id}", r.exists { v =>
          if (isNew) v.getBoolean(1)
          else !v.getBoolean(1) && family.get(v.getLong(2)).contains(d.family)
        }, s"verdict $r")
      }
    }
    val busyS = (System.nanoTime() - t0) / 1e9
    release(index)

    // LSH: every planted pair above threshold found, every pair verified
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    b.check("lsh finds every planted pair above threshold", above.subsetOf(lshPairs),
      s"missing ${(above -- lshPairs).take(5)}")
    lsh.foreach { r =>
      val j = Corpus.jaccard(text(r.getLong(0)).text, text(r.getLong(1)).text)
      b.check(s"lsh pair (${r.getLong(0)}, ${r.getLong(1)}) jaccard", j >= Threshold,
        s"driver jaccard $j")
    }
    // winnowing: every tight planted pair found, every pair in-family
    val winnowPairs = winnow.map(r => (r.getLong(0), r.getLong(1))).toSet
    b.check("winnow finds every planted pair above threshold", above.subsetOf(winnowPairs),
      s"missing ${(above -- winnowPairs).take(5)}")
    val plantedAll = planted.map(p => (p._1, p._2)).toSet
    b.check("winnow pairs are planted pairs", winnowPairs.subsetOf(plantedAll),
      s"stray ${(winnowPairs -- plantedAll).take(5)}")

    val docsDone = corpus.size + increments * IncrementDocs
    b.put("items_per_s", docsDone / busyS, "items/s")
    b.timing("increment", incS.toSeq, "s")
    b.put("latency_p50_ms", Stats.median(incS.toSeq) * 1000, "ms")
    b.put("operators.lsh_pairs_s", lshS, "s")
    b.put("operators.winnow_pairs_s", winnowS, "s")
    b.put("operators.index_build_s", buildS, "s")
    b.put("operators.index_probe_s", probeS, "s")
    b.put("operators.index_append_s", appendS, "s")
    b.put("operators.pairs_out", lsh.length + winnow.length, "count")
    b.put("operators.exchanges", exchanges, "count")
  }
}
