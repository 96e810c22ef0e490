package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end tests of the graft-blocks DSv2 MicroBatchStream. */
class BlockStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streams block numbers to the tip in rate-limited micro-batches") {
    val stream = spark.readStream.format("graft-blocks")
      .option("endpoint", "fake://chain?tip=57")
      .option("maxBlocksPerTrigger", 10)
      .load()
    val q = stream.writeStream.format("memory").queryName("blk").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("blk").select("n").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L to 57L))
    // admission control: no micro-batch admitted more than 10 blocks
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(sizes.nonEmpty && sizes.forall(_ <= 10))
  }

  test("checkpoint restart resumes from the committed offset, exactly-once") {
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val out = Files.createTempDirectory("graft-stream-out").resolve("data").toString
    def run(tip: Int): Unit = {
      val stream = spark.readStream.format("graft-blocks")
        .option("endpoint", s"fake://chain?tip=$tip")
        .option("maxBlocksPerTrigger", 7)
        .load()
      val q = stream.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(20)
    run(35) // tip advanced; must resume at 21, not re-emit 0..20
    val got = spark.read.parquet(out).select("n").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0L to 35L), "exactly-once across restarts")
  }

  test("composes with the shared blocks projection") {
    graft.functions.EvmFunctions.registerAll(spark)
    graft.functions.HexExpressions.registerAll(spark)
    spark.readStream.format("graft-blocks")
      .option("endpoint", "fake://chain?tip=12")
      .load()
      .createOrReplaceTempView("block_numbers")
    // the fetch + typed extraction of examples/ethereum_blocks_spark,
    // over the stream instead of range(START, END + 1)
    val projected = spark.sql(
      """select
        |    timestamp_seconds(evm_hex_decode_int_n(b.timestamp)) as timestamp,
        |    evm_hex_decode_int_n(b.gasUsed) as gas_used,
        |    evm_hex_decode_n(b.hash) as hash,
        |    evm_hex_decode_int_n(b.number) as number
        |from (
        |    select from_json(
        |        get_json_object(
        |            ethereum_rpc('eth_getBlockByNumber',
        |                array(evm_hex_encode_int_n(n), 'false'),
        |                'fake://chain?tip=12#fail-on-error=true'),
        |            '$.value'),
        |        'timestamp STRING, gasUsed STRING, hash STRING, number STRING') as b
        |    from block_numbers
        |)""".stripMargin)
    val q = projected.writeStream.format("memory").queryName("blkproj").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("blkproj")
    assert(rows.count() == 13)
    val b7 = rows.filter(col("number") === 7).head()
    assert(b7.getAs[Long]("gas_used") == 21000L * graft.evm.FakeChain.nTx(7))
  }
}
