package graftbench

import graft.evm.{FakeChain, Hex, Rpc}

/** A fake chain whose tip moves with wall time. Block `first + i` is
  * created at `t0Ns + offsetsNs(i)`; after the last scheduled block the
  * tip stays put. Every block's content is `FakeChain`'s pure function
  * of its number, and a block above the current tip reads as null, like
  * a real node. Because the tip is computed from the clock, the
  * generator can never fall behind its schedule. */
final class ClockChain(val first: Long, val offsetsNs: Array[Long], val t0Ns: Long,
    clock: () => Long = () => System.nanoTime()) extends Rpc.Transport {
  require(offsetsNs.nonEmpty && offsetsNs(0) >= 0, "schedule needs a first block")

  private val blocks = new FakeChain(Long.MaxValue)

  def last: Long = first + offsetsNs.length - 1

  /** Highest block created at `nowNs`; `first - 1` before the first. */
  def tipAt(nowNs: Long): Long = {
    val dt = nowNs - t0Ns
    // count of offsets <= dt (offsets ascend)
    var lo = 0
    var hi = offsetsNs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (offsetsNs(mid) <= dt) lo = mid + 1 else hi = mid
    }
    first + lo - 1
  }

  def createdAtNs(n: Long): Long = t0Ns + offsetsNs((n - first).toInt)

  def call(method: String, params: List[Any]): String = method match {
    case "eth_getBlockByNumber" | "eth_getBlockReceipts" | "trace_block" =>
      val tip = tipAt(clock())
      val n = params.head match {
        case "latest" | "safe" | "finalized" => tip
        case s: String => Hex.decodeLong(s)
        case d: BigDecimal => d.toLong
        case other => throw new Rpc.RpcException(s"bad block parameter: $other")
      }
      if (n > tip || n < first) "null"
      else blocks.call(method, Hex.encodeQuantity(n) :: params.tail)
    case _ => blocks.call(method, params)
  }
}

object ClockChain {

  /** Creation offsets of the blocks made within `windowNs` at a mean
    * `ratePerSec`: each gap is the mean gap scaled by a seeded factor
    * drawn uniformly from [0.5, 1.5). The first block exists at 0. */
  def schedule(seed: Long, ratePerSec: Double, windowNs: Long): Array[Long] = {
    val rnd = new java.util.Random(seed)
    val meanGapNs = 1e9 / ratePerSec
    val out = Array.newBuilder[Long]
    var t = 0.0
    while (t <= windowNs) {
      out += t.toLong
      t += meanGapNs * (0.5 + rnd.nextDouble())
    }
    out.result()
  }

  /** Seconds from the creation of a batch's last block to its commit. */
  def lagSeconds(chain: ClockChain, batchEnd: Long, commitReturnNs: Long): Double =
    (commitReturnNs - chain.createdAtNs(batchEnd)) / 1e9
}
