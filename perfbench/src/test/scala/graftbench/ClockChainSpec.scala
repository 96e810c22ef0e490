package graftbench

import graft.evm.{Hex, Json}
import org.scalatest.funsuite.AnyFunSuite

class ClockChainSpec extends AnyFunSuite {
  private val second = 1000000000L

  test("schedule is seeded, starts at zero and keeps the mean rate") {
    val s = ClockChain.schedule(7, 20.0, 60 * second)
    assert(s.sameElements(ClockChain.schedule(7, 20.0, 60 * second)))
    assert(!s.sameElements(ClockChain.schedule(8, 20.0, 60 * second)))
    assert(s.head == 0L)
    val gaps = s.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(gaps.forall(g => g >= second / 40 && g < 3 * second / 40))
    assert(math.abs(s.length - 1200) < 60) // 20/s over 60 s
    assert(s.last <= 60 * second)
  }

  test("tip follows the clock and stops at the last scheduled block") {
    val offsets = Array(0L, 100L, 250L, 400L)
    val chain = new ClockChain(1000, offsets, t0Ns = 5000L)
    assert(chain.tipAt(4999L) == 999)
    assert(chain.tipAt(5000L) == 1000)
    assert(chain.tipAt(5099L) == 1000)
    assert(chain.tipAt(5100L) == 1001)
    assert(chain.tipAt(5399L) == 1002)
    assert(chain.tipAt(5400L) == 1003)
    assert(chain.tipAt(Long.MaxValue / 2) == 1003)
    assert(chain.last == 1003)
    assert(chain.createdAtNs(1002) == 5250L)
  }

  test("blocks above the tip read as null; latest is the tip") {
    var now = 5150L
    val chain = new ClockChain(1000, Array(0L, 100L, 250L), t0Ns = 5000L, clock = () => now)
    def block(p: Any) = chain.call("eth_getBlockByNumber", List(p, false))
    def number(json: String) =
      Hex.decodeLong(Json.parse(json).asInstanceOf[Map[String, Any]]("number").toString)
    assert(number(block("latest")) == 1001)
    assert(number(block(Hex.encodeQuantity(1001L))) == 1001)
    assert(block(Hex.encodeQuantity(1002L)) == "null")
    assert(chain.call("eth_getBlockReceipts", List(Hex.encodeQuantity(1002L))) == "null")
    assert(block(Hex.encodeQuantity(999L)) == "null")
    now = 5250L
    assert(number(block(Hex.encodeQuantity(1002L))) == 1002)
    assert(number(block("latest")) == 1002)
  }

  test("lag runs from the creation of the batch's last block to its commit") {
    val chain = new ClockChain(1000, Array(0L, second, 2 * second), t0Ns = 10 * second)
    assert(ClockChain.lagSeconds(chain, 1002, 12 * second + second / 2) == 0.5)
    assert(ClockChain.lagSeconds(chain, 1000, 13 * second) == 3.0)
  }
}
