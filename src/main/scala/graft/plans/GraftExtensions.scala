package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType
import graft.functions.{EvmHexDecodeExpr, EvmHexDecodeLongExpr,
  EvmHexEncodeExpr, EvmHexEncodeQuantityExpr}

/** Catalyst optimizer rule: eliminate EVM hex codec roundtrips.
  *
  * Pipelines frequently re-encode decoded values at column boundaries
  * (e.g. a transform decodes `0x…` → bytes for storage while a derived
  * query re-encodes for an RPC argument, or vice versa). When both ends
  * are our own codec expressions the pair is the identity:
  *
  *   evm_hex_decode(evm_hex_encode(b))          ≡ b   (bytes round-trip)
  *   evm_hex_decode_int(evm_hex_encode_int(n))  ≡ n   (quantity round-trip)
  *
  * The quantity form assumes the JSON-RPC contract (non-negative
  * quantities — `evm_hex_encode_int` throws on negatives, so elimination
  * only changes behavior for inputs that were already out of contract).
  *
  * This is the (c)-tier extension path from SURVEY §7: a
  * `Rule[LogicalPlan]` injected via `SparkSessionExtensions`, active for
  * any session built `.withExtensions(new GraftExtensions)` or configured
  * with `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object HexRoundtripElimination extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case EvmHexDecodeExpr(EvmHexEncodeExpr(c)) => c
      case EvmHexDecodeLongExpr(EvmHexEncodeQuantityExpr(c))
          if c.dataType == LongType => c
    }
}

/** Session extensions installer: injects the `HexRoundtripElimination`
  * optimizer rule only. SQL functions are not registered here; sessions
  * still call `EvmFunctions`/`HexExpressions.registerAll`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => HexRoundtripElimination)
  }
}
