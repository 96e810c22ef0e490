package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import graft.evm.{Abi, FakeChain, Hex, Keccak256, Rpc}

/** Spark registration of the EVM function family — the reference's
  * executable-UDF bundle surface (SURVEY.md §2.D "Bundle UDFs"):
  * evm_hex_decode / evm_hex_decode_int / evm_hex_encode /
  * evm_hex_encode_int / keccak256 / evm_decode_event / evm_decode_call /
  * ethereum_rpc / ethereum_rpc_call.
  *
  * All are deterministic scalar functions except the two RPC ones, which
  * are marked nondeterministic so Catalyst neither re-executes them per
  * reference nor collapses duplicate calls away from their
  * dedupe-then-call placement (the reference's aggregate-then-RPC pattern,
  * examples/ethereum_token_erc20_balances/create_buffer.sql:37-64).
  */
object EvmFunctions {

  val evmHexDecode: UserDefinedFunction =
    udf((s: String) => if (s == null) null else Hex.decode(s))

  val evmHexDecodeInt: UserDefinedFunction =
    udf((s: String) => if (s == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(Hex.decodeLong(s)))

  val evmHexEncode: UserDefinedFunction =
    udf((b: Array[Byte]) => if (b == null) null else Hex.encode(b))

  val evmHexEncodeInt: UserDefinedFunction =
    udf((n: java.lang.Long) => if (n == null) null else Hex.encodeQuantity(n.longValue))

  val keccak256: UserDefinedFunction =
    udf((b: Array[Byte]) => if (b == null) null else Keccak256.hash(b))

  val keccak256Str: UserDefinedFunction =
    udf((s: String) => if (s == null) null else Keccak256.hash(s))

  val evmDecodeEvent: UserDefinedFunction =
    udf((topics: Seq[Array[Byte]], data: Array[Byte], fullsigs: Seq[String]) =>
      Abi.decodeEvent(topics, data, fullsigs))

  val evmDecodeCall: UserDefinedFunction =
    udf((input: Array[Byte], output: Array[Byte], fullsigs: Seq[String]) =>
      Abi.decodeCall(input, output, fullsigs))

  val ethereumRpc: UserDefinedFunction =
    udf((method: String, params: Seq[String], endpoint: String) =>
      Rpc.ethereumRpc(method, params, endpoint)).asNondeterministic()

  val ethereumRpcCall: UserDefinedFunction =
    udf((contract: String, funcSig: String, argsJson: String,
        blockNumber: Long, endpoint: String) =>
      Rpc.ethereumRpcCall(contract, funcSig, argsJson, blockNumber, endpoint))
      .asNondeterministic()

  /** Register everything for SQL use (spark.sql("… evm_hex_decode(x) …")). */
  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("evm_hex_decode", evmHexDecode)
    spark.udf.register("evm_hex_decode_int", evmHexDecodeInt)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "evm_hex_decode_big",
      exprs => org.apache.spark.sql.catalyst.expressions.Cast(
        U256ToStringExpr(EvmHexDecodeU256Expr(exprs.head)),
        org.apache.spark.sql.types.DecimalType(38, 0)),
      "built-in")
    graft.functions.U256.registerAll(spark)
    spark.udf.register("evm_hex_encode", evmHexEncode)
    spark.udf.register("evm_hex_encode_int", evmHexEncodeInt)
    spark.udf.register("keccak256", keccak256)
    spark.udf.register("keccak256_str", keccak256Str)
    spark.udf.register("evm_decode_event", evmDecodeEvent)
    spark.udf.register("evm_decode_call", evmDecodeCall)
    spark.udf.register("ethereum_rpc", ethereumRpc)
    spark.udf.register("ethereum_rpc_call", ethereumRpcCall)
  }
}
