package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import graft.evm.Hex

/** UInt256 support (SURVEY.md §7 hard part #1). ClickHouse UInt256 has
  * 78 decimal digits; Spark's DecimalType caps at 38. Canonical form
  * here: fixed 32-byte big-endian BinaryType.
  *
  * Why binary works: Spark compares BinaryType lexicographically on
  * UNSIGNED bytes, and for equal-length big-endian unsigned integers
  * that ordering IS numeric ordering — so =, <, >, min, max, ORDER BY
  * and group-by keys are all correct on the canonical form with zero
  * custom comparators.
  *
  * The corpus's only non-monotone uses are a Float64 division
  * (balance / exp10(decimals)) and JSON round-trips — covered by
  * `u256ToDouble`/`u256ToDecimal` (lossy, documented) and
  * `u256ToString` (exact decimal string).
  */
object U256 {

  val Size = 32

  private def pad(b: Array[Byte]): Array[Byte] = {
    val src = b.dropWhile(_ == 0)
    require(src.length <= Size, s"value exceeds 256 bits (${src.length} bytes)")
    val out = new Array[Byte](Size)
    System.arraycopy(src, 0, out, Size - src.length, src.length)
    out
  }

  def fromBigInt(n: BigInt): Array[Byte] = {
    require(n >= 0, "UInt256 is unsigned")
    pad(n.toByteArray)
  }

  def toBigInt(b: Array[Byte]): BigInt = BigInt(1, b)

  /** "0x…" or decimal string → canonical 32 bytes. */
  val u256FromString: UserDefinedFunction = udf((s: String) =>
    if (s == null) null
    else if (s.startsWith("0x") || s.startsWith("0X")) pad(Hex.decode(s))
    else fromBigInt(BigInt(s)))

  val u256FromLong: UserDefinedFunction =
    udf((n: java.lang.Long) => if (n == null) null else fromBigInt(BigInt(n.longValue)))

  /** Exact decimal string (the JSON wire form used by the decoder). */
  val u256ToString: UserDefinedFunction =
    udf((b: Array[Byte]) => if (b == null) null else toBigInt(b).toString)

  /** Lossy convenience views. */
  val u256ToDouble: UserDefinedFunction =
    udf((b: Array[Byte]) => if (b == null) null
      else java.lang.Double.valueOf(toBigInt(b).toDouble))

  val u256ToDecimal: UserDefinedFunction = udf((b: Array[Byte]) =>
    if (b == null) null
    else {
      val n = toBigInt(b)
      require(n < BigInt(10).pow(38), s"value $n exceeds Decimal(38,0)")
      BigDecimal(n)
    })

  /** Modular 2^256 arithmetic (EVM semantics). */
  val u256Add: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) null
    else fromBigInt((toBigInt(a) + toBigInt(b)) & ((BigInt(1) << 256) - 1)))

  val u256Sub: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) null
    else fromBigInt((toBigInt(a) - toBigInt(b)) & ((BigInt(1) << 256) - 1)))

  val u256Mul: UserDefinedFunction = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) null
    else fromBigInt((toBigInt(a) * toBigInt(b)) & ((BigInt(1) << 256) - 1)))

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("u256_from_string", u256FromString)
    spark.udf.register("u256_from_long", u256FromLong)
    spark.udf.register("u256_to_string", u256ToString)
    spark.udf.register("u256_to_double", u256ToDouble)
    spark.udf.register("u256_to_decimal", u256ToDecimal)
    spark.udf.register("u256_add", u256Add)
    spark.udf.register("u256_sub", u256Sub)
    spark.udf.register("u256_mul", u256Mul)
  }
}
