package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One engine capability exposed through the driver's contract: a Spark
  * implementation plus (where ANSI-expressible) an equivalent DuckDB SQL
  * oracle over the same parquet tables.
  */
final case class GraftQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  /** The query's DataFrame, built in its own [[QueryScope]]: whatever the
    * build persists is released once the result is materialized. */
  def run(spark: SparkSession, dir: String): DataFrame = QueryScope(spark)(build(spark, dir))
}

/** Shared helpers that keep Spark and DuckDB bit-identical.
  *
  * Cross-engine float determinism: double SUM/AVG depend on accumulation
  * order, which differs between engines. All money/metric columns in the
  * test data carry exactly 2 decimals, so `CAST(x AS DECIMAL(18,2))`
  * before aggregating is lossless; decimal aggregation is exact in both
  * engines, and the final `CAST(... AS DOUBLE)` is correctly rounded and
  * therefore bit-identical. Integer-ratio divisions are done in IEEE
  * double (exact same result both sides).
  */
object QueryDsl {
  /** Lossless 2-decimal fixed-point view of a double column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec(name: String): Column = dec(col(name))

  /** `SUM(dec(c))` surfaced as a deterministic double. */
  def sumDec(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Deterministic average: exact decimal sum, then one double division. */
  def avgDec(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(lit(1))

  /** `1 - discount` in exact decimals (TPC-H revenue term). */
  def oneMinus(c: Column): Column = lit(1).cast(DecimalType(18, 2)) - dec(c)

  /** Common DuckDB SQL fragments, mirrored by the helpers above. */
  val SUM_DISC_PRICE =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  /** Cross-engine deterministic 60-bit hash: the first 15 hex chars of
    * md5(input string), parsed as an integer. Always positive, < 2^60
    * (so products with small constants never overflow a signed 64-bit
    * integer in EITHER engine — the wrap-on-overflow vs error-on-
    * overflow divergence is what breaks naive `id * bigPrime` mixes at
    * 100 TB id ranges), and computable bit-identically in DuckDB. Use
    * this — not xxhash64 (absent in DuckDB) and not raw integer
    * multiplies — wherever hashed values must match the oracle. */
  def crossHash60(c: Column): Column =
    // codegen kernel (r18): md5 digest bits assembled directly instead
    // of the conv(substring(md5(...), 1, 15), 16, 10) chain, whose
    // hex-encode + substring + string-parse dominated per-token hash
    // sites (q111's 2x ~5M calls at sf0.1). Bit-identical — the kernel
    // reads the same top 60 bits of the same md5 of the same UTF-8
    // bytes; GraftExtensionsSpec pins kernel == SQL == Jvm three ways.
    graft.functions.expr.DedupExpressions.crossHash60One(c.cast(StringType))

  /** DuckDB twin of [[crossHash60]] over a SQL expression string. */
  def crossHash60Sql(expr: String): String =
    s"CAST(concat('0x', substr(md5(CAST($expr AS VARCHAR)), 1, 15)) AS BIGINT)"

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM twin of [[crossHash60]] for typed per-row kernels (q188's
    * fused duplicate-n-gram pass): the first 15 hex chars of
    * md5(UTF-8 bytes) are the top 60 bits of the digest — 7 full bytes
    * plus the high nibble of byte 7 — parsed as a non-negative long.
    * Bit-identical to the Column/SQL forms (GraftExtensionsSpec pins
    * the three-way equality). */
  def crossHash60Jvm(s: String): Long = {
    val d = md5Local.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }
}
