package graft.func

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared expression helpers.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql
  * .functions` and is chosen for *oracle parity*: the DuckDB oracle
  * evaluates the same arithmetic, so results must be bit-identical.
  *
  *  - Money goes through DecimalType (exact, associative addition —
  *    safe under any partitioning / AQE reordering at 100 TB), like the
  *    reference's BigDecimal amounts (reference
  *    gmall-time/.../bean/OrderWide.java:19-34).
  *  - Ratios use floor-scaling instead of round(): IEEE double division
  *    is deterministic, round() tie-breaking across engines is not.
  *  - Tumbling windows are exposed as epoch-second window starts
  *    (BIGINT) rather than engine-specific window structs (reference
  *    10 s tumble: gmall-time/.../app/dws2/VisitorStatsApp.java:213).
  */
object Exprs {
  /** Exact money value: DECIMAL(18,2), mirroring CAST(x AS DECIMAL(18,2)). */
  def money(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Epoch millis of any timestamp flavor. Parquet `timestamp[ms]`
    * columns (orders/lineitem dates) infer as TIMESTAMP_NTZ in Spark 4
    * and `unix_millis` rejects NTZ; the explicit cast routes through
    * TIMESTAMP, and the session TZ is UTC so NTZ→TZ is the identity
    * instant — matching DuckDB's `epoch_ms` on naive timestamps. */
  def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** Money as integer minor units (cents, BIGINT). DECIMAL(18,2) × 100 is
    * an exact integer, so the cast truncates nothing — and downstream
    * sums become plain LONG aggregates (map-side combinable, no decimal
    * accumulator state). This is the OUTPUT-BOUNDARY form: decimal stays
    * the internal math type, integers cross the engine boundary, because
    * decimal rendering (trailing zeros: `5.10` vs `5.1`) differs between
    * engines while integers render identically everywhere.
    * Oracle equivalent: CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT). */
  def cents(c: Column): Column = (money(c) * 100).cast("long")

  /** Money sum in integer cents (BIGINT).
    * Oracle: CAST(sum(CAST(CAST(x AS DECIMAL(18,2))*100 AS BIGINT)) AS BIGINT)
    * — the outer CAST because DuckDB widens sum(BIGINT) to HUGEINT. */
  def sumCents(c: Column): Column = sum(cents(c))

  /** Tumbling-window start in epoch seconds (BIGINT).
    * Oracle equivalent: CAST(floor(epoch(ts)/N)*N AS BIGINT). */
  def tumbleStart(ts: Column, seconds: Long): Column =
    (floor(unix_timestamp(ts) / seconds) * seconds).cast("long")

  /** Deterministic fixed-point ratio: floor(num * scale / den) / scale as
    * DOUBLE, 0 when den = 0 (reference zero-guard:
    * gmall-time/.../bean/VisitorStats.java:37-66).
    * Oracle equivalent: CASE WHEN den=0 THEN 0.0 ELSE
    * floor(num * scale / den) / scale END. */
  def ratio(num: Column, den: Column, scale: Long = 100L): Column =
    when(den === 0, lit(0.0))
      .otherwise(floor(num.cast("double") * scale / den.cast("double")) / scale)

  /** Exact floor-division of non-negative decimals. Spark's `div`
    * only accepts integral types, and plain decimal `/` rounds to the
    * result scale — but (a - a % b) is exactly divisible by b, so the
    * division result IS an integer and survives the rounding exactly.
    * One comparison-free expression, stays in codegen. DuckDB twin:
    * HUGEINT `//`. */
  def decimalFloorDiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("decimal(38,0)")

  /** Integer value of the first `n` hex nibbles of md5(`key`) — the
    * Spark half of the hash trick [[OracleSql.hexNibbles]] states for
    * DuckDB; keep the two in sync. ONE decode for every operator that
    * hashes by md5 (hash splits, shard keys, sampling verdicts,
    * sketch cells, minhash values) so a nibble width cannot drift per
    * call site. Exact for n ≤ 15 (60 bits < a BIGINT). */
  def md5Nibbles(key: Column, n: Int): Column = {
    require(n >= 1 && n <= 15, s"nibbles $n not in 1..15")
    conv(substring(md5(key), 1, n), 16, 10).cast("long")
  }

  /** Deterministic md5 bucket: [[md5Nibbles]] of md5(salt ++ id),
    * mod `mod`, so a salt change cannot drift per call site either.
    * Modulo bias is (2^(4·nibbles) mod `mod`) / 2^(4·nibbles) relative
    * — pick nibbles so that is negligible for the use (4 → ~10⁻³ for
    * mod 100; 10 → ~10⁻⁶ for mod 10⁶). */
  def md5Bucket(id: Column, salt: String, nibbles: Int, mod: Long): Column = {
    val key = if (salt.isEmpty) id.cast("string")
      else concat(lit(salt), id.cast("string"))
    md5Nibbles(key, nibbles) % mod
  }
}
