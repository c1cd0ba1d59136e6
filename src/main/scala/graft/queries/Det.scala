package graft.queries

import org.apache.spark.sql.{Column, DataFrame}

/** Determinism conventions for the oracle-checked query surface.
  *
  * The driver hash-compares Spark results against DuckDB running the same
  * SQL, sorting columns by name. Cross-engine rules used by every query:
  *  - derived integers (count, rank, length, floor, …) cast to BIGINT on
  *    both sides (Spark would otherwise emit INT where DuckDB emits BIGINT);
  *  - floating-point outputs are quantized to BIGINT basis points
  *    (value × 10000, half-up) on both sides — NO DECIMAL column may reach
  *    a hash-checked output: the driver's hash canonicalizes trailing-zero
  *    decimals (X.XX00) asymmetrically between the Spark parquet read and
  *    the DuckDB result, so equal decimal VALUES can still hash-mismatch.
  *    Exact decimal arithmetic stays internal; only the final projection
  *    scales it out to an integer;
  *  - every result ORDER BYs a non-null unique key (avoids the engines'
  *    NULLS FIRST/LAST default divergence);
  *  - timestamps leave the query as formatted strings or DATEs, never raw
  *    TIMESTAMP columns.
  */
object Det {
  /** Basis-point output contract: quantize to 4 decimals (HALF_UP, the
    * same boundary the previous DECIMAL(18,4) contract used) and emit the
    * ×10000 integer. Width 27: large enough that no value a BIGINT bp can
    * represent (≤ ~9.2×10¹⁴) overflows the intermediate — oracle twins
    * widen their sums to DECIMAL(38,4) for the same reason — while
    * 27+11 = 38 keeps Spark's product type exact (wider would exceed
    * precision 38 and trigger scale-loss rounding). Values beyond the
    * BIGINT bp range fail loudly on BOTH engines rather than diverging.
    * Oracle twin: `CAST(CAST(x AS DECIMAL(38,4)) * 10000 AS BIGINT)`. */
  def bp4(c: Column): Column =
    (c.cast("decimal(27,4)") * 10000).cast("bigint")

  /** Exact integer cents of a 2-decimal double under any aggregation
    * order — THE shared building block of every cross-engine exact sum /
    * mean (sum in cents is associative; doubles are not). Oracle twin:
    * `sum(CAST(round(x * 100) AS BIGINT))`. */
  def centsSum(c: Column): Column =
    org.apache.spark.sql.functions.sum(
      org.apache.spark.sql.functions.round(c * 100, 0).cast("long"))

  /** Cross-engine exact mean in basis points from integer cents: one
    * IEEE double division of identical integers (deterministic on both
    * engines), then the bp4 quantization. Oracle twin:
    * `CAST(CAST(CAST(<cents> AS DOUBLE) / CAST(<n> * 100 AS DOUBLE)
    *  AS DECIMAL(18,4)) * 10000 AS BIGINT)`. */
  def meanBpFromCents(cents: Column, n: Column): Column =
    bp4(cents.cast("double") / (n * 100).cast("double"))

  /** Normalize derived integer width across engines. */
  def big(c: Column): Column = c.cast("bigint")

  /** Total order on the given (non-null, collectively unique) key columns. */
  def ordered(df: DataFrame, keys: String*): DataFrame =
    df.orderBy(keys.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
}
