package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Projection / scalar-expression operators of the decode surface
  * (SURVEY.md §2.2, OP-11/13..OP-17; OP-10, OP-12, OP-18 and OP-19 are
  * spelled inline by their queries). Each is a pure Catalyst expression or a
  * narrow projection — no shuffles, no state — so whole chains fuse into a
  * single WholeStageCodegen region and scale linearly with input partitions.
  *
  * ANSI note: Spark 4 defaults to ANSI mode where out-of-range array
  * subscripts throw; the reference (Spark 2.3, PERMISSIVE) returned null.
  * We use `get()` / `try_element_at`-style accessors to keep the
  * null-on-missing contract without disabling ANSI globally.
  */
object Decode {

  /** OP-11+13 fused: cast+parse+expand in one projection. */
  def parseAndExpand(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value").cast("string"), schema).as("v"))
      .select(col("v.*"))

  /** OP-14: `zSetEntries[0].element` — first element of an array-of-structs,
    * then struct field. `get` (not `[0]`) so an empty array yields null
    * under ANSI instead of erroring. */
  def firstArrayField(arr: Column, field: String): Column =
    get(arr, lit(0)).getField(field)

  /** OP-15: base64 string → binary → UTF-8 string. */
  def decodeBase64(c: Column): Column = unbase64(c).cast("string")

  /** OP-15 inverse (imported-but-unused in the reference; provided for
    * round-trip tests): UTF-8 string → base64 string. */
  def encodeBase64(c: Column): Column = base64(c.cast("binary"))

  /** OP-16: null-rejection filter on required fields. */
  def requireNonNull(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.filter(col(c).isNotNull))

  /** OP-17: `split(birthDay,'-')[0]` — year of a YYYY-MM-DD string.
    * split always returns ≥1 element, so index 0 is ANSI-safe. */
  def yearOf(birthDay: Column): Column = split(birthDay, "-").getItem(0)
}
