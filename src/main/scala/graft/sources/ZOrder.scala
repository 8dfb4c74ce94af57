package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order clustered parquet writes: multi-dimensional data skipping —
  * the 100 TB lever that costs nothing at query time. Parquet keeps
  * per-row-group min/max statistics, and a single-column sort
  * (`Ingest.writeClusteredParquet`) makes them selective for ONE leading
  * dimension only. The Z-ORDER (Morton) curve interleaves the bit planes
  * of two bucketed keys, so every contiguous key range maps to a small
  * rectangle in (x, y) space, and every file and row group written in
  * curve order has a narrow min/max range in BOTH dimensions: 2-D box
  * predicates skip most of them (Morton 1966; the lakehouse
  * `OPTIMIZE ZORDER BY` recipe).
  *
  * Dimensions enter already bucketed into [0, 2^bits); callers map raw
  * values with whatever bucketing fits (modulo for ids, fixed width for
  * amounts, epoch-day for dates). [[zkey]] is pure shifts/masks — fully
  * codegen'd, no UDF — and [[zkeySql]] is its SQL twin for oracles.
  * LayoutSpec pins the bijection against a driver-side reference, the
  * locality bound (each 2^(2k)-sized key block confines x and y to
  * 2^k-wide quadrants) and the file-skipping win; IngestSpec pins the
  * 16-bit interleave and the write's per-file ranges.
  */
object ZOrder {

  /** Morton/Z-order interleave of the low `bits` bits of `x` and `y`:
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    */
  def zkey(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      val mask = 1L << i
      shiftleft(x.bitwiseAND(lit(mask)), i) +
        shiftleft(y.bitwiseAND(lit(mask)), i + 1)
    }.reduce(_ + _)
  }

  /** SQL text of the same interleave (for oracle generation): DuckDB and
    * Spark SQL agree on `&` and `<<` over BIGINT.
    */
  def zkeySql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      val mask = 1L << i
      s"((($x) & $mask) << $i) + ((($y) & $mask) << ${i + 1})"
    }.mkString(" + ")

  /** Write `df` as `parts` parquet files clustered on the Z-order curve
    * of the two bucketed key columns: range-partition by the key, sort
    * within each file so row-group stats are tight on both dimensions,
    * drop the helper column.
    */
  def writeZOrdered(df: DataFrame, x: Column, y: Column, bits: Int,
      parts: Int, dir: String): Unit = {
    require(parts > 0, s"parts must be positive, got $parts")
    df.withColumn("__zkey", zkey(x, y, bits))
      .repartitionByRange(parts, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(dir)
  }
}
