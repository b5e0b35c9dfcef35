package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering: the lake-layout trick for making
  * multi-dimensional box predicates prunable by ONE sort key.
  *
  * A linear sort on `x` clusters `x` ranges but scatters `y`; a z-order
  * sort interleaves the bits of both dimensions so rows close in (x, y)
  * are close in z. Writing the table range-partitioned by z
  * ([[LakeTxn.appendCommitZorder]], [[LakeTxn.optimizeZorder]]) means a
  * box predicate `x BETWEEN x1 AND x2 AND y BETWEEN y1 AND y2` touches
  * only the files whose z range intersects `[z(x1,y1), z(x2,y2)]` — the
  * standard data-skipping layout Delta/Iceberg expose as
  * `OPTIMIZE ZORDER BY`, built here from plain Spark bit expressions
  * (codegen'd, no UDF).
  *
  * All arithmetic is integer-exact and engine-portable: quantization uses
  * the exact-cents pattern (scaled BIGINT), and the interleave is a fixed
  * fan of `&`/`<<`/`|` terms any SQL engine reproduces bit-for-bit.
  */
object Zorder {

  /** Interleave the low `bits` bits of two longs: bit i of `x` lands at
    * position 2i, bit i of `y` at 2i+1. Monotone in each coordinate with
    * the other fixed, so the z of a box's min/max corners bounds the z of
    * every point inside — the property pruning relies on. Out-of-domain
    * coordinates SATURATE to the domain edge (never bit-alias): a
    * saturated point still sorts to the correct curve end, and readers
    * saturating their box corners identically keep pruning sound. */
  def zInterleave(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val top = lit((1L << bits) - 1)
    val cx = greatest(lit(0L), least(x.cast("long"), top))
    val cy = greatest(lit(0L), least(y.cast("long"), top))
    (0 until bits).map { i =>
      shiftleft(cx.bitwiseAND(lit(1L << i)), i)
        .bitwiseOR(shiftleft(cy.bitwiseAND(lit(1L << i)), i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Map a long column with known [cmin, cmax] bounds onto [0, 2^bits).
    * Shape note: the scaled numerator stays below 2^53 for any realistic
    * range (needs (cmax-cmin)·2^bits < 2^53), so the double division is
    * exact-input and `floor` lands identically in every IEEE engine. */
  def quantize(c: Column, cmin: Column, cmax: Column, bits: Int = 16): Column = {
    val top = lit((1L << bits) - 1)
    when(cmax === cmin, lit(0L))
      .otherwise(floor((c - cmin) * top / (cmax - cmin)).cast("long"))
  }

  /** Attach a `zvalue` column interleaving two long dimensions, bounds
    * computed in one aggregate and broadcast (a single-row join — no
    * shuffle of the fact table). */
  def zValues(df: DataFrame, xCol: Column, yCol: Column, bits: Int = 16): DataFrame = {
    val bounds = df.agg(
      min(xCol).as("__xmin"), max(xCol).as("__xmax"),
      min(yCol).as("__ymin"), max(yCol).as("__ymax"))
    val joined = df.crossJoin(broadcast(bounds))
    joined.withColumn("zvalue",
        zInterleave(
          quantize(xCol, col("__xmin"), col("__xmax"), bits),
          quantize(yCol, col("__ymin"), col("__ymax"), bits)))
      .drop("__xmin", "__xmax", "__ymin", "__ymax")
  }

  /** Driver-side scalar twin of [[zInterleave]] — saturates
    * identically; the reference model ZorderSpec checks the column
    * interleave against. */
  def zOf(x: Long, y: Long, bits: Int = 16): Long = {
    val top = (1L << bits) - 1
    val cx = math.max(0L, math.min(x, top))
    val cy = math.max(0L, math.min(y, top))
    (0 until bits).map { i =>
      ((cx & (1L << i)) << i) | ((cy & (1L << i)) << (i + 1))
    }.reduce(_ | _)
  }

  /** The matching DuckDB expression for [[zInterleave]] over columns
    * `qx`/`qy` — the oracle reproduces the interleave term-for-term. */
  def interleaveSql(qx: String, qy: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"(($qx & ${1L << i}) << $i) | (($qy & ${1L << i}) << ${i + 1})"
    }.mkString(" | ")
}
