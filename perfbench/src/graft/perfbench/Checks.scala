package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output checksums, the `graft.CheckSums` method: row
  * count, bit_xor and decimal sum of the per-row xxhash64 of each row's JSON
  * rendering. Floating-point values are rounded first, so results that
  * differ only in summation order (partition count, task scheduling) hash
  * alike.
  */
object Checks {

  /** Decimal places kept for double and float values. */
  val DoubleDigits = 6
  val FloatDigits = 4

  /** `c` with every floating-point value inside it rounded. */
  private[perfbench] def rounded(c: Column, t: DataType): Column = t match {
    case DoubleType => round(c, DoubleDigits)
    case FloatType => round(c.cast("double"), FloatDigits)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => rounded(x, et))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType)) =>
      struct(fs.map(f => rounded(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) if hasFloat(vt) =>
      map_from_entries(transform(map_entries(c), e =>
        struct(e.getField("key").as("key"), rounded(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(_, vt, _) => hasFloat(vt)
    case _ => false
  }

  /** `rows/xor/sum` of `df`, independent of row order and partitioning. */
  def checksum(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq.map(f => rounded(col(s"`${f.name}`"), f.dataType).as(f.name))
    val r = df.select(to_json(struct(cols: _*)).as("j"))
      .select(xxhash64(col("j")).as("h"))
      .agg(count(lit(1)),
        coalesce(expr("bit_xor(h)"), lit(0L)),
        coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .collect()(0)
    s"${r.getLong(0)}/${r.getLong(1)}/${r.getDecimal(2)}"
  }
}
