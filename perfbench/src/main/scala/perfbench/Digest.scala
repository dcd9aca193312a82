package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content digests: row count plus the sum of a
  * 64-bit hash of every row, so the same multiset of rows gives the
  * same digest however it is partitioned or ordered. */
object Digest {

  /** A hashable form of one column: map entries are sorted (map
    * iteration order is not part of the content), and nested types
    * that hold maps go through JSON of that sorted form. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case _: MapType => to_json(array_sort(map_entries(c)))
    case a: ArrayType if holdsMap(a) => to_json(c)
    case s: StructType if holdsMap(s) => to_json(c)
    case _ => c
  }
  private def holdsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => holdsMap(a.elementType)
    case s: StructType => s.fields.exists(f => holdsMap(f.dataType))
    case _ => false
  }

  /** The per-row hash over every column, in column-name order. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name)
      .map(f => canon(col(s"`${f.name}`"), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
  }

  /** The two aggregates of a digest, for `select` or `observe`. */
  def aggregates(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(rowHash(df).cast(DecimalType(38, 0))),
      lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("hash"))

  /** `rows:hash` of a frame, computed in one job. */
  def of(df: DataFrame): String = {
    val r = df.select(aggregates(df): _*).head()
    s"${r.getLong(0)}:${r.getDecimal(1)}"
  }

  def fromRow(rows: Long, hash: java.math.BigDecimal): String =
    s"$rows:$hash"
}
