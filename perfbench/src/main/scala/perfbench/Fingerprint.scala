package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DataType

/** Order-insensitive fingerprint of a query result: the row count and
  * the wrapping sum of a 64-bit hash of every row, where each value is
  * first put in a canonical text form (doubles to 9 significant
  * digits, so a different summation order cannot change it).
  *
  * It runs over `queryExecution.toRdd` of the already planned frame, so
  * the action executes the plan that was timed as "plan" once, and
  * reads every output column — unlike `count()`, which lets the
  * optimizer prune columns. */
object Fingerprint {

  /** Query outputs are scalar columns (the DuckDB oracle comparison
    * admits no list or decimal columns), so a value's text form is its
    * canonical form, except for floating point. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case _ => v.toString
  }

  private def num(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else String.format(java.util.Locale.ROOT, "%.8e", Double.box(d))

  private def field(r: InternalRow, i: Int, dt: DataType): String =
    canon(if (r.isNullAt(i)) null else r.get(i, dt))

  def rowHash(r: InternalRow, types: Array[DataType]): Long = {
    val sb = new StringBuilder
    var i = 0
    while (i < types.length) {
      sb.append(field(r, i, types(i))).append('\u0001')
      i += 1
    }
    val s = sb.toString
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x5f3759df)
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  /** (rows, hash sum) of `df`'s executed plan. */
  def of(df: DataFrame): String = {
    val types = df.schema.fields.map(_.dataType)
    val (n, h) = df.queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r => n += 1; h += rowHash(r, types) }
        Iterator((n, h))
      }
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    s"$n:${java.lang.Long.toHexString(h)}"
  }
}
