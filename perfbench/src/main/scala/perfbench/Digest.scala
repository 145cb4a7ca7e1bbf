package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Row count and an order-insensitive hash over every output column.
  *
  * Computing the hash consumes every column of every row, so the optimizer
  * cannot prune output work the way a bare `count()` lets it (a `count()`
  * over a projection never evaluates the projected expressions). The hash
  * combines the decimal sum and the xor of each row's 64-bit hash. */
object Digest {
  final case class Value(rows: Long, hash: String)

  def of(df: DataFrame): Value = {
    // positional names: outputs may carry duplicate or dotted column names
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      // Spark refuses to hash maps; their JSON form is deterministic
      if (hasMap(f.dataType)) to_json(col(f.name))
      else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .head()
    val sumPart = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xorPart = if (r.isNullAt(2)) 0L else r.getLong(2)
    Value(r.getLong(0), s"$sumPart:$xorPart")
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }
}
