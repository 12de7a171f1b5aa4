package perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count and order-independent checksum of a query's whole output.
  *
  * The action that computes them is the timed action: every output column
  * feeds the row hash, so column pruning cannot skip work the way a
  * `count()` does. The checksum is the wrapping sum of per-row `xxhash64`
  * values, so row order and partitioning do not change it. Floating-point
  * values are hashed at single precision, which absorbs last-bit
  * differences from summation order; maps are hashed as key-sorted entry
  * arrays because Spark does not hash map values. */
object Checksum {

  final case class Result(rows: Long, sum: Long, qe: QueryExecution)

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  private def norm(c: Column, dt: DataType): Column =
    if (!needsNorm(dt)) c
    else dt match {
      case DoubleType | FloatType => c.cast(FloatType)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case StructType(fs) =>
        when(c.isNull, lit(null)).otherwise(struct(fs.toSeq.map(f =>
          norm(c.getField(f.name), f.dataType).as(f.name)): _*))
      case MapType(kt, vt, _) =>
        norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
          StructField("key", kt), StructField("value", vt)))))
    }

  def run(df: DataFrame): Result = {
    val named = df.toDF(df.schema.indices.map(i => s"c$i"): _*)
    val hashed = named.select(xxhash64(named.schema.fields.toSeq.map(f =>
      norm(col(f.name), f.dataType)): _*))
    val partials = hashed.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += r.getLong(0) }
      Iterator((n, s))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    val parts = partials.collect()
    Result(parts.map(_._1).sum, parts.map(_._2).sum, partials.queryExecution)
  }
}
