package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digest. Evaluating it reads every output column
  * of every row, so Catalyst cannot prune work a plain `count()` would let it
  * drop (unused aggregates, projections). The rows are those of the query's
  * own physical plan, run as an RDD: an aggregate planned on top of the
  * query would let Catalyst drop every sort under it, the final ORDER BY
  * with its sampling job and range exchange included.
  *
  * Floating-point values are compared at 9 significant digits: parallel
  * aggregation sums in an order that varies run to run, and the last bits of
  * a double sum follow that order. The crawl orders scores at 1e-9 for the
  * same reason (`CrawlRound.scoreKey`); a relative cut also covers large
  * sums. Maps hash as their sorted entries.
  */
object Digest {

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      // + 0.0 folds -0.0 into 0.0
      format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case StructType(fields) if fields.exists(f => needsNorm(f.dataType)) =>
      when(c.isNotNull, struct(fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, vt, _) =>
      array_sort(map_entries(if (needsNorm(vt)) transform_values(c, (_, v) => norm(v, vt)) else c))
    case _ => c
  }

  private def needsNorm(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fields) => fields.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  /** "rows:sum" where sum is Σ xxhash64(row) mod 2^64, in hex. */
  def of(df: DataFrame): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val named = df.sparkSession.createDataFrame(df.rdd, df.toDF(names: _*).schema)
    val h = xxhash64(named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType)): _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)))
      .head()
    val total = (r.getLong(1) << 32) + r.getLong(2)
    f"${r.getLong(0)}%d:${total}%016x"
  }
}
