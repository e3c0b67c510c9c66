package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digest: row count plus the sum of a 64-bit
  * hash of each canonicalized row. Every output column feeds the hash, so
  * the timed action materializes everything a user of the operator would
  * read (a `count()` lets column pruning skip work), and the same value is
  * the correctness check against the committed references.
  *
  * Canonical forms: floating values print with 5 significant digits
  * (parallel sums differ in the last bits between runs) and magnitudes
  * under 1e-9 read as 0; arrays and maps are sorted, since collect_list
  * and map order follow the shuffle; nulls get a sentinel so adjacent
  * columns cannot trade places. */
object Digest {
  final case class Value(rows: Long, hash: java.math.BigDecimal) {
    def render: String = s"$rows:${hash.toPlainString}"
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType | _: DecimalType =>
      val d = c.cast(DoubleType)
      when(d.isNaN, lit("NaN"))
        .when(abs(d) < 1e-9, lit("0"))
        .otherwise(format_string("%.4e", d))
    case ArrayType(et, _) =>
      concat(lit("["), array_join(array_sort(transform(c, x => coalesce(canon(x, et), lit("\u0001")))), ","), lit("]"))
    case MapType(kt, vt, _) =>
      canon(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case StructType(fs) =>
      concat(lit("{"), concat_ws(",", fs.toSeq.map(f =>
        coalesce(canon(c.getField(f.name), f.dataType), lit("\u0001"))): _*), lit("}"))
    case BinaryType => base64(c)
    case _ => c.cast(StringType)
  }

  /** The digest DataFrame (one row: n, h); collecting it is the action. */
  def frame(out: DataFrame): DataFrame = {
    // positional names: operator outputs may repeat a column name
    val df = out.toDF(out.columns.indices.map(i => s"c$i"): _*)
    val row = concat_ws("\u0002", df.schema.fields.toSeq.map(f =>
      coalesce(canon(col(f.name), f.dataType), lit("\u0001"))): _*)
    df.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("h"))
  }

  def compute(df: DataFrame): Value = {
    val r = frame(df).collect().head
    Value(r.getLong(0), r.getDecimal(1))
  }
}
