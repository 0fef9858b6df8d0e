package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a result: row count plus the sum
  * (low 32 bits per row) and xor of a 64-bit hash of every row. Floating
  * values enter the hash at 6 significant digits, the precision the
  * DuckDB oracle comparison uses, so a last-bit difference in a float
  * sum does not read as a wrong answer. Two fingerprints match only when
  * all three parts are equal.
  */
final case class Fingerprint(rows: Long, sum: Long, xor: Long) {
  override def toString: String = s"rows=$rows sum=$sum xor=$xor"
}

object Fingerprint {
  /** Recorded fingerprints, relative to the repository root. */
  val DefaultPath = "perfbench/fingerprints.json"

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c.isNull, lit(null).cast(StringType))
        .when(isnan(c.cast(DoubleType)), lit("NaN"))
        .otherwise(format_string("%.6g", c.cast(DoubleType)))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  def of(df: DataFrame): Fingerprint = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => norm(col(f.name), f.dataType)).toIndexedSeq
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def load(path: String): Map[String, Fingerprint] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get("gates")
    val b = Map.newBuilder[String, Fingerprint]
    root.properties().forEach { e =>
      val v = e.getValue
      def part(k: String) = Option(v.get(k)).filter(_.canConvertToLong).map(_.asLong())
        .getOrElse(sys.error(s"$path: ${e.getKey} has no integer \"$k\""))
      b += e.getKey -> Fingerprint(part("rows"), part("sum"), part("xor"))
    }
    b.result()
  }
}
