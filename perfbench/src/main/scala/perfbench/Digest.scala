package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array_sort, col, count, lit, map_entries, sum, xxhash64}
import org.apache.spark.sql.types.MapType

/** An order-insensitive digest of a result: its row count and the sum
  * of a 64-bit hash over all columns of each row. Columns are renamed
  * by position first, so duplicate or dotted names cannot be
  * ambiguous; a top-level map is hashed as its sorted entries, since
  * Spark refuses to hash maps. */
object Digest {
  def of(df: DataFrame): String = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val hashSum = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${r.getLong(0)}:$hashSum"
  }

  def rows(digest: String): String = digest.takeWhile(_ != ':')
}
