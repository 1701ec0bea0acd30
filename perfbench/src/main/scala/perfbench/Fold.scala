package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** An order- and partition-independent fingerprint of a frame's content.
  *
  * Every output column feeds a per-row `xxhash64`, and the hashes are summed
  * in two 32-bit halves, so the fold consumes every column (unlike `count()`,
  * which lets the optimizer prune them) while the result depends only on the
  * multiset of rows. The halves keep each sum far from `Long` overflow, which
  * ANSI mode would raise as an error.
  */
object Fold {
  final case class Print(rows: Long, hi: Long, lo: Long)

  /** `df` reduced to one column `h`, its per-row hash. Columns are renamed
    * by position first so duplicate output names cannot make a reference
    * ambiguous; map columns hash their sorted entries, since map iteration
    * order is not part of a map's value.
    */
  def hashed(df: DataFrame): DataFrame = {
    val d = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(d.col(f.name)))
        case _ => d.col(f.name)
      }
    }
    d.select((if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("h"))
  }

  /** Row count and the two half-sums of the hash column `h`. */
  val aggs: Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"),
    coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)).as("lo"))

  def of(df: DataFrame): Print = {
    val r = hashed(df).agg(aggs.head, aggs.tail: _*).head()
    Print(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
