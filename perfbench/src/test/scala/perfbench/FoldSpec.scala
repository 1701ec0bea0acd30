package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FoldSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def frame = spark.range(0, 2000, 1, 3).select(
    col("id"),
    (col("id") % 7).cast("int").as("small"),
    when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 0.5).as("maybe"),
    concat(lit("s"), col("id").cast("string")).as("s"),
    array(col("id"), col("id") + 1).as("arr"),
    map(col("id") % 3, col("id")).as("m"),
    struct(col("id").as("a"), lit("x").as("b")).as("st"))

  test("the fold does not depend on row order or partitioning") {
    val base = Fold.of(frame)
    assert(base.rows == 2000)
    assert(Fold.of(frame.orderBy(desc("id"))) == base)
    assert(Fold.of(frame.repartition(7, col("small"))) == base)
    assert(Fold.of(frame.coalesce(1)) == base)
    assert(Fold.of(frame.select(frame.columns.map(col): _*).unionByName(frame.limit(0))) == base)
  }

  test("the fold reads every column and counts duplicate rows") {
    val base = Fold.of(frame)
    assert(Fold.of(frame.withColumn("st", struct(col("id").as("a"), lit("y").as("b")))) != base)
    assert(Fold.of(frame.withColumn("m", map(col("id") % 3, col("id") + 1))) != base)
    assert(Fold.of(frame.union(frame.limit(1))) != base)
  }

  test("duplicate output column names do not make the fold ambiguous") {
    val df = spark.range(10).select(col("id"), col("id"))
    assert(Fold.of(df).rows == 10)
  }
}
