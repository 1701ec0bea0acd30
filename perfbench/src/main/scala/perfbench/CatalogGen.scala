package perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeds the catalog database a workload rebalances.
  *
  * Two shapes: the fixture corpus (one table per parquet file), which query
  * workloads rebalance after their queries, and `many` (`ManyTables` small
  * tables of one schema, a pure function of the seed). Every table's first
  * column is its shard key.
  */
object CatalogGen {

  /** The `many` catalog's size. Each table is sized like a typical small
    * table of the fixture catalog: 1,750 rows is the median row count of the
    * ten sf0.01 fixture tables, and the key takes up to 150 values, the
    * number of users in the fixture `events` table.
    */
  val ManyTables = 20
  val ManyRows = 1750L
  val ManyKeys = 150L

  /** Uniform on [0, 1), a pure function of (row id, seed, salt). */
  def uniform(seed: Long, salt: Int): Column =
    xxhash64(col("id"), lit(seed), lit(salt)).bitwiseAND((1L << 52) - 1)
      .cast("double") / (1L << 52).toDouble

  /** A Zipf(1) key over 1..keys: P(k) = log((k+1)/k) / log(keys+1). Key
    * values do not depend on the seed, so the hot keys hash to the same
    * shards under every seed and the shard skew measures sampling, not luck.
    */
  def zipfKey(u: Column, keys: Long): Column =
    floor(pow(lit(keys + 1.0), u)).cast("long")

  /** Generated table number `table`: a Zipf key, a row id, a double, a string. */
  def small(spark: SparkSession, seed: Long, table: Int, rows: Long, keys: Long): DataFrame =
    spark.range(0L, rows, 1L, 1).select(
      zipfKey(uniform(seed + table, 9), keys).as("k"),
      col("id").as("row_id"),
      round(uniform(seed + table, 10) * 100, 3).as("v"),
      hex(xxhash64(col("id"), lit(seed + table), lit(11))).as("s"))

  /** The catalog's tables as (name, frame): the fixture corpus under
    * `fixtures` when given, else the `many` catalog. The frames are the
    * ground truth the rebalanced tables are checked against.
    */
  def sources(spark: SparkSession, seed: Long,
      fixtures: Option[String]): Seq[(String, DataFrame)] =
    fixtures match {
      case Some(dir) =>
        val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
        require(files.nonEmpty, s"no fixture tables under $dir")
        files.map(f => f.getName.stripSuffix(".parquet") -> spark.read.parquet(f.getAbsolutePath))
      case None =>
        (0 until ManyTables).map(i => f"t$i%03d" -> small(spark, seed, i, ManyRows, ManyKeys))
    }

  /** Seeds `db` (which must exist) with `sources`. Fixture files become
    * external tables: registering them is metadata only, and dropping the
    * renamed-away originals after the first rebalance pass leaves the files
    * in place. Generated frames are written as managed tables, four at a
    * time.
    */
  def seed(spark: SparkSession, db: String,
      sources: Seq[(String, DataFrame)], fixtures: Option[String]): Unit =
    fixtures match {
      case Some(dir) => sources.foreach { case (name, _) =>
        spark.catalog.createTable(s"$db.$name",
          new java.io.File(dir, s"$name.parquet").getAbsolutePath, "parquet")
      }
      case None =>
        val pool = Executors.newFixedThreadPool(4)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val jobs = sources.map { case (name, df) =>
            Future(df.write.mode(SaveMode.Overwrite).saveAsTable(s"$db.$name"))
          }
          Await.result(Future.sequence(jobs), Duration.Inf)
        } finally pool.shutdown()
    }
}
