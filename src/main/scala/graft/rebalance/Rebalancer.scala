package graft.rebalance

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's bulk-redistribution operator — the Spark-native form of the
  * reference's single data-path operation, `INSERT INTO db.canonical SELECT *
  * FROM db.versioned` (reference `sharding_recreation.py:145-161`), which in
  * ClickHouse re-scatters every row across an enlarged cluster by the
  * distributed table's sharding expression.
  *
  * Spark-first design:
  *   - the scatter is a single `repartition(shards, expr)` →
  *     `ShuffleExchangeExec` — one shuffle stage, no driver materialization;
  *   - the reference's non-atomic INSERT (a crash mid-insert leaves partial
  *     data, `sharding_recreation.py:159-160`) is fixed by writing to a
  *     staging path and swapping directories with metadata-only renames, so
  *     the destination always fronts either complete-old or complete-new data;
  *   - at 100 TB the shuffle is the only data movement; AQE handles skewed
  *     shard keys and coalesces small post-shuffle partitions. Round-robin
  *     mode mirrors ClickHouse `rand()` sharding.
  */
object Rebalancer {

  sealed trait Distribution
  /** hash-scatter by key, ClickHouse `sipHash64(key) % shards` analogue */
  final case class ByHash(key: String) extends Distribution
  /** contiguous key ranges per shard (sorted layout, range pruning) */
  final case class ByRange(key: String) extends Distribution
  /** round-robin, ClickHouse `rand()` sharding analogue */
  case object RoundRobin extends Distribution

  /** `df` laid out over `shards` output partitions by `dist` — one shuffle. */
  def shape(df: DataFrame, dist: Distribution, shards: Int): DataFrame = dist match {
    case ByHash(key)  => df.repartition(shards, col(key))
    case ByRange(key) => df.repartitionByRange(shards, col(key))
    case RoundRobin   => df.repartition(shards)
  }

  /** Redistribute `df` into `shards` output partitions at `dest`.
    * Returns the row count moved (forces the write).
    */
  def redistribute(df: DataFrame, dist: Distribution, shards: Int, dest: String): Long = {
    val spark = df.sparkSession
    val shaped = shape(df, dist, shards)
    val staging = dest + ".__staging__"
    // the moved-row count rides the write pass via observe — a separate
    // post-swap count() would re-read the whole destination at 100 TB
    val obs = new org.apache.spark.sql.Observation()
    shaped.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    swap(spark, staging, dest)
    obs.get("n").asInstanceOf[Long]
  }

  /** Atomic-as-the-filesystem-allows directory swap: dest is replaced by
    * staging via renames (metadata-only on HDFS-like stores), never left
    * partially written.
    */
  private def swap(spark: SparkSession, staging: String, dest: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val stagingPath = new Path(staging)
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(conf)
    val old = new Path(dest + ".__old__")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(destPath)) {
      if (!fs.rename(destPath, old))
        throw new java.io.IOException(s"rename $destPath -> $old failed")
    }
    if (!fs.rename(stagingPath, destPath))
      throw new java.io.IOException(s"rename $stagingPath -> $destPath failed")
    fs.delete(old, true)
    ()
  }
}
