package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.catalog.ShadowSwap

/** Continuous materialized-view maintenance — the piece the reference leaves
  * as a manual TODO (MVs are never created or populated automatically,
  * reference `sharding_recreation.py:115-118,258-266,337`): a streaming
  * aggregation kept up to date in a catalog table via per-micro-batch keyed
  * upsert.
  *
  * Refresh discipline reuses the rebalance shadow-swap
  * ([[graft.catalog.ShadowSwap.promote]]: stage table → two catalog
  * renames): a reader never observes a PARTIAL batch — any snapshot it
  * resolves is complete. The swap is not fully atomic for concurrent
  * readers, though: between the two renames the canonical name is vacant
  * (TABLE_OR_VIEW_NOT_FOUND) — two direct catalog calls, typically well
  * under a millisecond — and a reader mid-scan of the pre-swap file listing
  * can hit missing files once `__mv_old` is dropped. Concurrent readers
  * need plain retry-on-error (at which point they see the complete next
  * snapshot). A catalog with atomic RENAME ... TO ... swaps (or
  * view-repointing) removes the window at real scale.
  *
  * Scale note (100 TB): the upsert rewrites only (previous MV ∖ batch keys)
  * ∪ batch — for windowed aggregations the batch touches the few open
  * windows, so per-refresh IO is bounded by MV size, not stream history;
  * partition the MV table by a window-derived column to turn the rewrite
  * into a partition-overwrite at real scale.
  */
object MaterializedView {

  /** Crash recovery for the shadow-swap: a death between `RENAME target TO
    * __mv_old` and `RENAME __mv_stage TO target` leaves the canonical name
    * vacant while the stage table holds the COMPLETE next snapshot —
    * promote it (the same discipline as
    * [[graft.rebalance.RebalanceRunner.rebalanceTable]]'s recovery branch).
    * Without this, a post-crash [[upsert]] would take the create branch and
    * seed the MV from one batch, silently dropping all merged history.
    * Always clears `__mv_old` residue. Idempotent; called by both [[upsert]]
    * and [[refresh]] before they touch anything.
    */
  def recover(spark: SparkSession, target: String): Unit = {
    val stage = s"${target}__mv_stage"
    if (!spark.catalog.tableExists(target) && spark.catalog.tableExists(stage))
      swap(spark, target)
    else spark.sql(s"DROP TABLE IF EXISTS ${target}__mv_old")
  }

  /** Promote `__mv_stage` to `target`, then drop the cached file listing
    * from before the swap in the user's default session as well, or its
    * readers keep resolving the canonical name to the deleted pre-swap part
    * files: foreachBatch runs on a cloned session with its own relation
    * cache, which the promotion alone refreshes.
    */
  private def swap(spark: SparkSession, target: String): Unit = {
    ShadowSwap.promote(spark, target, s"${target}__mv_stage", s"${target}__mv_old")
    org.apache.spark.sql.classic.SparkSession.getDefaultSession
      .filter(_ ne spark)
      .foreach(_.catalog.refreshTable(target))
  }

  /** One keyed upsert: rows of `batch` replace same-key rows of `target`.
    *
    * `snapshotPartitions` sizes the rewritten snapshot: an MV is orders of
    * magnitude smaller than its stream, but the merged frame inherits the
    * batch's shuffle partitioning, so without it every micro-batch writes
    * `spark.sql.shuffle.partitions` near-empty files and the next batch
    * pays the listing. Pick ~MV-size/128 MB (often 1); 0 keeps the planned
    * partitioning (the right call once the MV is partition-overwritten by a
    * window column at real scale).
    */
  def upsert(batch: DataFrame, keyCols: Seq[String], target: String,
      snapshotPartitions: Int = 0): Unit = {
    val spark = batch.sparkSession
    recover(spark, target)
    def sized(df: DataFrame) =
      if (snapshotPartitions > 0) df.repartition(snapshotPartitions) else df
    if (!spark.catalog.tableExists(target)) {
      sized(batch).write.mode(SaveMode.ErrorIfExists).saveAsTable(target)
    } else {
      // the merged plan reads `batch` twice (anti-join keys + union side);
      // without a cache each micro-batch recomputes its upstream
      // aggregation twice per refresh
      batch.persist()
      val merged = spark.table(target)
        .join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(batch)
      try sized(merged).write.mode(SaveMode.Overwrite).saveAsTable(s"${target}__mv_stage")
      finally batch.unpersist()
      swap(spark, target)
    }
  }

  /** Full MV rebuild through the same shadow-swap: `df` (the MV definition
    * re-evaluated against current base tables) REPLACES the MV contents
    * atomically. Used by the rebalance workflow's opt-in MV recreation —
    * after base tables swap, their MVs are recomputed against the new
    * canonical tables.
    */
  def refresh(df: DataFrame, target: String): Unit = {
    val spark = df.sparkSession
    recover(spark, target)
    df.write.mode(SaveMode.Overwrite).saveAsTable(s"${target}__mv_stage")
    swap(spark, target)
  }

  /** Start continuous materialization of a (usually aggregated) stream into
    * catalog table `target`, keyed by `keyCols`. Update output mode: each
    * micro-batch carries only the groups that changed.
    */
  def materialize(
      stream: DataFrame,
      keyCols: Seq[String],
      target: String,
      checkpointDir: String,
      snapshotPartitions: Int = 0): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsert(batch, keyCols, target, snapshotPartitions)
      }
      .start()
}
