package graft.rebalance

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{ShadowSwap, TableRegistry}

/** Executes the rebalance workflow against Spark catalog tables.
  *
  * In Spark the reference's local/distributed table split collapses
  * (SURVEY.md §1.2): per-shard `_local` tables become partitions of one
  * catalog table, and the distributed façade is the table itself. The
  * workflow therefore reduces to the reference's shadow-swap discipline
  * (reference `sharding_recreation.py:306-342`) applied per table:
  *
  *   1. write a redistributed shadow `table__v{n}` (one shuffle — the O18
  *      data move, reference `sharding_recreation.py:159-160`);
  *   2. promote it ([[graft.catalog.ShadowSwap.promote]]): the stale-`__old`
  *      drop, uncache and relation refresh run first, then two direct
  *      catalog renames back to back, `table` → `table__old` and shadow →
  *      `table` (reference O16/O17, `sharding_recreation.py:212-249`);
  *   3. drop `table__old` (reference O19, `sharding_recreation.py:194-209`).
  *
  * The canonical name always fronts either complete-old or complete-new
  * data — fixing the reference's non-atomic INSERT window. It fronts nothing
  * only between the two renames of step 2: two catalog calls, with no SQL
  * parsed in between. Every step is guarded/idempotent like the reference's
  * `IF NOT EXISTS` / `EXISTS` probes. At 100 TB the only data movement is
  * step 1's shuffle; AQE handles skewed shard keys.
  *
  * Unlike the reference, which moves one table at a time,
  * [[rebalanceDatabase]] runs tables concurrently: a small table's time is
  * mostly its fixed driver and scheduling path, which leaves task slots idle
  * when tables run one after another.
  */
object RebalanceRunner {

  /** Rebalance one catalog table in place; returns the row count moved. */
  def rebalanceTable(
      spark: SparkSession,
      db: String,
      table: String,
      dist: Rebalancer.Distribution,
      shards: Int,
      version: String): Long = {

    requireVersion(version)
    val fq = s"$db.$table"
    val shadow = s"$db.${table}__v$version"
    val old = s"$db.${table}__old"
    // crash recovery: a death between the two renames below leaves the
    // canonical name vacant with the completed shadow still present —
    // finish the promotion instead of failing the existence check
    if (!TableRegistry.exists(spark, db, table) &&
        TableRegistry.exists(spark, db, s"${table}__v$version")) {
      ShadowSwap.promote(spark, fq, shadow, old)
      return spark.table(fq).count()
    }
    require(TableRegistry.exists(spark, db, table), s"no such table: $fq")

    val shaped = Rebalancer.shape(spark.table(fq), dist, shards)
    // shadow write: full new copy lands before any rename touches `table`.
    // The moved-row count rides the write pass via observe() — a separate
    // post-write count() would re-scan the whole shadow (the cost
    // Rebalancer.redistribute documents avoiding at 100 TB)
    val obs = new org.apache.spark.sql.Observation()
    shaped.observe(obs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).saveAsTable(shadow)
    val moved = obs.get("n").asInstanceOf[Long]

    ShadowSwap.promote(spark, fq, shadow, old)
    moved
  }

  /** Versions are digits (the reference draws a random number), so that a
    * `__v<digits>` suffix marks swap residue and nothing else.
    */
  private def requireVersion(version: String): Unit =
    require(version.nonEmpty && version.forall(_.isDigit),
      s"version must be digits: '$version'")

  /** O20 destructive rollback (reference `sharding_recreation.py:27-41`,
    * reachable there only via the commented-out call at line 342): drop
    * every versioned shadow `t__v{version}` in `db`, abandoning an
    * in-flight rebalance. Two guards the reference lacks:
    *
    *   - refuses to run at all unless `force = true` (matching the
    *     reference's decision to leave the call commented out — the drop
    *     is irreversible);
    *   - never drops a shadow whose canonical base table is vacant: after
    *     a crash between the two promotion renames the shadow is the ONLY
    *     complete copy, and [[rebalanceTable]]'s recovery branch promotes
    *     it instead.
    *
    * Returns the table names actually dropped.
    */
  def dropVersioned(
      spark: SparkSession,
      db: String,
      version: String,
      force: Boolean = false): Seq[String] = {
    requireVersion(version)
    require(force,
      s"dropVersioned discards every $db.*__v$version shadow irreversibly; " +
        "pass force=true to confirm")
    val victims = TableRegistry.tableNames(spark, db)
      .filter(_.endsWith(s"__v$version"))
    val droppable = victims.filter { n =>
      val base = n.substring(0, n.lastIndexOf("__v"))
      TableRegistry.exists(spark, db, base)
    }
    droppable.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $db.$n"))
    droppable
  }

  /** A materialized view of the database: `name` is the MV's catalog table,
    * `sql` its definition over canonical table names — re-runnable at any
    * time to rebuild the view.
    */
  final case class MvDef(name: String, sql: String)

  /** Rebalance every data table in a database (the reference's whole-db
    * workflow), returning table → rows moved.
    *
    * Tables run concurrently, [[rebalanceTable]] on each, on a pool of
    * `min(tables, defaultParallelism)` threads created for this call — so
    * every worker inherits the caller's Spark local properties (job group,
    * scheduler pool, any request tag). After the first failure no further
    * table starts; tables already running finish, swap included, and the
    * call then rethrows that first error. Every canonical name still fronts
    * complete old or complete new data, and a rerun converges.
    *
    * `recreateMvs` goes one step beyond the reference, whose MV handling is
    * an explicit TODO (reference `sharding_recreation.py:258-266,337` —
    * views are neither moved nor recreated): with `recreateMvs = true`,
    * after every base-table swap completes each `MvDef` is re-evaluated
    * against the new canonical tables and swapped into place atomically
    * ([[graft.streaming.MaterializedView.refresh]]), so MVs are consistent
    * with the rebalanced data. MV tables themselves are excluded from the
    * data-table pass — they are derived state, rebuilt rather than moved.
    */
  def rebalanceDatabase(
      spark: SparkSession,
      db: String,
      dist: String => Rebalancer.Distribution,
      shards: Int,
      version: String,
      mvs: Seq[MvDef] = Nil,
      recreateMvs: Boolean = false): Map[String, Long] = {
    requireVersion(version)
    val names = TableRegistry.tableNames(spark, db)
    val mvNames = mvs.map(_.name).toSet
    // `__mv_stage`/`__mv_old` are MaterializedView shadow-swap residue (a
    // crashed refresh leaves them behind); without the explicit exclusion
    // they'd classify as canonical base tables and get rebalanced/retained
    // forever. `__v<digits>`/`__old` suffixes are the base-table swap
    // residue — a real table such as `ship__via` is not.
    val isResidue = (n: String) =>
      n.matches(".*__v[0-9]+") || n.endsWith("__old") ||
        n.endsWith("__mv_stage") || n.endsWith("__mv_old")
    val canonical = names.filterNot(n => isResidue(n) || mvNames.contains(n))
    // a crash between rebalanceTable's two renames strands a table with the
    // canonical name vacant and only `t__v{n}` / `t__old` present; surface
    // those bases too so the recovery branch in rebalanceTable finishes the
    // promotion instead of the table silently vanishing from whole-db runs
    // exact `__v$version` SUFFIX match: contains() would collect version
    // "12"/"10" residue on a version-"1" run, whose recovery then fails
    // the whole-db pass on the vacant canonical name
    val suffix = s"__v$version"
    val orphaned = names.collect {
      case n if n.endsWith(suffix) => n.substring(0, n.length - suffix.length)
    }.filterNot(n => canonical.contains(n) || mvNames.contains(n) || isResidue(n))
      .distinct
    val tables = canonical ++ orphaned
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tables.size, spark.sparkContext.defaultParallelism)))
    val firstError = new AtomicReference[Throwable]()
    val runs = tables.map { t =>
      pool.submit[Option[(String, Long)]] { () =>
        if (firstError.get != null) None
        else try Some(t -> rebalanceTable(spark, db, t, dist(t), shards, version))
        catch { case e: Throwable => firstError.compareAndSet(null, e); None }
      }
    }
    pool.shutdown()
    val moved = runs.flatMap(_.get).toMap
    Option(firstError.get).foreach(e => throw e)
    if (recreateMvs) mvs.foreach { mv =>
      graft.streaming.MaterializedView.refresh(spark.sql(mv.sql), s"$db.${mv.name}")
    }
    moved
  }
}
