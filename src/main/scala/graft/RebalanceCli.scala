package graft

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.catalog.TableRegistry
import graft.rebalance.{RebalanceRunner, Rebalancer}

/** CLI entry point for the rebalance workflow — the engine's analogue of the
  * reference tool's `python sharding_recreation.py` invocation (reference
  * `sharding_recreation.py:306-342`), operating on the Spark catalog instead
  * of a ClickHouse cluster.
  *
  * Usage:
  *   runMain graft.RebalanceCli <parquetDir> <hash|range|rr> <key> <shards> [--plan]
  *
  * Seeds a database from every `<table>.parquet` in `parquetDir`, snapshots
  * the catalog, rebalances each table (hash/range on `key` when the table
  * has that column, round-robin otherwise), and prints per-table moved-row
  * counts.
  *
  * `--plan` prints, per table, the exact shadow-swap steps
  * [[RebalanceRunner.rebalanceTable]] would execute (shadow write with its
  * distribution → two metadata renames → drop of the old copy) and exits
  * WITHOUT touching any table — the preview a destructive rename/drop
  * pipeline should offer (the reference tool has no equivalent:
  * `sharding_recreation.py:268-306` connects and executes in one motion).
  */
object RebalanceCli {
  def main(args: Array[String]): Unit = {
    val planOnly = args.lastOption.contains("--plan")
    val posArgs = if (planOnly) args.dropRight(1) else args
    require(posArgs.length == 4,
      "usage: RebalanceCli <parquetDir> <hash|range|rr> <key> <shards> [--plan]")
    val Array(dir, mode, key, shardsStr) = posArgs
    require(Set("hash", "range", "rr")(mode),
      s"unknown mode '$mode' (expected hash|range|rr) — refusing to " +
        "silently degrade every table to round-robin")
    val shards = shardsStr.toInt
    require(shards > 0, s"shards must be positive: $shards")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-rebalance")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_cli_warehouse")
      // rebalance treats payload columns as opaque; nanos timestamps ride
      // through as int64 rather than failing the whole-table scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val db = "graft_cli"
    // The in-memory catalog dies with the JVM but warehouse directories
    // persist; clear the seed db's location so re-runs don't collide with
    // LOCATION_ALREADY_EXISTS.
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val dbDir = new org.apache.hadoop.fs.Path(
      s"${sys.props("java.io.tmpdir")}/graft_cli_warehouse/$db.db")
    dbDir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dbDir, true)
    spark.sql(s"CREATE DATABASE $db")
    val listing = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
    val tables = listing
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted
    require(tables.nonEmpty, s"no *.parquet tables under $dir")
    tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .write.mode(SaveMode.Overwrite).saveAsTable(s"$db.$t")
    }
    val names = TableRegistry.tableNames(spark, db)
    println(s"[cli] catalog: ${names.mkString(", ")}")

    // each table's distribution, resolved once: hash/range on `key` when
    // the table has that column, round-robin otherwise
    val dists: Map[String, Rebalancer.Distribution] = names.map { t =>
      val hasKey = spark.table(s"$db.$t").columns.contains(key)
      t -> ((mode, hasKey) match {
        case ("hash", true)  => Rebalancer.ByHash(key)
        case ("range", true) => Rebalancer.ByRange(key)
        case _               => Rebalancer.RoundRobin
      })
    }.toMap
    if (planOnly) {
      // mirror rebalanceDatabase's table selection so the preview shows
      // exactly the per-table shadow-swap the runner would execute
      var step = 0
      def p(s: String): Unit = { step += 1; println(f"[cli] plan $step%3d: $s") }
      names.foreach { t =>
        val rows = spark.table(s"$db.$t").count()
        p(s"WRITE  $db.${t}__v1 <- ${dists(t)} over $shards shards " +
          s"($rows rows, one shuffle)")
        p(s"RENAME $db.$t -> $db.${t}__old (metadata only)")
        p(s"RENAME $db.${t}__v1 -> $db.$t (metadata only)")
        p(s"DROP   $db.${t}__old")
      }
      println(s"""[cli] {"plan_steps":$step,"executed":0}""")
      spark.stop()
      return
    }
    val t0 = System.nanoTime()
    val moved = RebalanceRunner.rebalanceDatabase(spark, db, dists, shards, "1")
    val wallMs = (System.nanoTime() - t0) / 1000000
    moved.toSeq.sortBy(_._1).foreach { case (t, n) =>
      println(s"[cli] rebalanced $t: $n rows -> $shards shards (${dists(t)})")
    }
    println(s"""[cli] {"tables":${moved.size},"rows":${moved.values.sum},"wall_ms":$wallMs}""")
    spark.stop()
  }
}
