package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableRegistry
import graft.rebalance.{RebalanceRunner, Rebalancer}

/** One benchmark run in one fresh JVM: set up, run the workload's query
  * passes (a cold first pass, then warm passes) and its rebalance passes,
  * check every output, and write the raw records. All aggregation into
  * metrics happens in `analysis.py`.
  *
  * Arguments are `--key value` pairs; `run.py` builds them from
  * `workloads.json`.
  */
object Harness {
  val Db = "bench"
  /** Output shards per rebalanced table. */
  val Shards = 8

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val rec = new Records
    var status = 0
    try run(a, rec) catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.add("fatal", "error" -> e.toString)
        status = 1
    } finally rec.writeTo(a("out"))
    sys.exit(status)
  }

  def loadavg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def run(a: Map[String, String], rec: Records): Unit = {
    val workdir = a("workdir")
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val queries = a.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq
    rec.add("env", "t" -> Clock.now(), "load_start" -> loadavg(),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "java" -> sys.props("java.version"))

    val t0 = Clock.now()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .config("spark.local.dir", s"$workdir/local")
      .config("spark.graft.workDir", s"$workdir/graft")
      .getOrCreate()
    val sessionMs = Clock.now() - t0
    spark.sparkContext.setLogLevel("WARN")
    spark.sharedState.externalCatalog.addListener(new CatalogEvents(rec))
    val trace = if (traced) Some(new Trace(rec)) else None

    // set-up: seed the catalog `setup-reps` times, each into a fresh db
    val fixtures = a.get("fixtures")
    val sources = CatalogGen.sources(spark, seed, fixtures)
    val seedMs = (1 to a("setup-reps").toInt).map { _ =>
      spark.sql(s"DROP DATABASE IF EXISTS $Db CASCADE")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$workdir/warehouse/$Db.db"))
      spark.sql(s"CREATE DATABASE $Db")
      val s = Clock.now()
      CatalogGen.seed(spark, Db, sources, fixtures)
      Clock.now() - s
    }
    rec.add("setup", "session_ms" -> sessionMs, "seed_ms" -> seedMs)
    val keyOf = sources.map { case (t, df) => t -> df.columns.head }.toMap
    sources.foreach { case (t, _) =>
      rec.add("seeded", "name" -> t, "key" -> keyOf(t), "bytes" -> tableBytes(spark, t))
    }

    // The traced run alternates traced and untraced passes, so that tracing
    // overhead is measured inside one JVM: its main phase runs at least six
    // (traced cold, then untraced and traced in turn), which puts the traced
    // and the untraced warm passes at the same median position.
    val mainPhase = if (queries.nonEmpty) "query" else "rebalance"
    def passes(phase: String, count: Int)(body: Int => Unit): Unit =
      (1 to (if (traced && phase == mainPhase) math.max(count, 6) else count)).foreach { pass =>
        val on = trace.isDefined && pass % 2 == 1
        trace.filter(_ => on).foreach(_.attach(spark))
        val p0 = Clock.now()
        body(pass)
        val p1 = Clock.now()
        trace.filter(_ => on).foreach(_.detach(spark))
        rec.add("pass", "phase" -> phase, "pass" -> pass, "t0" -> p0, "t1" -> p1, "traced" -> on)
      }

    if (queries.nonEmpty) {
      val fns = graft.SparkEntry.allQueries.map(q => q.name -> q.fn).toMap
      val unknown = queries.filterNot(fns.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      val sfDir = a("fixtures")
      passes("query", a("query-passes").toInt) { pass =>
        new scala.util.Random(seed * 7919 + pass).shuffle(queries).foreach { name =>
          spark.sparkContext.setLocalProperty(Trace.ReqKey, s"$name#$pass")
          val q0 = Clock.now()
          var q1 = q0
          val (print, err) = try {
            val df = fns(name)(spark, sfDir)
            q1 = Clock.now()
            (Some(Fold.of(df)), None)
          } catch { case e: Throwable =>
            if (q1 == q0) q1 = Clock.now()
            (None, Some(e.toString))
          }
          val q2 = Clock.now()
          spark.catalog.clearCache() // release the query's persist()s
          rec.add("query", "pass" -> pass, "name" -> name, "t0" -> q0, "t1" -> q1,
            "t2" -> q2, "rows" -> print.map(_.rows), "hi" -> print.map(_.hi),
            "lo" -> print.map(_.lo), "error" -> err)
        }
        spark.sparkContext.setLocalProperty(Trace.ReqKey, null)
      }
    }

    val dist = (t: String) => Rebalancer.ByHash(keyOf(t)): Rebalancer.Distribution
    passes("rebalance", a("rebalance-passes").toInt) { pass =>
      spark.sparkContext.setLocalProperty(Trace.ReqKey, s"rebalance#$pass")
      val r0 = Clock.now()
      val (moved, err) =
        try (RebalanceRunner.rebalanceDatabase(spark, Db, dist, Shards, pass.toString), None)
        catch { case e: Throwable => (Map.empty[String, Long], Some(e.toString)) }
      val r1 = Clock.now()
      spark.sparkContext.setLocalProperty(Trace.ReqKey, null)
      val out = dirStats(s"$workdir/warehouse/$Db.db")
      rec.add("rebalance", "pass" -> pass, "t0" -> r0, "t1" -> r1, "moved" -> moved,
        "bytes_out" -> out.values.map(_._1).sum,
        "files_out" -> out.values.map(_._2).sum, "error" -> err)
    }

    // correctness: the rebalanced tables against their sources, after
    // every timed phase so that no check warms the JVM ahead of one
    val names = TableRegistry.tableNames(spark, Db).sorted
    val residue = names.filter(n => n.contains("__v") || n.endsWith("__old"))
    val live = names.filterNot(residue.contains)
    val prints = folds(sources.map { case (t, df) => ("in", t, df) } ++
      live.map(t => ("out", t, spark.table(s"$Db.$t"))))
    prints.foreach { case ((side, t), p) =>
      rec.add(s"table_$side", "name" -> t, "rows" -> p.rows, "hi" -> p.hi, "lo" -> p.lo)
    }
    layout(live, keyOf, spark).foreach { case (t, f, b, rows, keys, top) =>
      rec.add("shard", "name" -> t, "file" -> f, "bucket" -> b, "rows" -> rows,
        "keys" -> keys, "top_key_rows" -> top)
    }
    rec.add("residue", "names" -> residue)

    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    rec.add("jvm", "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "gc_ms" -> gc.map(_.getCollectionTime).sum,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      "peak_rss_kb" -> peakRssKb(), "load_end" -> loadavg())
    spark.stop()
  }

  /** Content prints of (side, table, frame) triples, in one job over a
    * union of their row hashes.
    */
  def folds(frames: Seq[(String, String, DataFrame)]): Map[(String, String), Fold.Print] =
    frames.map { case (side, t, df) =>
      Fold.hashed(df).select(lit(side).as("side"), lit(t).as("tbl"), col("h"))
    }.reduce(_ unionByName _)
      .groupBy("side", "tbl").agg(Fold.aggs.head, Fold.aggs.tail: _*)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Fold.Print(r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  /** The rebalanced layout in one job: per table, output file and hash
    * bucket, the rows, the distinct shard keys and the hottest key's rows.
    * A correct hash rebalance puts exactly one bucket in each file.
    */
  def layout(tables: Seq[String], keyOf: Map[String, String],
      spark: SparkSession): Seq[(String, String, Int, Long, Long, Long)] =
    tables.map { t =>
      val k = col(keyOf(t))
      spark.table(s"$Db.$t").select(lit(t).as("tbl"), input_file_name().as("file"),
        pmod(hash(k), lit(Shards)).as("b"), k.cast("string").as("key"))
    }.reduce(_ unionByName _)
      .groupBy("tbl", "file", "b", "key").count()
      .groupBy("tbl", "file", "b").agg(sum("count"), count(lit(1)), max("count"))
      .collect().map(r => (r.getString(0), r.getString(1).split('/').last, r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(x => (x._1, x._2, x._3)).toSeq

  /** Data bytes behind a table: its location's files, or the file itself. */
  def tableBytes(spark: SparkSession, table: String): Long = {
    val loc = new java.io.File(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table, Some(Db))).location)
    if (loc.isFile) loc.length else dirStats(loc.getParent).get(loc.getName).map(_._1).getOrElse(0L)
  }

  /** Table directory → (data bytes, data files) under a database directory. */
  def dirStats(dbDir: String): Map[String, (Long, Int)] =
    Option(new java.io.File(dbDir).listFiles()).getOrElse(Array.empty).filter(_.isDirectory)
      .map { d =>
        val data = Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        d.getName -> (data.map(_.length).sum, data.length)
      }.toMap

  def peakRssKb(): Long = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) -1L else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      finally src.close()
    }
  }
}
