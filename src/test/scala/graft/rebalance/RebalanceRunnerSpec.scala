package graft.rebalance

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.input_file_name
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.catalog.TableRegistry

class RebalanceRunnerSpec extends AnyFunSuite with SparkSpec {

  test("catalog table rebalance: shadow-swap ends with canonical name only") {
    import spark.implicits._
    freshDatabase("graft_rr")
    (1L to 5000L).map(i => (i, (i % 7).toString)).toDF("k", "tag")
      .write.mode("overwrite").saveAsTable("graft_rr.sales")

    val before = spark.table("graft_rr.sales").count()
    val moved = RebalanceRunner.rebalanceTable(
      spark, "graft_rr", "sales", Rebalancer.ByHash("k"), 8, "1")

    assert(moved == before)
    assert(spark.table("graft_rr.sales").count() == before)
    val names = TableRegistry.tableNames(spark, "graft_rr")
    assert(names.contains("sales"))
    assert(!names.exists(_.contains("__old")), s"leftover old table: $names")
    assert(!names.exists(_.contains("__v")), s"leftover shadow table: $names")
    // multiset preserved
    val sums = spark.sql("SELECT sum(k), count(*) FROM graft_rr.sales").first()
    assert(sums.getLong(0) == (1L to 5000L).sum && sums.getLong(1) == 5000)
  }

  test("whole-database rebalance covers every data table") {
    import spark.implicits._
    freshDatabase("graft_db2")
    // `ship__via` contains `__v` but is a real table, not swap residue
    Seq("t1", "t2", "ship__via").foreach { t =>
      (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
        .write.mode("overwrite").saveAsTable(s"graft_db2.$t")
    }
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_db2", _ => Rebalancer.ByHash("k"), 4, "9")
    assert(moved == Map("t1" -> 100L, "t2" -> 100L, "ship__via" -> 100L))
  }

  /** sum(k), sum(v) and count(*) of a table's rows. */
  private def stats(fq: String): (Long, Long, Long) = {
    val r = spark.sql(s"SELECT sum(k), sum(v), count(*) FROM $fq").first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** `n` tables `t00`.. in `db`, table i holding 40 + 10·i rows (k, v). */
  private def seedTables(db: String, n: Int): Map[String, (Long, Long, Long)] = {
    import spark.implicits._
    freshDatabase(db)
    (0 until n).map { i =>
      val t = f"t$i%02d"
      val rows = (1L to 40L + 10 * i).map(k => (k, k * (i + 1)))
      rows.toDF("k", "v").write.saveAsTable(s"$db.$t")
      t -> (rows.map(_._1).sum, rows.map(_._2).sum, rows.size.toLong)
    }.toMap
  }

  private def residue(db: String): Seq[String] =
    TableRegistry.tableNames(spark, db).filter(n => n.contains("__v") || n.endsWith("__old"))

  test("whole-db rebalance over more tables than task slots keeps every table") {
    val want = seedTables("graft_many", 14)
    assert(want.size > spark.sparkContext.defaultParallelism)
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_many", _ => Rebalancer.ByHash("k"), 4, "3")
    assert(moved == want.map { case (t, s) => t -> s._3 }, moved)
    want.foreach { case (t, s) => assert(stats(s"graft_many.$t") == s, t) }
    assert(residue("graft_many").isEmpty, residue("graft_many"))
  }

  test("a failing table stops the whole-db run, leaves every table complete, " +
    "and a rerun converges") {
    val want = seedTables("graft_fail", 12)
    val broken = (t: String) =>
      Rebalancer.ByHash(if (t == "t05") "no_such_col" else "k"): Rebalancer.Distribution
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      RebalanceRunner.rebalanceDatabase(spark, "graft_fail", broken, 4, "4")
    }
    assert(err.getMessage.contains("no_such_col"), err.getMessage)
    // every canonical name fronts complete old or complete new data
    want.foreach { case (t, s) => assert(stats(s"graft_fail.$t") == s, t) }
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_fail", _ => Rebalancer.ByHash("k"), 4, "4")
    assert(moved == want.map { case (t, s) => t -> s._3 }, moved)
    want.foreach { case (t, s) => assert(stats(s"graft_fail.$t") == s, t) }
    assert(residue("graft_fail").isEmpty, residue("graft_fail"))
  }

  test("a table cached before the rebalance reads the new files afterwards") {
    seedTables("graft_cache", 1)
    spark.catalog.cacheTable("graft_cache.t00")
    assert(spark.table("graft_cache.t00").count() == 40)
    RebalanceRunner.rebalanceTable(
      spark, "graft_cache", "t00", Rebalancer.ByHash("k"), 4, "1")
    // a stale cache entry would still answer for the table's location, and
    // an in-memory relation reports no input file at all
    val files = spark.table("graft_cache.t00")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.length == 4 && files.forall(_.contains("/graft_cache.db/t00/")),
      files.mkString(", "))
    assert(stats("graft_cache.t00") == (820L, 820L, 40L))
    spark.catalog.clearCache()
  }

  test("every job of a whole-db run carries the caller's job group") {
    seedTables("graft_props", 10)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    val sc = spark.sparkContext
    // the groups of the jobs started since the last call: a marker job is
    // run last, and the bus delivers job starts in order, so once the
    // marker is seen every earlier job has been seen
    def drain(marker: String): Seq[String] = {
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      val seen = groups.asScala.toSeq
      groups.clear()
      assert(seen.lastOption.contains(marker), seen)
      seen.init
    }
    sc.addSparkListener(listener)
    // two calls under different groups: workers of a pool shared across
    // calls would carry the first call's group into the second
    try {
      drain("before")
      Seq("rebalance-a" -> "1", "rebalance-b" -> "2").foreach { case (group, version) =>
        sc.setJobGroup(group, "rebalance")
        RebalanceRunner.rebalanceDatabase(
          spark, "graft_props", _ => Rebalancer.ByHash("k"), 4, version)
        val seen = drain(s"$group-marker")
        assert(seen.size >= 10 && seen.forall(_ == group), seen)
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("versions must be digits") {
    intercept[IllegalArgumentException] {
      RebalanceRunner.rebalanceDatabase(spark, "graft_rr", _ => Rebalancer.RoundRobin, 2, "v1")
    }
  }

  test("MV swap residue is neither rebalanced nor retained as canonical") {
    import spark.implicits._
    freshDatabase("graft_res")
    (1L to 50L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_res.t")
    // residue of a crashed MaterializedView swap: without the explicit
    // suffix exclusion these classify as canonical base tables and get
    // rebalanced (and thereby retained) by every whole-db run
    Seq((1, 2L)).toDF("k", "n").write.saveAsTable("graft_res.agg__mv_stage")
    Seq((1, 1L)).toDF("k", "n").write.saveAsTable("graft_res.agg__mv_old")
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_res", _ => Rebalancer.ByHash("k"), 4, "7")
    assert(moved == Map("t" -> 50L), s"moved: $moved")
    // and no __v7 shadows were created for the residue tables
    val names = TableRegistry.tableNames(spark, "graft_res")
    assert(!names.exists(n => n.contains("__mv_") && n.contains("__v7")), names)
  }

  test("recovers a crash between the two renames (shadow present, canonical vacant)") {
    import spark.implicits._
    freshDatabase("graft_rec")
    (1L to 300L).map(i => (i, i * 3)).toDF("k", "v")
      .write.saveAsTable("graft_rec.t")
    // simulate the crash window: shadow written, canonical renamed away
    spark.table("graft_rec.t").repartition(4, $"k")
      .write.saveAsTable("graft_rec.t__v5")
    spark.sql("ALTER TABLE graft_rec.t RENAME TO graft_rec.t__old")
    // re-running the rebalance completes the promotion instead of failing
    val moved = RebalanceRunner.rebalanceTable(
      spark, "graft_rec", "t", Rebalancer.ByHash("k"), 4, "5")
    assert(moved == 300)
    val names = TableRegistry.tableNames(spark, "graft_rec")
    assert(names == Seq("t"), s"expected only canonical name, got $names")
  }

  test("missing table is rejected before any step runs") {
    intercept[IllegalArgumentException] {
      RebalanceRunner.rebalanceTable(spark, "graft_rr", "nope", Rebalancer.RoundRobin, 2, "1")
    }
  }

  test("O20 dropVersioned: refuses without force, drops only safe shadows with it") {
    import spark.implicits._
    freshDatabase("graft_o20")
    // normal in-flight rebalance: canonical + shadow both present
    (1L to 40L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.t1")
    (1L to 40L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.t1__v3")
    // crash window: shadow is the ONLY copy (canonical vacant) — must survive
    (1L to 60L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.stranded__v3")
    // different version: out of scope for this rollback
    (1L to 10L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_o20.t1__v9")

    // destructive path is flag-gated (reference leaves the call commented out)
    intercept[IllegalArgumentException] {
      RebalanceRunner.dropVersioned(spark, "graft_o20", "3")
    }
    assert(TableRegistry.tableNames(spark, "graft_o20").size == 4)

    val dropped = RebalanceRunner.dropVersioned(spark, "graft_o20", "3", force = true)
    assert(dropped == Seq("t1__v3"), dropped)
    val names = TableRegistry.tableNames(spark, "graft_o20").sorted
    assert(names == Seq("stranded__v3", "t1", "t1__v9"), names)
  }

  test("whole-db rebalance with recreateMvs rebuilds MVs against the swapped tables") {
    import spark.implicits._
    freshDatabase("graft_mv")
    (1L to 200L).map(i => (i, (i % 5), i * 2)).toDF("k", "grp", "v")
      .write.saveAsTable("graft_mv.facts")
    val mvSql = "SELECT grp, count(*) AS n, sum(v) AS total " +
      "FROM graft_mv.facts GROUP BY grp"
    // MV exists before the rebalance (stale contents to prove it's rebuilt)
    spark.sql(mvSql).limit(1).write.saveAsTable("graft_mv.mv_by_grp")
    assert(spark.table("graft_mv.mv_by_grp").count() == 1)

    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_mv", _ => Rebalancer.ByHash("k"), 4, "2",
      mvs = Seq(RebalanceRunner.MvDef("mv_by_grp", mvSql)), recreateMvs = true)

    // the MV table was NOT rebalanced as a data table — it was rebuilt
    assert(moved == Map("facts" -> 200L), moved)
    val got = spark.table("graft_mv.mv_by_grp").orderBy("grp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = (0L to 4L).map(g =>
      (g, 40L, (1L to 200L).filter(_ % 5 == g).map(_ * 2).sum))
    assert(got == want, s"MV must reflect post-rebalance base data: $got")
    // no stage/old residue from the MV swap
    val names = TableRegistry.tableNames(spark, "graft_mv").sorted
    assert(names == Seq("facts", "mv_by_grp"), names)
  }

  test("whole-db run recovers tables stranded in the crash window (orphaned shadow)") {
    import spark.implicits._
    freshDatabase("graft_orph")
    (1L to 50L).map(i => (i, i + 1)).toDF("k", "v")
      .write.saveAsTable("graft_orph.ok")
    // stranded table: only its __v7 shadow exists, canonical name vacant —
    // invisible to a listing that filters out shadow names
    (1L to 80L).map(i => (i, i * 5)).toDF("k", "v")
      .write.saveAsTable("graft_orph.stranded__v7")
    // residue from a DIFFERENT version whose string merely starts with "7":
    // a contains()-based match would collect "other" as orphaned, then fail
    // the whole-db pass when its __v7 shadow turns out not to exist
    (1L to 9L).map(i => (i, i)).toDF("k", "v")
      .write.saveAsTable("graft_orph.other__v72")
    val moved = RebalanceRunner.rebalanceDatabase(
      spark, "graft_orph", _ => Rebalancer.ByHash("k"), 4, "7")
    assert(moved == Map("ok" -> 50L, "stranded" -> 80L), moved)
    val names = TableRegistry.tableNames(spark, "graft_orph").sorted
    assert(names == Seq("ok", "other__v72", "stranded"),
      s"expected recovered canonicals + untouched foreign residue, got $names")
  }

  test("snapshot normalizes SHOW CREATE TABLE's backtick quoting so the " +
    "rewriter pipeline matches") {
    import spark.implicits._
    freshDatabase("graft_snap")
    // the dashed column name is the reason normalization must stay NARROW:
    // only dotted table-name forms unquote; a column whose name NEEDS
    // quoting keeps its backticks or the shadow DDL would be unparseable
    (1L to 5L).map(i => (i, i)).toDF("k", "a-b")
      .write.saveAsTable("graft_snap.t_local")
    val snap = TableRegistry.snapshot(spark, "graft_snap")
    assert(snap.nonEmpty)
    val ddl = snap.head.ddl
    assert(!ddl.contains("`graft_snap`"), s"table name must unquote: $ddl")
    assert(!ddl.contains("`t_local`"), s"table name must unquote: $ddl")
    assert(ddl.contains("graft_snap.t_local"), ddl)
    assert(ddl.contains("`a-b`"),
      s"quoting-required column must KEEP its backticks: $ddl")
    // the normalized form is rewritable by the version pipeline
    val shadow = graft.ddl.DdlRewriter
      .versionSuffix(ddl, "graft_snap", "t_local", "__v9")
    assert(shadow.contains("graft_snap.t_local__v9"), shadow)
  }
}
