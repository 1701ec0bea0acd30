package graft.catalog

import org.apache.spark.sql.SparkSession

/** The shadow swap that ends every rebalance and materialized-view refresh:
  * a completely written `shadow` table takes over the canonical name
  * `target`, and the copy it replaces is parked at `old` and dropped.
  *
  * Every check and cache step runs before the canonical name is vacated:
  * the stale-`old` drop, uncaching `target` (a cached plan keyed on the
  * table's location would otherwise keep serving the replaced files, since
  * the promoted shadow moves into that same location), and invalidating the
  * session's resolved relations for both names. The window in which
  * `target` fronts nothing is then two direct catalog renames back to back —
  * no SQL is parsed, analyzed or planned inside it.
  *
  * A vacant `target` (a crash between the two renames of an earlier swap)
  * skips the first rename, so the same call finishes the interrupted
  * promotion.
  */
object ShadowSwap {

  def promote(spark: SparkSession, target: String, shadow: String, old: String): Unit = {
    val catalog = spark.sessionState.catalog
    val parse = spark.sessionState.sqlParser.parseTableIdentifier _
    val (t, s, o) = (parse(target), parse(shadow), parse(old))
    spark.sql(s"DROP TABLE IF EXISTS $old")
    val occupied = catalog.tableExists(t)
    if (occupied) spark.catalog.uncacheTable(target)
    catalog.refreshTable(t)
    catalog.refreshTable(s)
    if (occupied) catalog.renameTable(t, o)
    catalog.renameTable(s, t)
    catalog.refreshTable(t)
    spark.sql(s"DROP TABLE IF EXISTS $old")
  }
}
