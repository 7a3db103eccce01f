package perfbench

import graft.etl.SnapshotStore
import graft.ops.LibraryOracleOps

/** DuckDB oracle SQL for the library reports: the repository's own
  * `lib_q1` and `lib_q3` oracle statements with the request's parameters
  * filled in and every table read redirected to the files of the store
  * version the report read. A statement whose text no longer contains
  * a parameter site fails loudly, so the check never silently drops a
  * filter. */
object Oracle {
  private val Keys = Map(1 -> "lib_q1_genre_sales", 3 -> "lib_q3_margin_state")

  /** Oracle file name → store table. */
  private val Sources = Map("dw_fact_sales" -> "fact_sales", "dw_dim_date" -> "dim_date",
    "dw_dim_book" -> "dim_book", "dw_dim_members" -> "dim_members")

  private def fill(sql: String, from: String, to: String): String = {
    require(sql.contains(from), s"oracle SQL lost its parameter site: $from")
    sql.replace(from, to)
  }

  private def quote(s: String) = "'" + s.replace("'", "''") + "'"

  def reportSql(ctx: Ctx, store: Reports.Store, r: Reports.Request): String = {
    val p = r.p
    var sql = graft.SparkEntry.oracleSql(Keys(r.q))
    val dataDir = LibraryOracleOps.DataDir
    for ((src, table) <- Sources if sql.contains(s"$dataDir/$src.parquet/")) {
      val dir = store.dir(table)
      val files = SnapshotStore.currentFiles(ctx.spark, dir).map(f => quote(s"$dir/$f"))
      var rel = s"read_parquet([${files.mkString(", ")}])"
      if (table == "dim_members") {
        p.gender.foreach(g => rel = s"(SELECT * FROM $rel WHERE upper(member_gender) = ${quote(g)})")
        p.states.foreach(ss =>
          rel = s"(SELECT * FROM $rel WHERE member_state IN (${ss.map(quote).mkString(", ")}))")
      }
      sql = fill(sql, s"read_parquet('$dataDir/$src.parquet/*.parquet')", rel)
    }
    sql = fill(sql, "BETWEEN 20050101 AND 20241231", s"BETWEEN ${p.yearFrom}0101 AND ${p.yearTo}1231")
    if (r.q == 1) fill(sql, "WHERE rn <= 5", s"WHERE rn <= ${p.topN}") else sql
  }
}
