package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A star's names for a report's bounded grain: the calendar year, the
  * quarter and the report's key (a genre or a state). */
private[queries] final case class Grain(year: String, quarter: String, key: String)

/** The paper's three report tails (LQY_query1–3), written once for both
  * stars. A star adapter ([[LibraryReports]], [[ReportQueries]]) does
  * its joins and filters and hands over its rows under its own column
  * names; each tail starts at the report's first aggregate whose grain
  * the dimensions bound and runs everything after it in one stage
  * ([[oneStageTail]]). Where the stars' outputs differ, the adapter
  * passes the final column list. */
private[queries] object ReportTails {

  /** Q1: quarter pivot, YoY LAG, ROW_NUMBER top-N per year. `base` holds
    * `rev` at the (year, quarter, key) grain. `out` picks from the year,
    * the key, `q1_rev`…`q4_rev`, `tot_rev`, `prev_tot`, `yoy_pct` and
    * `rn`; rows sort by year, `tot_rev` descending, key. */
  def quarterPivotTopN(base: DataFrame, g: Grain, topN: Int, out: Seq[String]): DataFrame = {
    def q(n: Int) = sum(when(col(g.quarter) === n, col("rev")).otherwise(lit(0))).cast("double").as(s"q${n}_rev")
    val wYoY  = Window.partitionBy(col(g.key)).orderBy(col(g.year))
    val wRank = Window.partitionBy(col(g.year)).orderBy(col("tot_dec").desc, col(g.key).asc)
    val prev = col("prev_tot_dec").cast("double")
    val derived = Map(
      "tot_rev" -> col("tot_dec").cast("double"),
      "prev_tot" -> prev,
      "yoy_pct" -> (col("tot_dec") - col("prev_tot_dec")).cast("double") * 100d / prev)
    oneStageTail(base)
      .groupBy(g.year, g.key)
      .agg(q(1), q(2), q(3), q(4), sum(col("rev")).as("tot_dec"))
      .withColumn("prev_tot_dec", lag(col("tot_dec"), 1).over(wYoY))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= topN)
      .select(pick(out, derived): _*)
      .orderBy(col(g.year), col("tot_rev").desc, col(g.key))
  }

  /** Q2: spend by each order's PRIMARY key (its top-spend key, ties
    * alphabetical), densified over the quarter × key universe with
    * zero-fill, QoQ LAG, top-N per quarter. `lines` holds one row per
    * order line; `order` names the per-order grain (the order key and the
    * order's date columns), `calendar` derives the year and the quarter
    * from those columns under `g`'s names, and `amount` is the line's
    * spend. Outputs the year, the quarter, the key, `nCol` (orders),
    * `spend`, `prev_spend` and `rn`; rows sort by year, quarter, `spend`
    * descending, key. Keys are dimension attributes and never null. */
  def primaryKeySpend(lines: DataFrame, g: Grain, order: Seq[String], calendar: Seq[Column],
      amount: Column, nCol: String, topN: Int): DataFrame = {
    // per-order per-key spend, then one more aggregate per order: total
    // spend + primary key via min over struct(-spend, key), the
    // tiebreak of ROW_NUMBER(ORDER BY spend DESC, key ASC) with map-side
    // partial aggregation instead of a per-order window
    val primary = lines
      .groupBy((order :+ g.key).map(col): _*)
      .agg(sum(amount).as("key_spend"))
      .groupBy(order.map(col): _*)
      .agg(
        sum(col("key_spend")).as("order_spend"),
        min(struct((-col("key_spend")).as("neg_spend"), col(g.key))).getField(g.key).as(g.key))
    val attributed = oneStageTail(primary
      .groupBy(calendar :+ col(g.key): _*)
      .agg(count(lit(1)).as(nCol), sum(col("order_spend")).as("spend_dec")))

    // densification, reading `attributed` once: its rows are gathered
    // into one array, the quarter × key grid (null measures) is built
    // from that array, and actual ∪ grid is re-aggregated per cell;
    // max picks the cell's one actual value. A second consumer of
    // `attributed` would be a column-pruned copy of the star join that
    // AQE cannot reuse.
    val rows = col("rows")
    def cell(y: Column, q: Column, k: Column, n: Column, s: Column) =
      struct(y.as(g.year), q.as(g.quarter), k.as(g.key), n.as(nCol), s.as("spend_dec"))
    val quarters = array_distinct(transform(rows, r => struct(r(g.year).as("y"), r(g.quarter).as("q"))))
    val keys = array_distinct(transform(rows, r => r(g.key)))
    val noSpend = lit(null).cast(attributed.schema("spend_dec").dataType)
    val grid = flatten(transform(quarters, q =>
      transform(keys, k => cell(q("y"), q("q"), k, lit(null).cast("long"), noSpend))))
    val dense = attributed
      .agg(collect_list(cell(col(g.year), col(g.quarter), col(g.key), col(nCol), col("spend_dec"))).as("rows"))
      .select(explode(concat(rows, grid)).as("c"))
      .select("c.*")
      .groupBy(g.year, g.quarter, g.key)
      .agg(coalesce(max(col(nCol)), lit(0L)).as(nCol),
        coalesce(max(col("spend_dec")), lit(0).cast("decimal(18,2)")).as("spend_dec"))

    val wQoQ  = Window.partitionBy(col(g.key)).orderBy(col(g.year), col(g.quarter))
    val wRank = Window.partitionBy(col(g.year), col(g.quarter)).orderBy(col("spend_dec").desc, col(g.key).asc)
    dense
      .withColumn("prev_spend_dec", lag(col("spend_dec"), 1).over(wQoQ))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= topN)
      // the reference drops rows that are zero in both this and the prior quarter
      .filter(!(col("spend_dec") === 0 && coalesce(col("prev_spend_dec"), lit(0)) === 0))
      .select(
        col(g.year), col(g.quarter), col(g.key), col(nCol),
        col("spend_dec").cast("double").as("spend"),
        col("prev_spend_dec").cast("double").as("prev_spend"),
        col("rn"))
      .orderBy(col(g.year), col(g.quarter), col("spend").desc, col(g.key))
  }

  /** Q3: margin = revenue − cost, QoQ LAG, threshold signal. `base` holds
    * `rev_dec` and `cost_dec` at the (year, quarter, key) grain. `out`
    * picks from the year, the quarter, the key, `revenue`, `cost`,
    * `margin`, `prev_margin`, `qoq_pct` and `signal`; rows sort by year,
    * quarter, key. */
  def marginSignals(base: DataFrame, g: Grain, alertPct: Double, out: Seq[String]): DataFrame = {
    val margin = col("rev_dec") - col("cost_dec")
    val prev = col("prev_margin_dec").cast("double")
    val qoq = (margin - col("prev_margin_dec")).cast("double") * 100d / prev
    val derived = Map(
      "revenue" -> col("rev_dec").cast("double"),
      "cost" -> col("cost_dec").cast("double"),
      "margin" -> margin.cast("double"),
      "prev_margin" -> prev,
      "qoq_pct" -> qoq,
      "signal" -> when(qoq.isNull, "N/A")
        .when(qoq < -alertPct, "ALERT")
        .when(qoq > alertPct, "GOOD")
        .otherwise("STABLE"))
    val wQoQ = Window.partitionBy(col(g.key)).orderBy(col(g.year), col(g.quarter))
    oneStageTail(base)
      .withColumn("prev_margin_dec", lag(margin, 1).over(wQoQ))
      .select(pick(out, derived): _*)
      .orderBy(col(g.year), col(g.quarter), col(g.key))
  }

  /** The `out` columns: a derived one under its name, any other as is. */
  private def pick(out: Seq[String], derived: Map[String, Column]): Seq[Column] =
    out.map(c => derived.get(c).fold(col(c))(_.as(c)))
}
