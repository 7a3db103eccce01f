package graft.queries

import graft.etl.DwTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's three OLAP reports over the REAL library star schema
  * (graft.etl.InitialLoad output) — the domain-faithful counterparts of
  * the testdata-based ReportQueries:
  *
  * Q1 (LQY_query1.txt:39-111): quarterly sales revenue by genre — quarter
  *    pivot, YoY via LAG, top-N genres per year, optional gender filter.
  * Q2 (LQY_query2.txt:57-215): quarterly purchase spend by each PO's
  *    primary genre — densified over the quarter × genre universe.
  * Q3 (LQY_query3.txt:62-135): quarterly gross margin by member state —
  *    cost = 0.8 × sales price (the reference's purchase-price model),
  *    QoQ deltas with threshold signals.
  *
  * Q1–Q3 are star adapters: the joins, filters and first aggregate of
  * this star, then the tail shared with ReportQueries ([[ReportTails]]).
  */
object LibraryReports {

  final case class Params(
      yearFrom: Int = 2005,
      yearTo: Int = 2024,
      topN: Int = 5,
      gender: Option[String] = None,     // Q1: 'M' / 'F' / None = ALL
      states: Option[Seq[String]] = None, // Q3: state list / None = ALL
      alertPct: Double = 10.0)

  private def grain(key: String) = Grain("cal_year", "cal_quarter", key)

  /** The fact rows of the year window. date_key is yyyymmdd, so the
    * window is a pushable key-range scan predicate on the fact
    * (partition-prunes a date_key-partitioned fact); the dimDate join
    * only decorates with calendar attributes. */
  private def window(fact: DataFrame, dw: DwTables, p: Params): DataFrame =
    fact.filter(col("date_key").between(p.yearFrom * 10000L + 101, p.yearTo * 10000L + 1231))
      .join(broadcast(dw.dimDate.select("date_key", "cal_year", "cal_quarter")), Seq("date_key"))

  /** Q1 — genre-quarter sales with pivot, YoY and rank. */
  def q1GenreSales(dw: DwTables, p: Params = Params()): DataFrame = {
    val dimM = p.gender.fold(dw.dimMembers)(g => dw.dimMembers.filter(upper(col("member_gender")) === g.toUpperCase))
    val base = window(dw.factSales, dw, p)
      .join(broadcast(dw.dimBook.select("book_key", "genre")), Seq("book_key"))
      .join(broadcast(dimM.select("member_key")), Seq("member_key"))
      .groupBy(col("cal_year"), col("cal_quarter"), col("genre"))
      .agg(sum(col("total_amount")).as("rev"))
    ReportTails.quarterPivotTopN(base, grain("genre"), p.topN,
      Seq("cal_year", "genre", "q1_rev", "q2_rev", "q3_rev", "q4_rev", "tot_rev", "yoy_pct", "rn"))
  }

  /** Q2 — purchase spend by the PO's primary genre, densified + QoQ. */
  def q2PurchaseSpend(dw: DwTables, p: Params = Params()): DataFrame = {
    val lines = window(dw.factPurchase, dw, p)
      .join(broadcast(dw.dimBook.select("book_key", "genre")), Seq("book_key"))
    ReportTails.primaryKeySpend(lines, grain("genre"), order = Seq("po_id", "cal_year", "cal_quarter"),
      calendar = Seq(col("cal_year"), col("cal_quarter")), amount = col("line_total"), nCol = "n_pos",
      topN = p.topN)
  }

  /** Q3 — quarterly gross margin by member state with signals. */
  def q3GrossMargin(dw: DwTables, p: Params = Params()): DataFrame = {
    val dimM = p.states.fold(dw.dimMembers)(ss =>
      dw.dimMembers.filter(col("member_state").isin(ss: _*)))
    val base = window(dw.factSales, dw, p)
      .join(broadcast(dw.dimBook.select("book_key", "sales_price")), Seq("book_key"))
      .join(broadcast(dimM.select("member_key", "member_state")), Seq("member_key"))
      .groupBy(col("cal_year"), col("cal_quarter"), col("member_state"))
      .agg(
        sum(col("total_amount")).as("rev_dec"),
        // reference cost model: cost = 0.8 × sales price × qty
        // (LQY_query3.txt:86). Kept at the exact product scale (price
        // scale 2 × 0.8 scale 1 ⇒ scale 3) with NO per-row rounding: a
        // round-to-cents here would hit .005 ties whose half-up vs
        // half-even resolution differs across engines — the exact
        // decimal is deterministic everywhere and only becomes a double
        // at the report edge.
        sum(col("sales_price") * lit("0.8").cast("decimal(2,1)") * col("quantity"))
          .as("cost_dec"))
    ReportTails.marginSignals(base, grain("member_state"), p.alertPct,
      Seq("cal_year", "cal_quarter", "member_state", "revenue", "cost", "margin", "qoq_pct", "signal"))
  }

  /** Q4 — fine revenue and collection over the fines→payments subdomain
    * (ref 08_InsertFines.sql's inspection queries, generalized): per
    * (year, fine type) billed vs collected amounts, collection rate, and
    * the average days from fine to payment for collected fines. One
    * shuffle, into the (year, type) grain; the sort after it runs in that
    * stage ([[oneStageTail]]). The payments join is payment-id keyed with
    * the (small) payment side broadcast by stats. */
  def q4FineRevenue(fines: DataFrame, payments: DataFrame, p: Params = Params()): DataFrame = {
    val paid = payments.select(col("payment_id"), col("payment_date"))
    fines
      .filter(year(col("fine_date")).between(p.yearFrom, p.yearTo))
      .join(paid, Seq("payment_id"), "left_outer")
      .groupBy(year(col("fine_date")).cast("long").as("cal_year"), col("fine_type"))
      .agg(
        count(lit(1)).as("n_fines"),
        sum(col("fine_amount")).cast("double").as("billed"),
        sum(when(col("fine_status") === "Paid", col("fine_amount")).otherwise(lit(0)))
          .cast("double").as("collected"),
        (sum(when(col("fine_status") === "Paid", 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("collection_rate"),
        avg(when(col("payment_date").isNotNull,
          datediff(col("payment_date"), col("fine_date")))).as("avg_days_to_pay"))
      .transform(oneStageTail)
      .orderBy(col("cal_year"), col("fine_type"))
  }

  /** Q5 — staffing utilization per (role, year): scheduled shifts,
    * absence and late rates (trg_auto_mark_late statuses), and worked
    * hours with the reference's truncated-hour arithmetic. Attendance ⋈
    * schedule is keyed on schedule_id; staff/shift lookups broadcast
    * (bounded dims). One shuffle, into the (role, year) grain; the sort
    * after it runs in that stage ([[oneStageTail]]). */
  def q5StaffUtilization(staff: DataFrame, schedules: DataFrame, attendance: DataFrame): DataFrame =
    attendance
      .join(schedules.select("schedule_id", "staff_id", "shift_date"), Seq("schedule_id"))
      .join(broadcast(staff.select("staff_id", "staff_role")), Seq("staff_id"))
      .groupBy(col("staff_role"), year(col("shift_date")).cast("long").as("cal_year"))
      .agg(
        count(lit(1)).as("n_shifts"),
        (sum(when(col("attendance_status") === "Absent", 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("absence_rate"),
        (sum(when(col("attendance_status") === "Late", 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("late_rate"),
        sum(when(col("actual_end_time").isNotNull,
          (unix_micros(col("actual_end_time")) - unix_micros(col("actual_start_time"))) / lit(3600000000L))
          .otherwise(lit(0L)).cast("long")).as("worked_hours"))
      .transform(oneStageTail)
      .orderBy(col("staff_role"), col("cal_year"))
}
