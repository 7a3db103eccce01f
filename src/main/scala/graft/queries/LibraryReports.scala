package graft.queries

import graft.etl.DwTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

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
  */
object LibraryReports {

  final case class Params(
      yearFrom: Int = 2005,
      yearTo: Int = 2024,
      topN: Int = 5,
      gender: Option[String] = None,     // Q1: 'M' / 'F' / None = ALL
      states: Option[Seq[String]] = None, // Q3: state list / None = ALL
      alertPct: Double = 10.0)

  /** Q1 — genre-quarter sales with pivot, YoY and rank. */
  def q1GenreSales(dw: DwTables, p: Params = Params()): DataFrame = {
    val dimM = p.gender.fold(dw.dimMembers)(g => dw.dimMembers.filter(upper(col("member_gender")) === g.toUpperCase))
    // date_key is yyyymmdd, so the year range is a pushable key-range scan
    // predicate on the fact (partition-prunes a date_key-partitioned fact);
    // the dimDate join only decorates with calendar attributes.
    val base = dw.factSales
      .filter(col("date_key").between(p.yearFrom * 10000L + 101, p.yearTo * 10000L + 1231))
      .join(broadcast(dw.dimDate.select("date_key", "cal_year", "cal_quarter")), Seq("date_key"))
      .join(broadcast(dw.dimBook.select("book_key", "genre")), Seq("book_key"))
      .join(broadcast(dimM.select("member_key")), Seq("member_key"))
      .groupBy(col("cal_year"), col("cal_quarter"), col("genre"))
      .agg(sum(col("total_amount")).as("rev"))
      .transform(oneStageTail)

    def q(n: Int) = sum(when(col("cal_quarter") === n, col("rev")).otherwise(lit(0))).cast("double")
    val pivoted = base.groupBy("cal_year", "genre").agg(
      q(1).as("q1_rev"), q(2).as("q2_rev"), q(3).as("q3_rev"), q(4).as("q4_rev"),
      sum(col("rev")).as("tot_dec"))

    val wYoY  = Window.partitionBy(col("genre")).orderBy(col("cal_year"))
    val wRank = Window.partitionBy(col("cal_year")).orderBy(col("tot_dec").desc, col("genre").asc)
    pivoted
      .withColumn("prev_tot", lag(col("tot_dec"), 1).over(wYoY))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= p.topN)
      .select(
        col("cal_year"), col("genre"),
        col("q1_rev"), col("q2_rev"), col("q3_rev"), col("q4_rev"),
        col("tot_dec").cast("double").as("tot_rev"),
        ((col("tot_dec") - col("prev_tot")).cast("double") * 100 / col("prev_tot").cast("double")).as("yoy_pct"),
        col("rn"))
      .orderBy(col("cal_year"), col("tot_rev").desc, col("genre"))
  }

  /** Q2 — purchase spend by the PO's primary genre, densified + QoQ. */
  def q2PurchaseSpend(dw: DwTables, p: Params = Params()): DataFrame = {
    val lines = dw.factPurchase
      .filter(col("date_key").between(p.yearFrom * 10000L + 101, p.yearTo * 10000L + 1231))
      .join(broadcast(dw.dimDate.select("date_key", "cal_year", "cal_quarter")), Seq("date_key"))
      .join(broadcast(dw.dimBook.select("book_key", "genre")), Seq("book_key"))

    val perPoGenre = lines
      .groupBy(col("po_id"), col("cal_year"), col("cal_quarter"), col("genre"))
      .agg(sum(col("line_total")).as("genre_spend"))
    val primary = perPoGenre
      .groupBy(col("po_id"), col("cal_year"), col("cal_quarter"))
      .agg(
        sum(col("genre_spend")).as("po_spend"),
        min(struct((-col("genre_spend")).as("neg"), col("genre"))).getField("genre").as("genre"))
    val attributed = primary
      .groupBy("cal_year", "cal_quarter", "genre")
      .agg(count(lit(1)).as("n_pos"), sum(col("po_spend")).as("spend_dec"))
      .transform(oneStageTail)

    // densification over the quarter × genre universe. `attributed` is
    // broadcast into the left join: a sort-merge join over two
    // single-partition sides would re-shuffle both.
    val quarters = attributed.select("cal_year", "cal_quarter").distinct()
    val genres   = attributed.select("genre").distinct()
    val dense = quarters.crossJoin(broadcast(genres))
      .join(broadcast(attributed), Seq("cal_year", "cal_quarter", "genre"), "left_outer")
      .select(
        col("cal_year"), col("cal_quarter"), col("genre"),
        coalesce(col("n_pos"), lit(0L)).cast("long").as("n_pos"),
        coalesce(col("spend_dec"), lit(0).cast("decimal(18,2)")).as("spend_dec"))

    val wQoQ  = Window.partitionBy(col("genre")).orderBy(col("cal_year"), col("cal_quarter"))
    val wRank = Window.partitionBy(col("cal_year"), col("cal_quarter"))
      .orderBy(col("spend_dec").desc, col("genre").asc)
    dense
      .withColumn("prev_spend", lag(col("spend_dec"), 1).over(wQoQ))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= p.topN)
      .filter(!(col("spend_dec") === 0 && coalesce(col("prev_spend"), lit(0)) === 0))
      .select(
        col("cal_year"), col("cal_quarter"), col("genre"), col("n_pos"),
        col("spend_dec").cast("double").as("spend"),
        col("prev_spend").cast("double").as("prev_spend"),
        col("rn"))
      .orderBy(col("cal_year"), col("cal_quarter"), col("spend").desc, col("genre"))
  }

  /** Q3 — quarterly gross margin by member state with signals. */
  def q3GrossMargin(dw: DwTables, p: Params = Params()): DataFrame = {
    val dimM = p.states.fold(dw.dimMembers)(ss =>
      dw.dimMembers.filter(col("member_state").isin(ss: _*)))
    val base = dw.factSales
      .filter(col("date_key").between(p.yearFrom * 10000L + 101, p.yearTo * 10000L + 1231))
      .join(broadcast(dw.dimDate.select("date_key", "cal_year", "cal_quarter")), Seq("date_key"))
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
      .transform(oneStageTail)

    val wQoQ = Window.partitionBy(col("member_state")).orderBy(col("cal_year"), col("cal_quarter"))
    base
      .withColumn("margin_dec", col("rev_dec") - col("cost_dec"))
      .withColumn("prev_margin", lag(col("margin_dec"), 1).over(wQoQ))
      .withColumn("qoq_pct",
        (col("margin_dec") - col("prev_margin")).cast("double") * 100 / col("prev_margin").cast("double"))
      .withColumn("signal",
        when(col("qoq_pct").isNull, "N/A")
          .when(col("qoq_pct") < -p.alertPct, "ALERT")
          .when(col("qoq_pct") > p.alertPct, "GOOD")
          .otherwise("STABLE"))
      .select(
        col("cal_year"), col("cal_quarter"), col("member_state"),
        col("rev_dec").cast("double").as("revenue"),
        col("cost_dec").cast("double").as("cost"),
        col("margin_dec").cast("double").as("margin"),
        col("qoq_pct"), col("signal"))
      .orderBy(col("cal_year"), col("cal_quarter"), col("member_state"))
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
