package graft.queries

import graft.SparkSuite
import graft.etl.DwTables
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Plan-shape pin for the reports' one-stage tails. Each report's first
  * aggregate whose grain the dimensions bound (years × quarters × genres
  * or states, years × fine types, roles × years) is the last shuffle of
  * the report: the quarter pivot, the LAG and rank windows, the top-N
  * filter and the final sort above it run in that aggregate's own stage.
  * So no shuffle exchange lies between any window, global sort or
  * later aggregate and the bounded-grain aggregate under it, and no
  * exchange range-partitions (the global sort's sampling job). Checked
  * on the initial AQE plan: the physical plan before any stage runs. */
class ReportPlanShapeSpec extends SparkSuite {
  import spark.implicits._

  /** A tiny star with every column the five library reports read. The
    * fact-side tables span four files, so their scans are not already
    * single-partition: a one-file scan needs no shuffle anywhere. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_report_plans").toString
    def write(name: String, df: DataFrame, files: Int = 1): Unit =
      df.repartition(files).write.mode(SaveMode.Overwrite).parquet(s"$d/$name")
    def date(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = 0 until 24
    val dateKeys = Seq(20050115L, 20050520L, 20060115L)
    write("dim_date", Seq((20050115L, 2005, 1), (20050520L, 2005, 2), (20060115L, 2006, 1))
      .toDF("date_key", "cal_year", "cal_quarter"))
    write("dim_members", Seq((1L, "F", "Johor"), (2L, "M", "Sabah"))
      .toDF("member_key", "member_gender", "member_state"))
    write("dim_book", Seq((1L, "Fiction", 10.0), (2L, "History", 20.0))
      .toDF("book_key", "genre", "sales_price")
      .withColumn("sales_price", col("sales_price").cast("decimal(10,2)")))
    write("fact_sales", rows.map(i => (dateKeys(i % 3), 1L + i % 2, 1L + i / 2 % 2, 1L + i % 4, 10.0 + i))
      .toDF("date_key", "book_key", "member_key", "quantity", "total_amount")
      .withColumn("total_amount", col("total_amount").cast("decimal(12,2)")), files = 4)
    write("fact_purchase", rows.map(i => (dateKeys(i % 3), 1L + i % 5, 1L + i % 2, 5.0 + i))
      .toDF("date_key", "po_id", "book_key", "line_total")
      .withColumn("line_total", col("line_total").cast("decimal(12,2)")), files = 4)
    write("fines", rows.map(i => (date(s"${2005 + i % 2}-02-01"), i.toLong, if (i % 2 == 0) "Late" else "Lost",
        2.0 + i, if (i % 3 == 0) "Paid" else "Unpaid"))
      .toDF("fine_date", "payment_id", "fine_type", "fine_amount", "fine_status")
      .withColumn("fine_amount", col("fine_amount").cast("decimal(8,2)")), files = 4)
    write("payments", Seq((0L, date("2005-02-10"))).toDF("payment_id", "payment_date"))
    write("staff", Seq((1L, "Librarian"), (2L, "Clerk")).toDF("staff_id", "staff_role"))
    write("schedules", rows.map(i => (i.toLong, 1L + i % 2, date(s"${2005 + i % 2}-01-03")))
      .toDF("schedule_id", "staff_id", "shift_date"), files = 4)
    write("attendance", rows.map(i => (i.toLong, if (i % 4 == 0) "Late" else "Present",
        ts("2005-01-03 09:00:00"), ts("2005-01-03 17:00:00")))
      .toDF("schedule_id", "attendance_status", "actual_start_time", "actual_end_time"), files = 4)
    d
  }

  private def read(t: String): DataFrame = spark.read.parquet(s"$dir/$t")
  private lazy val dw = DwTables(read("dim_date"), read("dim_members"), read("dim_book"),
    dimSuppliers = null, factSales = read("fact_sales"), factBorrowing = null,
    factPurchase = read("fact_purchase"))

  private val dateGrain = Set("cal_year", "cal_quarter")
  private val ymGrain = Set("yr", "qtr")
  private val reports: Seq[(String, Set[String], () => DataFrame)] = Seq(
    ("LibraryReports.q1GenreSales", dateGrain + "genre", () => LibraryReports.q1GenreSales(dw)),
    ("LibraryReports.q2PurchaseSpend", dateGrain + "genre", () => LibraryReports.q2PurchaseSpend(dw)),
    ("LibraryReports.q3GrossMargin", dateGrain + "member_state", () => LibraryReports.q3GrossMargin(dw)),
    ("LibraryReports.q4FineRevenue", Set("cal_year", "fine_type"),
      () => LibraryReports.q4FineRevenue(read("fines"), read("payments"))),
    ("LibraryReports.q5StaffUtilization", Set("staff_role", "cal_year"),
      () => LibraryReports.q5StaffUtilization(read("staff"), read("schedules"), read("attendance"))),
    ("ReportQueries.q1", ymGrain + "genre", () => ReportQueries.q1(spark, sf0001)),
    ("ReportQueries.q2", ymGrain + "genre", () => ReportQueries.q2(spark, sf0001)),
    ("ReportQueries.q3", ymGrain + "state", () => ReportQueries.q3(spark, sf0001)))

  /** Children, looking through the AQE wrapper. A plan that has not run
    * shows its initial plan, the one with exchanges inserted; its
    * `inputPlan` predates exchange insertion and holds no shuffle. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case n                        => n.children
  }
  private def below(p: SparkPlan): Seq[SparkPlan] = kids(p).flatMap(k => k +: below(k))

  /** The final hash aggregate that groups by `grain` (an aliased key,
    * such as `year(d) AS cal_year`, is named only in its output). */
  private def grainAgg(grain: Set[String])(n: SparkPlan): Boolean = n match {
    case h: HashAggregateExec =>
      h.aggregateExpressions.nonEmpty && h.aggregateExpressions.forall(_.mode == Final) &&
        h.groupingExpressions.size == grain.size && grain.subsetOf(h.output.map(_.name).toSet)
    case _ => false
  }

  reports.foreach { case (name, grain, report) =>
    test(s"$name: the tail after the $grain aggregate runs in that aggregate's stage") {
      val root = report().queryExecution.executedPlan
      val nodes = root +: below(root)
      assert(nodes.exists(grainAgg(grain)), s"$name: no final aggregate on $grain in\n$root")
      val tail = nodes.filter {
        case _: WindowExec        => true
        case s: SortExec          => s.global
        case h: HashAggregateExec => below(h).exists(grainAgg(grain))
        case _                    => false
      }
      assert(tail.exists(_.isInstanceOf[SortExec]), s"$name: no global sort found")
      val between = for {
        t <- tail
        e <- below(t).collect { case e: ShuffleExchangeExec => e }
        if below(e).exists(grainAgg(grain))
      } yield s"${t.nodeName} over ${e.outputPartitioning}"
      assert(between.isEmpty, s"$name: shuffles between the tail and the $grain aggregate: " +
        between.distinct.mkString("; "))
      val ranged = nodes.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
          e.outputPartitioning.toString
      }
      assert(ranged.isEmpty, s"$name: range-partitioned exchanges: ${ranged.mkString("; ")}")
    }
  }
}
