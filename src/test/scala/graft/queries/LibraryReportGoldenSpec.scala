package graft.queries

import graft.SparkSuite
import graft.etl.{Derivations, InitialLoad}
import graft.gen.LibraryTables
import graft.queries.LibraryReports.Params

/** Golden-pin for the RENDERED library reports at seed 42 / scale 0.1 —
  * the report-layer counterpart of LibraryGoldenHashSpec's data pins:
  * the generators' content is hash-locked, so the exact rendered bytes
  * (BREAK groups, COMPUTE subtotals, column widths, %.2f formatting) are
  * deterministic too, and a regression in either the report queries or
  * the renderer shows up as a pin diff. Every numeric column is decimal-
  * or integer-derived (long/long divisions, decimal sums cast to double
  * only at the edge), and every report ends in a total order, so no
  * float or row-order nondeterminism can reach the bytes. Q1–Q3 are
  * pinned under several parameter sets over the star, so a rewrite of
  * their plan shape must return the same bytes for each.
  *
  * On an INTENTIONAL report change, re-pin with
  * -Dgraft.golden.print=true and copy the printed values.
  */
class LibraryReportGoldenSpec extends SparkSuite {

  private lazy val oltp    = LibraryTables.generate(spark, scale = 0.1, seed = 42)
  private lazy val derived = Derivations.applyAll(oltp, asOf = "2024-06-30")
  private lazy val dw      = InitialLoad(spark, derived)

  private lazy val rendered: Seq[(String, String)] = Seq(
    "q4_fine_revenue" -> ReportRenderer.render(
      LibraryReports.q4FineRevenue(derived.fines, derived.payments),
      title = "Fine Revenue & Collection by Year and Type",
      breakCol = "cal_year",
      computeCols = Seq("billed", "collected")),
    "q5_staff_utilization" -> ReportRenderer.render(
      LibraryReports.q5StaffUtilization(oltp.staff, oltp.shiftSchedules, derived.staffAttendance),
      title = "Staffing Utilization by Role and Year",
      breakCol = "staff_role",
      computeCols = Seq("n_shifts", "worked_hours")))

  /** The star reports under each pinned parameter set: the defaults, a
    * single-year top-1 window, a gender filter over 2010–2015 and a
    * two-state Q3 list. */
  private lazy val renderedStar: Seq[(String, String)] = {
    val sets = Seq(
      "default" -> Params(),
      "y2015_top1" -> Params(yearFrom = 2015, yearTo = 2015, topN = 1),
      "f_2010_2015" -> Params(yearFrom = 2010, yearTo = 2015, gender = Some("F")))
    sets.flatMap { case (tag, p) =>
      Seq(
        s"q1_genre_sales/$tag" -> ReportRenderer.render(LibraryReports.q1GenreSales(dw, p),
          title = "Quarterly Sales Revenue by Genre", breakCol = "cal_year", computeCols = Seq("tot_rev")),
        s"q2_purchase_spend/$tag" -> ReportRenderer.render(LibraryReports.q2PurchaseSpend(dw, p),
          title = "Purchase Spend by Primary Genre", breakCol = "cal_year", computeCols = Seq("spend")),
        s"q3_gross_margin/$tag" -> renderQ3(p))
    } :+ ("q3_gross_margin/two_states" -> renderQ3(Params(states = Some(Seq("Johor", "Sabah")))))
  }

  private def renderQ3(p: Params): String =
    ReportRenderer.render(LibraryReports.q3GrossMargin(dw, p),
      title = "Quarterly Gross Margin by Member State", breakCol = "cal_year",
      computeCols = Seq("revenue", "cost", "margin"))

  // Pinned (lineCount, md5) of each rendered report at seed 42 / scale 0.1.
  private val golden: Map[String, (Int, String)] = Map(
    "q4_fine_revenue" -> (84, "3278ca88dbff8b6f59a6b5579d5fb8a7"),
    "q5_staff_utilization" -> (114, "033e332adc54f192573018e1a60c6e29"))

  // Pinned the same way, for Q1–Q3 under each parameter set.
  private val goldenStar: Map[String, (Int, String)] = Map(
    "q1_genre_sales/default" -> (124, "9ca6545fcdd42f92c50d780f77eed3c0"),
    "q2_purchase_spend/default" -> (400, "e161b56823b2a6a71854086e243b9974"),
    "q3_gross_margin/default" -> (648, "ed4927fd89de9b12a58f34235004fabd"),
    "q1_genre_sales/y2015_top1" -> (6, "31f1d75523be29612a9ac4e36ea19cf3"),
    "q2_purchase_spend/y2015_top1" -> (9, "36878b69b1494bb7f161f90a54674b8b"),
    "q3_gross_margin/y2015_top1" -> (37, "adbbb7d2f047eeb16b5b92fa00dd637c"),
    "q1_genre_sales/f_2010_2015" -> (40, "520da6c2611c36a8630d85c90b6bbd07"),
    "q2_purchase_spend/f_2010_2015" -> (122, "e6b1f5878ab89d528a62be7287d0fc6a"),
    "q3_gross_margin/f_2010_2015" -> (202, "f3d2868cedf9380466c4725aad0604b1"),
    "q3_gross_margin/two_states" -> (180, "657cdca7b53bce2e76ab34963b65183c"))

  private def md5(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def checkPins(reports: Seq[(String, String)], pins: Map[String, (Int, String)]): Unit = {
    if (sys.props.get("graft.golden.print").contains("true") || pins.isEmpty) {
      reports.foreach { case (name, text) =>
        println(s"""    "$name" -> (${text.linesIterator.length}, "${md5(text)}"),""")
      }
    }
    assert(pins.nonEmpty, "golden map is unpinned — run with -Dgraft.golden.print=true and pin")
    assert(reports.map(_._1).toSet == pins.keySet)
    reports.foreach { case (name, text) =>
      val (wantLines, wantMd5) = pins(name)
      assert(text.linesIterator.length == wantLines,
        s"$name: rendered ${text.linesIterator.length} lines, pinned $wantLines")
      assert(md5(text) == wantMd5, s"$name: rendered bytes diverged from the seed-42 pin (${md5(text)})")
    }
  }

  test("rendered Q4/Q5 report bytes match the seed-42 golden pins") {
    checkPins(rendered, golden)
  }

  test("rendered Q1/Q2/Q3 report bytes match the seed-42 golden pins for each parameter set") {
    checkPins(renderedStar, goldenStar)
  }

  test("rendered reports carry BREAK groups and COMPUTE subtotals") {
    val q4 = rendered.head._2
    // one subtotal line per year group, labelled like SQL*Plus COMPUTE
    assert("sum\\(\\d{4}\\)".r.findAllIn(q4).nonEmpty, "Q4 lost its COMPUTE subtotal lines")
    // BREAK: a repeated year prints blank after its first row
    val q5 = rendered(1)._2
    assert(q5.linesIterator.count(_.trim.startsWith("|")) > 10)
    assert("sum\\(".r.findAllIn(q5).size >= 3, "Q5 should subtotal every role group")
  }
}
