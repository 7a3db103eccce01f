package graft.queries

import graft.SparkSuite
import graft.queries.ReportQueries.{Q1Params, Q2Params, Q3Params}

/** Golden pins for the RENDERED testdata-star reports (`ReportQueries`
  * q1–q3) at sf0.001: the counterpart of LibraryReportGoldenSpec for the
  * second star. Each report is pinned at its defaults and under one
  * non-default parameter set, so a rewrite of the reports' plans must
  * return the same bytes for each. Every numeric column is decimal- or
  * integer-derived and every report ends in a total order, so the bytes
  * are deterministic.
  *
  * On an INTENTIONAL report change, re-pin with
  * -Dgraft.golden.print=true and copy the printed values.
  */
class ReportQueriesGoldenSpec extends SparkSuite {

  private lazy val rendered: Seq[(String, String)] = {
    def q1(p: Q1Params) = ReportRenderer.render(ReportQueries.q1(spark, sf0001, p),
      title = "Quarterly Sales Revenue by Brand", breakCol = "yr", computeCols = Seq("tot_rev"))
    def q2(p: Q2Params) = ReportRenderer.render(ReportQueries.q2(spark, sf0001, p),
      title = "Spend by Primary Brand", breakCol = "yr", computeCols = Seq("spend"))
    def q3(p: Q3Params) = ReportRenderer.render(ReportQueries.q3(spark, sf0001, p),
      title = "Quarterly Gross Margin by Nation", breakCol = "yr",
      computeCols = Seq("revenue", "cost", "margin"))
    Seq(
      "q1/default" -> q1(Q1Params()),
      "q1/building_top2" -> q1(Q1Params(segment = Some("BUILDING"), topN = 2)),
      "q2/default" -> q2(Q2Params()),
      "q2/y1995_top3" -> q2(Q2Params(yearFrom = 1995, yearTo = 1995, topN = 3)),
      "q3/default" -> q3(Q3Params()),
      "q3/alert5" -> q3(Q3Params(alertPct = 5.0)))
  }

  // Pinned (lineCount, md5) of each rendered report at sf0.001.
  private val golden: Map[String, (Int, String)] = Map(
    "q1/default" -> (22, "943c67745646da184e3dd05c6d1e3379"),
    "q1/building_top2" -> (13, "fa0928c278c21d838d2d6931ba2bb80b"),
    "q2/default" -> (62, "f6dee0f0c691704a3e4b023f92eeab9f"),
    "q2/y1995_top3" -> (17, "7795d12bc6bf9d0bc20b8ee0e47fc312"),
    "q3/default" -> (266, "7ef7395efb14232691d9e4a5073e47a4"),
    "q3/alert5" -> (266, "49a5d6ea6175f69320a6e3d43124cc35"))

  private def md5(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("rendered testdata q1/q2/q3 report bytes match the sf0.001 pins for each parameter set") {
    if (sys.props.get("graft.golden.print").contains("true") || golden.isEmpty) {
      rendered.foreach { case (name, text) =>
        println(s"""    "$name" -> (${text.linesIterator.length}, "${md5(text)}"),""")
      }
    }
    assert(golden.nonEmpty, "golden map is unpinned — run with -Dgraft.golden.print=true and pin")
    assert(rendered.map(_._1).toSet == golden.keySet)
    rendered.foreach { case (name, text) =>
      val (wantLines, wantMd5) = golden(name)
      assert(text.linesIterator.length == wantLines,
        s"$name: rendered ${text.linesIterator.length} lines, pinned $wantLines")
      assert(md5(text) == wantMd5, s"$name: rendered bytes diverged from the sf0.001 pin (${md5(text)})")
    }
  }
}
