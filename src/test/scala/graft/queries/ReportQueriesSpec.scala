package graft.queries

import graft.{SparkSuite, Tables}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class ReportQueriesSpec extends SparkSuite {
  import spark.implicits._

  /** Minimal star schema where brand B2 sells in 1995-Q1 but not Q2 —
    * exercises Q2's densification zero-fill + retention rule, which the
    * driver testdata never triggers (every brand sells every quarter). */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_q2_spec").toString
    val orders = Seq(
      (1L, 1L, "O", 100.0, java.sql.Timestamp.valueOf("1995-02-01 00:00:00"), "1-URGENT"),
      (2L, 1L, "O", 200.0, java.sql.Timestamp.valueOf("1995-02-15 00:00:00"), "1-URGENT"),
      (3L, 1L, "O", 300.0, java.sql.Timestamp.valueOf("1995-05-01 00:00:00"), "1-URGENT")
    ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    val lineitem = Seq(
      // order 1: brand B1; order 2: brand B2 (Q1 only); order 3: brand B1 (Q2)
      (1L, 10L, 1L, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("1995-02-02 00:00:00")),
      (2L, 20L, 1L, 1, 1.0, 200.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("1995-02-16 00:00:00")),
      (3L, 10L, 1L, 1, 1.0, 300.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("1995-05-02 00:00:00"))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val part = Seq(
      (10L, "part one", "B1", "TYPE A", 1, 50.0),
      (20L, "part two", "B2", "TYPE B", 1, 60.0)
    ).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    orders.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$d/orders.parquet")
    lineitem.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$d/lineitem.parquet")
    part.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$d/part.parquet")
    d
  }

  test("q2 retains a zero-spend quarter when the prior quarter had spend") {
    val out = ReportQueries.q2(spark, dir, ReportQueries.Q2Params(1995, 1995, topN = 5)).cache()
    // B2 sold in Q1 (200) and nothing in Q2 → the Q2 zero row must survive
    // (spend=0 but prev_spend=200), per the reference's retention rule.
    val b2q2 = out.filter($"genre" === "B2" && $"qtr" === 2).collect()
    assert(b2q2.length == 1)
    assert(b2q2.head.getAs[Double]("spend") == 0.0)
    assert(b2q2.head.getAs[Double]("prev_spend") == 200.0)
    // B1 never has an all-zero streak; B2 Q3/Q4 (zero after zero) are dropped
    assert(out.filter($"genre" === "B2" && $"qtr" >= 3).count() == 0)
  }

  test("q2 attributes each order's full spend to its primary brand") {
    val out = ReportQueries.q2(spark, dir, ReportQueries.Q2Params(1995, 1995, topN = 5))
    val q1b1 = out.filter($"genre" === "B1" && $"qtr" === 1).collect().head
    assert(q1b1.getAs[Double]("spend") == 100.0)
    assert(q1b1.getAs[Long]("n_orders") == 1L)
  }

  test("a later q2 call reads lineitem files replaced outside Spark") {
    val d = java.nio.file.Files.createTempDirectory("graft_q2_fresh").toString
    Seq("orders", "part").foreach(t => spark.read.parquet(s"$dir/$t.parquet").write.parquet(s"$d/$t.parquet"))
    def lineitem(price: Double) =
      spark.read.parquet(s"$dir/lineitem.parquet").withColumn("l_extendedprice", lit(price)).coalesce(1)
    lineitem(100.0).write.parquet(s"$d/lineitem.parquet")
    lineitem(700.0).write.parquet(s"$d/next.parquet")
    def q2b1 = ReportQueries.q2(spark, d, ReportQueries.Q2Params(1995, 1995, topN = 5))
      .filter($"genre" === "B1" && $"qtr" === 2).select("spend").as[Double].collect().toSeq
    assert(q2b1 == Seq(100.0))
    // swap the files the way an outside loader would: Spark sees no
    // write to the path, so nothing refreshes a frame cached by the call
    val li = new java.io.File(s"$d/lineitem.parquet")
    li.listFiles().foreach(_.delete())
    new java.io.File(s"$d/next.parquet").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath, new java.io.File(li, f.getName).toPath))
    assert(q2b1 == Seq(700.0), "the second call answered from the first call's data")
  }

  test("q1/q3 run end-to-end on testdata with sane shapes") {
    val q1 = ReportQueries.q1(spark, sf0001)
    assert(q1.count() > 0)
    assert(q1.filter($"rn" > 5).count() == 0)
    val q3 = ReportQueries.q3(spark, sf0001)
    assert(q3.count() > 0)
    assert(q3.select("signal").distinct().as[String].collect().toSet.subsetOf(Set("ALERT", "GOOD", "STABLE", "N/A")))
  }

  test("q4 RFM: one row per customer, balanced quintiles, coherent segments") {
    val out = ReportQueries.q4(spark, sf0001).cache()
    val nCust = Tables(spark, sf0001).orders.select("o_custkey").distinct().count()
    assert(out.count() == nCust, "one score row per ordering customer")
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val sizes = out.groupBy(c).count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sizes.keySet == (1L to 5L).toSet, s"$c must span all five quintiles")
      assert(sizes.values.max - sizes.values.min <= 1, s"$c quintiles must be ntile-balanced")
    }
    // champions really are top-bucket on every axis
    val champs = out.filter($"segment" === "champion")
    assert(champs.filter($"r_score" < 4 || $"f_score" < 4 || $"m_score" < 4).count() == 0)
    assert(out.select("segment").distinct().as[String].collect().toSet
      .subsetOf(Set("champion", "new", "at_risk", "lost", "regular")))
    out.unpersist()
  }
}
