package graft.queries

import graft.{Norm, Tables}
import graft.algo.GlobalRank
import graft.ops.OpQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's three parameterized OLAP reports, re-expressed over the
  * testdata star schema (lineitem/orders = facts; part/customer/nation =
  * dims; p_brand plays "genre", n_name plays "state").
  *
  * Q1: quarterly sales by genre, pivot + YoY + top-N   (LQY_query1.txt:39-111)
  * Q2: spend by primary genre, densified + QoQ + top-N (LQY_query2.txt:57-215)
  * Q3: quarterly gross margin by state, QoQ + signals  (LQY_query3.txt:62-135)
  *
  * Parameters arrive as case classes (the SQL*Plus ACCEPT/substitution
  * mechanism, LQY_query1.txt:8-11); a disabled filter is simply not added
  * to the plan — the Scala analog of Oracle's `'%'='%'` constant-fold.
  */
object ReportQueries {

  final case class Q1Params(yearFrom: Int = 1995, yearTo: Int = 1997, topN: Int = 5, segment: Option[String] = None)
  final case class Q2Params(yearFrom: Int = 1995, yearTo: Int = 1996, topN: Int = 7)
  final case class Q3Params(yearFrom: Int = 1995, yearTo: Int = 1997, alertPct: Double = 10.0)

  /** Q1 — genre(=brand) quarterly revenue: star join → quarter pivot →
    * YoY LAG → ROW_NUMBER top-N per year. */
  def q1(spark: SparkSession, dir: String, p: Q1Params = Q1Params()): DataFrame = {
    val t = Tables(spark, dir)
    val cust = p.segment.fold(t.customer)(s => t.customer.filter(col("c_mktsegment") === s))
    val base = t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust.select("c_custkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.part.select("p_partkey", "p_brand")), col("l_partkey") === col("p_partkey"))
      .filter(col("o_orderdate") >= lit(s"${p.yearFrom}-01-01").cast("date")
        && col("o_orderdate") < lit(s"${p.yearTo + 1}-01-01").cast("date"))
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        col("p_brand").as("genre"))
      .agg(sum(Norm.dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)"))).as("rev"))
      .transform(oneStageTail)

    val pivoted = base
      .groupBy("yr", "genre")
      .agg(
        sum(when(col("qtr") === 1, col("rev")).otherwise(lit(0))).cast("double").as("q1_rev"),
        sum(when(col("qtr") === 2, col("rev")).otherwise(lit(0))).cast("double").as("q2_rev"),
        sum(when(col("qtr") === 3, col("rev")).otherwise(lit(0))).cast("double").as("q3_rev"),
        sum(when(col("qtr") === 4, col("rev")).otherwise(lit(0))).cast("double").as("q4_rev"),
        sum(col("rev")).as("tot_dec"))

    val wYoY  = Window.partitionBy(col("genre")).orderBy(col("yr"))
    val wRank = Window.partitionBy(col("yr")).orderBy(col("tot_dec").desc, col("genre").asc)
    pivoted
      .withColumn("prev_tot_dec", lag(col("tot_dec"), 1).over(wYoY))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= p.topN)
      .select(
        col("yr"), col("genre"), col("q1_rev"), col("q2_rev"), col("q3_rev"), col("q4_rev"),
        col("tot_dec").cast("double").as("tot_rev"),
        col("prev_tot_dec").cast("double").as("prev_tot"),
        ((col("tot_dec") - col("prev_tot_dec")).cast("double") * 100d
          / col("prev_tot_dec").cast("double")).as("yoy_pct"),
        col("rn"))
      .orderBy(col("yr").asc, col("tot_rev").desc, col("genre").asc)
  }

  /** Q1 oracle (DuckDB). */
  def q1Sql(p: Q1Params = Q1Params()): String = {
    val segFilter = p.segment.fold("")(s => s" AND c.c_mktsegment = '$s'")
    s"""WITH base AS (
       |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
       |         CAST(quarter(o.o_orderdate) AS BIGINT) AS qtr,
       |         p.p_brand AS genre,
       |         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |             * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev
       |  FROM lineitem l
       |    JOIN orders o ON l.l_orderkey = o.o_orderkey
       |    JOIN customer c ON o.o_custkey = c.c_custkey
       |    JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE o.o_orderdate >= DATE '${p.yearFrom}-01-01' AND o.o_orderdate < DATE '${p.yearTo + 1}-01-01'$segFilter
       |  GROUP BY 1, 2, 3),
       |pivoted AS (
       |  SELECT yr, genre,
       |         CAST(sum(CASE WHEN qtr=1 THEN rev ELSE 0 END) AS DOUBLE) AS q1_rev,
       |         CAST(sum(CASE WHEN qtr=2 THEN rev ELSE 0 END) AS DOUBLE) AS q2_rev,
       |         CAST(sum(CASE WHEN qtr=3 THEN rev ELSE 0 END) AS DOUBLE) AS q3_rev,
       |         CAST(sum(CASE WHEN qtr=4 THEN rev ELSE 0 END) AS DOUBLE) AS q4_rev,
       |         sum(rev) AS tot_dec
       |  FROM base GROUP BY yr, genre),
       |ranked AS (
       |  SELECT *,
       |         lag(tot_dec) OVER (PARTITION BY genre ORDER BY yr) AS prev_tot_dec,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY tot_dec DESC, genre ASC) AS BIGINT) AS rn
       |  FROM pivoted)
       |SELECT yr, genre, q1_rev, q2_rev, q3_rev, q4_rev,
       |       CAST(tot_dec AS DOUBLE) AS tot_rev,
       |       CAST(prev_tot_dec AS DOUBLE) AS prev_tot,
       |       CAST(tot_dec - prev_tot_dec AS DOUBLE) * 100 / CAST(prev_tot_dec AS DOUBLE) AS yoy_pct,
       |       rn
       |FROM ranked WHERE rn <= ${p.topN}""".stripMargin
  }

  /** Q2 — spend by each order's PRIMARY genre (top-spend brand per order,
    * ties alphabetical), densified over the full quarter × genre universe
    * with zero-fill, QoQ LAG, top-N per quarter retaining zero rows. */
  def q2(spark: SparkSession, dir: String, p: Q2Params = Q2Params()): DataFrame = {
    val t = Tables(spark, dir)
    val lines = t.lineitem
      .join(t.orders.filter(col("o_orderdate") >= lit(s"${p.yearFrom}-01-01").cast("date")
        && col("o_orderdate") < lit(s"${p.yearTo + 1}-01-01").cast("date")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.part.select("p_partkey", "p_brand")), col("l_partkey") === col("p_partkey"))

    // per-order per-brand spend, then one more hash agg per order: total
    // spend + primary brand via min over struct(-spend, brand) — identical
    // tiebreak to ROW_NUMBER(ORDER BY spend DESC, brand ASC) but with
    // map-side partial aggregation instead of a per-order window sort.
    val perOrderBrand = lines
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("p_brand"))
      .agg(sum(Norm.dec(col("l_extendedprice"))).as("brand_spend"))
    val primary = perOrderBrand
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(
        sum(col("brand_spend")).as("order_spend"),
        min(struct((-col("brand_spend")).as("neg_spend"), col("p_brand"))).getField("p_brand").as("p_brand"))

    val attributed = primary
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        col("p_brand").as("genre"))
      .agg(count(lit(1)).as("n_orders"), sum(col("order_spend")).as("spend_dec"))
      .transform(oneStageTail)

    // densification: full (yr, qtr) × genre universe, zero-filled.
    // `attributed` is broadcast into the left join: a sort-merge join
    // over two single-partition sides would re-shuffle both.
    val quarters = attributed.select("yr", "qtr").distinct()
    val genres   = attributed.select("genre").distinct()
    val dense = quarters
      .crossJoin(broadcast(genres))
      .join(broadcast(attributed), Seq("yr", "qtr", "genre"), "left_outer")
      .select(
        col("yr"), col("qtr"), col("genre"),
        coalesce(col("n_orders"), lit(0L)).cast("long").as("n_orders"),
        coalesce(col("spend_dec"), lit(0).cast("decimal(18,2)")).as("spend_dec"))

    val wQoQ  = Window.partitionBy(col("genre")).orderBy(col("yr"), col("qtr"))
    val wRank = Window.partitionBy(col("yr"), col("qtr")).orderBy(col("spend_dec").desc, col("genre").asc)
    dense
      .withColumn("prev_spend_dec", lag(col("spend_dec"), 1).over(wQoQ))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .filter(col("rn") <= p.topN)
      // reference drops rows that are zero in both current and prior quarter
      .filter(!(col("spend_dec") === 0 && coalesce(col("prev_spend_dec"), lit(0)) === 0))
      .select(
        col("yr"), col("qtr"), col("genre"), col("n_orders"),
        col("spend_dec").cast("double").as("spend"),
        col("prev_spend_dec").cast("double").as("prev_spend"),
        col("rn"))
      .orderBy(col("yr"), col("qtr"), col("spend").desc, col("genre"))
  }

  def q2Sql(p: Q2Params = Q2Params()): String =
    s"""WITH lines AS (
       |  SELECT l.l_orderkey AS o_orderkey, o.o_orderdate, p.p_brand,
       |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price
       |  FROM lineitem l
       |    JOIN orders o ON l.l_orderkey = o.o_orderkey
       |    JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE year(o.o_orderdate) BETWEEN ${p.yearFrom} AND ${p.yearTo}),
       |per_order_brand AS (
       |  SELECT o_orderkey, o_orderdate, p_brand, sum(price) AS brand_spend
       |  FROM lines GROUP BY 1, 2, 3),
       |primary_genre AS (
       |  SELECT * FROM (
       |    SELECT *,
       |           sum(brand_spend) OVER (PARTITION BY o_orderkey) AS order_spend,
       |           ROW_NUMBER() OVER (PARTITION BY o_orderkey
       |                              ORDER BY brand_spend DESC, p_brand ASC) AS prn
       |    FROM per_order_brand) WHERE prn = 1),
       |attributed AS (
       |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       |         CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       |         p_brand AS genre,
       |         count(*) AS n_orders,
       |         sum(order_spend) AS spend_dec
       |  FROM primary_genre
       |  GROUP BY 1, 2, 3),
       |dense AS (
       |  SELECT q.yr, q.qtr, g.genre,
       |         CAST(coalesce(a.n_orders, 0) AS BIGINT) AS n_orders,
       |         coalesce(a.spend_dec, CAST(0 AS DECIMAL(18,2))) AS spend_dec
       |  FROM (SELECT DISTINCT yr, qtr FROM attributed) q
       |  CROSS JOIN (SELECT DISTINCT genre FROM attributed) g
       |  LEFT JOIN attributed a ON a.yr = q.yr AND a.qtr = q.qtr AND a.genre = g.genre),
       |ranked AS (
       |  SELECT *,
       |         lag(spend_dec) OVER (PARTITION BY genre ORDER BY yr, qtr) AS prev_spend_dec,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY yr, qtr
       |                                 ORDER BY spend_dec DESC, genre ASC) AS BIGINT) AS rn
       |  FROM dense)
       |SELECT yr, qtr, genre, n_orders,
       |       CAST(spend_dec AS DOUBLE) AS spend,
       |       CAST(prev_spend_dec AS DOUBLE) AS prev_spend,
       |       rn
       |FROM ranked
       |WHERE rn <= ${p.topN}
       |  AND NOT (spend_dec = 0 AND coalesce(prev_spend_dec, 0) = 0)""".stripMargin

  /** Q3 — quarterly gross margin by state(=nation): margin = revenue −
    * cost with cost = 0.8 × retail × qty (the reference's cost model,
    * LQY_query3.txt:86), QoQ LAG, threshold signal CASE. */
  def q3(spark: SparkSession, dir: String, p: Q3Params = Q3Params()): DataFrame = {
    val t = Tables(spark, dir)
    val base = t.lineitem
      .join(t.orders.filter(col("o_orderdate") >= lit(s"${p.yearFrom}-01-01").cast("date")
        && col("o_orderdate") < lit(s"${p.yearTo + 1}-01-01").cast("date")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select("c_custkey", "c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select("n_nationkey", "n_name")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.part.select("p_partkey", "p_retailprice")), col("l_partkey") === col("p_partkey"))
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        col("n_name").as("state"))
      .agg(
        sum(Norm.dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)"))).as("rev_dec"),
        sum(Norm.dec(col("p_retailprice")) * lit("0.8").cast("decimal(2,1)") * Norm.dec(col("l_quantity"))).as("cost_dec"))
      .transform(oneStageTail)

    val wQoQ = Window.partitionBy(col("state")).orderBy(col("yr"), col("qtr"))
    base
      .withColumn("margin_dec", col("rev_dec") - col("cost_dec"))
      .withColumn("prev_margin_dec", lag(col("margin_dec"), 1).over(wQoQ))
      .select(
        col("yr"), col("qtr"), col("state"),
        col("rev_dec").cast("double").as("revenue"),
        col("cost_dec").cast("double").as("cost"),
        col("margin_dec").cast("double").as("margin"),
        col("prev_margin_dec").cast("double").as("prev_margin"),
        ((col("margin_dec") - col("prev_margin_dec")).cast("double") * 100d
          / col("prev_margin_dec").cast("double")).as("qoq_pct"))
      .withColumn("signal",
        when(col("qoq_pct").isNull, "N/A")
          .when(col("qoq_pct") < -p.alertPct, "ALERT")
          .when(col("qoq_pct") > p.alertPct, "GOOD")
          .otherwise("STABLE"))
      .orderBy(col("yr"), col("qtr"), col("state"))
  }

  def q3Sql(p: Q3Params = Q3Params()): String =
    s"""WITH base AS (
       |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
       |         CAST(quarter(o.o_orderdate) AS BIGINT) AS qtr,
       |         n.n_name AS state,
       |         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |             * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS rev_dec,
       |         sum(CAST(p.p_retailprice AS DECIMAL(18,2))
       |             * CAST(0.8 AS DECIMAL(2,1))
       |             * CAST(l.l_quantity AS DECIMAL(18,2))) AS cost_dec
       |  FROM lineitem l
       |    JOIN orders o ON l.l_orderkey = o.o_orderkey
       |    JOIN customer c ON o.o_custkey = c.c_custkey
       |    JOIN nation n ON c.c_nationkey = n.n_nationkey
       |    JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE o.o_orderdate >= DATE '${p.yearFrom}-01-01' AND o.o_orderdate < DATE '${p.yearTo + 1}-01-01'
       |  GROUP BY 1, 2, 3),
       |lagged AS (
       |  SELECT *, rev_dec - cost_dec AS margin_dec,
       |         lag(rev_dec - cost_dec) OVER (PARTITION BY state ORDER BY yr, qtr) AS prev_margin_dec
       |  FROM base)
       |SELECT yr, qtr, state,
       |       CAST(rev_dec AS DOUBLE) AS revenue,
       |       CAST(cost_dec AS DOUBLE) AS cost,
       |       CAST(margin_dec AS DOUBLE) AS margin,
       |       CAST(prev_margin_dec AS DOUBLE) AS prev_margin,
       |       CAST(margin_dec - prev_margin_dec AS DOUBLE) * 100 / CAST(prev_margin_dec AS DOUBLE) AS qoq_pct,
       |       CASE WHEN prev_margin_dec IS NULL THEN 'N/A'
       |            WHEN CAST(margin_dec - prev_margin_dec AS DOUBLE) * 100 / CAST(prev_margin_dec AS DOUBLE) < -${p.alertPct} THEN 'ALERT'
       |            WHEN CAST(margin_dec - prev_margin_dec AS DOUBLE) * 100 / CAST(prev_margin_dec AS DOUBLE) > ${p.alertPct} THEN 'GOOD'
       |            ELSE 'STABLE' END AS signal
       |FROM lagged""".stripMargin

  /** Q4 — RFM customer segmentation (recency / frequency / monetary
    * quintile scores + named segments), the per-customer profiling
    * surface LQY_query2.txt:57-215 implies extended to the classic
    * direct-marketing scoring model. One aggregation to customer grain,
    * then three EXACT quintile scores over full (value, key) total
    * orders so both engines bucket ties identically — computed
    * window-free: [[graft.algo.GlobalRank]] range-repartitions each
    * measure (parallel local sorts + broadcast partition offsets) and
    * ntile(5) becomes pure rank arithmetic. No partition-less
    * WindowExec anywhere, so the customer grain never lands on one
    * task; the oracle's ntile output is reproduced bit-for-bit. The
    * approximate sibling (`score_rfm_threshold`) derives the same
    * scores from percentile thresholds instead when even three range
    * shuffles are too many. */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cust = t.orders.groupBy(col("o_custkey").as("cust_key"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        sum(Norm.dec(col("o_totalprice"))).as("mon_dec"))
    val anchor = t.orders.agg(max(col("o_orderdate")).as("anchor"))
    val base = cust.crossJoin(broadcast(anchor))
      .select(col("cust_key"),
        datediff(col("anchor"), col("last_order")).cast("long").as("recency_days"),
        col("n_orders"), col("mon_dec"))
    val ranked = Seq(
      ("r", Seq(col("recency_days").asc, col("cust_key").asc)),
      ("f", Seq(col("n_orders").desc, col("cust_key").asc)),
      ("m", Seq(col("mon_dec").desc, col("cust_key").asc))
    ).foldLeft(base) { case (df, (m, order)) =>
      GlobalRank.withRowNumber(df, order, s"${m}_rank", s"${m}_n")
    }
    val scored = Seq("r", "f", "m").foldLeft(ranked) { (df, m) =>
      df.withColumn(s"${m}_score",
        (lit(6) - GlobalRank.ntileOfRank(col(s"${m}_rank"), col(s"${m}_n"), 5)).cast("long"))
    }
    scored.select(
      col("cust_key"), col("recency_days"), col("n_orders"),
      col("mon_dec").cast("double").as("monetary"),
      col("r_score"), col("f_score"), col("m_score"),
      when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
        .when(col("r_score") >= 4 && col("f_score") <= 2, "new")
        .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
        .when(col("r_score") <= 2 && col("m_score") <= 2, "lost")
        .otherwise("regular").as("segment"))
  }

  def q4Sql(): String =
    """WITH cust AS (
      |  SELECT o_custkey AS cust_key, max(o_orderdate) AS last_order,
      |         CAST(count(*) AS BIGINT) AS n_orders,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec
      |  FROM orders GROUP BY 1),
      |a AS (SELECT max(o_orderdate) AS anchor FROM orders),
      |base AS (
      |  SELECT cust_key,
      |         CAST(date_diff('day', last_order, anchor) AS BIGINT) AS recency_days,
      |         n_orders, mon_dec
      |  FROM cust CROSS JOIN a),
      |scored AS (
      |  SELECT cust_key, recency_days, n_orders, mon_dec,
      |         CAST(6 - ntile(5) OVER (ORDER BY recency_days ASC, cust_key ASC) AS BIGINT) AS r_score,
      |         CAST(6 - ntile(5) OVER (ORDER BY n_orders DESC, cust_key ASC) AS BIGINT) AS f_score,
      |         CAST(6 - ntile(5) OVER (ORDER BY mon_dec DESC, cust_key ASC) AS BIGINT) AS m_score
      |  FROM base)
      |SELECT cust_key, recency_days, n_orders, CAST(mon_dec AS DOUBLE) AS monetary,
      |       r_score, f_score, m_score,
      |       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
      |            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |            WHEN r_score <= 2 AND m_score <= 2 THEN 'lost'
      |            ELSE 'regular' END AS segment
      |FROM scored""".stripMargin

  /** score_rfm_threshold — the WINDOW-FREE scoring shape a 100 TB RFM /
    * quality-gate pipeline actually runs: per-measure quintile
    * THRESHOLDS (four boundary values), broadcast as a one-row frame,
    * and scores assigned by plain comparison — no rank column on the
    * data at all, so the scoring pass is one broadcast join over the
    * grain. The thresholds are exact discrete quantiles (value at rank
    * ceil(k·n/5), selected by [[graft.algo.GlobalRank]]'s parallel
    * range-partitioned rank — the oracle-scale verification path); the
    * KLL sketch's estimates of the same four quantiles ride the
    * executed plan and are hash-gated by a tie-safe rank-range audit
    * (within_eps: the estimate's true-rank range [#{v<est}, #{v≤est}]
    * must intersect [p−ε, p+ε]·n), because at 100 TB the thresholds
    * come from the sketch alone and the selection pass never runs.
    * Threshold semantics deliberately differ from q4's ntile on
    * boundary ties: equal values always score equally. */
  def scoreRfmThreshold(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.KllQuantiles.register(spark)
    val t = Tables(spark, dir)
    val probs = Seq(0.2, 0.4, 0.6, 0.8)
    val cust = t.orders.groupBy(col("o_custkey").as("cust_key"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("n_orders"),
        sum(Norm.dec(col("o_totalprice"))).as("mon_dec"))
    val anchor = t.orders.agg(max(col("o_orderdate")).as("anchor"))
    // NOT persisted (r18, measured): the frame feeds ~10 passes, but
    // they sit in independent plan branches that AQE materializes
    // CONCURRENTLY — re-deriving it is ~1 scan of wall time, while a
    // persist serializes the whole fan-out behind one materialization
    // (measured +0.3-0.5 s on this op)
    val base = cust.crossJoin(broadcast(anchor))
      .select(col("cust_key"),
        datediff(col("anchor"), col("last_order")).cast("long").as("recency_days"),
        col("n_orders"), col("mon_dec"))
    // exact quintile thresholds per measure: value at global rank
    // ceil(k·n/5), k = 1..4 — a 4-value frame from one GlobalRank pass
    def thresholds(vCol: String, pfx: String): DataFrame = {
      val ranked = GlobalRank.withRowNumber(
        base.select(col("cust_key"), col(vCol).as("v")),
        Seq(col("v").asc, col("cust_key").asc), "rnk", "n")
      val cols = (1 to 4).map(k =>
        max(when(col("rnk") === expr(s"($k * n + 4) div 5"), col("v"))).as(s"$pfx$k"))
      ranked.agg(cols.head, cols.tail: _*)
    }
    // sketch branch: same four quantiles from one mergeable KLL pass,
    // audited tie-safely against their true-rank ranges
    def audit(vCol: String): DataFrame = {
      val est = base.agg(
        expr(s"kll_quantiles($vCol, 256, ${probs.mkString(", ")})").as("est"),
        count(lit(1)).as("n"))
      base.select(col(vCol).cast("double").as("vd")).crossJoin(broadcast(est))
        .select(col("vd"), col("n"), posexplode(col("est")))
        .groupBy("pos", "n", "col")
        .agg(sum(when(col("vd") < col("col"), 1L).otherwise(0L)).as("lo"),
          sum(when(col("vd") <= col("col"), 1L).otherwise(0L)).as("hi"))
        .withColumn("p", element_at(typedlit(probs), col("pos") + 1))
        .agg(bool_and(
          col("lo").cast("double") <= (col("p") + 0.05) * col("n") + 4 &&
            col("hi").cast("double") >= (col("p") - 0.05) * col("n") - 4)
          .as(s"ok_$vCol"))
    }
    val thr = base
      .crossJoin(broadcast(thresholds("recency_days", "rt")))
      .crossJoin(broadcast(thresholds("n_orders", "ft")))
      .crossJoin(broadcast(thresholds("mon_dec", "mt")))
      .crossJoin(broadcast(
        audit("recency_days").crossJoin(audit("n_orders")).crossJoin(audit("mon_dec"))
          .select((col("ok_recency_days") && col("ok_n_orders") && col("ok_mon_dec"))
            .as("within_eps"))))
    def qi(v: Column, pfx: String): Column =
      lit(1L) + (1 to 4).map(k => when(v > col(s"$pfx$k"), 1L).otherwise(0L)).reduce(_ + _)
    val scored = thr
      .withColumn("r_score", (lit(6) - qi(col("recency_days"), "rt")).cast("long"))
      .withColumn("f_score", qi(col("n_orders"), "ft").cast("long"))
      .withColumn("m_score", qi(col("mon_dec"), "mt").cast("long"))
    scored.select(
      col("cust_key"), col("recency_days"), col("n_orders"),
      col("mon_dec").cast("double").as("monetary"),
      col("r_score"), col("f_score"), col("m_score"),
      when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
        .when(col("r_score") >= 4 && col("f_score") <= 2, "new")
        .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
        .when(col("r_score") <= 2 && col("m_score") <= 2, "lost")
        .otherwise("regular").as("segment"),
      col("within_eps"))
  }

  def scoreRfmThresholdSql(): String = {
    def thrCols(rank: String, v: String, pfx: String): String =
      (1 to 4).map(k => s"max(CASE WHEN $rank = ($k*n+4)//5 THEN $v END) AS $pfx$k").mkString(", ")
    def qi(v: String, pfx: String): String =
      s"1 + ${(1 to 4).map(k => s"CAST($v > $pfx$k AS INT)").mkString(" + ")}"
    s"""WITH cust AS (
       |  SELECT o_custkey AS cust_key, max(o_orderdate) AS last_order,
       |         CAST(count(*) AS BIGINT) AS n_orders,
       |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec
       |  FROM orders GROUP BY 1),
       |a AS (SELECT max(o_orderdate) AS anchor FROM orders),
       |base AS (
       |  SELECT cust_key,
       |         CAST(date_diff('day', last_order, anchor) AS BIGINT) AS recency_days,
       |         n_orders, mon_dec
       |  FROM cust CROSS JOIN a),
       |r AS (
       |  SELECT *,
       |         row_number() OVER (ORDER BY recency_days, cust_key) AS rr,
       |         row_number() OVER (ORDER BY n_orders, cust_key) AS fr,
       |         row_number() OVER (ORDER BY mon_dec, cust_key) AS mr,
       |         count(*) OVER () AS n
       |  FROM base),
       |thr AS (SELECT ${thrCols("rr", "recency_days", "rt")},
       |               ${thrCols("fr", "n_orders", "ft")},
       |               ${thrCols("mr", "mon_dec", "mt")}
       |        FROM r),
       |scored AS (
       |  SELECT b.*,
       |         CAST(6 - (${qi("b.recency_days", "rt")}) AS BIGINT) AS r_score,
       |         CAST(${qi("b.n_orders", "ft")} AS BIGINT) AS f_score,
       |         CAST(${qi("b.mon_dec", "mt")} AS BIGINT) AS m_score
       |  FROM base b CROSS JOIN thr)
       |SELECT cust_key, recency_days, n_orders, CAST(mon_dec AS DOUBLE) AS monetary,
       |       r_score, f_score, m_score,
       |       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
       |            WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
       |            WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
       |            WHEN r_score <= 2 AND m_score <= 2 THEN 'lost'
       |            ELSE 'regular' END AS segment,
       |       TRUE AS within_eps
       |FROM scored""".stripMargin
  }

  val ops: Seq[OpQuery] = Seq(
    OpQuery.checked("q1_genre_sales", q1Sql())((s, d) => q1(s, d)),
    OpQuery.checked("q2_primary_genre_spend", q2Sql())((s, d) => q2(s, d)),
    OpQuery.checked("q3_gross_margin", q3Sql())((s, d) => q3(s, d)),
    OpQuery.checked("q4_customer_rfm", q4Sql())((s, d) => q4(s, d)),
    OpQuery.checked("score_rfm_threshold", scoreRfmThresholdSql())((s, d) => scoreRfmThreshold(s, d))
  )
}
