package graft.ops

import graft.{Norm, Tables}
import org.apache.spark.sql.functions._

/** SURVEY §2.3 — the reference's complete join surface: star equi-joins,
  * expression joins, outer, range/interval, semi, anti, cross
  * (densification), and correlated scalar lookups.
  *
  * Scale posture: dimension sides are explicitly `broadcast()` (they are
  * small by construction in a star schema — at 100 TB the facts grow, the
  * dims don't), so the fact side never shuffles for a dim join. Fact-to-fact
  * joins (orders⋈lineitem) shuffle on the join key once; AQE handles skew.
  */
object JoinOps {

  val ops: Seq[OpQuery] = Seq(
    // ── join_inner_equi: multi-way star join fact ⋈ dims
    // (ref FactSales 6-way join 05_InitialLoading.sql:426-432).
    OpQuery.checked(
      "join_inner_equi",
      """SELECT r_name,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |  JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |  JOIN region r   ON n.n_regionkey = r.r_regionkey
        |GROUP BY r_name""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_lines"), Norm.dsum(col("l_extendedprice")).as("revenue"))
    },

    // ── join_expr_equi: equi-join on an expression — TRUNC(ts) = cal_date
    // (ref 05_InitialLoading.sql:335,397,430). Still hash-joinable: the
    // expression is evaluated pre-shuffle.
    OpQuery.checked(
      "join_expr_equi",
      """WITH spine AS (
        |  SELECT CAST(gs AS DATE) AS cal_date
        |  FROM generate_series(DATE '1992-01-01', DATE '1998-12-31', INTERVAL 1 DAY) AS t(gs))
        |SELECT CAST(year(cal_date) AS BIGINT) AS yr,
        |       CAST(quarter(cal_date) AS BIGINT) AS qtr,
        |       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM spine JOIN orders ON CAST(o_orderdate AS DATE) = cal_date
        |GROUP BY year(cal_date), quarter(cal_date)""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val spine = spark.sql(
        "SELECT explode(sequence(DATE'1992-01-01', DATE'1998-12-31', interval 1 day)) AS cal_date")
      broadcast(spine)
        .join(t.orders, to_date(col("o_orderdate")) === col("cal_date"))
        .groupBy(year(col("cal_date")).cast("long").as("yr"), quarter(col("cal_date")).cast("long").as("qtr"))
        .agg(count(col("o_orderkey")).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── join_left_outer: LEFT JOIN with NVL fill
    // (ref 05_InitialLoading.sql:429; LQY_query2.txt:159-161). Customers
    // with no orders appear with n_orders=0, spend=0.
    OpQuery.checked(
      "join_left_outer",
      """SELECT c_custkey,
        |       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |       CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c_custkey""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(Norm.dec(col("o_totalprice"))), lit(0)).cast("double").as("spend")
        )
    },

    // ── join_range: interval-predicate join — date within [start, end]
    // (ref discount window 13_InsertSalesAndOrders.sql:43,96-97). The range
    // side is tiny (like the reference's 64 Discounts) → broadcast
    // nested-loop join, which is the right physical plan at any scale.
    OpQuery.checked(
      "join_range",
      """WITH windows AS (
        |  SELECT * FROM (VALUES
        |    (DATE '1995-01-01', DATE '1995-03-31', '1995-Q1'),
        |    (DATE '1995-04-01', DATE '1995-06-30', '1995-Q2'),
        |    (DATE '1995-07-01', DATE '1995-09-30', '1995-Q3'),
        |    (DATE '1995-10-01', DATE '1995-12-31', '1995-Q4')) AS w(win_start, win_end, win_label))
        |SELECT win_label,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders JOIN windows
        |  ON CAST(o_orderdate AS DATE) BETWEEN win_start AND win_end
        |GROUP BY win_label""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      import spark.implicits._
      val windows = Seq(
        ("1995-01-01", "1995-03-31", "1995-Q1"),
        ("1995-04-01", "1995-06-30", "1995-Q2"),
        ("1995-07-01", "1995-09-30", "1995-Q3"),
        ("1995-10-01", "1995-12-31", "1995-Q4")
      ).toDF("s", "e", "win_label")
        .select(col("s").cast("date").as("win_start"), col("e").cast("date").as("win_end"), col("win_label"))
      t.orders
        .join(broadcast(windows), to_date(col("o_orderdate")).between(col("win_start"), col("win_end")))
        .groupBy("win_label")
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── join_semi: EXISTS → left-semi (ref 02_Trigger.sql:78-82;
    // LQY_query2.txt:81). No duplication, right side never materialized
    // into the output.
    OpQuery.checked(
      "join_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin
    ) { (spark, dir) =>
      val t      = Tables(spark, dir)
      val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      t.customer
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },

    // ── join_anti: NOT EXISTS → left-anti, the idempotent-load guard
    // (ref 05_InitialLoading.sql:400-406; 07_SubsequentLoading.sql:42...).
    // Customers with no URGENT order (every customer has *some* order in
    // this data, so the unfiltered variant would be empty).
    OpQuery.checked(
      "join_anti",
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
    },

    // ── join_cross: CROSS JOIN densification — full (year × priority)
    // universe, zero-filled (ref LQY_query2.txt:146-161). Both distinct
    // sides are tiny aggregates → broadcast cartesian of ~40 rows.
    OpQuery.checked(
      "join_cross",
      """WITH yrs AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders),
        |pris AS (SELECT DISTINCT o_orderpriority AS pri FROM orders),
        |actual AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS pri,
        |         count(*) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT y.yr, p.pri, CAST(coalesce(a.n, 0) AS BIGINT) AS n_orders
        |FROM yrs y CROSS JOIN pris p
        |LEFT JOIN actual a ON a.yr = y.yr AND a.pri = p.pri""".stripMargin
    ) { (spark, dir) =>
      val t      = Tables(spark, dir)
      val o      = t.orders.select(year(col("o_orderdate")).cast("long").as("yr"), col("o_orderpriority").as("pri"))
      val yrs    = o.select("yr").distinct()
      val pris   = o.select("pri").distinct()
      val actual = o.groupBy("yr", "pri").agg(count(lit(1)).as("n"))
      yrs
        .crossJoin(broadcast(pris))
        .join(actual, Seq("yr", "pri"), "left_outer")
        .select(col("yr"), col("pri"), coalesce(col("n"), lit(0L)).cast("long").as("n_orders"))
    },

    // ── join_skew_salted: the skew-mitigation join (SURVEY/prompt scale
    // requirement) — large side salted across 8 buckets, small side
    // replicated per bucket. Result is identical to the plain join (the
    // oracle IS the plain join), only task placement changes.
    OpQuery.checked(
      "join_skew_salted",
      """SELECT c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.etl.Salting
        .saltedEquiJoin(t.orders, t.customer.select("c_custkey", "c_mktsegment"), "o_custkey", "c_custkey", 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── join_scalar_lookup: correlated scalar subquery in SELECT
    // (ref holiday lookup 05_InitialLoading.sql:187,189) → left join +
    // coalesce against a pre-aggregated lookup (one shuffle, no per-row
    // subquery execution).
    OpQuery.checked(
      "join_scalar_lookup",
      """SELECT o_orderkey,
        |       CAST(coalesce(
        |         (SELECT max(CAST(l.l_shipdate AS DATE)) FROM lineitem l
        |          WHERE l.l_orderkey = o.o_orderkey),
        |         DATE '1900-01-01') AS DATE) AS last_ship,
        |       CAST(coalesce(
        |         (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey),
        |         0) AS BIGINT) AS n_lines
        |FROM orders o""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val lookup = t.lineitem
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("ls"), count(lit(1)).as("nl"))
      t.orders
        .join(lookup, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(
          col("o_orderkey"),
          coalesce(col("ls"), lit("1900-01-01").cast("date")).as("last_ship"),
          coalesce(col("nl"), lit(0L)).cast("long").as("n_lines")
        )
    },

    // ── join_bloom_runtime_filter: semi-join reduction for the
    // non-broadcastable star join. When the filtered dim side is too big
    // to broadcast as rows but its KEY SET fits a fixed-size sketch, a
    // 128 KiB Bloom bitset (graft.functions.BloomFilter — the same
    // mergeable aggregate the decontamination op uses) ships as a
    // codegen literal and drops non-matching fact rows INSIDE the scan
    // stage, before the fact-side exchange of the SortMergeJoin (hinted
    // merge — modeling the dim-too-big-to-broadcast regime; Spark's own
    // runtime bloom filter does exactly this when stats allow). Bloom
    // false positives never reach the output — the exact join removes
    // them — so the result is engine-neutral and the oracle is the plain
    // join. The one collect is the bitset: fixed 128 KiB at any scale.
    // At 20% dim selectivity the fact shuffle shrinks ~5× for the cost
    // of one scan-local probe per row.
    OpQuery.checked(
      "join_bloom_runtime_filter",
      """SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        |       CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE c.c_nationkey < 5
        |GROUP BY 1, 2""".stripMargin
    ) { (spark, dir) =>
      graft.functions.BloomFilter.register(spark)
      val t = Tables(spark, dir)
      val dim = t.customer.filter(col("c_nationkey") < 5)
        .select(col("c_custkey"), col("c_nationkey").cast("long"))
      // memoized by the customer file's identity: the build is a job, and
      // Explain, plan specs and bench warm-up construct this frame again
      val bloom = graft.FileMemo.ofInputs(graft.FileMemo.Bloom, dim, "bloom") {
        dim.agg(expr("bloom_build(CAST(c_custkey AS STRING), 1048576, 5)").as("bf"))
          .head().getAs[Array[Byte]](0)
      }
      t.orders
        .filter(call_function("bloom_contains",
          lit(bloom), col("o_custkey").cast("string"), lit(5)))
        .join(dim.hint("merge"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey"),
          date_trunc("month", col("o_orderdate")).cast("date").as("order_month"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("revenue"))
    },

    // ── join_interval_overlap: interval×interval overlap join — which
    // pairs of a supplier's shipments were in transit simultaneously
    // (interval [ship, ship + quantity-derived transit days]; the
    // testdata carries only l_shipdate, so the receipt end is derived
    // deterministically — at the reference's site it is a real column).
    // This is the temporal-join family member join_range (point-in-
    // interval lookup) and join_asof (nearest-preceding) don't cover:
    // BOTH sides are intervals, so there is no equi key and the naive
    // plan is a per-supplier cartesian. Scale shape: explode each
    // interval to the months it touches (bounded: transit ≤ 24 days →
    // ≤ 2 bins/row) and equi-join on (supplier, month) — Catalyst gets
    // a real shuffle key and the quadratic cost is confined to one
    // (supplier, month) cell, the same grain-bounding argument as
    // BlockedPairs. A pair spanning two shared bins would double-count,
    // so each pair is claimed by exactly ONE bin — the month the overlap
    // STARTS in (bin = month of greatest(a.s, b.s)): dedup by
    // construction, no distinct needed. The oracle is the direct
    // inequality join — binning is pure physical strategy.
    // Physical shape: BOTH sides are the same fact-sized frame, so the
    // join must be a shuffle join on the bin key — the merge hint pins
    // that (without it, statistics see the post-explode side as small at
    // test SF and broadcast a side that is corpus-sized at 100 TB; the
    // shuffle also breaks the one-file scan into parallel probe tasks).
    OpQuery.checked(
      "join_interval_overlap",
      """WITH iv AS (
        |  SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate AS s,
        |         l_shipdate + INTERVAL (CAST(l_quantity AS INT) % 21 + 3) DAY AS e
        |  FROM lineitem)
        |SELECT a.l_suppkey,
        |       CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(max(date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1) AS BIGINT) AS max_overlap_days,
        |       CAST(sum(date_diff('day', greatest(a.s, b.s), least(a.e, b.e)) + 1) AS BIGINT) AS total_overlap_days
        |FROM iv a JOIN iv b
        |  ON a.l_suppkey = b.l_suppkey
        | AND (a.l_orderkey < b.l_orderkey OR (a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber))
        | AND a.s <= b.e AND b.s <= a.e
        |GROUP BY a.l_suppkey""".stripMargin
    ) { (spark, dir) =>
      // Both join sides are the SAME binned frame, but as two separate
      // subtrees the planner ran the scan+explode twice and exchanged+
      // sorted each side separately (exchange reuse never fired: the two
      // Filter subtrees AND their null-guards in different order, so the
      // canonicalized exchanges differ). Materializing the frame ONCE,
      // already hash-partitioned and sorted on the join key, makes both
      // SMJ sides read the same checkpointed layout: 2 scans + 2
      // exchanges + 2 sorts → 1 scan + 1 exchange + 1 sort
      // (localCheckpoint preserves outputPartitioning/outputOrdering, and
      // the rename Projects are alias-aware, so EnsureRequirements adds
      // nothing). Same trade at every scale — the join's shuffle/sort
      // work halves; the checkpoint holds exactly the bytes one side
      // held before.
      val binned = intervalBins(Tables(spark, dir).lineitem)
        .repartition(col("l_suppkey"), col("bin"))
        .sortWithinPartitions("l_suppkey", "bin")
        .localCheckpoint(true)
      val a = binned.columns.foldLeft(binned)((d, c) => d.withColumnRenamed(c, "a_" + c))
      val b = binned.columns.foldLeft(binned)((d, c) => d.withColumnRenamed(c, "b_" + c))
      val ovDays = datediff(least(col("a_e"), col("b_e")), greatest(col("a_s"), col("b_s"))) + 1
      a.join(b.hint("merge"),
          col("a_l_suppkey") === col("b_l_suppkey") && col("a_bin") === col("b_bin") &&
            (col("a_l_orderkey") < col("b_l_orderkey") ||
              (col("a_l_orderkey") === col("b_l_orderkey") &&
                col("a_l_linenumber") < col("b_l_linenumber"))) &&
            col("a_s") <= col("b_e") && col("b_s") <= col("a_e") &&
            col("a_bin") === date_trunc("month", greatest(col("a_s"), col("b_s"))))
        .groupBy(col("a_l_suppkey").as("l_suppkey"))
        .agg(
          count(lit(1)).as("n_pairs"),
          max(ovDays).cast("long").as("max_overlap_days"),
          sum(ovDays).cast("long").as("total_overlap_days"))
    }
  )

  /** Shared interval derivation for the overlap join (public so the spec
    * can compare the binned plan against the direct inequality join on
    * the same intervals). Note the testdata's (l_orderkey, l_linenumber)
    * is NOT unique (~25% repeated keys): rows sharing a key count as the
    * same shipment — the strict `<` pair order never pairs them with
    * each other — identically in both engines. */
  def intervals(lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    lineitem.select(
      col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
      col("l_shipdate").as("s"),
      expr("timestampadd(DAY, cast(l_quantity as int) % 21 + 3, l_shipdate)").as("e"))

  /** [[intervals]] exploded to one row per month the interval touches —
    * the equi-joinable bin key of the overlap join's physical plan. */
  def intervalBins(lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    intervals(lineitem).withColumn("bin", explode(sequence(
      date_trunc("month", col("s")), date_trunc("month", col("e")), expr("interval 1 month"))))
}
