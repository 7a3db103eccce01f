package graft.ops

import graft.{Norm, Tables}
import graft.etl.{DimDate, MergeUpsert, Scd2, Validation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY §2.10/§3 — the warehouse-ETL surface as verifiable queries:
  * DimDate build, SCD2 apply, star-schema fact build with surrogate keys,
  * idempotent incremental load, and trigger-style derivation/invariant
  * checks.
  */
object EtlOps {

  /** (kind, dir) → the store table (or `a|b`-encoded pair of tables) of
    * the fixture an op kind builds over a corpus dir. Ops that share a
    * fixture share its kind. An entry exists only for a COMPLETED build:
    * `computeIfAbsent` stores nothing when the build throws, so the next
    * call builds again. Builds must not nest: a `computeIfAbsent` inside
    * another on the same map throws. */
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private[ops] def builtOnce(kind: String, dir: String)(build: => String): String =
    fixtures.computeIfAbsent((kind, dir), _ => build)

  /** The (year(od), div200000(o_orderkey)) two-dimension orders table —
    * ONE builder (either sharing op may arrive first; a drifting copy
    * would silently redefine the other op's table). */
  private def multiSpecTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
    val specs = Seq(
      graft.etl.SnapshotStore.PartitionSpec("year", "od"),
      graft.etl.SnapshotStore.PartitionSpec("div200000", "o_orderkey"))
    builtOnce("multiSpec", dir) {
      val t = freshStoreTable(dir, "multispec_tbl_")
      // range-cluster by BOTH transform values (clusterBySpecs — the
      // ONE transform definition shapes the layout too): most files
      // land single-valued in both dimensions; a straggler spanning
      // two key blocks records `?` on that dimension and still prunes
      // by year — graceful degrade, not a correctness edge
      graft.etl.VersionedLoad.bootstrap(spark, t,
        graft.etl.SnapshotStore.clusterBySpecs(o, specs, 12),
        asOfMicros = 900000000000000L,
        statsCol = Some("o_orderkey"), partitionSpecs = specs)
      t
    }
  }

  /** The orders table statted for metadata-only aggregates: every file
    * carries `r` (rows), `n` (nulls: maybe_key), `s` (o_orderkey) and
    * `t date` (od) lines, so COUNT/MIN/MAX answer from the manifest. */
  private def aggPushTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    builtOnce("aggPush", dir) {
      val t = freshStoreTable(dir, "aggpush_tbl_")
      val o = Tables(spark, dir).orders.select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"),
        when(col("o_orderkey") % 3 === 0, col("o_orderkey")).as("maybe_key"))
      graft.etl.VersionedLoad.bootstrap(spark, t,
        o.repartitionByRange(6, col("o_orderkey")),
        asOfMicros = 900000000000000L,
        statsCol = Some("o_orderkey"), statsCols = Seq("od", "maybe_key"))
      t
    }

  /** Built THROUGH the DSv2 write path: v0 bootstraps the low half of
    * orders, v1 lands the high half via
    * `df.write.format(...).mode("append")` — the append must REUSE
    * v0's files and stat its own. */
  private def dsv2WriteTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    builtOnce("dsv2Write", dir) {
      val t = freshStoreTable(dir, "dsv2write_tbl_")
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
          col("o_totalprice"))
      graft.etl.VersionedLoad.bootstrap(spark, t,
        o.filter(col("o_orderkey") <= 300000L).repartitionByRange(4, col("o_orderkey")),
        asOfMicros = 900000000000000L, statsCol = Some("o_orderkey"))
      o.filter(col("o_orderkey") > 300000L).repartitionByRange(4, col("o_orderkey"))
        .write.format("graft.sources.StoreSource")
        .option("statsCol", "o_orderkey")
        .option("asOfMicros", "900000001000000")
        .mode("append").save(t)
      t
    }

  /** Sweep abandoned UUID-named store tables with `prefix` under the
    * corpus's scratch root, then return a fresh table path. The sweep
    * only ever removes THIS process's own failed earlier attempts:
    * CoreOps.runRoot is unique per JVM (pid + nanos), so no other
    * process's debris can live under this parent — superseded siblings
    * within the run are pure leak (the io_bucketed_join superseded-tag
    * discipline applied to the scratch root). If the scratch layout
    * ever becomes shared across processes, this sweep must gain an
    * ownership check before it can stay safe. */
  private[ops] def freshStoreTable(dir: String, prefix: String): String = {
    val parent = new java.io.File(CoreOps.scratch(dir, "."))
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .foreach { f =>
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete(): Unit
        }
        rm(f)
      }
    CoreOps.scratch(dir, prefix + java.util.UUID.randomUUID().toString.take(8))
  }

  val ops: Seq[OpQuery] = Seq(
    // ── etl_dim_date: the DimDate spine + calendar attributes + holiday
    // lookup (ref 05_InitialLoading.sql:157-203), set-based. Holidays
    // cover both the fixed dates and the reference's moving-holiday
    // arithmetic (get_moving_holiday :89-110), cross-checked in DuckDB.
    OpQuery.checked(
      "etl_dim_date",
      """WITH years AS (SELECT unnest(range(1993, 1997)) AS y),
        |hol0 AS (
        |  SELECT make_date(CAST(y AS INT), 1, 1) AS h_date, 'New Year' AS holiday_name FROM years
        |  UNION ALL SELECT make_date(CAST(y AS INT), 7, 4), 'Independence Day' FROM years
        |  UNION ALL SELECT make_date(CAST(y AS INT), 12, 25), 'Christmas' FROM years
        |  UNION ALL SELECT make_date(CAST(y AS INT), 1, 1) + CAST(354 + (y - 2000) * 11 AS INT), 'Hari Raya Puasa' FROM years
        |  UNION ALL SELECT make_date(CAST(y AS INT), 1, 1) + CAST(280 + (y - 2000) * 11 AS INT), 'Hari Raya Haji' FROM years
        |  UNION ALL SELECT make_date(CAST(y AS INT), 1, 21) + CAST(floor((((y - 1900) * 5 + 4) % 60) * 0.48) AS INT), 'Chinese New Year' FROM years
        |  UNION ALL SELECT make_date(CAST(y AS INT), 10, 15) + CAST((y % 19) * 11 AS INT), 'Deepavali' FROM years
        |  UNION ALL SELECT make_date(CAST(y AS INT), 5, 1) + CAST((y % 19) * 11 AS INT), 'Wesak' FROM years),
        |hol AS (SELECT h_date, min(holiday_name) AS holiday_name FROM hol0 GROUP BY h_date)
        |SELECT CAST(year(gs)*10000 + month(gs)*100 + day(gs) AS BIGINT) AS date_key,
        |       CAST(gs AS DATE) AS cal_date,
        |       CAST(year(gs) AS BIGINT) AS cal_year,
        |       CAST(quarter(gs) AS BIGINT) AS cal_quarter,
        |       CAST(month(gs) AS BIGINT) AS cal_month,
        |       CAST(day(gs) AS BIGINT) AS cal_dom,
        |       CAST(dayofyear(gs) AS BIGINT) AS cal_doy,
        |       CAST(isodow(gs) AS BIGINT) AS iso_dow,
        |       monthname(gs) AS month_name,
        |       CASE WHEN isodow(gs) <= 5 THEN 'Y' ELSE 'N' END AS is_weekday,
        |       CASE WHEN h.h_date IS NOT NULL THEN 'Y' ELSE 'N' END AS is_holiday,
        |       coalesce(h.holiday_name, '-') AS holiday_name,
        |       CAST(date_trunc('month', gs) AS DATE) AS month_start,
        |       last_day(CAST(gs AS DATE)) AS month_end
        |FROM generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL 1 DAY) AS t(gs)
        |LEFT JOIN hol h ON h.h_date = CAST(gs AS DATE)""".stripMargin
    ) { (spark, _) =>
      DimDate.build(spark, "1995-01-01", "1996-12-31")
    },

    // ── etl_scd2_apply: SCD Type 2 close-old + open-new
    // (ref 06_Type2_DimMembers.sql:4-117). Change set: every 10th customer
    // moves to MACHINERY on 1996-06-01; customers already in MACHINERY are
    // a no-op (exercises the tracked-attribute diff guard).
    OpQuery.checked(
      "etl_scd2_apply",
      """WITH dim AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |         DATE '1992-01-01' AS effective_date,
        |         DATE '9999-12-31' AS expiration_date,
        |         'Y' AS curr_ind
        |  FROM customer),
        |chg AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0)
        |SELECT d.* FROM dim d LEFT JOIN chg c USING (c_custkey)
        |WHERE c.c_custkey IS NULL OR d.c_mktsegment = 'MACHINERY'
        |UNION ALL
        |SELECT d.c_custkey, d.c_name, d.c_mktsegment, d.effective_date,
        |       DATE '1996-05-31', 'N'
        |FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY'
        |UNION ALL
        |SELECT d.c_custkey, d.c_name, 'MACHINERY', DATE '1996-06-01',
        |       DATE '9999-12-31', 'Y'
        |FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY'""".stripMargin
    ) { (spark, dir) =>
      val c   = Tables(spark, dir).customer
      val dim = Scd2.initial(c.select("c_custkey", "c_name", "c_mktsegment"), "1992-01-01")
      val changes = c
        .filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("MACHINERY").as("c_mktsegment"))
      Scd2.apply(dim, changes, Seq("c_custkey"), Seq("c_mktsegment"), "1996-06-01")
    },

    // ── etl_snapshot_timetravel: versioned table commits + time travel
    // through the native manifest-pointer format ([[graft.etl
    // .SnapshotStore]]) — the lightweight answer to the Delta/Iceberg
    // scope decision (SURVEY §7.3): crash-safe atomic commits and
    // as-of-version reads with nothing but parquet + rename. The op
    // commits the customer dimension TWICE (version 0 = the initial
    // SCD2 load; version 1 = after the MACHINERY change set — exactly
    // etl_scd2_apply's semantics), each commit carrying its PINNED
    // as-of timestamp (the change set's effective instant — never wall
    // clock, so replays commit identical metadata), then reads the
    // history back three ways and emits the legs tagged: version-id
    // travel to 0 and 1, plus a TIMESTAMP-travel read as of 1994-01-01
    // (between the two commits — must resolve the v0 state). The
    // oracle recomputes each leg's state relationally, so the store
    // must neither lose nor mix history — a wrong manifest resolution,
    // a stale GC, a torn-commit fallback error, or a mis-ordered
    // timestamp resolution all surface as a row diff. Readers never
    // shuffle: version resolution is an O(#manifests) driver listing;
    // the snapshots are plain parquet scans.
    OpQuery.checked(
      "etl_snapshot_timetravel",
      """WITH dim AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |         DATE '1992-01-01' AS effective_date,
        |         DATE '9999-12-31' AS expiration_date,
        |         'Y' AS curr_ind
        |  FROM customer),
        |chg AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0),
        |v1 AS (
        |  SELECT d.* FROM dim d LEFT JOIN chg c USING (c_custkey)
        |  WHERE c.c_custkey IS NULL OR d.c_mktsegment = 'MACHINERY'
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_name, d.c_mktsegment, d.effective_date,
        |         DATE '1996-05-31', 'N'
        |  FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY'
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_name, 'MACHINERY', DATE '1996-06-01',
        |         DATE '9999-12-31', 'Y'
        |  FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY')
        |SELECT CAST(0 AS BIGINT) AS version, * FROM dim
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS version, * FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, * FROM dim""".stripMargin
    ) { (spark, dir) =>
      val c = Tables(spark, dir).customer
      // pinned as-of instants for the two commits (epoch micros of the
      // change sets' effective dates — replays commit identical metadata)
      val asOf0 = 694224000000000L // 1992-01-01T00:00:00Z
      val asOf1 = 833587200000000L // 1996-06-01T00:00:00Z
      // fresh table per BUILD (a UUID leaf under the per-process
      // scratch): version ids are then ALWAYS 0 and 1 by construction —
      // a partially-built table from a failed earlier run can neither be
      // resumed with shifted ids (re-promoting v0 after a crash between
      // the two commits would mint it as version 1) nor read stale.
      // The memo makes repeat invocations (bench best-of-N) read-only:
      // it is set only AFTER both promotes succeed, so a failed build
      // throws without memoizing and the next invocation rebuilds clean.
      val table = builtOnce("timetravel", dir) {
        val t = EtlOps.freshStoreTable(dir, "timetravel_dim_")
        val v0 = Scd2.initial(c.select("c_custkey", "c_name", "c_mktsegment"), "1992-01-01")
        val id0 = graft.etl.SnapshotStore.promote(spark, t, v0,
          preferredId = 0L, keep = 16, asOfMicros = Some(asOf0))
        val changes = c
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), lit("MACHINERY").as("c_mktsegment"))
        val v1 = Scd2.apply(
          graft.etl.SnapshotStore.readVersion(spark, t, id0).get,
          changes, Seq("c_custkey"), Seq("c_mktsegment"), "1996-06-01")
        graft.etl.SnapshotStore.promote(spark, t, v1,
          preferredId = 1L, keep = 16, asOfMicros = Some(asOf1))
        t
      }
      // leg 3: timestamp travel to 1994-01-01 — strictly between the two
      // commits' pinned instants, so it MUST resolve the v0 state
      val asOfQuery = 757382400000000L // 1994-01-01T00:00:00Z
      graft.etl.SnapshotStore.readVersion(spark, table, 0L).get
        .select(lit(0L).as("version"), col("*"))
        .unionByName(graft.etl.SnapshotStore.readVersion(spark, table, 1L).get
          .select(lit(1L).as("version"), col("*")))
        .unionByName(graft.etl.SnapshotStore.readAsOf(spark, table, asOfQuery).get
          .select(lit(2L).as("version"), col("*")))
    },

    // ── etl_scd2_correction: retroactive SCD2 history repair — the
    // "wrong attribute was recorded back then" case close-old/open-new
    // cannot express: the version interval CONTAINING the correction
    // date splits at it (original values keep [eff, corr−1] as 'N', the
    // corrected values take [corr, exp] inheriting curr_ind); later
    // versions are untouched by contract (they record later real-world
    // changes). Runs on TOP of etl_scd2_apply's two-version dim so both
    // the still-open and the already-closed interval shapes are
    // exercised, with already-correct versions a no-op. One key join,
    // tag-explode single pass (the applyTagged shape).
    OpQuery.checked(
      "etl_scd2_correction",
      """WITH dim AS (
        |  SELECT c_custkey, c_name, c_mktsegment,
        |         DATE '1992-01-01' AS effective_date,
        |         DATE '9999-12-31' AS expiration_date,
        |         'Y' AS curr_ind
        |  FROM customer),
        |chg AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0),
        |dimv AS (
        |  SELECT d.* FROM dim d LEFT JOIN chg c USING (c_custkey)
        |  WHERE c.c_custkey IS NULL OR d.c_mktsegment = 'MACHINERY'
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_name, d.c_mktsegment, d.effective_date,
        |         DATE '1996-05-31', 'N'
        |  FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY'
        |  UNION ALL
        |  SELECT d.c_custkey, d.c_name, 'MACHINERY', DATE '1996-06-01',
        |         DATE '9999-12-31', 'Y'
        |  FROM dim d JOIN chg c USING (c_custkey) WHERE d.c_mktsegment <> 'MACHINERY'),
        |corr AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0)
        |SELECT d.* FROM dimv d LEFT JOIN corr c USING (c_custkey)
        |WHERE c.c_custkey IS NULL
        |   OR NOT (d.effective_date <= DATE '1994-06-01'
        |           AND d.expiration_date >= DATE '1994-06-01')
        |   OR d.c_mktsegment = 'FURNITURE'
        |UNION ALL
        |SELECT d.c_custkey, d.c_name, d.c_mktsegment, d.effective_date,
        |       DATE '1994-05-31', 'N'
        |FROM dimv d JOIN corr c USING (c_custkey)
        |WHERE d.effective_date < DATE '1994-06-01'
        |  AND d.expiration_date >= DATE '1994-06-01' AND d.c_mktsegment <> 'FURNITURE'
        |UNION ALL
        |SELECT d.c_custkey, d.c_name, 'FURNITURE', DATE '1994-06-01',
        |       d.expiration_date, d.curr_ind
        |FROM dimv d JOIN corr c USING (c_custkey)
        |WHERE d.effective_date < DATE '1994-06-01'
        |  AND d.expiration_date >= DATE '1994-06-01'
        |  AND d.c_mktsegment <> 'FURNITURE'""".stripMargin
    ) { (spark, dir) =>
      val c = Tables(spark, dir).customer
      val dim = Scd2.initial(c.select("c_custkey", "c_name", "c_mktsegment"), "1992-01-01")
      val changes = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit("MACHINERY").as("c_mktsegment"))
      val applied = Scd2.apply(dim, changes, Seq("c_custkey"), Seq("c_mktsegment"), "1996-06-01")
      val corrections = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("FURNITURE").as("c_mktsegment"))
      Scd2.correct(applied, corrections, Seq("c_custkey"), Seq("c_mktsegment"), "1994-06-01")
    },

    // ── etl_fact_build: star-schema fact load — facts joined to dims,
    // surrogate keys via dense row_number (ref FactSales 6-way build
    // 05_InitialLoading.sql:413-434). date_key is derivable (yyyymmdd),
    // customer_skey is a sequence-replacement surrogate.
    OpQuery.checked(
      "etl_fact_build",
      """WITH dim_cust AS (
        |  SELECT c_custkey, CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS cust_skey
        |  FROM customer)
        |SELECT l.l_orderkey, CAST(l.l_linenumber AS BIGINT) AS line_no,
        |       CAST(year(o.o_orderdate)*10000 + month(o.o_orderdate)*100 + day(o.o_orderdate) AS BIGINT) AS date_key,
        |       d.cust_skey,
        |       CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |            * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS net_amount
        |FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN dim_cust d ON o.o_custkey = d.c_custkey""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val dimCust = t.customer.select(
        col("c_custkey"),
        row_number().over(Window.orderBy(col("c_custkey"))).cast("long").as("cust_skey"))
      val o = t.orders
      t.lineitem
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dimCust), col("o_custkey") === col("c_custkey"))
        .select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("line_no"),
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 + dayofmonth(col("o_orderdate")))
            .cast("long").as("date_key"),
          col("cust_skey"),
          (Norm.dec(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("net_amount")
        )
    },

    // ── etl_incremental: idempotent incremental fact load — an overlapping
    // batch is anti-joined against the existing fact before the append
    // (ref NOT EXISTS guards 07_SubsequentLoading.sql:42,93,122,162 and
    // MERGE :331-355). Running it twice yields the same state.
    OpQuery.checked(
      "etl_incremental",
      """WITH existing AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders WHERE o_orderdate < DATE '1996-01-01'),
        |batch AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders
        |  WHERE o_orderdate BETWEEN DATE '1995-06-01' AND DATE '1996-12-31'),
        |loaded AS (
        |  SELECT * FROM existing
        |  UNION ALL
        |  SELECT b.* FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.o_orderkey = b.o_orderkey))
        |SELECT CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM loaded GROUP BY year(od)""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val existing = o.filter(col("od") < lit("1996-01-01").cast("date"))
      val batch    = o.filter(col("od").between(lit("1995-06-01").cast("date"), lit("1996-12-31").cast("date")))
      MergeUpsert
        .insertMissing(existing, batch, Seq("o_orderkey"))
        .groupBy(year(col("od")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── etl_incremental_versioned: the incremental fact refresh COMMITTED
    // through the manifest-pointer store ([[graft.etl.VersionedLoad]]) —
    // the reference's subsequent-load contract (07_SubsequentLoading.sql:
    // 324-442) with the crash-safety the streaming SCD2 sink has: the
    // existing fact bootstraps as version 0, the overlapping batch's
    // anti-join merge commits atomically as version 1 (each with its
    // pinned as-of instant), and BOTH states read back through the store
    // tagged and aggregated to the year grain. A refresh that dies
    // mid-write leaves version 0 current — readers never observe a
    // half-appended fact — and the oracle recomputes both states
    // relationally, so a lost batch row, a double-applied overlap, or a
    // mis-resolved version all surface as row diffs. The merge itself is
    // etl_incremental's exact semantics (NOT-EXISTS-guarded append);
    // this op proves the same refresh is ALSO durable and auditable.
    OpQuery.checked(
      "etl_incremental_versioned",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |existing AS (SELECT * FROM o WHERE od < DATE '1996-01-01'),
        |batch AS (
        |  SELECT * FROM o
        |  WHERE od BETWEEN DATE '1995-06-01' AND DATE '1996-12-31'),
        |loaded AS (
        |  SELECT * FROM existing
        |  UNION ALL
        |  SELECT b.* FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.o_orderkey = b.o_orderkey))
        |SELECT CAST(0 AS BIGINT) AS version, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM existing GROUP BY 2
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM loaded GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      // memoized build (the etl_snapshot_timetravel discipline: fresh
      // UUID table per build, abandoned siblings swept, memo set only
      // after both commits succeed so bench repeats are read-only)
      val table = builtOnce("incrVersioned", dir) {
        val t = EtlOps.freshStoreTable(dir, "incr_versioned_")
        val existing = o.filter(col("od") < lit("1996-01-01").cast("date"))
        graft.etl.VersionedLoad.bootstrap(spark, t, existing,
          asOfMicros = 820454400000000L) // 1996-01-01T00:00:00Z, the load horizon
        val batch = o.filter(
          col("od").between(lit("1995-06-01").cast("date"), lit("1996-12-31").cast("date")))
        graft.etl.VersionedLoad.refresh(spark, t, batch, Seq("o_orderkey"),
          asOfMicros = 852076800000000L) // 1997-01-01T00:00:00Z, post-refresh horizon
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, ver: Long) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(ver).as("version"), col("yr"), col("n_orders"), col("spend"))
      yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 0L).get, 0L)
        .unionByName(yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 1L).get, 1L))
    },

    // ── etl_merge_versioned: copy-on-write UPSERT through the manifest
    // store ([[graft.etl.VersionedLoad.merge]]) — the UPDATE arm that
    // etl_incremental_versioned's insert-only refresh deliberately
    // lacks. The reference splits the two arms across statements (its
    // MERGEs insert only, 07_SubsequentLoading.sql:331-355; updates run
    // as correlated UPDATEs on the same facts, :288-322); this op runs
    // the combined shape: the fact bootstraps as version 0, then a batch whose
    // overlap REPRICES the matched orders (price doubled — updates must
    // visibly replace, not be no-opped like the refresh contract) and
    // whose tail inserts new orders commits atomically as version 1.
    // Only the files containing a matched key are rewritten; untouched
    // files ride along by reference (byte-identity and the O(touched)
    // commit-directory bound are pinned in VersionedLoadSpec —
    // filesystem facts DuckDB cannot see). Both versions read back
    // year-aggregated and tagged, so a lost update, a surviving stale
    // row, a dropped survivor, or a mis-resolved version all surface as
    // value diffs against the oracle's relational replay. Engine
    // exactness: the repriced value routes DOUBLE → DECIMAL(18,2) → ×2
    // → DOUBLE identically in both engines (exact decimal doubling,
    // faithful round trip), and the aggregate is the dsum discipline.
    OpQuery.checked(
      "etl_merge_versioned",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |existing AS (SELECT * FROM o WHERE od < DATE '1996-01-01'),
        |batch AS (
        |  SELECT o_orderkey, od,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS o_totalprice
        |  FROM o
        |  WHERE od BETWEEN DATE '1995-06-01' AND DATE '1996-12-31'),
        |merged AS (
        |  SELECT * FROM batch
        |  UNION ALL
        |  SELECT e.* FROM existing e
        |  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.o_orderkey = e.o_orderkey))
        |SELECT CAST(0 AS BIGINT) AS version, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM existing GROUP BY 2
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM merged GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("mergeVersioned", dir) {
        val t = EtlOps.freshStoreTable(dir, "merge_versioned_")
        val existing = o.filter(col("od") < lit("1996-01-01").cast("date"))
        // statsCol: the checked path exercises the per-file min/max
        // data-skipping index end to end (recorded at bootstrap,
        // consulted by the merge's touched-file pruning, carried
        // forward for reused files)
        graft.etl.VersionedLoad.bootstrap(spark, t, existing,
          asOfMicros = 820454400000000L, // 1996-01-01T00:00:00Z, the load horizon
          statsCol = Some("o_orderkey"))
        val batch = o.filter(
            col("od").between(lit("1995-06-01").cast("date"), lit("1996-12-31").cast("date")))
          .select(col("o_orderkey"), col("od"),
            (Norm.dec(col("o_totalprice")) * 2).cast("double").as("o_totalprice"))
        graft.etl.VersionedLoad.merge(spark, t, batch, Seq("o_orderkey"),
          asOfMicros = Some(852076800000000L), // 1997-01-01T00:00:00Z
          statsCol = Some("o_orderkey"))
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, ver: Long) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(ver).as("version"), col("yr"), col("n_orders"), col("spend"))
      yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 0L).get, 0L)
        .unionByName(yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 1L).get, 1L))
    },

    // ── etl_table_upserts: VALUE-EXACT CDC between versions
    // ([[graft.etl.VersionedLoad.upsertsBetween]] — what a downstream
    // consumer reads after a MERGE commit, where etl_table_changes'
    // file diff only serves insert-only chains): the merge's commit
    // directory physically carries the re-homed survivors of the
    // touched files alongside the batch, and the multiset difference
    // against version 0 must cancel every survivor EXACTLY — so the op
    // emits precisely the batch (each matched order's repriced value +
    // the inserts), which is what the oracle recomputes relationally.
    // A survivor leaking through inflates a year's count; a lost update
    // deflates it; both are hash diffs. Shares the memoized
    // bootstrap+merge table with etl_merge_versioned; the from-side
    // read prunes by the per-file key stats that build recorded.
    OpQuery.checked(
      "etl_table_upserts",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |batch AS (
        |  SELECT o_orderkey, od,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS o_totalprice
        |  FROM o
        |  WHERE od BETWEEN DATE '1995-06-01' AND DATE '1996-12-31')
        |SELECT CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM batch GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("mergeVersioned", dir) {
        val t = EtlOps.freshStoreTable(dir, "merge_versioned_")
        val existing = o.filter(col("od") < lit("1996-01-01").cast("date"))
        graft.etl.VersionedLoad.bootstrap(spark, t, existing,
          asOfMicros = 820454400000000L, statsCol = Some("o_orderkey"))
        val batch = o.filter(
            col("od").between(lit("1995-06-01").cast("date"), lit("1996-12-31").cast("date")))
          .select(col("o_orderkey"), col("od"),
            (Norm.dec(col("o_totalprice")) * 2).cast("double").as("o_totalprice"))
        graft.etl.VersionedLoad.merge(spark, t, batch, Seq("o_orderkey"),
          asOfMicros = Some(852076800000000L), statsCol = Some("o_orderkey"))
        t
      }
      graft.etl.VersionedLoad.upsertsBetween(spark, table, 0L, 1L, Some("o_orderkey")).get
        .groupBy(year(col("od")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── etl_snapshot_compact: small-file COMPACTION as a versioned
    // commit ([[graft.etl.VersionedLoad.compact]]) — the table-format
    // answer to what many incremental refreshes leave behind (the
    // OPTIMIZE of the heavyweight formats, on the native store): the
    // fact bootstraps FRAGMENTED (16 shuffle files — io_compact_small_
    // files' hazard materialized through the store), then compacts to 2
    // files as version 1 carrying the SAME pinned as-of instant, so the
    // logical timeline is unchanged while the physical layout heals.
    // Readers never observe a half-compacted directory (the rewrite is
    // invisible until its manifest promotes) and the fragmented version
    // stays travelable. The op reads BOTH versions back and emits their
    // year-grain aggregates tagged — the oracle computes the same
    // aggregate twice, so compaction must be content-IDENTICAL: any
    // dropped or duplicated row in the rewrite is a hash diff. The
    // file-count drop and the shared-timestamp readAsOf resolution are
    // pinned in VersionedLoadSpec (filesystem facts DuckDB cannot see).
    OpQuery.checked(
      "etl_snapshot_compact",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |a AS (
        |  SELECT CAST(year(od) AS BIGINT) AS yr,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM o GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS version, * FROM a
        |UNION ALL
        |SELECT CAST(1 AS BIGINT) AS version, * FROM a""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("compact", dir) {
        val t = EtlOps.freshStoreTable(dir, "compact_tbl_")
        val asOf = 852076800000000L // 1997-01-01T00:00:00Z, the load horizon
        graft.etl.VersionedLoad.bootstrap(spark, t, o.repartition(16), asOfMicros = asOf,
          statsCol = Some("o_orderkey"))
        // the RECOMMENDED compact: sortBy range-clusters the rewrite so
        // the compacted files carry disjoint key spans and the stats
        // index keeps pruning (content identical — the oracle can't
        // tell, VersionedDeleteSpec pins the layout facts)
        graft.etl.VersionedLoad.compact(spark, t, numFiles = 2, asOfMicros = Some(asOf),
          statsCol = Some("o_orderkey"), sortBy = Some("o_orderkey"))
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, ver: Long) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(ver).as("version"), col("yr"), col("n_orders"), col("spend"))
      yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 0L).get, 0L)
        .unionByName(yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 1L).get, 1L))
    },

    // ── etl_snapshot_restore: ROLLBACK as a forward commit
    // ([[graft.etl.VersionedLoad.restore]] — the RESTORE of the
    // heavyweight formats on the native store): the fact bootstraps,
    // an incremental refresh moves the head, then the table ROLLS BACK
    // to version 0 — committed as version 2 whose manifest references
    // v0's FILES IN PLACE, so the rollback is METADATA-ONLY: zero data
    // rewritten regardless of table size (the file-level manifest
    // format's payoff made user-visible; RestoreSpec pins the
    // zero-data-write and file-identity facts the oracle cannot see).
    // History stays append-only — v1 remains travelable, the restore
    // itself is auditable. The op reads all three versions back tagged
    // and year-aggregated; the oracle recomputes each state
    // relationally, so a restore that loses rows, resurrects the wrong
    // version, or contaminates the head with v1 rows is a hash diff.
    OpQuery.checked(
      "etl_snapshot_restore",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |e AS (SELECT * FROM o WHERE od < DATE '1995-01-01'),
        |b1 AS (
        |  SELECT * FROM o
        |  WHERE od BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
        |l1 AS (
        |  SELECT * FROM e
        |  UNION ALL
        |  SELECT b.* FROM b1 b
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.o_orderkey = b.o_orderkey)),
        |a0 AS (SELECT CAST(year(od) AS BIGINT) AS yr,
        |              CAST(count(*) AS BIGINT) AS n_orders,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |       FROM e GROUP BY 1),
        |a1 AS (SELECT CAST(year(od) AS BIGINT) AS yr,
        |              CAST(count(*) AS BIGINT) AS n_orders,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |       FROM l1 GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS version, * FROM a0
        |UNION ALL SELECT CAST(1 AS BIGINT), * FROM a1
        |UNION ALL SELECT CAST(2 AS BIGINT), * FROM a0""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("restore", dir) {
        val t = EtlOps.freshStoreTable(dir, "restore_tbl_")
        graft.etl.VersionedLoad.bootstrap(spark, t,
          o.filter(col("od") < lit("1995-01-01").cast("date")),
          asOfMicros = 788918400000000L) // 1995-01-01T00:00:00Z
        graft.etl.VersionedLoad.refresh(spark, t,
          o.filter(col("od").between(
            lit("1995-01-01").cast("date"), lit("1995-12-31").cast("date"))),
          Seq("o_orderkey"), asOfMicros = 820454400000000L) // 1996-01-01T00:00:00Z
        graft.etl.VersionedLoad.restore(spark, t, version = 0L,
          asOfMicros = Some(852076800000000L)) // 1997-01-01T00:00:00Z, the rollback instant
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, ver: Long) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(ver).as("version"), col("yr"), col("n_orders"), col("spend"))
      yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 0L).get, 0L)
        .unionByName(yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 1L).get, 1L))
        .unionByName(yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 2L).get, 2L))
    },

    // ── etl_table_changes: INCREMENTAL CONSUMPTION between versions
    // ([[graft.etl.VersionedLoad.changesBetween]] — the CDC-read of the
    // heavyweight formats, for this load's insert-only contract): with
    // file-level manifests, "what did version 2 add over version 1" is
    // a MANIFEST FILE-LIST DIFF — the reader scans only the delta
    // files, never the table, so a downstream pipeline consumes each
    // refresh at O(delta) read cost (ref: the subsequent-load deltas of
    // 07_SubsequentLoading.sql consumed incrementally). The table takes
    // two overlapping refreshes; the op emits the year aggregate of
    // changes(v1 → v2), and the oracle recomputes exactly the rows the
    // second refresh genuinely inserted (batch2 NOT EXISTS in state 1)
    // — a file diff that leaked reused files, dropped a delta file, or
    // misattributed versions is a hash diff. ChangesSpec pins the
    // filesystem fact that only delta files are scanned.
    OpQuery.checked(
      "etl_table_changes",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |e AS (SELECT * FROM o WHERE od < DATE '1995-01-01'),
        |b1 AS (
        |  SELECT * FROM o
        |  WHERE od BETWEEN DATE '1994-07-01' AND DATE '1995-12-31'),
        |l1 AS (
        |  SELECT * FROM e
        |  UNION ALL
        |  SELECT b.* FROM b1 b
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.o_orderkey = b.o_orderkey)),
        |b2 AS (
        |  SELECT * FROM o
        |  WHERE od BETWEEN DATE '1995-07-01' AND DATE '1996-12-31'),
        |chg AS (
        |  SELECT b.* FROM b2 b
        |  WHERE NOT EXISTS (SELECT 1 FROM l1 WHERE l1.o_orderkey = b.o_orderkey))
        |SELECT CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM chg GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("changes", dir) {
        val t = EtlOps.freshStoreTable(dir, "changes_tbl_")
        graft.etl.VersionedLoad.bootstrap(spark, t,
          o.filter(col("od") < lit("1995-01-01").cast("date")),
          asOfMicros = 788918400000000L) // 1995-01-01T00:00:00Z
        graft.etl.VersionedLoad.refresh(spark, t,
          o.filter(col("od").between(
            lit("1994-07-01").cast("date"), lit("1995-12-31").cast("date"))),
          Seq("o_orderkey"), asOfMicros = 820454400000000L) // 1996-01-01T00:00:00Z
        graft.etl.VersionedLoad.refresh(spark, t,
          o.filter(col("od").between(
            lit("1995-07-01").cast("date"), lit("1996-12-31").cast("date"))),
          Seq("o_orderkey"), asOfMicros = 852076800000000L) // 1997-01-01T00:00:00Z
        t
      }
      graft.etl.VersionedLoad.changesBetween(spark, table, 1L, 2L).get
        .groupBy(year(col("od")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── etl_merge_delete: the DELETE arm of the versioned MERGE
    // ([[graft.etl.VersionedLoad.applyCdc]] — WHEN MATCHED AND op='D'
    // THEN DELETE, the missing third of the r14 merge surface and the
    // GDPR/right-to-be-forgotten op of every long-lived corpus). One
    // I/U/D batch applies as ONE atomic commit: the 1995-H2/1996 window
    // reprices (update+insert, like etl_merge_versioned), the 1994-H1
    // orders DELETE by key — copy-on-write, so only files containing a
    // matched key rewrite and the rest ride along by reference. Three
    // legs read back tagged: v0 (pre-delete bootstrap), v1 (post-CDC
    // head — the deleted year's rows must be GONE while other years
    // keep exactly their merged values), and a timestamp-travel read
    // pinned between the horizons that must resolve the PRE-delete
    // state — the deleted rows remain auditable after the delete, the
    // versioned-delete contract a plain overwrite cannot offer. The
    // oracle replays all three legs relationally, so a resurrected
    // deleted row, an over-deleted survivor, or a mis-resolved travel
    // read is a hash diff.
    OpQuery.checked(
      "etl_merge_delete",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |existing AS (SELECT * FROM o WHERE od < DATE '1996-01-01'),
        |ups AS (
        |  SELECT o_orderkey, od,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS o_totalprice
        |  FROM o
        |  WHERE od BETWEEN DATE '1995-06-01' AND DATE '1996-12-31'),
        |dels AS (
        |  SELECT o_orderkey FROM o
        |  WHERE od BETWEEN DATE '1994-01-01' AND DATE '1994-06-30'),
        |merged AS (
        |  SELECT * FROM ups
        |  UNION ALL
        |  SELECT e.* FROM existing e
        |  WHERE NOT EXISTS (SELECT 1 FROM ups u WHERE u.o_orderkey = e.o_orderkey)
        |    AND NOT EXISTS (SELECT 1 FROM dels d WHERE d.o_orderkey = e.o_orderkey)),
        |a0 AS (SELECT CAST(year(od) AS BIGINT) AS yr,
        |              CAST(count(*) AS BIGINT) AS n_orders,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |       FROM existing GROUP BY 1),
        |a1 AS (SELECT CAST(year(od) AS BIGINT) AS yr,
        |              CAST(count(*) AS BIGINT) AS n_orders,
        |              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |       FROM merged GROUP BY 1)
        |SELECT 'v0' AS leg, * FROM a0
        |UNION ALL SELECT 'v1', * FROM a1
        |UNION ALL SELECT 'asof_mid', * FROM a0""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("mergeDelete", dir) {
        val t = EtlOps.freshStoreTable(dir, "merge_delete_")
        graft.etl.VersionedLoad.bootstrap(spark, t,
          o.filter(col("od") < lit("1996-01-01").cast("date")),
          asOfMicros = 820454400000000L, // 1996-01-01T00:00:00Z, the load horizon
          statsCol = Some("o_orderkey"))
        // one CDC batch, both arms: updates+inserts repriced ×2, the
        // 1994-H1 keys deleted; the windows are date-disjoint so the
        // batch is key-unique across arms (applyCdc's precondition)
        val ups = o.filter(
            col("od").between(lit("1995-06-01").cast("date"), lit("1996-12-31").cast("date")))
          .select(col("o_orderkey"), col("od"),
            (Norm.dec(col("o_totalprice")) * 2).cast("double").as("o_totalprice"))
          .withColumn("_op", lit("U"))
        val dels = o.filter(
            col("od").between(lit("1994-01-01").cast("date"), lit("1994-06-30").cast("date")))
          .withColumn("_op", lit("D"))
        graft.etl.VersionedLoad.applyCdc(spark, t, ups.unionByName(dels),
          Seq("o_orderkey"), "_op",
          asOfMicros = Some(852076800000000L), // 1997-01-01T00:00:00Z
          statsCol = Some("o_orderkey"))
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(leg).as("leg"), col("yr"), col("n_orders"), col("spend"))
      yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 0L).get, "v0")
        .unionByName(yearAgg(graft.etl.SnapshotStore.readVersion(spark, table, 1L).get, "v1"))
        // pinned strictly between the horizons: must resolve the
        // PRE-delete version — deleted rows stay auditable
        .unionByName(yearAgg(
          graft.etl.SnapshotStore.readAsOf(spark, table, 840000000000000L).get, "asof_mid"))
    },

    // ── etl_cdc_delete_events: delete-aware CDC READ
    // ([[graft.etl.VersionedLoad.cdcBetween]] — what a downstream
    // replica applies after a chain containing deletes, where
    // etl_table_upserts' value-exact diff can only see inserts and
    // updates): the upsert rows AND the PRE-IMAGE of every deleted row
    // emit tagged by _change_type. Delete detection is file-diff-shaped
    // — candidates live only in the files the delete REWROTE, probed
    // for key-existence against the stats-pruned to-side — so the read
    // stays O(touched files). Shares the memoized bootstrap+CDC table
    // with etl_merge_delete; the oracle recomputes both event classes
    // relationally (upserts = the repriced window; deletes = the
    // 1994-H1 pre-images at their ORIGINAL values), so a leaked
    // survivor, a phantom delete, or a lost pre-image is a hash diff.
    OpQuery.checked(
      "etl_cdc_delete_events",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders),
        |existing AS (SELECT * FROM o WHERE od < DATE '1996-01-01'),
        |ups AS (
        |  SELECT o_orderkey, od,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DOUBLE) AS o_totalprice
        |  FROM o
        |  WHERE od BETWEEN DATE '1995-06-01' AND DATE '1996-12-31'),
        |del_pre AS (
        |  SELECT e.* FROM existing e
        |  WHERE e.od BETWEEN DATE '1994-01-01' AND DATE '1994-06-30')
        |SELECT 'upsert' AS change_type, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM ups GROUP BY 2
        |UNION ALL
        |SELECT 'delete', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM del_pre GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("mergeDelete", dir) {
        val t = EtlOps.freshStoreTable(dir, "merge_delete_")
        graft.etl.VersionedLoad.bootstrap(spark, t,
          o.filter(col("od") < lit("1996-01-01").cast("date")),
          asOfMicros = 820454400000000L, statsCol = Some("o_orderkey"))
        val ups = o.filter(
            col("od").between(lit("1995-06-01").cast("date"), lit("1996-12-31").cast("date")))
          .select(col("o_orderkey"), col("od"),
            (Norm.dec(col("o_totalprice")) * 2).cast("double").as("o_totalprice"))
          .withColumn("_op", lit("U"))
        val dels = o.filter(
            col("od").between(lit("1994-01-01").cast("date"), lit("1994-06-30").cast("date")))
          .withColumn("_op", lit("D"))
        graft.etl.VersionedLoad.applyCdc(spark, t, ups.unionByName(dels),
          Seq("o_orderkey"), "_op",
          asOfMicros = Some(852076800000000L), statsCol = Some("o_orderkey"))
        t
      }
      graft.etl.VersionedLoad.cdcBetween(spark, table, 0L, 1L,
          Seq("o_orderkey"), Some("o_orderkey")).get
        .groupBy(col("_change_type").as("change_type"),
          year(col("od")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── etl_keyrange_scan: the TYPED multi-column data-skipping index
    // end to end ([[graft.etl.SnapshotStore]] `s`/`t` stat lines +
    // readKeyRange/readDateRange/readStringRange — the per-file
    // min/max pruning Delta/Iceberg keep for leading columns, r15):
    // the fact bootstraps key-CLUSTERED with stats on an integral, a
    // date, and a string column recorded in ONE delta scan, then three
    // pruned point/range reads — orderkey range, order-date year,
    // priority point lookup — come back tagged and year-aggregated.
    // Files whose recorded spans cannot intersect a leg's range are
    // never opened (TypedStatsSpec pins that with the destroyed-file
    // device — a filesystem fact DuckDB cannot see); the oracle
    // replays each leg as a plain WHERE, so the exact filter on top of
    // the pruned scan must return precisely the relational answer.
    OpQuery.checked(
      "etl_keyrange_scan",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_orderpriority, o_totalprice
        |  FROM orders)
        |SELECT 'key' AS leg, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM o WHERE o_orderkey BETWEEN 100 AND 2000 GROUP BY 2
        |UNION ALL
        |SELECT 'date', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE od BETWEEN DATE '1995-01-01' AND DATE '1995-12-31' GROUP BY 2
        |UNION ALL
        |SELECT 'str', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE o_orderpriority = '1-URGENT' GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"),
          col("o_orderpriority"), col("o_totalprice"))
      val table = builtOnce("keyrange", dir) {
        val t = EtlOps.freshStoreTable(dir, "keyrange_tbl_")
        graft.etl.VersionedLoad.bootstrap(spark, t,
          o.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"),
          asOfMicros = 852076800000000L,
          statsCol = Some("o_orderkey"), statsCols = Seq("od", "o_orderpriority"))
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(leg).as("leg"), col("yr"), col("n_orders"), col("spend"))
      val s = graft.etl.SnapshotStore
      yearAgg(s.readKeyRange(spark, table, "o_orderkey", 100L, 2000L).get, "key")
        .unionByName(yearAgg(
          s.readDateRange(spark, table, "od", "1995-01-01", "1995-12-31").get, "date"))
        .unionByName(yearAgg(
          s.readStringRange(spark, table, "o_orderpriority", "1-URGENT", "1-URGENT").get, "str"))
    },

    // ── etl_compact_zorder: OPTIMIZE ZORDER on the versioned store —
    // [[graft.etl.VersionedLoad.compact]]'s Morton-clustered rewrite
    // (the codegen'd bit_interleave of io_zorder_layout, wired into the
    // store's own layout path): a round-robin-fragmented fact compacts
    // into files whose per-file stats are NARROW IN BOTH the integral
    // key and the DATE column, so the store's pruned reads serve range
    // predicates on EITHER dimension — where the sortBy compact's
    // single-key clustering serves only its leading column. Two legs
    // read back through the two typed pruned readers (readKeyRange on
    // o_orderkey, readDateRange on the order date), year-aggregated;
    // the oracle replays each as a plain WHERE, so the exact filter on
    // the pruned scan must return precisely the relational answer
    // (content is layout-independent by construction — a z-order bug
    // that drops or duplicates rows is a hash diff). The
    // narrow-span-per-file and prune-on-either-dimension layout facts
    // are pinned in VersionedDeleteSpec with the destroyed-file device.
    OpQuery.checked(
      "etl_compact_zorder",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders)
        |SELECT 'key' AS leg, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM o WHERE o_orderkey BETWEEN 1000 AND 5000 GROUP BY 2
        |UNION ALL
        |SELECT 'date', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE od BETWEEN DATE '1996-01-01' AND DATE '1996-12-31' GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val table = builtOnce("zorder", dir) {
        val t = EtlOps.freshStoreTable(dir, "zorder_tbl_")
        graft.etl.VersionedLoad.bootstrap(spark, t, o.repartition(8),
          asOfMicros = 852076800000000L,
          statsCol = Some("o_orderkey"), statsCols = Seq("od"))
        graft.etl.VersionedLoad.compact(spark, t, numFiles = 8,
          asOfMicros = Some(852076800000000L),
          statsCol = Some("o_orderkey"), statsCols = Seq("od"),
          zorderBy = Seq("o_orderkey", "od"))
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(leg).as("leg"), col("yr"), col("n_orders"), col("spend"))
      val s = graft.etl.SnapshotStore
      yearAgg(s.readKeyRange(spark, table, "o_orderkey", 1000L, 5000L).get, "key")
        .unionByName(yearAgg(
          s.readDateRange(spark, table, "od", "1996-01-01", "1996-12-31").get, "date"))
    },

    // ── dedup_purge_versioned: the GDPR/right-to-be-forgotten pipeline
    // on the corpus — exact dedup's keep-canonical decision EXECUTED as
    // a versioned row-level DELETE ([[graft.etl.VersionedLoad.delete]]),
    // the op every long-lived training corpus eventually needs: the
    // documents' (doc_id, fingerprint, source) projection
    // bootstraps as version 0, every non-canonical duplicate (doc_id ≠
    // its fingerprint group's min) deletes by key as ONE atomic
    // copy-on-write commit, and three legs read back — the pre-purge
    // corpus (still travelable for audit), the purged head (every
    // fingerprint now unique per corpus), and the CDC delete events a
    // downstream replica would apply ([[graft.etl.VersionedLoad
    // .cdcBetween]] pre-images, grouped by source). At 100 TB the
    // purge costs O(touched files) — the delete keys prune the
    // touched-file location through the doc_id stats index — never a
    // corpus rewrite; payload text never enters the store (hash-grain
    // discipline, the dedup_exact posture). The oracle replays the
    // canonical pick, the purge, and the event set relationally, so a
    // resurrected duplicate, an over-deleted canonical, or a lost
    // delete event is a hash diff.
    OpQuery.checked(
      "dedup_purge_versioned",
      """WITH d AS (SELECT doc_id, md5(substring(text, 1, 80)) AS fp, source
        |           FROM documents),
        |canon AS (SELECT fp, min(doc_id) AS canon FROM d GROUP BY fp),
        |dels AS (SELECT doc_id FROM d JOIN canon USING (fp) WHERE doc_id <> canon),
        |purged AS (SELECT * FROM d
        |           WHERE NOT EXISTS (SELECT 1 FROM dels WHERE dels.doc_id = d.doc_id)),
        |a0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
        |       FROM d GROUP BY 1),
        |a1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
        |       FROM purged GROUP BY 1),
        |ad AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |              CAST(count(DISTINCT fp) AS BIGINT) AS n_fps
        |       FROM d JOIN dels USING (doc_id) GROUP BY 1)
        |SELECT 'v0' AS leg, * FROM a0
        |UNION ALL SELECT 'v1', * FROM a1
        |UNION ALL SELECT 'deleted', * FROM ad""".stripMargin
    ) { (spark, dir) =>
      // fingerprint = hash of the LEADING 80 chars — the
      // boilerplate/leading-duplicate purge grain (full-content md5 is
      // dedup_exact's; the leading grain guarantees real purge work at
      // every testdata scale, where full-content dups only exist at 0.1)
      val docs = Tables(spark, dir).documents
        .select(col("doc_id"), md5(substring(col("text"), 1, 80)).as("fp"), col("source"))
      val table = builtOnce("purge", dir) {
        val t = EtlOps.freshStoreTable(dir, "purge_tbl_")
        graft.etl.VersionedLoad.bootstrap(spark, t, docs,
          asOfMicros = 1700000000000000L, statsCol = Some("doc_id"))
        val canon = docs.groupBy("fp").agg(min(col("doc_id")).as("canon"))
        val dels = docs.join(canon, Seq("fp"))
          .filter(col("doc_id") =!= col("canon")).select("doc_id")
        graft.etl.VersionedLoad.delete(spark, t, dels, Seq("doc_id"),
          asOfMicros = Some(1700000100000000L), statsCol = Some("doc_id"))
        t
      }
      def srcAgg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_fps"))
          .select(lit(leg).as("leg"), col("source"), col("n_docs"), col("n_fps"))
      // a CLEAN corpus purges nothing: cdcBetween legitimately reports
      // "no change" (None) — the deleted leg is then empty, not a crash
      val delEvents = graft.etl.VersionedLoad.cdcBetween(spark, table, 0L, 1L,
          Seq("doc_id"), Some("doc_id"))
        .map(_.filter(col("_change_type") === "delete"))
        .getOrElse(docs.limit(0))
      srcAgg(graft.etl.SnapshotStore.readVersion(spark, table, 0L).get, "v0")
        .unionByName(srcAgg(graft.etl.SnapshotStore.readVersion(spark, table, 1L).get, "v1"))
        .unionByName(srcAgg(delEvents, "deleted"))
    },

    // ── etl_partition_spec: MANIFEST-LEVEL partition pruning (r16 — the
    // Iceberg hidden-partitioning shape on the store's own format): the
    // fact bootstraps under a `year(od)` [[graft.etl.SnapshotStore
    // .PartitionSpec]] with the rows repartitioned by year so each file
    // is single-valued, the manifest records one `v <year> <file>` line
    // per file, and a refresh CARRIES the spec forward without
    // re-declaring it. Two partition-pruned reads come back tagged:
    // the head restricted to years 1995-1996 (the reference reports'
    // `BETWEEN &p_year_from AND &p_year_to` filter, LQY_query1.txt:50,
    // answered by opening only in-range partitions) and a TIME-TRAVELED
    // read — versionAsOf resolves the pre-refresh instant to version 0
    // and the prune applies under THAT manifest's own spec and values,
    // so partition pruning composes with travel. Files outside the
    // requested years are NEVER OPENED (PartitionSpecSpec pins that
    // with the destroyed-file device, plus partition EVOLUTION: a spec
    // change applies forward while old manifests keep pruning by
    // theirs); the oracle replays both legs as plain year WHEREs, so
    // the exact transform filter on top of the prune must return
    // precisely the relational answer.
    OpQuery.checked(
      "etl_partition_spec",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders)
        |SELECT 'head_9596' AS leg, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM o WHERE year(od) BETWEEN 1995 AND 1996 GROUP BY 2
        |UNION ALL
        |SELECT 'v0_95', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE year(od) = 1995 GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val spec = graft.etl.SnapshotStore.PartitionSpec("year", "od")
      val table = builtOnce("partSpec", dir) {
        val t = EtlOps.freshStoreTable(dir, "partspec_tbl_")
        // repartition BY the partition value: each written file holds
        // exactly one year, so every file gets its `v` line (a
        // multi-valued file would just degrade to must-scan)
        graft.etl.VersionedLoad.bootstrap(spark, t,
          o.filter(col("od") < lit("1996-01-01").cast("date"))
            .repartitionByRange(8, year(col("od"))),
          asOfMicros = 820454400000000L, // 1996-01-01T00:00:00Z
          statsCol = Some("o_orderkey"), partitionSpec = Some(spec))
        // the refresh carries the spec from the head manifest — no
        // partitionSpec argument here, by design
        graft.etl.VersionedLoad.refresh(spark, t,
          o.filter(col("od").between(
              lit("1996-01-01").cast("date"), lit("1996-12-31").cast("date")))
            .repartitionByRange(8, year(col("od"))),
          Seq("o_orderkey"), asOfMicros = 852076800000000L) // 1997-01-01T00:00:00Z
        t
      }
      def yearAgg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(leg).as("leg"), col("yr"), col("n_orders"), col("spend"))
      val s = graft.etl.SnapshotStore
      // travel leg: resolve the instant between the two commits to a
      // version id, then partition-prune under THAT manifest
      val v0 = s.versionAsOf(spark, table, 840000000000000L).get
      yearAgg(s.readPartitionRange(spark, table, 1995L, 1996L).get, "head_9596")
        .unionByName(yearAgg(
          s.readPartitionRange(spark, table, 1995L, 1995L, version = Some(v0)).get, "v0_95"))
    },

    // ── etl_partition_spec_multi: MULTI-COLUMN partition specs (r17 —
    // the r16 design note become code; Iceberg's spec = an ordered
    // transform LIST): orders commit under TWO spec dimensions —
    // `year(od)` and `div200000(o_orderkey)` — declared as repeated `p`
    // headers with per-file `v <v1> <v2> <path>` tuple lines, and the
    // reads prune by INTERSECTING the per-dimension keep sets (the
    // reference's own Q2/Q3 reports filter on year AND a second
    // dimension — LQY_query2.txt:79-81, LQY_query3.txt:92 — the shape
    // a (year, dim2)-partitioned 100 TB fact answers from metadata).
    // Three legs: both dimensions constrained (year 1995-96 ∧ key
    // block 0), dimension 1 alone (leading dim unconstrained — the
    // ranges vector passes None for year), and dimension 0 alone. A
    // file MULTI-VALUED in one dimension records `?` there and still
    // prunes on its concrete dimensions (MultiPartitionSpecSpec pins
    // per-dimension destroyed-file pruning + evolution). The oracle
    // replays all three legs as plain WHEREs — exact long floor
    // division on both engines — so the tuple recording, the
    // intersection, and the exact filters are all hash-checked.
    OpQuery.checked(
      "etl_partition_spec_multi",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders)
        |SELECT 'both_dims' AS leg, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM o WHERE year(od) BETWEEN 1995 AND 1996 AND o_orderkey // 200000 = 0
        |GROUP BY 2
        |UNION ALL
        |SELECT 'dim1_only', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE o_orderkey // 200000 = 0 GROUP BY 2
        |UNION ALL
        |SELECT 'dim0_only', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE year(od) = 1997 GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val table = EtlOps.multiSpecTable(spark, dir)
      def yearAgg(df: org.apache.spark.sql.DataFrame, leg: String) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(leg).as("leg"), col("yr"), col("n_orders"), col("spend"))
      val s = graft.etl.SnapshotStore
      yearAgg(s.readPartitionRanges(spark, table,
          Seq(Some((1995L, 1996L)), Some((0L, 0L)))).get, "both_dims")
        .unionByName(yearAgg(s.readPartitionRanges(spark, table,
          Seq(None, Some((0L, 0L)))).get, "dim1_only"))
        .unionByName(yearAgg(s.readPartitionRanges(spark, table,
          Seq(Some((1997L, 1997L)))).get, "dim0_only"))
    },

    // ── etl_bucket_join: the bucket<N> partition transform (r17 —
    // Iceberg's bucket[N] family: Murmur3-seed-42 of the long key mod
    // N, [[graft.etl.SnapshotStore.bucketValue]] driver-side =
    // `functions.hash` column-side by construction): customer and
    // orders each commit under the SAME `bucket8(custkey)` spec, and
    // the join runs BUCKET-BY-BUCKET — leg b reads ONLY bucket b's
    // files from each table (the v-line index; BucketSpec pins
    // never-opened with the destroyed-file device) and the legs union
    // into the exact join result, because equal keys share a bucket by
    // construction. HONEST SCALE NOTE: each leg still carries its own
    // join Exchange — a plain parquet scan exposes no
    // outputPartitioning to Catalyst, so store-level bucketing PRUNES
    // (1/N of both tables per leg, bounded working sets, point-lookup
    // pruning by key) but cannot remove the shuffle the way a
    // saveAsTable bucketed scan does (io_bucketed_join demonstrates
    // that path); removing it would take a custom DataSource v2
    // reporting KeyGroupedPartitioning. The oracle is the plain join —
    // bucket routing must be invisible in the result.
    OpQuery.checked(
      "etl_bucket_join",
      """SELECT c.c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin
    ) { (spark, dir) =>
      val n = 8
      val t = Tables(spark, dir)
      val s = graft.etl.SnapshotStore
      val both = builtOnce("bucketJoin", dir) {
        val ct = EtlOps.freshStoreTable(dir, "bucket_cust_")
        val ot = EtlOps.freshStoreTable(dir, "bucket_ord_")
        def load(tbl: String, df: org.apache.spark.sql.DataFrame, key: String): Unit = {
          val spec = s.PartitionSpec(s"bucket$n", key)
          graft.etl.VersionedLoad.bootstrap(spark, tbl,
            s.clusterBySpecs(df, Seq(spec), n),
            asOfMicros = 900000000000000L, partitionSpec = Some(spec)): Unit
        }
        load(ct, t.customer.select("c_custkey", "c_mktsegment"), "c_custkey")
        load(ot, t.orders.select("o_custkey", "o_totalprice"), "o_custkey")
        s"$ct|$ot"
      }
      val Array(ct, ot) = both.split('|')
      (0 until n).map { b =>
        val cb = s.readPartitionRange(spark, ct, b.toLong, b.toLong).get
        val ob = s.readPartitionRange(spark, ot, b.toLong, b.toLong).get
        ob.join(cb, col("o_custkey") === col("c_custkey"))
      }.reduce(_.unionByName(_))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("revenue"))
    },

    // ── etl_store_dsv2_scan: the versioned store as a FIRST-CLASS
    // Spark DataSource v2 (r17 — graft.sources.StoreSource):
    // spark.read.format(...).load(tableDir) plans over the manifest
    // alone — schema from the recorded `c` line (zero footer reads),
    // and the caller's plain `.filter(...)` reaches the source as
    // PUSHED FILTERS that prune whole files against the per-column
    // stats AND the partition-value tuples (here the o_orderkey range
    // routes through both the `s` stats and the div200000 spec
    // dimension of the shared two-dimension table). This is the
    // preference-order win over the hand-called readers: inside the
    // planner the pruning composes with Catalyst — column pruning,
    // EXPLAIN visibility, joins. StoreSourceSpec pins never-opened
    // with the destroyed-file device; here both legs (head + a
    // version pin) are oracle-replayed, so the DSv2 read path itself
    // is hash-checked end to end.
    OpQuery.checked(
      "etl_store_dsv2_scan",
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |  FROM orders)
        |SELECT 'head_low' AS leg, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM o WHERE o_orderkey <= 100000 GROUP BY 2
        |UNION ALL
        |SELECT 'v0_low', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE o_orderkey <= 100000 GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      // the shared two-dimension store table (one builder, either op
      // may arrive first)
      val table = EtlOps.multiSpecTable(spark, dir)
      def leg(df: org.apache.spark.sql.DataFrame, name: String) =
        df.filter(col("o_orderkey") <= 100000L)
          .groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(name).as("leg"), col("yr"), col("n_orders"), col("spend"))
      leg(spark.read.format("graft.sources.StoreSource").load(table), "head_low")
        .unionByName(leg(spark.read.format("graft.sources.StoreSource")
          .option("version", "0").load(table), "v0_low"))
    },

    // ── etl_store_spj_join: STORAGE-PARTITIONED JOIN groundwork as an
    // oracle key — two store tables identity-co-partitioned on the
    // same grain column read through the DSv2 source with
    // partition-grouped tasks (one task per partition value, each
    // reporting its key). With spark.sql.sources.v2.bucketing.enabled
    // the planner may then join them with NO shuffle Exchange —
    // StoreSourceSpec pins exactly that plan under controlled confs
    // (broadcast off, AQE off, contrast plan shuffling); HERE the key
    // pins the RESULT: whatever join strategy the session picks, the
    // partition-grouped DSv2 scans must produce the hash-identical
    // relational answer under the session's DEFAULT planning — an
    // oracle op must never mutate shared session conf (order-dependent
    // plans across unrelated ops); the SPJ engagement itself is
    // plan-proved in StoreSourceSpec/StoreCatalogSpec under
    // test-controlled confs.
    OpQuery.checked(
      "etl_store_spj_join",
      """WITH a AS (SELECT o_custkey % 50 AS g,
        |                  CAST(count(*) AS BIGINT) AS n_orders,
        |                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |           FROM orders GROUP BY 1),
        |b AS (SELECT c_custkey % 50 AS g,
        |             CAST(count(*) AS BIGINT) AS n_custs
        |      FROM customer GROUP BY 1)
        |SELECT CAST(a.g AS BIGINT) AS g, a.n_orders, a.spend, b.n_custs
        |FROM a JOIN b USING (g)""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val s = graft.etl.SnapshotStore
      val spec = s.PartitionSpec("identity", "g")
      val both = builtOnce("spj", dir) {
        val at = EtlOps.freshStoreTable(dir, "spj_orders_")
        val bt = EtlOps.freshStoreTable(dir, "spj_cust_")
        val a = t.orders.groupBy((col("o_custkey") % 50).cast("long").as("g"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
        val b = t.customer.groupBy((col("c_custkey") % 50).cast("long").as("g"))
          .agg(count(lit(1)).as("n_custs"))
        graft.etl.VersionedLoad.bootstrap(spark, at,
          s.clusterBySpecs(a, Seq(spec), 50), asOfMicros = 900000000000000L,
          partitionSpec = Some(spec))
        graft.etl.VersionedLoad.bootstrap(spark, bt,
          s.clusterBySpecs(b, Seq(spec), 50), asOfMicros = 900000000000000L,
          partitionSpec = Some(spec))
        s"$at|$bt"
      }
      val Array(at, bt) = both.split('|')
      def side(tbl: String) = spark.read.format("graft.sources.StoreSource")
        .option("partitionGrouped", "true").load(tbl)
      side(at).join(side(bt), Seq("g")).select("g", "n_orders", "spend", "n_custs")
    },

    // ── etl_store_agg_pushdown: METADATA-ONLY aggregates through the
    // DSv2 source (r17 — StoreScanBuilder SupportsPushDownAggregates):
    // COUNT(*) / COUNT(col) / MIN / MAX over a store table answer
    // ENTIRELY from the manifest's r/n/s/t-date lines as a driver-side
    // LocalScan — zero tasks, zero data files opened (the Delta/
    // Iceberg metadata-aggregate move; at 100 TB a COUNT(*) becomes
    // one manifest read). StoreAggPushdownSpec proves the zero-IO
    // claim with EVERY data file destroyed and pins the fallback
    // gates (filters/SUM/DISTINCT/unstatted stay on the data path);
    // HERE the answers themselves are oracle-replayed: row count,
    // null-skipping count, long min/max, and date min/max must
    // hash-match DuckDB over the same orders-derived frame — a stats
    // line recording bounds the true values escape is a hash diff.
    OpQuery.checked(
      "etl_store_agg_pushdown",
      """WITH o AS (SELECT o_orderkey,
        |                  CAST(o_orderdate AS DATE) AS od,
        |                  CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey END AS maybe_key
        |           FROM orders)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(maybe_key) AS BIGINT) AS n_maybe,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key,
        |       min(od) AS min_od,
        |       max(od) AS max_od
        |FROM o""".stripMargin
    ) { (spark, dir) =>
      val table = EtlOps.aggPushTable(spark, dir)
      spark.read.format("graft.sources.StoreSource").load(table).agg(
        count(lit(1)).as("n_rows"),
        count(col("maybe_key")).as("n_maybe"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        min(col("od")).as("min_od"),
        max(col("od")).as("max_od"))
    },

    // ── etl_store_dsv2_write: the DSv2 WRITE path end to end (r17 —
    // StoreTable SupportsWrite via the V1Write bridge +
    // CreatableRelationProvider for format().save): the table's high
    // half lands through `df.write.format(...).mode("append")`, which
    // must commit EXACTLY like an incremental promote — v0's files
    // reused untouched, the append's own files statted, one new
    // version. Both legs read back through the DSv2 source: the head
    // must show the union, the v0 pin only the bootstrap half — a
    // write that rewrote instead of reusing, dropped rows, or bumped
    // the wrong version is a hash diff. StoreWriteSpec pins the
    // file-reuse manifests, INSERT INTO/OVERWRITE DDL, CTAS, and the
    // pin-refusal; HERE the committed DATA is oracle-replayed.
    OpQuery.checked(
      "etl_store_dsv2_write",
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
        |           FROM orders)
        |SELECT 'head' AS leg, CAST(year(od) AS BIGINT) AS yr,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM o GROUP BY 2
        |UNION ALL
        |SELECT 'v0_boot', CAST(year(od) AS BIGINT),
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM o WHERE o_orderkey <= 300000 GROUP BY 2""".stripMargin
    ) { (spark, dir) =>
      val table = EtlOps.dsv2WriteTable(spark, dir)
      def leg(df: org.apache.spark.sql.DataFrame, name: String) =
        df.groupBy(year(col("od")).cast("long").as("yr"))
          .agg(count(lit(1)).as("n_orders"), Norm.dsum(col("o_totalprice")).as("spend"))
          .select(lit(name).as("leg"), col("yr"), col("n_orders"), col("spend"))
      leg(spark.read.format("graft.sources.StoreSource").load(table), "head")
        .unionByName(leg(spark.read.format("graft.sources.StoreSource")
          .option("version", "0").load(table), "v0_boot"))
    },

    // ── etl_store_history: the DESCRIBE HISTORY audit surface as data
    // ([[graft.etl.SnapshotStore.history]] — what committed, when, how
    // big): a three-commit table (bootstrap + two file-reuse
    // incremental promotes, one third of the fact each, pinned as-of
    // instants a fixed step apart) reads its retained history back as
    // (version, asof_micros, num_files) rows — metadata only, no data
    // file is opened, newest-first resolution with torn debris skipped.
    // Paths are EXCLUDED so the hash is layout-independent (the r15
    // VERDICT stretch wording); file counts are pinned by
    // repartition(1) per commit, so the incremental chain must show
    // 1, 2, 3 referenced files. The oracle derives the same three rows
    // relationally from the key-space thirds, so a lost manifest, a
    // mis-pinned as-of, or a dropped reuse reference is a hash diff.
    OpQuery.checked(
      "etl_store_history",
      """SELECT CAST(r AS BIGINT) AS version,
        |       CAST(1000000000000000 + r * 1000000000 AS BIGINT) AS asof_micros,
        |       CAST(r + 1 AS BIGINT) AS num_files
        |FROM (SELECT DISTINCT o_orderkey % 3 AS r FROM orders)""".stripMargin
    ) { (spark, dir) =>
      val o = Tables(spark, dir).orders
        .select(col("o_orderkey"), col("o_totalprice"))
      def slice(r: Int) = o.filter(col("o_orderkey") % 3 === r).repartition(1)
      val table = builtOnce("history", dir) {
        val t = EtlOps.freshStoreTable(dir, "history_tbl_")
        val s = graft.etl.SnapshotStore
        s.promote(spark, t, slice(0), preferredId = 0L, keep = 16,
          asOfMicros = Some(1000000000000000L)): Unit
        s.promote(spark, t, slice(1), keep = 16,
          asOfMicros = Some(1000001000000000L),
          reuseFiles = s.currentFiles(spark, t)): Unit
        s.promote(spark, t, slice(2), keep = 16,
          asOfMicros = Some(1000002000000000L),
          reuseFiles = s.currentFiles(spark, t)): Unit
        t
      }
      import spark.implicits._
      graft.etl.SnapshotStore.history(spark, table)
        .map(h => (h.version, h.asOfMicros.getOrElse(-1L), h.numFiles.toLong))
        .toDF("version", "asof_micros", "num_files")
    },

    // ── etl_validation_report: CHECK-constraint semantics as violation
    // counters (ref 01_Create.sql CHECK domains + SURVEY §5 post-load
    // checks), including the reference's validation triggers:
    // TRG_MANAGE_BOOK_DETAILS (price/popularity domains → part price/size
    // rules), trg_bb_member_valid (member must exist → orders⋈customer
    // existence rule), trg_BookOrders_DiscDate (event date inside the
    // parent window → lineitem ship-after-order rule). One aggregation
    // pass per (joined) table; the report is itself data. Perf note: warm
    // runtime is ~0.4 s at sf0.1 — the driver's first-run cost is janino
    // compiling the six wide-agg branches, not IO or a bad plan.
    OpQuery.checked(
      "etl_validation_report",
      """SELECT 'orders' AS table_name, 'positive_total' AS rule_name,
        |       CAST(count(*) AS BIGINT) AS n_checked,
        |       CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'known_status',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'orders', 'member_exists',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT coalesce(c.c_custkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        |UNION ALL
        |SELECT 'lineitem', 'qty_range',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem', 'discount_range',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0 AND 0.5, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem', 'ship_in_window',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT coalesce(CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE), FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
        |UNION ALL
        |SELECT 'part', 'positive_price',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT coalesce(p_retailprice >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM part
        |UNION ALL
        |SELECT 'part', 'size_range',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN NOT coalesce(p_size BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM part""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val orderRules = Seq(
        Validation.Rule("positive_total", col("o_totalprice") > 0),
        Validation.Rule("known_status", col("o_orderstatus").isin("O", "F", "P")))
      val lineRules = Seq(
        Validation.Rule("qty_range", col("l_quantity").between(1, 50)),
        Validation.Rule("discount_range", col("l_discount").between(0, 0.5)))
      // trg_bb_member_valid: the referenced parent row must exist
      val ordersWithCust = t.orders
        .join(t.customer.select(col("c_custkey")), col("c_custkey") === col("o_custkey"), "left_outer")
      // trg_bb_member_valid / trg_BookOrders_DiscDate: the event date must
      // fall inside the parent row's window
      val linesWithOrder = t.lineitem
        .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"), "left_outer")
      // TRG_MANAGE_BOOK_DETAILS: price and bounded-domain attribute rules
      val partRules = Seq(
        Validation.Rule("positive_price", col("p_retailprice") >= 0),
        Validation.Rule("size_range", col("p_size").between(1, 50)))
      Validation.report(t.orders, "orders", orderRules)
        .unionByName(Validation.report(ordersWithCust, "orders",
          Seq(Validation.Rule("member_exists", col("c_custkey").isNotNull))))
        .unionByName(Validation.report(t.lineitem, "lineitem", lineRules))
        .unionByName(Validation.report(linesWithOrder, "lineitem",
          Seq(Validation.Rule("ship_in_window", to_date(col("l_shipdate")) >= to_date(col("o_orderdate"))))))
        .unionByName(Validation.report(t.part, "part", partRules))
    },

    // ── etl_partitioned_layout: the physical fact layout from SURVEY §4 —
    // facts written partitioned by year, so a year predicate prunes whole
    // directories before any IO (PartitionFilters in the scan, the local
    // analog of cluster-scale partition pruning at 100 TB).
    OpQuery.checked(
      "etl_partitioned_layout",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       o_orderpriority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders
        |WHERE year(o_orderdate) IN (1995, 1996)
        |GROUP BY 1, 2""".stripMargin
    ) { (spark, dir) =>
      val path = CoreOps.scratch(dir, "orders_by_year")
      Tables(spark, dir).orders
        .withColumn("o_year", year(col("o_orderdate")).cast("long"))
        .write.mode("overwrite").partitionBy("o_year").parquet(path)
      spark.read.parquet(path)
        .filter(col("o_year").isin(1995L, 1996L)) // directory-level pruning
        .groupBy("o_year", "o_orderpriority")
        .agg(count(lit(1)).as("n"), Norm.dsum(col("o_totalprice")).as("spend"))
    },

    // ── etl_derive_validate: trigger-style invariant recompute — the
    // PO-total guard (ref trg_check_purchase_total 02_Trigger.sql:303-357):
    // recompute each order's total from its lines, flag mismatches.
    OpQuery.checked(
      "etl_derive_validate",
      """WITH recomputed AS (
        |  SELECT l_orderkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |             * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |             * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS calc_total
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o.o_orderkey,
        |       CAST(o.o_totalprice AS DOUBLE) AS declared_total,
        |       CAST(r.calc_total AS DOUBLE) AS calc_total,
        |       CASE WHEN abs(CAST(o.o_totalprice AS DECIMAL(18,2)) - r.calc_total) <= 1.0
        |            THEN 'OK' ELSE 'MISMATCH' END AS check_flag
        |FROM orders o JOIN recomputed r ON o.o_orderkey = r.l_orderkey""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val recomputed = t.lineitem
        .groupBy(col("l_orderkey"))
        .agg(
          sum(
            Norm.dec(col("l_extendedprice"))
              * (lit(1) - col("l_discount").cast("decimal(4,2)"))
              * (lit(1) + col("l_tax").cast("decimal(4,2)"))
          ).as("calc_total"))
      t.orders
        .join(recomputed, col("o_orderkey") === col("l_orderkey"))
        .select(
          col("o_orderkey"),
          col("o_totalprice").cast("double").as("declared_total"),
          col("calc_total").cast("double").as("calc_total"),
          when(abs(Norm.dec(col("o_totalprice")) - col("calc_total")) <= 1.0, "OK")
            .otherwise("MISMATCH").as("check_flag")
        )
    },

    // ── etl_fine_payment_pipeline: the reference's fines→payments flow
    // (08_InsertFines.sql:46-193 + TRG_CALCULATE_PAYMENT_AMOUNT) mapped
    // onto the testdata: returned lineitems become fines (classed and
    // priced deterministically), each "member" (customer) pays its ≤2
    // oldest fines per payment, Lost Book class first — a per-member
    // ROW_NUMBER pick, paired into payments whose amount is Σ of linked
    // fines. Amounts are integer currency units so the cross-engine hash
    // is exact. One shuffle on the member key; the rank+pair+sum all stay
    // inside that partitioning.
    OpQuery.checked(
      "etl_fine_payment_pipeline",
      """WITH fines AS (
        |  SELECT l.l_orderkey * 10 + l.l_linenumber AS fine_id,
        |         o.o_custkey AS member_id,
        |         CAST(l.l_shipdate AS DATE) AS fine_date,
        |         CASE WHEN l.l_quantity >= 45 THEN 1 ELSE 0 END AS is_lost,
        |         CASE WHEN l.l_quantity >= 45 THEN CAST(floor(l.l_extendedprice / 100) AS BIGINT) + 20
        |              WHEN l.l_tax >= 0.06 THEN CAST(floor(l.l_extendedprice / 100) AS BIGINT)
        |              ELSE 30 END AS fine_amount
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE l.l_returnflag = 'R'),
        |ranked AS (
        |  SELECT *,
        |         CAST((ROW_NUMBER() OVER (PARTITION BY member_id
        |                ORDER BY is_lost DESC, fine_date, fine_id, fine_amount) - 1) // 2 AS BIGINT) AS pair_idx
        |  FROM fines)
        |SELECT member_id, pair_idx,
        |       CAST(count(*) AS BIGINT) AS n_fines,
        |       CAST(sum(is_lost) AS BIGINT) AS lost_cnt,
        |       CAST(sum(fine_amount) AS BIGINT) AS pay_amount,
        |       max(fine_date) AS payment_date
        |FROM ranked WHERE pair_idx < 2
        |GROUP BY member_id, pair_idx""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val fines = t.lineitem.filter(col("l_returnflag") === "R")
        .join(t.orders.select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), Seq("l_orderkey"))
        .select(
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("fine_id"),
          col("o_custkey").as("member_id"),
          to_date(col("l_shipdate")).as("fine_date"),
          when(col("l_quantity") >= 45, 1L).otherwise(0L).as("is_lost"),
          when(col("l_quantity") >= 45, floor(col("l_extendedprice") / 100).cast("long") + 20)
            .when(col("l_tax") >= 0.06, floor(col("l_extendedprice") / 100).cast("long"))
            .otherwise(30L).as("fine_amount"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata,
      // so fine_id alone is not a total order — fine_amount completes the
      // tiebreak (rows equal on all four keys are interchangeable for the
      // pair sums, so the ordering is deterministic where it matters).
      val w = Window.partitionBy("member_id")
        .orderBy(col("is_lost").desc, col("fine_date"), col("fine_id"), col("fine_amount"))
      fines
        .withColumn("pair_idx", floor((row_number().over(w) - 1) / 2).cast("long"))
        .filter(col("pair_idx") < 2)
        .groupBy("member_id", "pair_idx")
        .agg(
          count(lit(1)).as("n_fines"),
          sum(col("is_lost")).cast("long").as("lost_cnt"),
          sum(col("fine_amount")).cast("long").as("pay_amount"),
          max(col("fine_date")).as("payment_date"))
    },

    // ── etl_staff_hours: the staffing triggers' interval arithmetic
    // (trg_auto_mark_late 02_Trigger.sql:104-123, trg_check_weekly_hours
    // :126-159) mapped onto the events table: a user's first/last event
    // per day are the shift punches, worked hours truncate to whole hours
    // exactly like the reference's EXTRACT(DAY)*24 + EXTRACT(HOUR), a
    // punch-in after 09:00:00 is Late, and hours roll up per ISO week
    // with the 40-hour-limit flag. Micros-exact integer arithmetic on
    // both engines. One shuffle on (user, day), reused by the week rollup.
    OpQuery.checked(
      "etl_staff_hours",
      """WITH punches AS (
        |  SELECT user_id, CAST(ts AS DATE) AS shift_date,
        |         min(ts) AS shift_start, max(ts) AS shift_end
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |days AS (
        |  SELECT user_id, shift_date,
        |         CAST((epoch_us(shift_end) - epoch_us(shift_start)) // 3600000000 AS BIGINT) AS worked_hours,
        |         CASE WHEN strftime(shift_start, '%H:%M:%S') > '09:00:00' THEN 1 ELSE 0 END AS is_late
        |  FROM punches)
        |SELECT user_id,
        |       CAST(date_trunc('week', shift_date) AS DATE) AS week_start,
        |       CAST(count(*) AS BIGINT) AS days_worked,
        |       CAST(sum(is_late) AS BIGINT) AS late_days,
        |       CAST(sum(worked_hours) AS BIGINT) AS week_hours,
        |       CAST(CASE WHEN sum(worked_hours) > 40 THEN 1 ELSE 0 END AS BIGINT) AS over_40
        |FROM days GROUP BY user_id, date_trunc('week', shift_date)""".stripMargin
    ) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val punches = ev
        .groupBy(col("user_id"), to_date(col("ts")).as("shift_date"))
        .agg(min(col("ts")).as("shift_start"), max(col("ts")).as("shift_end"))
      val days = punches.select(
        col("user_id"), col("shift_date"),
        ((unix_micros(col("shift_end")) - unix_micros(col("shift_start"))) / lit(3600000000L))
          .cast("long").as("worked_hours"),
        when(date_format(col("shift_start"), "HH:mm:ss") > "09:00:00", 1L).otherwise(0L).as("is_late"))
      days
        .groupBy(col("user_id"), date_trunc("week", col("shift_date")).cast("date").as("week_start"))
        .agg(
          count(lit(1)).as("days_worked"),
          sum(col("is_late")).cast("long").as("late_days"),
          sum(col("worked_hours")).cast("long").as("week_hours"))
        .withColumn("over_40", (col("week_hours") > 40).cast("long"))
    },

    // ── etl_table_diff: snapshot reconciliation — classify every key of
    // two table versions as added / removed / changed, the audit step
    // after any reference reload (07_SubsequentLoading.sql re-derives
    // the DW from OLTP; this op is how you prove two derivations agree).
    // The 100 TB shape: each side is projected to (key, md5 row-hash)
    // BEFORE the join, so the full-outer shuffle carries 8+32 bytes per
    // row instead of the whole record, and the classification is a
    // null-pattern projection on the co-partitioned result. md5 over a
    // '|'-joined rendering is bit-identical across engines (doubles are
    // deliberately excluded from the hash — float rendering is not
    // portable; at 100 TB you'd hash a Decimal rendering instead); each
    // field coalesces to a 0x01 sentinel first, so a NULL can never
    // shift fields and collide two different rows (concat_ws silently
    // drops NULLs — the classic diff-hash bug). The
    // "new" snapshot is derived deterministically from orders: keys
    // %97=0 dropped, %89=0 re-prioritized, %101=0 re-keyed as inserts.
    OpQuery.checked(
      "etl_table_diff",
      """WITH old AS (
        |  SELECT o_orderkey AS k,
        |         md5(concat_ws('|', coalesce(CAST(o_custkey AS VARCHAR), chr(1)),
        |                       coalesce(o_orderstatus, chr(1)),
        |                       coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(1)),
        |                       coalesce(o_orderpriority, chr(1)))) AS h
        |  FROM orders),
        |new AS (
        |  SELECT o_orderkey AS k,
        |         md5(concat_ws('|', coalesce(CAST(o_custkey AS VARCHAR), chr(1)),
        |                       coalesce(o_orderstatus, chr(1)),
        |                       coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(1)),
        |                       coalesce(CASE WHEN o_orderkey % 89 = 0 THEN reverse(o_orderpriority)
        |                                     ELSE o_orderpriority END, chr(1)))) AS h
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000 AS k,
        |         md5(concat_ws('|', coalesce(CAST(o_custkey AS VARCHAR), chr(1)),
        |                       coalesce(o_orderstatus, chr(1)),
        |                       coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(1)),
        |                       coalesce(o_orderpriority, chr(1)))) AS h
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT COALESCE(old.k, new.k) AS o_orderkey,
        |       CASE WHEN old.k IS NULL THEN 'added'
        |            WHEN new.k IS NULL THEN 'removed'
        |            ELSE 'changed' END AS diff_kind
        |FROM old FULL OUTER JOIN new ON new.k = old.k
        |WHERE old.k IS NULL OR new.k IS NULL OR old.h <> new.h""".stripMargin
    ) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
      def rowHash(priority: org.apache.spark.sql.Column) =
        md5(concat_ws("|",
          coalesce(col("o_custkey").cast("string"), lit("\u0001")),
          coalesce(col("o_orderstatus"), lit("\u0001")),
          coalesce(to_date(col("o_orderdate")).cast("string"), lit("\u0001")),
          coalesce(priority, lit("\u0001"))))
      val old = orders.select(col("o_orderkey").as("k"), rowHash(col("o_orderpriority")).as("h"))
      val newSnap = orders
        .filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey").as("k"),
          rowHash(when(col("o_orderkey") % 89 === 0, reverse(col("o_orderpriority")))
            .otherwise(col("o_orderpriority"))).as("h"))
        .unionAll(orders
          .filter(col("o_orderkey") % 101 === 0)
          .select((col("o_orderkey") + 10000000L).as("k"), rowHash(col("o_orderpriority")).as("h")))
      old.as("old").join(newSnap.as("new"), col("new.k") === col("old.k"), "full_outer")
        .filter(col("old.k").isNull || col("new.k").isNull || col("old.h") =!= col("new.h"))
        .select(
          coalesce(col("old.k"), col("new.k")).as("o_orderkey"),
          when(col("old.k").isNull, "added")
            .when(col("new.k").isNull, "removed")
            .otherwise("changed").as("diff_kind"))
    },

    // ── etl_cdc_apply: ordered-changelog compaction — collapse a CDC
    // feed (insert / update / delete events with a per-key sequence)
    // into the final table state, the apply step of any log-shipped
    // replication into the lakehouse. The reference's incremental load
    // re-derives state from OLTP (07_SubsequentLoading.sql); this is
    // the event-sourced equivalent. The winner per key is a struct-MAX
    // AGGREGATION on (seq, op, payload), not a window: partial
    // aggregation combines map-side, so a hot key with millions of
    // updates costs one struct per task instead of shipping its whole
    // history into a single window partition — and delete-wins falls
    // out of ordinary max semantics. The feed is derived
    // deterministically from orders (every key inserts; %3=0 updates;
    // %5=0 deletes last).
    OpQuery.checked(
      "etl_cdc_apply",
      """WITH ch AS (
        |  SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS seq, 'I' AS op,
        |         o_orderpriority AS pri FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 2, 'U', reverse(o_orderpriority)
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 3, 'D', CAST(NULL AS VARCHAR)
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn,
        |         count(*) OVER (PARTITION BY k) AS n_changes
        |  FROM ch)
        |SELECT k AS o_orderkey, CAST(seq AS BIGINT) AS last_seq,
        |       CAST(n_changes AS BIGINT) AS n_changes, pri AS final_priority
        |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin
    ) { (spark, dir) =>
      val orders = Tables(spark, dir).orders
      val changes = orders
        .select(col("o_orderkey").as("k"), lit(1L).as("seq"), lit("I").as("op"),
          col("o_orderpriority").as("pri"))
        .unionAll(orders.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey").as("k"), lit(2L).as("seq"), lit("U").as("op"),
            reverse(col("o_orderpriority")).as("pri")))
        .unionAll(orders.filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey").as("k"), lit(3L).as("seq"), lit("D").as("op"),
            lit(null).cast("string").as("pri")))
      changes
        .groupBy("k")
        .agg(max(struct(col("seq"), col("op"), col("pri"))).as("last"),
          count(lit(1)).as("n_changes"))
        .filter(col("last.op") =!= "D")
        .select(col("k").as("o_orderkey"), col("last.seq").as("last_seq"),
          col("n_changes"), col("last.pri").as("final_priority"))
    },

    // ── etl_infer_dim_members: the Kimball late-arriving-dimension
    // pattern — facts referencing dimension keys the dim feed hasn't
    // delivered yet get INFERRED member stubs (placeholder attributes +
    // the earliest referencing fact date), so the fact load never blocks
    // and the stub is overwritten in place when the real member lands
    // (the SCD1-overwrite step etl_scd2_apply's machinery handles).
    // Simulated gap: every 7th customer is withheld from the dim. The
    // plan is one anti-join (facts' distinct keys vs dim keys — both at
    // key grain after map-side-combined distinct/first aggregation),
    // never a fact×dim product; output is the stub delta the dim MERGE
    // would consume. Delivery-order note: min(o_orderdate) is an
    // associative aggregate, so the inferred date is identical whether
    // the keys arrive in one batch or across incremental loads.
    OpQuery.checked(
      "etl_infer_dim_members",
      """WITH dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0),
        |fact_keys AS (
        |  SELECT o_custkey AS cust_key, min(o_orderdate) AS first_seen
        |  FROM orders GROUP BY 1)
        |SELECT f.cust_key, 'UNKNOWN' AS c_name, 'PENDING' AS c_mktsegment,
        |       f.first_seen AS inferred_date
        |FROM fact_keys f LEFT JOIN dim d ON d.c_custkey = f.cust_key
        |WHERE d.c_custkey IS NULL""".stripMargin
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val dim = t.customer.filter(col("c_custkey") % 7 =!= 0).select("c_custkey")
      t.orders
        .groupBy(col("o_custkey").as("cust_key"))
        .agg(min(col("o_orderdate")).as("first_seen"))
        .join(dim, col("cust_key") === col("c_custkey"), "left_anti")
        .select(col("cust_key"), lit("UNKNOWN").as("c_name"),
          lit("PENDING").as("c_mktsegment"), col("first_seen").as("inferred_date"))
    },

    // ── etl_dq_profile: per-column data-quality profiling — the
    // Deequ-style profile (null rate, distinct count, min/max as
    // text) every ingest job runs before trusting a feed, distinct from
    // etl_validation_report's RULE checks: this asks "what does the
    // column look like", not "which rows violate". Scale shape: one
    // INDEPENDENT aggregation subtree per column — each scan pruned to
    // its single column, each aggregate hash-based, the four subtrees
    // scheduled concurrently, unioned as 1-row frames. Measured
    // rationale for NOT fusing into one pass: the fused form (all
    // metrics + 4 count-DISTINCTs in one aggregate) plans as
    // SortAggregate over a 5× Expand — the string min/max buffer makes
    // HashAggregate ineligible, so every expanded row is sorted twice
    // (2.3 s at sf0.1; the split form is ~4×, 0.6 s). On a columnar
    // store N single-column scans read the same bytes as one N-column
    // scan, so the split costs no extra IO at 100 TB either; each
    // distinct would swap to an HLL partial (the agg_hll_partial_merge
    // machinery) without changing the frame.
    OpQuery.checked(
      "etl_dq_profile",
      """WITH p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(o_custkey) AS BIGINT) AS nn_cust,
        |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_cust,
        |         CAST(min(o_custkey) AS VARCHAR) AS mn_cust,
        |         CAST(max(o_custkey) AS VARCHAR) AS mx_cust,
        |         CAST(count(o_orderstatus) AS BIGINT) AS nn_status,
        |         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
        |         CAST(min(o_orderstatus) AS VARCHAR) AS mn_status,
        |         CAST(max(o_orderstatus) AS VARCHAR) AS mx_status,
        |         CAST(count(o_totalprice) AS BIGINT) AS nn_price,
        |         CAST(count(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS nd_price,
        |         CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS mn_price,
        |         CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS mx_price,
        |         CAST(count(o_orderdate) AS BIGINT) AS nn_date,
        |         CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS nd_date,
        |         CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn_date,
        |         CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx_date
        |  FROM orders)
        |SELECT 'o_custkey' AS col_name, n AS n_rows, nn_cust AS n_nonnull,
        |       nd_cust AS n_distinct, mn_cust AS min_text, mx_cust AS max_text FROM p
        |UNION ALL
        |SELECT 'o_orderstatus', n, nn_status, nd_status, mn_status, mx_status FROM p
        |UNION ALL
        |SELECT 'o_totalprice', n, nn_price, nd_price, mn_price, mx_price FROM p
        |UNION ALL
        |SELECT 'o_orderdate', n, nn_date, nd_date, mn_date, mx_date FROM p""".stripMargin
    ) { (spark, dir) =>
      // min/max/distinct run on the NATIVE type (string-min of a number
      // column would order "10" < "9") and become text only at the edge
      val orders = Tables(spark, dir).orders
      val cols = Seq(
        ("o_custkey", col("o_custkey")),
        ("o_orderstatus", col("o_orderstatus")),
        ("o_totalprice", Norm.dec(col("o_totalprice"))),
        ("o_orderdate", to_date(col("o_orderdate"))))
      cols.map { case (name, c) =>
        orders.agg(
          count(lit(1)).cast("long").as("n_rows"),
          count(c).cast("long").as("n_nonnull"),
          countDistinct(c).cast("long").as("n_distinct"),
          min(c).cast("string").as("min_text"),
          max(c).cast("string").as("max_text"))
          .select(lit(name).as("col_name"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_text"), col("max_text"))
      }.reduce(_ unionByName _)
    }
  )
}
