package graft.plans

import java.time.LocalDate

import graft.SparkSuite
import graft.etl.{DimDate, DwTables, SnapshotStore, VersionedLoad}
import graft.queries.LibraryReports
import graft.queries.LibraryReports.Params
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{InputAdapter, SimpleMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import scala.util.Random

/** Job-free dimension broadcasts ([[SnapshotBroadcast]]): a report over
  * a store-backed star builds its dimension broadcasts on the driver, the
  * cases outside the rule keep Spark's exchange and leave the memo alone,
  * the memo stays within the broadcast threshold, and a new dimension
  * version is seen by the next report. */
class SnapshotBroadcastSpec extends SparkSuite {
  import SnapshotBroadcastSpec._

  private lazy val star = Star.build(spark, seed = 5L)

  test("a second q1 call with a new window and gender filter runs at most 2 jobs") {
    LibraryReports.q1GenreSales(star.dw(2005, 2020), Params(yearFrom = 2005, yearTo = 2020,
      gender = Some("M"))).collect()
    val p = Params(yearFrom = 2010, yearTo = 2016, topN = 3, gender = Some("F"))
    val df = LibraryReports.q1GenreSales(star.dw(p.yearFrom, p.yearTo), p)
    val explain = df.queryExecution.explainString(SimpleMode)
    val (rows, jobs) = jobsOf(spark)(df.collect())
    assert(rows.nonEmpty)
    assert(jobs <= 2, s"the request launched $jobs jobs")
    val builds = buildSides(df.queryExecution.executedPlan)
    assert(builds.size == 3 && builds.forall(_.isInstanceOf[SnapshotBroadcastExchangeExec]),
      s"build sides: ${builds.map(_.nodeName).mkString(", ")}")
    assert(explain.contains("SnapshotBroadcastExchange") && explain.contains("snapshotFiles=1"),
      explain)
    // plan checks count every other "Exchange" as a shuffle
    assert(!builds.head.nodeName.replace("BroadcastExchange", "").contains("Exchange"))
  }

  test("guards: an over-threshold store table, plain parquet and limit-wrapped store reads " +
    "keep Spark's exchange and leave the memo unchanged") {
    val plain = freshDir("graft_snapbc_plain")
    star.read("dim_members").coalesce(1).write.mode("overwrite").parquet(plain)
    val fact = star.read("fact_sales")
    val member3 = fact.filter(col("member_key") === 3L).count()
    def one(df: DataFrame) = broadcast(df.filter(col("member_key") === 3L).select("member_key"))
    // (case, threshold, query, expected count; None when the rows a limit
    // keeps are not fixed)
    val cases: Seq[(String, Long, () => DataFrame, Option[Long])] = Seq(
      ("over-threshold store table", 64L,
        () => fact.join(one(star.read("dim_members")), "member_key"), Some(member3)),
      ("plain parquet", 10L << 20,
        () => fact.join(one(spark.read.parquet(plain)), "member_key"), Some(member3)),
      ("limit over a kept store read", 10L << 20, () => fact.join(
        broadcast(star.read("dim_members").select("member_key").limit(2)), "member_key"), None),
      ("limit-wrapped all-pruned store read", 10L << 20, () => fact.join(broadcast(
        SnapshotStore.readKeyRange(spark, star.dir("fact_sales"), "date_key", 1L, 2L).get
          .select(col("member_key"), col("date_key").as("dk"))), "member_key"), Some(0L)))
    for ((name, threshold, query, expected) <- cases) {
      val memo = rowsHeld
      val (ran, n) = withThreshold(threshold) {
        val df = query()
        val n = df.collect().length.toLong
        (nodes(df.queryExecution.executedPlan), n)
      }
      assert(!ran.exists(_.isInstanceOf[SnapshotBroadcastExchangeExec]), s"$name:\n${ran.head}")
      // the all-pruned read plans as an empty relation: no broadcast is left
      if (expected.forall(_ > 0))
        assert(ran.exists(_.isInstanceOf[BroadcastExchangeExec]),
          s"$name keeps no Spark broadcast:\n${ran.head}")
      expected.foreach(e => assert(n == e, name))
      assert(rowsHeld == memo, s"$name changed the memo")
    }
  }

  test("the memo's rows stay within the broadcast threshold") {
    val threshold = 64L << 10
    val rnd = new Random(3L)
    val tables = (0 until 4).map { _ =>
      val t = freshDir("graft_snapbc_bound") + "/t"
      VersionedLoad.bootstrap(spark, t, spark.createDataFrame(Seq.fill(1500)(
        (rnd.nextLong(), rnd.nextLong()))).toDF("k", "v").coalesce(1), asOfMicros = 1L)
      t
    }
    withThreshold(threshold) {
      for (t <- tables) {
        val dim = SnapshotStore.read(spark, t).get
        val df = spark.range(5).select(col("id").as("k")).join(broadcast(dim), "k")
        df.collect()
        val builds = buildSides(df.queryExecution.executedPlan)
        assert(builds.nonEmpty && builds.forall(_.isInstanceOf[SnapshotBroadcastExchangeExec]), t)
        assert(rowsHeld._2 <= threshold, s"memo holds ${rowsHeld._2} bytes")
      }
      assert(rowsHeld._1 < tables.size, "nothing was evicted")
    }
  }

  test("a new dim_members or dim_book version between two reports is seen by the second") {
    val s = Star.build(spark, seed = 9L)
    val p1 = Params(yearFrom = 2006, yearTo = 2022, gender = Some("F"))
    val p3 = Params(yearFrom = 2006, yearTo = 2022, states = Some(Seq("Johor", "Sabah")))
    def reports() = Seq(LibraryReports.q1GenreSales(s.dw(2006, 2022), p1),
      LibraryReports.q3GrossMargin(s.dw(2006, 2022), p3)).map(_.collect().toSeq)
    for ((table, change) <- Seq[(String, DataFrame => DataFrame)](
      "dim_members" -> (_.withColumn("member_gender", lit("F"))
        .withColumn("member_state", lit("Johor"))),
      "dim_book" -> (_.withColumn("genre", upper(col("genre")))
        .withColumn("sales_price", col("sales_price") + lit(1).cast("decimal(10,2)"))))) {
      val before = reports()
      val v0 = SnapshotStore.currentVersion(spark, s.dir(table)).get
      val old = s.read(table).collect().toSet
      val next = change(s.read(table))
      SnapshotStore.promote(spark, s.dir(table), spark.createDataFrame(
        spark.sparkContext.parallelize(next.collect().toSeq, 1), next.schema)): Unit
      val after = reports()
      assert(after != before, s"$table: the reports did not change")
      val plain = s.plainDw(2006, 2022)
      assert(after == Seq(LibraryReports.q1GenreSales(plain, p1),
        LibraryReports.q3GrossMargin(plain, p3)).map(_.collect().toSeq), s"$table: stale rows")
      assert(SnapshotStore.readVersion(spark, s.dir(table), v0).get.collect().toSet == old, table)
    }
  }

  private def withThreshold[T](bytes: Long)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try f finally spark.conf.set(key, prev)
  }
}

object SnapshotBroadcastSpec {

  /** (entries, bytes) the memo's rows kind holds. */
  def rowsHeld: (Long, Long) = {
    val s = graft.FileMemo.stats(graft.FileMemo.Rows)
    (s.entries, s.bytes)
  }

  def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A small sales star committed to the store: one-file dimensions and
    * a four-file fact clustered on `date_key`. */
  final class Star(spark: SparkSession, root: String) {
    def dir(t: String): String = s"$root/$t"
    def read(t: String): DataFrame = SnapshotStore.read(spark, dir(t)).get
    def dw(yearFrom: Int, yearTo: Int): DwTables = DwTables(read("dim_date"), read("dim_members"),
      read("dim_book"), dimSuppliers = null,
      factSales = SnapshotStore.readKeyRange(spark, dir("fact_sales"), "date_key",
        yearFrom * 10000L + 101, yearTo * 10000L + 1231).get,
      factBorrowing = null, factPurchase = null)

    /** The same star with every dimension as a plain parquet copy of its
      * current store rows, broadcast by Spark's own exchange. */
    def plainDw(yearFrom: Int, yearTo: Int): DwTables = {
      val d = freshDir("graft_snapbc_plain")
      def plain(t: String): DataFrame = {
        read(t).coalesce(1).write.parquet(s"$d/$t")
        spark.read.parquet(s"$d/$t")
      }
      dw(yearFrom, yearTo).copy(dimDate = plain("dim_date"), dimMembers = plain("dim_members"),
        dimBook = plain("dim_book"))
    }
  }

  object Star {
    val States: IndexedSeq[String] = IndexedSeq("Johor", "Kedah", "Melaka", "Pahang", "Perak", "Sabah")
    val Genres: IndexedSeq[String] = IndexedSeq("Fiction", "History", "Poetry", "Science", "Travel")

    def build(spark: SparkSession, seed: Long): Star = {
      import spark.implicits._
      val rnd = new Random(seed)
      val root = freshDir("graft_snapbc_star")
      def commit(t: String, df: DataFrame, files: Int = 1, clusterBy: Option[String] = None): Unit =
        VersionedLoad.bootstrap(spark, s"$root/$t", clusterBy.fold(df.coalesce(files))(c =>
          df.repartitionByRange(files, col(c)).sortWithinPartitions(c)),
          asOfMicros = 1L, statsCol = clusterBy): Unit
      commit("dim_date", DimDate.build(spark, "2004-01-01", "2024-12-31"))
      commit("dim_members", (1L to 60L).map(k => (k, if (rnd.nextBoolean()) "F" else "M",
        States(rnd.nextInt(States.size)))).toDF("member_key", "member_gender", "member_state"))
      commit("dim_book", (1L to 40L).map(k => (k, Genres(rnd.nextInt(Genres.size)),
        BigDecimal(5 + rnd.nextInt(4000)) / 100)).toDF("book_key", "genre", "sales_price")
        .withColumn("sales_price", col("sales_price").cast("decimal(10,2)")))
      val day0 = LocalDate.parse("2004-01-01").toEpochDay
      val fmt = java.time.format.DateTimeFormatter.BASIC_ISO_DATE
      commit("fact_sales", Seq.fill(3000) {
        val d = LocalDate.ofEpochDay(day0 + rnd.nextInt(7671)).format(fmt).toLong
        val qty = 1L + rnd.nextInt(4)
        (d, 1L + rnd.nextInt(40), 1L + rnd.nextInt(60), qty, BigDecimal(qty * (100 + rnd.nextInt(5000))) / 100)
      }.toDF("date_key", "book_key", "member_key", "quantity", "total_amount")
        .withColumn("total_amount", col("total_amount").cast("decimal(12,2)")),
        files = 4, clusterBy = Some("date_key"))
      new Star(spark, root)
    }
  }

  /** `f`'s result and the number of Spark jobs it launched, counted by a
    * listener on a job tag. A marker job after `f` is awaited, so every
    * job start `f` posted has been delivered. */
  def jobsOf[T](spark: SparkSession)(f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    def tagged(e: SparkListenerJobStart, t: String) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags"))).exists(_.split(',').contains(t))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        if (tagged(e, tag)) counted.incrementAndGet()
        if (tagged(e, tag + "-marker")) markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try f finally sc.removeJobTag(tag)
      sc.addJobTag(tag + "-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag + "-marker")
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Every node of the plan AQE ran (its final plan once executed),
    * inside query stages and reused exchanges too. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other.children.flatMap(nodes)
  })

  /** The broadcast node on each broadcast hash join's build side in the
    * final plan, through codegen inputs, query stages and reuse. */
  def buildSides(p: SparkPlan): Seq[SparkPlan] =
    nodes(p).collect { case j: BroadcastHashJoinExec =>
      nodes(if (j.buildSide == BuildLeft) j.left else j.right).find {
        case _: InputAdapter | _: QueryStageExec | _: ReusedExchangeExec => false
        case _ => true
      }.get
    }
}
