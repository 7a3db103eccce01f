package perfbench

import graft.etl.{DwTables, SnapshotStore}
import graft.queries.LibraryReports
import graft.queries.LibraryReports.Params
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `reports`: the analysts' side. Set-up builds the sales star,
  * commits every table as one compacted store version and runs one
  * warm-up request of each query shape; then one client sends seeded q1 and q3 requests in a
  * closed loop, each reading the tables it needs back from the store. */
object Reports {
  /** The paper's two reports over the sales star: genre sales (q1) and
    * margin by state (q3). q2 (purchases), q4 (fines) and q5 (staffing)
    * are left out: their source tables would add a third or more to a
    * set-up that already takes most of a run's time budget. */
  val Queries: IndexedSeq[Int] = IndexedSeq(1, 3)

  final case class Request(q: Int, p: Params) {
    def label: String = s"q$q ${p.yearFrom}-${p.yearTo} top${p.topN}" +
      p.gender.fold("")(g => s" gender=$g") + p.states.fold("")(s => s" states=${s.mkString("/")}")
  }

  /** Seeded request stream: the queries in turn (so every seed runs
    * the same mix), year windows inside 2004–2024, topN 1–10, a third of
    * q1 with a gender filter, a third of q3 with a state list, and a
    * fifth exact repeats of the last request of the same query. */
  def requests(seed: Long, states: Seq[String], n: Int): IndexedSeq[Request] = {
    val rnd = new scala.util.Random(seed)
    val out = mutable.ArrayBuffer.empty[Request]
    while (out.size < n) {
      val q = Queries(out.size % Queries.size)
      if (out.size >= Queries.size && rnd.nextInt(5) == 0) out += out(out.size - Queries.size)
      else {
        val from = 2004 + rnd.nextInt(21)
        val to = from + rnd.nextInt(2025 - from)
        val gender = if (q == 1 && rnd.nextInt(3) == 0) Some(if (rnd.nextBoolean()) "F" else "M") else None
        val st = if (q == 3 && rnd.nextInt(3) == 0)
          Some(rnd.shuffle(states).take(1 + rnd.nextInt(3)).sorted) else None
        out += Request(q, Params(yearFrom = from, yearTo = to, topN = 1 + rnd.nextInt(10),
          gender = gender, states = st))
      }
    }
    out.toIndexedSeq
  }

  final class Store(ctx: Ctx, val root: String) {
    def dir(t: String): String = s"$root/$t"
    def read(t: String): DataFrame = Dw.read(ctx, dir(t))
    /** The fact rows of the request's year window: files whose
      * date_key span misses the window are never opened. */
    def factWindow(t: String, p: Params): DataFrame =
      SnapshotStore.readKeyRange(ctx.spark, dir(t), "date_key",
        p.yearFrom * 10000L + 101, p.yearTo * 10000L + 1231).get
  }

  /** Commits the built warehouse, one compacted version per table. */
  def materialize(ctx: Ctx, b: Dw.Built, root: String, facts: Int): Unit = ctx.span("store.bootstrap") {
    Seq("dim_date" -> b.dimDate, "dim_members" -> b.dimMembers, "dim_book" -> b.dimBook)
      .foreach { case (n, df) => Dw.bootstrap(ctx, s"$root/$n", df, 1, None) }
    Dw.bootstrap(ctx, s"$root/fact_sales", b.factSales, facts, Some("date_key"))
  }

  /** Builds the request's report over fresh store reads. */
  def build(ctx: Ctx, s: Store, r: Request): DataFrame = {
    val p = r.p
    // the reports read only these four tables of the star
    val dw = ctx.span("store.read")(DwTables(s.read("dim_date"), s.read("dim_members"),
      s.read("dim_book"), dimSuppliers = null, factSales = s.factWindow("fact_sales", p),
      factBorrowing = null, factPurchase = null))
    ctx.span("queries.build") {
      if (r.q == 1) LibraryReports.q1GenreSales(dw, p) else LibraryReports.q3GrossMargin(dw, p)
    }
  }

  /** Runs one report: build, plan, execute, collect. */
  def execute(ctx: Ctx, s: Store, r: Request): (DataFrame, Array[Row]) = {
    val df = build(ctx, s, r)
    ctx.span("plans.plan")(df.queryExecution.executedPlan)
    (df, ctx.span("exec.run")(df.collect()))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ((store, reqs), setupS) = ctx.setup {
      val store = new Store(ctx, ctx.dir("store"))
      materialize(ctx, Dw.build(ctx), store.root, ctx.cores)
      Dw.uncache(ctx)
      val states = store.read("dim_members").select("member_state").distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      // one request of each shape the loop sends, outside the seeded
      // stream, so the loop does not time a shape's first compile
      Seq(Request(1, Params()), Request(1, Params(gender = Some("F"))), Request(3, Params()),
        Request(3, Params(states = Some(states.take(2))))).foreach(r => execute(ctx, store, r))
      (store, requests(ctx.seed, states, 10000))
    }
    Heap.checkpoint()

    // A seeded tenth of requests, plus the first of each query, is
    // checked against DuckDB once the timed window is over.
    val pick = new scala.util.Random(ctx.seed ^ 0x5eed)
    val checked = mutable.ArrayBuffer.empty[(Request, org.apache.spark.sql.types.StructType, Array[Row])]
    val seenQ = mutable.Set.empty[Int]
    val (lat, attempted) = ctx.loop(Queries.size) { i =>
      val r = reqs(i)
      val (df, rows) = execute(ctx, store, r)
      if ((seenQ.add(r.q) || pick.nextInt(10) == 0) && checked.size < 30)
        checked += ((r, df.schema, rows))
    }
    Heap.checkpoint()
    // traced runs: files opened ÷ files in the version, per fact read
    val prune = if (ctx.tracer.isEmpty) Nil else reqs.take(attempted.toInt).map { r =>
      store.factWindow("fact_sales", r.p).inputFiles.length.toDouble /
        SnapshotStore.currentFiles(spark, store.dir("fact_sales")).size
    }

    val checks = checked.zipWithIndex.map { case ((r, schema, rows), k) =>
      val got = s"${ctx.dir("checks")}/report-$k"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(got)
      OracleCheck(r.label, Oracle.reportSql(ctx, store, r), got, Map.empty)
    }
    Outcome(setupS, lat, attempted, failed = attempted - lat.size, oracle = checks.toSeq,
      layer = Map("store.prune_ratio" -> Stats.median(prune)),
      notes = Seq(s"$attempted requests, ${checked.size} checked against DuckDB"))
  }
}
