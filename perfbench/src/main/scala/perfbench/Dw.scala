package perfbench

import graft.etl.{Derivations, DimDate, InitialLoad, SnapshotStore, VersionedLoad}
import graft.gen.LibraryGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Builds the library warehouse the way its ETL does (generate →
  * trigger derivations → initial star load). In a traced run each
  * layer's large outputs are cached and counted before the next layer
  * runs, so every layer is charged with its own work instead of the
  * whole lineage piling onto the first store write; the small tables
  * are left lazy, as forcing them would cost more than computing them.
  * An untraced run leaves the lineage lazy, as the ETL itself does.
  *
  * Only the tables behind the sales star (reports q1 and q3) are
  * built: the purchase, borrowing, copy, fine, payment and staff tables
  * would add a third or more to a set-up that already takes most of a
  * run's time budget. */
object Dw {
  val Scale = 0.1
  val AsOf = "2024-06-30"
  val AsOfMicros = 1719705600000000L // 2024-06-30T00:00:00Z

  /** The star's tables; in a traced run they stay cached until the
    * caller has written what it needs and clears the cache. */
  final case class Built(
      dimDate: DataFrame, dimMembers: DataFrame, dimBook: DataFrame, factSales: DataFrame)

  def build(ctx: Ctx): Built = {
    val spark = ctx.spark
    val seed = ctx.seed
    def forced(df: DataFrame): DataFrame = if (ctx.tracer.isEmpty) df else {
      val c = df.cache()
      c.count()
      c
    }
    val (members, titles, discounts, so, sd) = ctx.span("gen") {
      val m = forced(LibraryGen.members(spark, (7500 * Scale).toInt, seed))
      val t = forced(LibraryGen.bookTitles(spark, (9000 * Scale).toInt, seed))
      val (so, sd) = LibraryGen.sales(spark, t, m, seed)
      (m, t, LibraryGen.discounts(spark, seed), forced(so), forced(sd))
    }
    val (membersD, sdD) = ctx.span("etl.derive") {
      (Derivations.memberStatus(members, AsOf),
        forced(Derivations.salesDetailAmounts(sd, titles, discounts)))
    }
    ctx.span("etl.load") {
      val dimM = forced(InitialLoad.dimMembers(membersD, AsOf))
      val dimB = forced(InitialLoad.dimBook(titles))
      Built(DimDate.build(spark, "2004-01-01", "2025-12-31"), dimM, dimB,
        forced(InitialLoad.factSales(sdD, so, dimB, dimM)))
    }
  }

  /** Commits `df` as the table's one compacted version of `files`
    * files. With `clusterBy`, the files are range-clustered on that
    * column and record its per-file min/max, so a range read opens only
    * the files it needs. */
  def bootstrap(ctx: Ctx, table: String, df: DataFrame, files: Int,
      clusterBy: Option[String]): Unit = {
    val shaped = clusterBy.fold(df.coalesce(files))(c =>
      df.repartitionByRange(files, col(c)).sortWithinPartitions(c))
    VersionedLoad.bootstrap(ctx.spark, table, shaped, asOfMicros = AsOfMicros,
      statsCol = clusterBy)
  }

  /** Drops every cached frame and persisted RDD, waiting until the
    * blocks are gone. */
  def uncache(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    ctx.spark.catalog.clearCache()
  }

  def read(ctx: Ctx, table: String): DataFrame =
    SnapshotStore.read(ctx.spark, table).getOrElse(
      throw new IllegalStateException(s"store table $table has no committed version"))
}
