package graft.etl

import graft.SparkSuite

/** Per-file row counts (`r` lines) + null counts (`n` lines) and the
  * [[SnapshotStore.readNullFilter]] pruning they serve (r17 — the
  * Delta nullCount shape): IS NULL prunes nulls = 0 files, IS NOT
  * NULL prunes all-null files, absence of either line must-scans,
  * both directions destroyed-file-proved, counts carried across
  * file-reuse commits. */
class NullStatsSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_nullstats").toString + "/t"

  private def manifest(t: String, version: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(t), f"manifest-$version%020d").toPath), "UTF-8")
      .split("\n").toSeq

  private def destroy(t: String, file: String): Unit =
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), file).toPath,
      "not a parquet file".getBytes("UTF-8")): Unit

  // three files: all-null s column, all-set, mixed — clustered by
  // null-ness then key so the range partitioner separates them
  private def fact() = {
    import org.apache.spark.sql.functions.col
    Seq((1L, None: Option[String]), (2L, None),
        (11L, Some("x")), (12L, Some("y")),
        (21L, None), (22L, Some("z")))
      .toDF("k", "s")
      .repartitionByRange(3, col("k"))
  }

  test("the stats scan records r and n lines; both null-filter directions prune (destroyed-file)") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(), asOfMicros = 1000L,
      statsCol = Some("k"), statsCols = Seq("s"))
    val m = manifest(t, 0L)
    val rLines = m.filter(_.startsWith("r ")).map(_.split(" ", 3))
    val nLines = m.filter(_.startsWith("n s ")).map(_.split(" ", 4))
    assert(rLines.size == 3 && rLines.forall(_(1).toLong == 2L),
      s"one r line per file with rowCount 2 expected, got $m")
    assert(nLines.map(_(2).toLong).sorted == Seq(0L, 1L, 2L),
      s"null counts 0/1/2 expected, got $m")
    val fileOfNulls = Map(
      0L -> nLines.find(_(2).toLong == 0L).get(3),
      1L -> nLines.find(_(2).toLong == 1L).get(3),
      2L -> nLines.find(_(2).toLong == 2L).get(3))
    // IS NULL: the no-null file prunes — destroy it and read
    destroy(t, fileOfNulls(0L))
    assert(SnapshotStore.readNullFilter(spark, t, "s", isNull = true).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 21L),
      "IS NULL never opens a nulls=0 file")
    // IS NOT NULL on a fresh table: the all-null file prunes
    val t2 = freshTable()
    VersionedLoad.bootstrap(spark, t2, fact(), asOfMicros = 1000L,
      statsCol = Some("k"), statsCols = Seq("s"))
    val n2 = manifest(t2, 0L).filter(_.startsWith("n s ")).map(_.split(" ", 4))
    destroy(t2, n2.find(_(2).toLong == 2L).get(3))
    assert(SnapshotStore.readNullFilter(spark, t2, "s", isNull = false).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(11L, 12L, 22L),
      "IS NOT NULL never opens an all-null file")
  }

  test("absence must-scans: a statless table answers exactly; counts carry across a file-reuse refresh") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(), asOfMicros = 1000L)
    assert(manifest(t, 0L).forall(l => !l.startsWith("r ") && !l.startsWith("n ")),
      "no stats requested → no count lines")
    assert(SnapshotStore.readNullFilter(spark, t, "s", isNull = true).get.count() == 3L,
      "unstatted files must-scan and the exact predicate answers")
    // statted bootstrap + refresh: reused files keep their r/n lines
    val t2 = freshTable()
    VersionedLoad.bootstrap(spark, t2, fact(), asOfMicros = 1000L,
      statsCol = Some("k"), statsCols = Seq("s"))
    val batch = Seq((31L, Some("w"))).toDF("k", "s")
    VersionedLoad.refresh(spark, t2, batch, Seq("k"), asOfMicros = 2000L,
      statsCol = Some("k"), statsCols = Seq("s"))
    val m1 = manifest(t2, 1L)
    assert(m1.count(_.startsWith("r ")) == 4 && m1.count(_.startsWith("n s ")) == 4,
      s"3 carried + 1 own count line expected, got $m1")
    // and the carried index still prunes: destroy the all-null reused
    // file, IS NOT NULL read works
    val allNull = m1.filter(_.startsWith("n s ")).map(_.split(" ", 4))
      .find(_(2).toLong == 2L).get(3)
    destroy(t2, allNull)
    assert(SnapshotStore.readNullFilter(spark, t2, "s", isNull = false).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(11L, 12L, 22L, 31L),
      "carried null counts prune after a refresh")
  }

  test("all-pruned is an empty frame; a date column's null counts ride the typed stats") {
    val t = freshTable()
    // every row null-free → IS NULL prunes everything
    val df = Seq((1L, "1995-01-01"), (2L, "1996-01-01")).toDF("k", "ds")
      .selectExpr("k", "CAST(ds AS DATE) AS d")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("k"))
    VersionedLoad.bootstrap(spark, t, df, asOfMicros = 1000L, statsCols = Seq("d"))
    val empty = SnapshotStore.readNullFilter(spark, t, "d", isNull = true).get
    assert(empty.count() == 0L && empty.columns.toSeq == Seq("k", "d"))
    val meta = SnapshotStore.tableMeta(spark, t, None).get
    assert(meta.nullStats.forall(_.nulls == 0L))
    assert(meta.rowCounts.values.sum == 2L)
  }
}
