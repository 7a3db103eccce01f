package graft.etl

import graft.SparkSuite

/** The r16 partition-spec manifests ([[SnapshotStore.PartitionSpec]] —
  * the Iceberg hidden-partitioning shape): a `p <transform> <col>`
  * header plus per-file `v <value>` lines, recorded in the same delta
  * scan as the stats, carried across incremental commits, pruned by
  * [[SnapshotStore.readPartitionRange]] BEFORE any file stat, and
  * evolvable (a spec change applies forward; old manifests keep
  * pruning by theirs). The destroyed-file device makes "never opened"
  * observable: a pruned read over a table whose out-of-partition file
  * holds garbage bytes must still succeed. */
class PartitionSpecSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_pspec").toString + "/t"

  private def manifest(t: String, version: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(t), f"manifest-$version%020d").toPath), "UTF-8")
      .split("\n").toSeq

  private def destroy(t: String, file: String): Unit =
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), file).toPath,
      "not a parquet file".getBytes("UTF-8")): Unit

  // two years, repartitioned BY year so each file is single-valued
  private def yearFact() = {
    import org.apache.spark.sql.functions.{col, year}
    Seq((1L, "1995-03-01", 10.0), (2L, "1995-09-01", 20.0),
        (100L, "1997-02-01", 30.0), (101L, "1997-08-01", 40.0))
      .toDF("k", "ds", "x")
      .selectExpr("k", "CAST(ds AS DATE) AS d", "x")
      .repartitionByRange(2, year(col("d")))
  }

  private val yearSpec = SnapshotStore.PartitionSpec("year", "d")

  test("bootstrap under a year spec records the p header and one v line per single-valued file") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
      partitionSpec = Some(yearSpec))
    val m = manifest(t, 0L)
    assert(m.contains("p year d"), s"p header expected, got $m")
    val vLines = m.filter(_.startsWith("v ")).map(_.split(" ", 3))
    assert(vLines.map(_(1).toLong).toSet == Set(1995L, 1997L),
      s"one v line per year-file expected, got $m")
    assert(SnapshotStore.partitionSpecsOf(spark, t).headOption == Some(yearSpec))
  }

  test("readPartitionRange never opens an out-of-partition file (destroyed-file device) and still filters exactly") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
      partitionSpec = Some(yearSpec))
    // exactness inside a candidate partition: the 1995 file holds two
    // rows; the transform filter on top returns only what the range asks
    assert(SnapshotStore.readPartitionRange(spark, t, 1995L, 1996L).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // destroy the 1997 file: a 1995-confined read must never open it
    val f97 = manifest(t, 0L).filter(_.startsWith("v "))
      .map(_.split(" ", 3)).find(_(1).toLong == 1997L).get(2)
    destroy(t, f97)
    assert(SnapshotStore.readPartitionRange(spark, t, 1995L, 1995L).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "an out-of-partition file is never opened")
  }

  test("a refresh CARRIES the spec and the reused files' values; the travel read prunes under the pinned manifest") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
      statsCol = Some("k"), partitionSpec = Some(yearSpec))
    // refresh does NOT re-declare the spec — it must carry from the head
    import org.apache.spark.sql.functions.{col, year}
    val batch = Seq((200L, "1998-01-01", 50.0)).toDF("k", "ds", "x")
      .selectExpr("k", "CAST(ds AS DATE) AS d", "x")
      .repartitionByRange(2, year(col("d")))
    VersionedLoad.refresh(spark, t, batch, Seq("k"), asOfMicros = 2000L)
    val m1 = manifest(t, 1L)
    assert(m1.contains("p year d"), "the spec carries across an incremental commit")
    assert(m1.count(_.startsWith("v ")) == 3,
      s"reused files keep their v lines and the new file adds one, got $m1")
    assert(SnapshotStore.readPartitionRange(spark, t, 1998L, 1998L).get
      .select("k").as[Long].collect().toSeq == Seq(200L))
    // version-pinned prune: destroy the 1998 file; a v0-pinned read of
    // 1995 must not even LIST it (v0's manifest predates it)
    val f98 = m1.filter(_.startsWith("v "))
      .map(_.split(" ", 3)).find(_(1).toLong == 1998L).get(2)
    destroy(t, f98)
    assert(SnapshotStore.readPartitionRange(spark, t, 1995L, 1995L, version = Some(0L)).get
      .count() == 2, "partition pruning composes with version travel")
  }

  test("partition EVOLUTION: a new spec applies forward; old manifests keep pruning by theirs; pre-evolution files must-scan") {
    import org.apache.spark.sql.functions.{col, month, year}
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
      statsCol = Some("k"), partitionSpec = Some(yearSpec))
    // evolve to MONTH granularity on the next commit (a raw promote with
    // the new spec and file reuse — the evolution is metadata + delta)
    val batch = Seq((300L, "1999-06-15", 60.0)).toDF("k", "ds", "x")
      .selectExpr("k", "CAST(ds AS DATE) AS d", "x")
      .repartitionByRange(1, year(col("d")) * 100 + month(col("d")))
    SnapshotStore.promote(spark, t, batch, keep = 16, asOfMicros = Some(2000L),
      reuseFiles = SnapshotStore.currentFiles(spark, t),
      partitionSpec = Some(SnapshotStore.PartitionSpec("month", "d")))
    val m1 = manifest(t, 1L)
    assert(m1.contains("p month d"), "the new spec applies forward")
    // old files' year values MUST NOT carry under the month transform —
    // they degrade to must-scan; only the new file records a month value
    val v1 = m1.filter(_.startsWith("v ")).map(_.split(" ", 3))
    assert(v1.map(_(1).toLong).toSeq == Seq(199906L),
      s"only the new file is valued under the evolved spec, got $m1")
    // the old manifest still prunes by ITS spec: destroy the new file,
    // then a v0-pinned year read works and v0's spec is still year
    assert(SnapshotStore.partitionSpecsOf(spark, t, Some(0L)).headOption == Some(yearSpec))
    val f99 = v1.find(_(1).toLong == 199906L).get(2)
    destroy(t, f99)
    assert(SnapshotStore.readPartitionRange(spark, t, 1995L, 1995L, version = Some(0L)).get
      .count() == 2, "the old manifest keeps pruning by the spec it was written under")
    // head reads under the MONTH spec: pre-evolution files are unvalued
    // and must scan — a month range over them still answers exactly
    assert(SnapshotStore.readPartitionRange(spark, t, 199501L, 199512L).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "pre-evolution files scan under the new spec and the exact filter answers")
  }

  test("a multi-valued file records NO v line and always scans; all-pruned range is an empty result") {
    val t = freshTable()
    // coalesce(1): one file spanning both years → single-valued is false
    VersionedLoad.bootstrap(spark, t, yearFact().coalesce(1), asOfMicros = 1000L,
      partitionSpec = Some(yearSpec))
    val m = manifest(t, 0L)
    assert(m.contains("p year d") && !m.exists(_.startsWith("v ")),
      s"a mixed file must carry no value line, got $m")
    assert(SnapshotStore.readPartitionRange(spark, t, 1995L, 1995L).get.count() == 2,
      "unvalued files scan and the exact filter answers")
    // all-pruned: a range no partition can serve returns EMPTY, not None
    val t2 = freshTable()
    VersionedLoad.bootstrap(spark, t2, yearFact(), asOfMicros = 1000L,
      partitionSpec = Some(yearSpec))
    val empty = SnapshotStore.readPartitionRange(spark, t2, 1800L, 1801L).get
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "d", "x"))
  }

  test("spec validation fails loudly BEFORE writing; compact carries the spec across a full rewrite") {
    val t = freshTable()
    intercept[IllegalArgumentException] {
      VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
        partitionSpec = Some(SnapshotStore.PartitionSpec("bucket", "d")))
    }
    intercept[IllegalArgumentException] {
      VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
        partitionSpec = Some(SnapshotStore.PartitionSpec("year", "k"))) // integral, not date
    }
    assert(!new java.io.File(t).exists() ||
      !new java.io.File(t).list().exists(_.startsWith("manifest-")),
      "a rejected spec must not leave a committed version behind")
    VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
      partitionSpec = Some(yearSpec))
    VersionedLoad.compact(spark, t, numFiles = 2, asOfMicros = Some(1000L),
      sortBy = Some("d"))
    assert(SnapshotStore.partitionSpecsOf(spark, t).headOption == Some(yearSpec),
      "compact is layout maintenance — the spec survives the rewrite")
    // the rewrite's sorted-by-date files are single-valued again → valued
    assert(SnapshotStore.readPartitionRange(spark, t, 1995L, 1995L).get.count() == 2)
  }

  test("dual pruning: file stats prune unvalued files in readPartitionRange; a late spec declaration is a metadata-only commit") {
    import org.apache.spark.sql.functions.{col, year}
    val t = freshTable()
    // bootstrap WITHOUT a spec but with date stats on the year-clustered
    // layout; then DECLARE the spec in a metadata-only commit (reuse
    // every file, empty delta) — ALTER TABLE SET PARTITION SPEC
    val fact = yearFact()
    VersionedLoad.bootstrap(spark, t, fact, asOfMicros = 1000L, statsCols = Seq("d"))
    SnapshotStore.promote(spark, t,
      SnapshotStore.read(spark, t).get.limit(0), keep = 16, asOfMicros = Some(2000L),
      reuseFiles = SnapshotStore.currentFiles(spark, t),
      partitionSpec = Some(yearSpec))
    val m1 = manifest(t, 1L)
    assert(m1.contains("p year d") && !m1.exists(_.startsWith("v ")),
      s"pre-spec files carry no v lines, got $m1")
    // the files are UNVALUED under the new spec, but their DATE STATS
    // still prune through the monotone transform: destroy the 1997 file
    // and read 1995
    val f97 = m1.filter(_.startsWith("t date d "))
      .map(_.split(" ", 7)).find(_(3).toLong >= 9862L).get(6) // 1997-01-01 = 9862
    destroy(t, f97)
    assert(SnapshotStore.readPartitionRange(spark, t, 1995L, 1995L).get.count() == 2,
      "specStatsKeep prunes an unvalued file by its column stats")
  }

  test("dual pruning: v lines prune stat-less files in readDateRange and in the copy-on-write touched-file location") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // NO stats at all — the v lines are the only index
    VersionedLoad.bootstrap(spark, t, yearFact(), asOfMicros = 1000L,
      partitionSpec = Some(yearSpec))
    val f97 = manifest(t, 0L).filter(_.startsWith("v "))
      .map(_.split(" ", 3)).find(_(1).toLong == 1997L).get(2)
    destroy(t, f97)
    // readDateRange on the spec column routes the window through the
    // monotone transform and prunes the valued 1997 file
    assert(SnapshotStore.readDateRange(spark, t, "d", "1995-01-01", "1995-12-31").get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "v lines serve a date-range read with no stats")
    // and the WRITE path: a merge whose grain includes the spec column
    // prunes its touched-file scan by the batch's transform span
    val batch = Seq((1L, "1995-03-01", 99.0)).toDF("k", "ds", "x")
      .selectExpr("k", "CAST(ds AS DATE) AS d", "x")
    VersionedLoad.merge(spark, t, batch, Seq("d", "k"), asOfMicros = Some(2000L))
    assert(manifest(t, 1L).filter(_.startsWith("f ")).exists(_.contains(f97)),
      "the out-of-span valued file rides along by reference — never opened")
    assert(SnapshotStore.readDateRange(spark, t, "d", "1995-01-01", "1995-12-31").get
      .select("k", "x").as[(Long, Double)].collect().toSet ==
      Set(1L -> 99.0, 2L -> 20.0),
      "the merge replaced the matched grain row")
  }

  test("dual pruning: an identity spec serves readKeyRange without stats") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val df = Seq((1L, "a"), (1L, "b"), (7L, "c")).toDF("g", "v")
      .repartitionByRange(2, col("g"))
    VersionedLoad.bootstrap(spark, t, df, asOfMicros = 1000L,
      partitionSpec = Some(SnapshotStore.PartitionSpec("identity", "g")))
    val f7 = manifest(t, 0L).filter(_.startsWith("v "))
      .map(_.split(" ", 3)).find(_(1).toLong == 7L).get(2)
    destroy(t, f7)
    assert(SnapshotStore.readKeyRange(spark, t, "g", 1L, 1L).get.count() == 2,
      "identity v lines serve a key-range read with no stats")
  }

  test("div<W> transform: exact FLOOR division (negatives included) partitions an integral column and serves readKeyRange") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // floorDiv(-25,10) = -3 — truncation toward zero would say -2 and
    // the write-side value would disagree with the read-side prune
    val df = Seq((-25L, "a"), (-5L, "b"), (5L, "c"), (25L, "d")).toDF("g", "v")
      .repartitionByRange(4, col("g"))
    VersionedLoad.bootstrap(spark, t, df, asOfMicros = 1000L,
      partitionSpec = Some(SnapshotStore.PartitionSpec("div10", "g")))
    val vVals = manifest(t, 0L).filter(_.startsWith("v ")).map(_.split(" ")(1).toLong)
    assert(vVals.toSet == Set(-3L, -1L, 0L, 2L), s"floor-division values expected, got $vVals")
    val fHigh = manifest(t, 0L).filter(_.startsWith("v "))
      .map(_.split(" ", 3)).find(_(1).toLong == 2L).get(2)
    destroy(t, fHigh)
    assert(SnapshotStore.readPartitionRange(spark, t, -3L, -3L).get
      .select("v").as[String].collect().toSeq == Seq("a"))
    // readKeyRange composes: no stats exist, but the div spec maps the
    // key range through floorDiv and prunes the destroyed file
    assert(SnapshotStore.readKeyRange(spark, t, "g", -30L, -20L).get
      .select("v").as[String].collect().toSeq == Seq("a"),
      "a key-range read rides the div partition values with no stat lines")
  }

  test("identity transform partitions an integral column") {
    val t = freshTable()
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "a"), (1L, "b"), (7L, "c")).toDF("g", "v").repartitionByRange(2, col("g"))
    VersionedLoad.bootstrap(spark, t, df, asOfMicros = 1000L,
      partitionSpec = Some(SnapshotStore.PartitionSpec("identity", "g")))
    val m = manifest(t, 0L)
    assert(m.filter(_.startsWith("v ")).map(_.split(" ")(1).toLong).toSet == Set(1L, 7L))
    val f7 = m.filter(_.startsWith("v ")).map(_.split(" ", 3)).find(_(1).toLong == 7L).get(2)
    destroy(t, f7)
    assert(SnapshotStore.readPartitionRange(spark, t, 1L, 1L).get.count() == 2)
  }
}
