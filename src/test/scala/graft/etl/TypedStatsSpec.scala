package graft.etl

import graft.SparkSuite

/** The r15 typed multi-column file-stats index: `s` (long) lines for
  * integral columns plus `t` (typed) lines for date and string columns,
  * written in one delta scan, carried forward for reused files, and
  * consumed by readDateRange/readStringRange pruning. The destroyed-file
  * device makes "never opened" observable: a pruned read over a table
  * whose out-of-range file holds garbage bytes must still succeed. */
class TypedStatsSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_tstats").toString + "/t"

  private def manifest(t: String, version: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(t), f"manifest-$version%020d").toPath), "UTF-8")
      .split("\n").toSeq

  // (k, d, s): k clusters the two files into {1,2} and {100,101}; the
  // date and string columns cluster WITH it so every stat kind gets a
  // disjoint per-file span
  private def typedFact() = Seq(
    (1L, "1995-01-01", "alpha"),
    (2L, "1995-06-01", "beta"),
    (100L, "1997-01-01", "xray"),
    (101L, "1997-06-01", "zulu"))
    .toDF("k", "ds", "s")
    .selectExpr("k", "CAST(ds AS DATE) AS d", "s")

  private def bootstrapTyped(): String = {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, typedFact().repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCols = Seq("k", "d", "s"))
    t
  }

  test("statsCols records one line per (file, column) with the right kind, in one commit") {
    val t = bootstrapTyped()
    val m = manifest(t, 0L)
    assert(m.count(_.startsWith("s k ")) == 2, "long stats: one line per file")
    assert(m.count(_.startsWith("t date d ")) == 2, "date stats: one line per file")
    assert(m.count(_.startsWith("t str s ")) == 2, "string stats: one line per file")
    // date bounds are epoch days: 1995-01-01 = 9131
    val dateLines = m.filter(_.startsWith("t date d ")).map(_.split(" "))
    assert(dateLines.exists(a => a(3).toLong == 9131L), s"epoch-day bounds expected, got $dateLines")
    // exact (untruncated) string bounds carry the E flag
    assert(m.filter(_.startsWith("t str s ")).forall(_.split(" ")(5) == "E"))
  }

  test("readDateRange prunes by the date stats and still applies the exact filter") {
    val t = bootstrapTyped()
    // exactness inside a candidate: [1995-03-01, 1996-12-31] overlaps the
    // low file but must return only k=2's date
    assert(SnapshotStore.readDateRange(spark, t, "d", "1995-03-01", "1996-12-31").get
      .select("k").as[Long].collect().toSeq == Seq(2L))
    // destroy the high file: a low-range read must never open it
    val highFile = manifest(t, 0L).filter(_.startsWith("s k "))
      .map(_.split(" ", 5)).find(_(2).toLong == 100L).get(4)
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(SnapshotStore.readDateRange(spark, t, "d", "1995-01-01", "1995-12-31").get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "an out-of-range file is never opened")
  }

  test("readStringRange prunes by the string prefix stats and still applies the exact filter") {
    val t = bootstrapTyped()
    assert(SnapshotStore.readStringRange(spark, t, "s", "b", "c").get
      .select("k").as[Long].collect().toSeq == Seq(2L),
      "exact filter inside the candidate file")
    val highFile = manifest(t, 0L).filter(_.startsWith("s k "))
      .map(_.split(" ", 5)).find(_(2).toLong == 100L).get(4)
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    // ["a","b~"] cannot intersect {xray, zulu}: the destroyed file is pruned
    assert(SnapshotStore.readStringRange(spark, t, "s", "a", "b~").get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "an out-of-range file is never opened")
  }

  test("a truncated string max still prunes soundly (values bounded by the incremented prefix)") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // the mm-file's strings exceed StatPrefixBytes: its hi stat is a
    // truncated prefix (T flag), bounding values strictly below "mm…n"
    val long1 = "mm" + ("a" * 100)
    val long2 = "mm" + ("b" * 100)
    VersionedLoad.bootstrap(spark, t,
      Seq((1L, long1), (2L, long2), (100L, "xx1"), (101L, "xx2"))
        .toDF("k", "s").repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCols = Seq("s"))
    val strLines = manifest(t, 0L).filter(_.startsWith("t str s "))
    assert(strLines.exists(_.split(" ")(5) == "T"), s"truncated max flagged, got $strLines")
    // destroy the mm-file; a query range entirely above the incremented
    // prefix bound ("x…" > "mn") must prune it
    val mmFile = strLines.find(_.split(" ")(5) == "T").get.split(" ").last
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), mmFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(SnapshotStore.readStringRange(spark, t, "s", "x", "y").get
      .select("k").as[Long].collect().sorted.toSeq == Seq(100L, 101L),
      "a file whose truncated bound clears the range is never opened")
    // and a range that could still intersect the truncated span keeps the
    // file (here: fails loudly on the garbage bytes instead of skipping)
    intercept[Throwable] {
      SnapshotStore.readStringRange(spark, t, "s", "mm", "mz").get.count()
    }
  }

  test("the empty string round-trips through the bound encoding") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, Seq((1L, ""), (2L, "b")).toDF("k", "s"),
      asOfMicros = 1000L, statsCols = Seq("s"))
    assert(SnapshotStore.readStringRange(spark, t, "s", "", "a").get
      .select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("a whitespace-bearing stats column is rejected loudly at write time") {
    val t = freshTable()
    val ex = intercept[IllegalArgumentException] {
      VersionedLoad.bootstrap(spark, t,
        Seq((1L, "a")).toDF("k", "v v"), asOfMicros = 1000L, statsCols = Seq("v v"))
    }
    assert(ex.getMessage.contains("whitespace"))
  }

  test("readKeyRange refuses non-integral columns instead of truncating through cast(long)") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, Seq((1L, 5.7), (2L, 0.3)).toDF("k", "x"),
      asOfMicros = 1000L)
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.readKeyRange(spark, t, "x", 1L, 5L).get.count()
    }
    assert(ex.getMessage.contains("not an integral column"))
  }

  test("timestamp stats prune readTimestampRange, and versionAsOf composes travel with pruning") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq((1L, ts("1995-01-01 06:00:00")), (2L, ts("1995-06-01 06:00:00")),
      (100L, ts("1997-01-01 06:00:00")), (101L, ts("1997-06-01 06:00:00")))
      .toDF("k", "at")
    VersionedLoad.bootstrap(spark, t, df.repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"), statsCols = Seq("at"))
    val m = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.typedStats).filter(_.kind == "ts")
    assert(m.size == 2, s"one ts stat line per file, got $m")
    // exact filter inside the candidate: only k=2's instant qualifies
    val lo = ts("1995-03-01 00:00:00").getTime * 1000L
    val hi = ts("1996-12-31 00:00:00").getTime * 1000L
    assert(SnapshotStore.readTimestampRange(spark, t, "at", lo, hi).get
      .select("k").as[Long].collect().toSeq == Seq(2L))
    // destroyed-file device: a 1995-confined read never opens the high file
    val highFile = m.maxBy(_.lo.toLong).file
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    val lo95 = ts("1995-01-01 00:00:00").getTime * 1000L
    val hi95 = ts("1995-12-31 00:00:00").getTime * 1000L
    assert(SnapshotStore.readTimestampRange(spark, t, "at", lo95, hi95).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
      "an out-of-range file is never opened")
    // versionAsOf: timestamp travel resolved to an ID pins pruned reads
    assert(SnapshotStore.versionAsOf(spark, t, 500L).isEmpty, "before the first commit")
    assert(SnapshotStore.versionAsOf(spark, t, 1500L).contains(0L))
    assert(SnapshotStore.readKeyRange(spark, t, "k", 1L, 2L,
      version = SnapshotStore.versionAsOf(spark, t, 1500L)).get
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("an all-pruned range is an EMPTY result, never a missing table") {
    val t = bootstrapTyped()
    // every file's span misses the probe range on each reader — the
    // table exists, so the answer is zero rows with the right schema
    val k = SnapshotStore.readKeyRange(spark, t, "k", 5000L, 9000L)
    assert(k.isDefined && k.get.count() == 0 && k.get.columns.contains("s"))
    assert(SnapshotStore.readDateRange(spark, t, "d", "1895-01-01", "1895-12-31")
      .exists(_.count() == 0))
    assert(SnapshotStore.readStringRange(spark, t, "s", "zzz", "zzzz")
      .exists(_.count() == 0))
    // and a never-committed table still answers None
    assert(SnapshotStore.readKeyRange(spark, freshTable(), "k", 0L, 1L).isEmpty)
  }

  test("version-pinned pruned reads resolve THAT version's stats and files") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t,
      Seq((1L, "a"), (2L, "b"), (100L, "c"), (101L, "d"))
        .toDF("k", "v").repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"))
    // the merge rewrites the low file into v1's commit dir
    val id1 = VersionedLoad.merge(spark, t, Seq((1L, "A2")).toDF("k", "v"),
      Seq("k"), asOfMicros = Some(2000L), statsCol = Some("k"))
    // destroy v1's OWN commit file: a v0-pinned pruned read must never
    // touch it (it resolves v0's manifest, not the head's)
    val v0files = SnapshotStore.filesForVersion(spark, t, 0L).get.toSet
    SnapshotStore.filesForVersion(spark, t, id1).get
      .filterNot(v0files).foreach { f =>
        java.nio.file.Files.write(new java.io.File(new java.io.File(t), f).toPath,
          "x".getBytes("UTF-8"))
      }
    assert(SnapshotStore.readKeyRange(spark, t, "k", 1L, 5L, version = Some(0L)).get
      .as[(Long, String)].collect().sorted.toSeq == Seq(1L -> "a", 2L -> "b"),
      "the v0-pinned read returns v0's ORIGINAL values through v0's own stats")
  }

  test("a commit without stat columns still carries reused files' stats forward (restore keeps the index)") {
    val t = bootstrapTyped()
    VersionedLoad.restore(spark, t, version = 0L, asOfMicros = Some(2000L))
    assert(SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.stats).count(_.col == "k") == 2,
      "long stats survive a metadata-only commit")
    val typed = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.typedStats)
    assert(typed.count(_.kind == "date") == 2 && typed.count(_.kind == "str") == 2,
      "typed stats survive a metadata-only commit")
  }
}
