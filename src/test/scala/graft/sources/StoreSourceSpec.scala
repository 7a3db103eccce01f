package graft.sources

import graft.SparkSuite
import graft.etl.{SnapshotStore, VersionedLoad}

/** The store as a DataSource v2 ([[StoreSource]]): manifest-schema
  * planning, pushed-filter FILE pruning (destroyed-file proved),
  * column pruning, version pins, additive-evolution null projection —
  * and the storage-partitioned join: two identity-co-partitioned store
  * tables join with NO Exchange when the scan reports
  * KeyGroupedPartitioning, where the same join without the report
  * shuffles. */
class StoreSourceSpec extends SparkSuite {
  import spark.implicits._

  private val Fmt = "graft.sources.StoreSource"

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_dsv2").toString + "/t"

  private def destroy(t: String, file: String): Unit =
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), file).toPath,
      "not a parquet file".getBytes("UTF-8")): Unit

  private def manifest(t: String, v: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(t), f"manifest-$v%020d").toPath), "UTF-8")
      .split("\n").toSeq

  test("reads rows and schema from the manifest; filters prune files (destroyed-file); versions pin") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val df = (1L to 40L).map(k => (k, s"v$k", if (k % 4 == 0) null else "s"))
      .toDF("k", "v", "s")
      .repartitionByRange(4, col("k"))
    VersionedLoad.bootstrap(spark, t, df, asOfMicros = 1000L,
      statsCol = Some("k"), statsCols = Seq("s"))
    val r = spark.read.format(Fmt).load(t)
    assert(r.columns.toSeq == Seq("k", "v", "s"))
    assert(r.count() == 40L)
    // stats pruning: destroy the high files, read a low range
    val highFiles = manifest(t, 0L).filter(_.startsWith("s k "))
      .map(_.split(" ", 5)).filter(_(2).toLong > 20L).map(_(4))
    assert(highFiles.nonEmpty)
    highFiles.foreach(destroy(t, _))
    assert(spark.read.format(Fmt).load(t).filter(col("k") <= 5L)
      .select("v").as[String].collect().sorted.toSeq ==
      (1L to 5L).map(k => s"v$k").sorted,
      "pushed range filters prune destroyed out-of-range files")
    // null-count pruning: IS NULL read never opens... build a clean table
    val t2 = freshTable()
    VersionedLoad.bootstrap(spark, t2,
      df.repartitionByRange(4, col("s").isNull.cast("int"), col("k")),
      asOfMicros = 1000L, statsCol = Some("k"), statsCols = Seq("s"))
    val noNullFiles = manifest(t2, 0L).filter(_.startsWith("n s "))
      .map(_.split(" ", 4)).filter(_(2).toLong == 0L).map(_(3))
    assert(noNullFiles.nonEmpty)
    noNullFiles.foreach(destroy(t2, _))
    assert(spark.read.format(Fmt).load(t2).filter(col("s").isNull).count() == 10L,
      "pushed IS NULL prunes nulls=0 files")
    // version pin: version 0 of t2 still reads (same manifest here)
    assert(spark.read.format(Fmt).option("version", "0").load(t2)
      .filter(col("s").isNull).count() == 10L)
  }

  test("partition-value pruning through identity and bucket specs; column pruning stays correct") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val df = (1L to 40L).map(k => (k % 4, k, s"v$k")).toDF("g", "k", "v")
    VersionedLoad.bootstrap(spark, t,
      SnapshotStore.clusterBySpecs(df, Seq(SnapshotStore.PartitionSpec("identity", "g")), 4),
      asOfMicros = 1000L,
      partitionSpec = Some(SnapshotStore.PartitionSpec("identity", "g")))
    val vs = manifest(t, 0L).filter(_.startsWith("v ")).map(_.split(" ", 3))
    vs.filterNot(_(1).toLong == 2L).foreach(a => destroy(t, a(2)))
    assert(spark.read.format(Fmt).load(t).filter(col("g") === 2L)
      .select("k").as[Long].collect().sorted.toSeq ==
      (1L to 40L).filter(_ % 4 == 2).sorted,
      "identity partition values prune; column pruning drops v")
    // bucket spec: EqualTo on the key routes through the hash
    val tb = freshTable()
    val spec = SnapshotStore.PartitionSpec("bucket4", "k")
    VersionedLoad.bootstrap(spark, tb,
      SnapshotStore.clusterBySpecs((1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"),
        Seq(spec), 4),
      asOfMicros = 1000L, partitionSpec = Some(spec))
    val b7 = SnapshotStore.bucketValue(7L, 4)
    manifest(tb, 0L).filter(_.startsWith("v ")).map(_.split(" ", 3))
      .filterNot(_(1).toLong == b7).foreach(a => destroy(tb, a(2)))
    assert(spark.read.format(Fmt).load(tb).filter(col("k") === 7L)
      .select("v").as[String].collect().toSeq == Seq("v7"),
      "a point lookup maps through bucketValue and opens one bucket")
  }

  test("DATE filters push down: typed date stats and the year spec dimension both prune (destroyed-file)") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val spec = SnapshotStore.PartitionSpec("year", "d")
    val df = Seq((1L, "1995-03-01", "a"), (2L, "1995-09-01", "b"),
        (3L, "1997-02-01", "c"), (4L, "1997-08-01", "d"))
      .toDF("k", "ds", "v").selectExpr("k", "CAST(ds AS DATE) AS d", "v")
    VersionedLoad.bootstrap(spark, t,
      SnapshotStore.clusterBySpecs(df, Seq(spec), 2),
      asOfMicros = 1000L, statsCols = Seq("d"), partitionSpec = Some(spec))
    manifest(t, 0L).filter(_.startsWith("v ")).map(_.split(" ", 3))
      .filter(_(1).toLong == 1997L).foreach(a => destroy(t, a(2)))
    assert(spark.read.format(Fmt).load(t)
      .filter(col("d").between("1995-01-01", "1995-12-31"))
      .select("v").as[String].collect().sorted.toSeq == Seq("a", "b"),
      "a date-range filter prunes through the t-date stats and the year dimension")
  }

  test("additive evolution: files predating a column project null through the DSv2 reader") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, Seq((1L, "a")).toDF("k", "v"), asOfMicros = 1000L)
    SnapshotStore.promote(spark, t, Seq((2L, "b", 9.5)).toDF("k", "v", "score"),
      keep = 16, reuseFiles = SnapshotStore.currentFiles(spark, t)): Unit
    val r = spark.read.format(Fmt).load(t).orderBy("k")
      .select("k", "score").as[(Long, Option[Double])].collect().toSeq
    assert(r == Seq((1L, None), (2L, Some(9.5))),
      "the per-file projection nulls a column the file predates")
  }

  test("storage-partitioned join: co-partitioned store tables join with NO Exchange; without the report they shuffle") {
    import org.apache.spark.sql.functions.col
    val ta = freshTable(); val tb = freshTable()
    val spec = "g"
    def build(t: String, rows: Seq[(Long, Long)], cols: (String, String)): Unit = {
      val df = rows.toDF(spec, cols._2)
      VersionedLoad.bootstrap(spark, t,
        SnapshotStore.clusterBySpecs(df,
          Seq(SnapshotStore.PartitionSpec("identity", spec)), 8),
        asOfMicros = 1000L,
        partitionSpec = Some(SnapshotStore.PartitionSpec("identity", spec))): Unit
    }
    build(ta, (1L to 80L).map(k => (k % 8, k)), ("g", "a"))
    build(tb, (1L to 80L).map(k => (k % 8, k * 100)), ("g", "b"))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def side(t: String) = spark.read.format(Fmt)
        .option("partitionGrouped", "true").load(t)
      val joined = side(ta).alias("l")
        .join(side(tb).alias("r"), Seq("g"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-partitioned store scans must join without any Exchange:\n$plan")
      // correctness: 10 rows per g on each side → 100 pairs per g
      assert(joined.count() == 800L)
      // control: the SAME join without partition-grouped scans shuffles
      val control = spark.read.format(Fmt).load(ta)
        .join(spark.read.format(Fmt).load(tb), Seq("g"))
      assert(control.queryExecution.executedPlan.toString.contains("Exchange"),
        "without the reported partitioning the join needs a shuffle — the contrast " +
          "proves KeyGroupedPartitioning engaged above")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("LIMIT truncates the planned file list by known row counts (destroyed-file); filters keep it whole") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t,
      (1L to 60L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(4, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"))
    // destroy every file but the lowest-range one: limit(10) must plan
    // ONLY that file (15 rows >= 10 by the recorded r lines) and never
    // open the rest
    val byLow = manifest(t, 0L).filter(_.startsWith("s k ")).map(_.split(" ", 5))
      .sortBy(_(2).toLong).map(_(4))
    byLow.drop(1).foreach(destroy(t, _))
    val lim = spark.read.format(Fmt).load(t).limit(10)
    val plan = lim.queryExecution.executedPlan.toString
    assert(plan.contains("(1 files after pruning)"),
      s"a pushed limit must truncate the planned file list:\n$plan")
    assert(lim.collect().length == 10)
    // under ANY filter the limit must NOT drop files — a residual
    // filter could reject every row the kept prefix holds
    val filtered = spark.read.format(Fmt).load(t)
      .filter(col("k") <= 100L).limit(10)
    assert(filtered.queryExecution.executedPlan.toString
      .contains("(4 files after pruning)"),
      "a filtered scan keeps its full pruned file list under LIMIT")
  }

  test("the scan runs Spark's vectorized parquet reader; a pushed filter skips row groups inside a kept file") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = freshTable()
    // one key-sorted file cut into several row groups: a 4 KB parquet
    // block holds a few hundred (k, v) rows of the 20k
    val saved = spark.conf.getOption("parquet.block.size")
    spark.conf.set("parquet.block.size", "4096")
    try VersionedLoad.bootstrap(spark, t,
      (1L to 20000L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartition(1).sortWithinPartitions("k"), asOfMicros = 1000L)
    finally saved.fold(spark.conf.unset("parquet.block.size"))(
      spark.conf.set("parquet.block.size", _))
    assert(SnapshotStore.currentFiles(spark, t).size == 1)
    val q = spark.read.format(Fmt).load(t).filter(col("k") <= 100L).select("v")
    assert(q.collect().map(_.getString(0)).toSet == (1 to 100).map(k => s"v$k").toSet)
    val scans = q.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.size == 1, q.queryExecution.executedPlan.toString)
    assert(scans.head.supportsColumnar,
      "the store scan must hand columnar batches to the operator")
    val read = scans.head.metrics("numOutputRows").value
    assert(read >= 100L && read < 20000L,
      s"parquet must skip the row groups k <= 100 rules out; the scan output $read of 20000 rows")
  }
}
