package graft.streaming

import graft.SparkSuite
import graft.etl.SnapshotStore
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types._

/** The streaming versioned fact sink's contract: per-batch anti-join
  * merge on the grain (existing keys win), atomic versioned commits,
  * replayed deliveries are content no-ops after a kill-and-restart,
  * and every pre-state stays time-travelable. */
class FactStreamSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  test("versioned fact sink: grain merge, restart, replay no-op, travelable history") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream").toString
    val src  = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()

    def deliver(name: String, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("k", "v").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$src/$name")
    def stage(name: String, rows: (Long, String)*): Unit = {
      // the stream reads the flat src dir; stage each delivery as one file
      deliver(s".stage_$name", rows: _*)
      val staged = new java.io.File(s"$src/.stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(staged.toPath, new java.io.File(s"$src/$name.parquet").toPath)
    }
    def state(): Set[(Long, String)] =
      FactStream.readFact(spark, tbl).get.as[(Long, String)].collect().toSet

    stage("f1", 1L -> "a", 2L -> "b")
    val q = FactStream.startVersionedFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(state() == Set(1L -> "a", 2L -> "b"))
      // second delivery overlaps key 2 with a CONFLICTING value — the
      // existing row must win; key 3 is genuinely new
      stage("f2", 2L -> "X", 3L -> "c")
      q.processAllAvailable()
      assert(state() == Set(1L -> "a", 2L -> "b", 3L -> "c"),
        "existing grain keys win; only new keys append")
    } finally q.stop()

    val verBefore = SnapshotStore.currentVersion(spark, tbl).get
    // kill-and-restart from the same checkpoint; a new file re-delivers
    // f2's exact content (the at-least-once source) — its rows must
    // anti-join away into a content-identical commit
    stage("f3", 2L -> "X", 3L -> "c")
    val q2 = FactStream.startVersionedFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q2.processAllAvailable()
      assert(state() == Set(1L -> "a", 2L -> "b", 3L -> "c"),
        "a replayed delivery is a content no-op")
      assert(SnapshotStore.currentVersion(spark, tbl).get > verBefore,
        "the no-op still commits a new auditable version")
    } finally q2.stop()
    // the very first delivery's state remains time-travelable
    assert(SnapshotStore.readVersion(spark, tbl, 0L).get.count() == 2,
      "the bootstrap state stays travelable")
  }

  test("conflicting rows on one grain key within a delivery pick a DETERMINISTIC winner") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_det").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    // one delivery file carrying THREE rows on grain key 7 — the sink
    // must keep the minimum under the payload's natural order ("a"),
    // not an arbitrary partition-order survivor, so a crash-replay of
    // this batch would commit the identical row
    Seq(7L -> "m", 7L -> "a", 7L -> "z").toDF("k", "v").coalesce(1)
      .write.parquet(s"$src/d1_dir")
    val f = new java.io.File(s"$src/d1_dir").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/d1.parquet").toPath)
    val q = FactStream.startVersionedFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp))
    try {
      q.processAllAvailable()
      val rows = FactStream.readFact(spark, tbl).get.as[(Long, String)].collect().toSeq
      assert(rows == Seq(7L -> "a"), s"deterministic min-payload winner expected, got $rows")
    } finally q.stop()
  }

  test("upsert sink: latest delivery wins, replay is content-identical, pre-states travelable") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_ups").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    def stage(name: String, rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("k", "v").coalesce(1).write.parquet(s"$src/.st_$name")
      val f = new java.io.File(s"$src/.st_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/$name.parquet").toPath)
    }
    def state(): Set[(Long, String)] =
      FactStream.readFact(spark, tbl).get.as[(Long, String)].collect().toSet

    stage("u1", 1L -> "a", 2L -> "b")
    val q = FactStream.startUpsertFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(state() == Set(1L -> "a", 2L -> "b"))
      // the overlap REPLACES key 2 — the opposite of the insert sink
      stage("u2", 2L -> "X", 3L -> "c")
      q.processAllAvailable()
      assert(state() == Set(1L -> "a", 2L -> "X", 3L -> "c"),
        "a redelivered key replaces the committed row (latest delivery wins)")
    } finally q.stop()

    val verBefore = SnapshotStore.currentVersion(spark, tbl).get
    // kill-and-restart; a new file re-delivers u2's exact content — the
    // re-merge writes the same winners over themselves
    stage("u3", 2L -> "X", 3L -> "c")
    val q2 = FactStream.startUpsertFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q2.processAllAvailable()
      assert(state() == Set(1L -> "a", 2L -> "X", 3L -> "c"),
        "a replayed delivery is a content no-op (idempotent by value)")
      assert(SnapshotStore.currentVersion(spark, tbl).get > verBefore)
    } finally q2.stop()
    // the pre-upsert state keeps the ORIGINAL value of key 2
    assert(SnapshotStore.readVersion(spark, tbl, 0L).get.as[(Long, String)]
      .collect().toSet == Set(1L -> "a", 2L -> "b"),
      "the bootstrap state stays travelable with the pre-update value")
  }

  test("upsert sink: within one delivery the LATEST event time wins, payload breaks ties") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_upsdet").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    val tsSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ts", TimestampType)))
    // key 7 arrives three times in ONE delivery: the 1996 observation
    // must win over both 1995 rows; key 8's two rows tie on the
    // timestamp, so the payload's natural order decides ("z" > "a")
    Seq(
      (7L, "old1", "1995-01-01 00:00:00"),
      (7L, "new", "1996-01-01 00:00:00"),
      (7L, "old2", "1995-06-01 00:00:00"),
      (8L, "a", "1995-01-01 00:00:00"),
      (8L, "z", "1995-01-01 00:00:00"))
      .toDF("k", "v", "s").selectExpr("k", "v", "cast(s as timestamp) as ts")
      .coalesce(1).write.parquet(s"$src/.st_d")
    val f = new java.io.File(s"$src/.st_d").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/d.parquet").toPath)
    val q = FactStream.startUpsertFactSink(spark, src, tbl, tsSchema, Seq("k"),
      checkpointDir = Some(cp), eventTimeCol = Some("ts"))
    try {
      q.processAllAvailable()
      val rows = FactStream.readFact(spark, tbl).get
        .selectExpr("k", "v").as[(Long, String)].collect().toSet
      assert(rows == Set(7L -> "new", 8L -> "z"),
        s"latest-event winner with payload tiebreak expected, got $rows")
    } finally q.stop()
  }

  test("event-time as-of: commits pin the batch's max event time and mix with readAsOf travel") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_asof").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    val tsSchema = StructType(Seq(
      StructField("k", LongType), StructField("ts", TimestampType)))
    def stageTs(name: String, rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("k", "s").selectExpr("k", "cast(s as timestamp) as ts")
        .coalesce(1).write.parquet(s"$src/.st_$name")
      val f = new java.io.File(s"$src/.st_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/$name.parquet").toPath)
    }
    stageTs("b1", 1L -> "1995-01-01 00:00:00", 2L -> "1995-06-01 00:00:00")
    val q = FactStream.startVersionedFactSink(spark, src, tbl, tsSchema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1),
      eventTimeCol = Some("ts"))
    try {
      q.processAllAvailable()
      stageTs("b2", 3L -> "1996-03-01 00:00:00")
      q.processAllAvailable()
      val jun95 = 801964800L * 1000000L // 1995-06-01T00:00:00Z (session TZ is UTC)
      // as of mid-1995: only the first batch's commit qualifies
      assert(SnapshotStore.readAsOf(spark, tbl, jun95).get.count() == 2,
        "timestamp travel between the two batch horizons resolves the first commit")
      assert(SnapshotStore.readAsOf(spark, tbl, Long.MaxValue).get.count() == 3)
      assert(SnapshotStore.readAsOf(spark, tbl, jun95 - 1L).isEmpty,
        "before the first batch's horizon nothing qualifies")
    } finally q.stop()
  }

  test("cdc sink: deletes apply atomically, survive kill-and-restart replay, and pre-delete states travel") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_cdc").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    val cdcSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("_op", StringType)))
    def stage(name: String, rows: (Long, String, String)*): Unit = {
      rows.toSeq.toDF("k", "v", "_op").coalesce(1).write.parquet(s"$src/.st_$name")
      val f = new java.io.File(s"$src/.st_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/$name.parquet").toPath)
    }
    def state(): Set[(Long, String)] =
      FactStream.readFact(spark, tbl).get.as[(Long, String)].collect().toSet

    stage("c1", (1L, "a", "I"), (2L, "b", "I"))
    val q = FactStream.startCdcFactSink(spark, src, tbl, cdcSchema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    val delVersion = try {
      q.processAllAvailable()
      assert(state() == Set(1L -> "a", 2L -> "b"))
      // one delivery, all three arms: update 2, insert 3, DELETE 1
      stage("c2", (2L, "X", "U"), (3L, "c", "I"), (1L, "", "D"))
      q.processAllAvailable()
      assert(state() == Set(2L -> "X", 3L -> "c"),
        "update replaced, insert landed, delete removed — one atomic commit")
      SnapshotStore.currentVersion(spark, tbl).get
    } finally q.stop()

    // kill-and-restart; a new file re-delivers c2's exact content — the
    // replayed DELETE must keep key 1 dead (not resurrect it), the
    // replayed upserts re-merge over themselves
    stage("c3", (2L, "X", "U"), (3L, "c", "I"), (1L, "", "D"))
    val q2 = FactStream.startCdcFactSink(spark, src, tbl, cdcSchema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q2.processAllAvailable()
      assert(state() == Set(2L -> "X", 3L -> "c"),
        "the delete survives recovery; replay is a content no-op")
      assert(SnapshotStore.currentVersion(spark, tbl).get > delVersion,
        "the replayed batch still commits an auditable version")
      // a later delivery deletes another key — proving deletes work
      // from the RESTARTED query's state too
      stage("c4", (3L, "", "D"), (4L, "d", "I"))
      q2.processAllAvailable()
      assert(state() == Set(2L -> "X", 4L -> "d"))
    } finally q2.stop()
    // the bootstrap state (pre-delete) stays travelable with key 1 alive
    assert(SnapshotStore.readVersion(spark, tbl, 0L).get.as[(Long, String)]
      .collect().toSet == Set(1L -> "a", 2L -> "b"),
      "the pre-delete state stays time-travelable")
  }

  test("cdc sink: a pure-delete opening delivery does not bootstrap a schema-less empty version") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_cdcempty").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    val cdcSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("_op", StringType)))
    def stage(name: String, rows: (Long, String, String)*): Unit = {
      rows.toSeq.toDF("k", "v", "_op").coalesce(1).write.parquet(s"$src/.st_$name")
      val f = new java.io.File(s"$src/.st_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/$name.parquet").toPath)
    }
    // first delivery is ALL deletes: nothing exists to remove, and a
    // zero-row bootstrap would leave a version with no parquet files —
    // every later read would die on schema inference
    stage("e1", (1L, "", "D"), (2L, "", "D"))
    val q = FactStream.startCdcFactSink(spark, src, tbl, cdcSchema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(FactStream.readFact(spark, tbl).isEmpty,
        "no version committed for a pure-delete opening delivery")
      // the first delivery with an upsert arm bootstraps normally and
      // is fully readable
      stage("e2", (3L, "c", "I"))
      q.processAllAvailable()
      assert(FactStream.readFact(spark, tbl).get.select("k", "v")
        .as[(Long, String)].collect().toSet == Set(3L -> "c"))
    } finally q.stop()
  }

  test("cdc sink: within one delivery the key's FINAL observation decides life or death") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_cdcdet").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    val tsSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("_op", StringType), StructField("ts", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 7: inserted at 10:00, DELETED at 11:00 — the delete is the
    // final observation and must win; key 8: deleted at 10:00,
    // re-inserted at 11:00 — must live
    Seq((7L, "a", "I", ts("2024-01-01 10:00:00")),
        (7L, "",  "D", ts("2024-01-01 11:00:00")),
        (8L, "",  "D", ts("2024-01-01 10:00:00")),
        (8L, "r", "I", ts("2024-01-01 11:00:00")))
      .toDF("k", "v", "_op", "ts").coalesce(1).write.parquet(s"$src/.st_d1")
    val f = new java.io.File(s"$src/.st_d1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/d1.parquet").toPath)
    val q = FactStream.startCdcFactSink(spark, src, tbl, tsSchema, Seq("k"),
      checkpointDir = Some(cp), eventTimeCol = Some("ts"))
    try {
      q.processAllAvailable()
      val rows = FactStream.readFact(spark, tbl).get
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(rows == Set(8L -> "r"),
        s"7 dies (final op D), 8 lives (final op I) — got $rows")
    } finally q.stop()
  }

  test("cdc sink: an ADDITIVE schema evolution arrives mid-stream across kill-restart; pre-evolution versions read original-shape") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_evo").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    val baseSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("_op", StringType)))
    val evolvedSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("w", LongType), StructField("_op", StringType)))
    def stageFile(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$src/.st_$name")
      val f = new java.io.File(s"$src/.st_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/$name.parquet").toPath)
    }

    // pre-evolution delivery under the base schema, then KILL
    stageFile("v1", Seq((1L, "a", "I"), (2L, "b", "I")).toDF("k", "v", "_op"))
    val q = FactStream.startCdcFactSink(spark, src, tbl, baseSchema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      assert(FactStream.readFact(spark, tbl).get.columns.toSeq == Seq("k", "v"))
    } finally q.stop()

    // restart the SAME checkpoint with the WIDER schema: the evolved
    // column arrives mid-stream; applyCdc's additive union + the
    // store's mergeSchema reads must carry it through
    stageFile("v2",
      Seq((2L, "X", 7L, "U"), (3L, "c", 9L, "I"), (1L, "", 0L, "D"))
        .toDF("k", "v", "w", "_op"))
    val q2 = FactStream.startCdcFactSink(spark, src, tbl, evolvedSchema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    val evoVersion = try {
      q2.processAllAvailable()
      val head = FactStream.readFact(spark, tbl).get
      assert(head.columns.contains("w"), "the evolved column reached storage")
      assert(head.select("k", "v", "w").as[(Long, String, Option[Long])]
        .collect().toSet == Set((2L, "X", Some(7L)), (3L, "c", Some(9L))),
        "post-evolution delivery committed: update took w, delete applied")
      SnapshotStore.currentVersion(spark, tbl).get
    } finally q2.stop()

    // kill-and-restart AGAIN; a replayed evolved delivery commits
    // content-identically (no duplicate, no resurrection)
    stageFile("v3",
      Seq((2L, "X", 7L, "U"), (3L, "c", 9L, "I"), (1L, "", 0L, "D"))
        .toDF("k", "v", "w", "_op"))
    val q3 = FactStream.startCdcFactSink(spark, src, tbl, evolvedSchema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q3.processAllAvailable()
      assert(FactStream.readFact(spark, tbl).get.select("k", "v", "w")
        .as[(Long, String, Option[Long])].collect().toSet ==
        Set((2L, "X", Some(7L)), (3L, "c", Some(9L))),
        "the replayed evolved delivery is a content no-op")
      assert(SnapshotStore.currentVersion(spark, tbl).get > evoVersion)
    } finally q3.stop()

    // the PRE-evolution version reads back in its ORIGINAL shape — the
    // evolved column does not bleed backward through time travel
    assert(SnapshotStore.readVersion(spark, tbl, 0L).get.columns.toSeq == Seq("k", "v"),
      "pre-evolution versions keep their original schema")
  }

  test("fact sinks record idempotent (checkpoint, batchId) markers — a same-batch replay skips instead of recomputing") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_txn").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    Seq(1L -> "a", 2L -> "b").toDF("k", "v").coalesce(1).write.parquet(s"$src/.st_t1")
    val f = new java.io.File(s"$src/.st_t1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/t1.parquet").toPath)
    val q = FactStream.startUpsertFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp))
    val qid = try { q.processAllAvailable(); q.id.toString } finally q.stop()
    // the appId is the checkpoint's PERSISTENT query id, not its path
    val appId = "stream:" + qid
    assert(SnapshotStore.lastTxnVersion(spark, tbl, appId) == Some(0L),
      "the delivery's batch id is recorded under the checkpoint's query id")
    val verBefore = SnapshotStore.currentVersion(spark, tbl).get
    // simulate the replay a crash BETWEEN the table commit and the
    // checkpoint write would cause: the same (appId, batchId) arrives
    // again — the commit must skip, not re-merge
    val replay = graft.etl.VersionedLoad.idempotent(
      graft.etl.VersionedLoad.merge(spark, tbl,
        Seq(1L -> "a", 2L -> "b").toDF("k", "v"), Seq("k"),
        asOfMicros = None, txn = Some((appId, 0L))))
    assert(replay.isEmpty, "a same-batch replay skips by its txn marker")
    assert(SnapshotStore.currentVersion(spark, tbl).get == verBefore,
      "no duplicate commit lands")
    // WIPE the checkpoint (deliberate reprocessing — batch ids restart
    // at 0): the fresh checkpoint mints a NEW query id, so the old
    // marker must NOT suppress the redelivery — the sink re-merges
    // (content-identical) and commits, instead of silently dropping it
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
      x.delete(): Unit
    }
    rm(new java.io.File(cp))
    val q2 = FactStream.startUpsertFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp))
    try {
      q2.processAllAvailable()
      assert(q2.id.toString != qid, "a recreated checkpoint mints a new query id")
      assert(SnapshotStore.currentVersion(spark, tbl).get > verBefore,
        "reprocessing after a checkpoint wipe commits instead of being " +
          "suppressed by the dead checkpoint's markers")
      assert(FactStream.readFact(spark, tbl).get.as[(Long, String)].collect().toSet ==
        Set(1L -> "a", 2L -> "b"), "content stays identical")
    } finally q2.stop()
  }

  test("a partition spec declared on a sink's table carries through later deliveries, values maintained") {
    val root = java.nio.file.Files.createTempDirectory("graft_factstream_part").toString
    val src = s"$root/src"; val tbl = s"$root/tbl"; val cp = s"$root/cp"
    new java.io.File(src).mkdirs()
    def stage(name: String, rows: (Long, String)*): Unit = {
      rows.toSeq.toDF("k", "v").coalesce(1).write.parquet(s"$src/.st_$name")
      val f = new java.io.File(s"$src/.st_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(s"$src/$name.parquet").toPath)
    }
    stage("p1", 100L -> "a", 101L -> "b")
    val q = FactStream.startVersionedFactSink(spark, src, tbl, schema, Seq("k"),
      checkpointDir = Some(cp), maxFilesPerTrigger = Some(1))
    try {
      q.processAllAvailable()
      // declare the spec mid-stream: ALTER TABLE SET PARTITION SPEC as
      // a metadata-only commit (full reuse, empty delta)
      SnapshotStore.promote(spark, tbl,
        SnapshotStore.read(spark, tbl).get.limit(0), keep = FactStream.Keep,
        reuseFiles = SnapshotStore.currentFiles(spark, tbl),
        partitionSpec = Some(SnapshotStore.PartitionSpec("div100", "k")))
      // later deliveries must CARRY the spec and record their values
      stage("p2", 200L -> "c")
      q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotStore.partitionSpecsOf(spark, tbl).headOption ==
      Some(SnapshotStore.PartitionSpec("div100", "k")),
      "the sink's incremental commits carry the declared spec")
    val partVals = SnapshotStore.tableMeta(spark, tbl, None).toSeq.flatMap(_.partVals)
    val vals = partVals.map(_.value).toSet
    assert(vals.contains(2L), s"the post-declaration delivery recorded its value, got $vals")
    // and the pruned read works end to end: destroy the new file, read
    // the old partition (pre-declaration files are unvalued and scan)
    val f2 = partVals.find(_.value == 2L).get.file
    java.nio.file.Files.write(new java.io.File(new java.io.File(tbl), f2).toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(SnapshotStore.readPartitionRange(spark, tbl, 1L, 1L).get.count() == 2,
      "an out-of-partition streaming file is never opened")
  }
}
