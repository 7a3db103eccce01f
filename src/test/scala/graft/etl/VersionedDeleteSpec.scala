package graft.etl

import graft.SparkSuite

/** The r15 DELETE arm of the versioned store: copy-on-write keyed
  * deletes ([[VersionedLoad.delete]]), the three-arm I/U/D CDC applier
  * ([[VersionedLoad.applyCdc]]), delete-aware CDC reads
  * ([[VersionedLoad.cdcBetween]]), and the cluster-on-compact layout
  * discipline ([[VersionedLoad.compact]] with sortBy). */
class VersionedDeleteSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_vdel").toString + "/t"

  private def fact(rows: (Long, String)*) = rows.toSeq.toDF("k", "v")

  private def manifest(t: String, version: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(t), f"manifest-$version%020d").toPath), "UTF-8")
      .split("\n").toSeq

  test("delete rewrites ONLY files containing matched keys; untouched files are byte-identical; pre-delete state travels") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t,
      fact(1L -> "a", 2L -> "b", 100L -> "c", 101L -> "d").repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"))
    val dir = new java.io.File(t)
    val highFile = manifest(t, 0L).filter(_.startsWith("s "))
      .map(_.split(" ", 5)).find(_(2).toLong == 100L).get(4)
    val highBytes = java.nio.file.Files.readAllBytes(new java.io.File(dir, highFile).toPath)
    val id1 = VersionedLoad.delete(spark, t, Seq(Tuple1(1L)).toDF("k"),
      Seq("k"), asOfMicros = Some(2000L), statsCol = Some("k"))
    // head: key 1 gone, everything else intact
    assert(SnapshotStore.read(spark, t).get.as[(Long, String)].collect().sorted.toSeq ==
      Seq(2L -> "b", 100L -> "c", 101L -> "d"))
    // the untouched high file is reused BY REFERENCE, byte-identical
    assert(manifest(t, id1).filter(_.startsWith("f ")).map(_.drop(2).trim).contains(highFile))
    assert(java.util.Arrays.equals(highBytes,
      java.nio.file.Files.readAllBytes(new java.io.File(dir, highFile).toPath)),
      "an untouched file is never rewritten by a delete")
    // travel to the pre-delete version: the deleted row is still there
    assert(SnapshotStore.readVersion(spark, t, 0L).get
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq(1L -> "a", 2L -> "b", 100L -> "c", 101L -> "d"),
      "the pre-delete state stays time-travelable")
    // and timestamp travel BEFORE the delete instant resolves it too
    assert(SnapshotStore.readAsOf(spark, t, 1500L).get.count() == 4)
  }

  test("deleting absent keys is a metadata-only no-op commit: content unchanged, all files reused") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(1L -> "a", 2L -> "b"), asOfMicros = 1000L)
    val files0 = SnapshotStore.currentFiles(spark, t).toSet
    val id1 = VersionedLoad.delete(spark, t, Seq(Tuple1(99L)).toDF("k"),
      Seq("k"), asOfMicros = Some(2000L))
    assert(id1 == 1L, "the no-op still commits — the audit trail records the delete ran")
    assert(SnapshotStore.read(spark, t).get.as[(Long, String)].collect().sorted.toSeq ==
      Seq(1L -> "a", 2L -> "b"))
    assert(files0.subsetOf(SnapshotStore.currentFiles(spark, t).toSet),
      "every previous file rides along by reference")
  }

  test("applyCdc applies one I/U/D batch as ONE atomic commit") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t,
      fact(1L -> "a", 2L -> "b", 100L -> "c", 101L -> "d").repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"))
    val batch = Seq((1L, "A2", "U"), (5L, "e", "I"), (2L, "", "D"))
      .toDF("k", "v", "_op")
    val id1 = VersionedLoad.applyCdc(spark, t, batch, Seq("k"), "_op",
      asOfMicros = Some(2000L), statsCol = Some("k"))
    assert(id1 == 1L, "exactly one commit for the whole batch")
    assert(SnapshotStore.read(spark, t).get.as[(Long, String)].collect().sorted.toSeq ==
      Seq(1L -> "A2", 5L -> "e", 100L -> "c", 101L -> "d"),
      "update replaced, insert landed, delete removed — atomically")
    // the op column never reaches storage
    assert(!SnapshotStore.read(spark, t).get.columns.contains("_op"))
  }

  test("cdcBetween emits upserts AND delete pre-images, tagged; re-homed survivors stay silent") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t,
      fact(1L -> "a", 2L -> "b", 100L -> "c", 101L -> "d").repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"))
    val batch = Seq((1L, "A2", "U"), (5L, "e", "I"), (2L, "", "D"))
      .toDF("k", "v", "_op")
    val id1 = VersionedLoad.applyCdc(spark, t, batch, Seq("k"), "_op",
      asOfMicros = Some(2000L), statsCol = Some("k"))
    val cdc = VersionedLoad.cdcBetween(spark, t, 0L, id1, Seq("k"), Some("k")).get
      .select("k", "v", "_change_type").as[(Long, String, String)]
      .collect().sortBy(r => (r._3, r._1)).toSeq
    assert(cdc == Seq(
      (2L, "b", "delete"),          // the pre-image of the deleted row
      (1L, "A2", "upsert"), (5L, "e", "upsert")),
      s"exact event set expected, got $cdc")
    // a delete-only commit emits only delete events
    val id2 = VersionedLoad.delete(spark, t, Seq(Tuple1(100L)).toDF("k"),
      Seq("k"), asOfMicros = Some(3000L), statsCol = Some("k"))
    val cdc2 = VersionedLoad.cdcBetween(spark, t, id1, id2, Seq("k"), Some("k")).get
      .select("k", "v", "_change_type").as[(Long, String, String)].collect().toSeq
    assert(cdc2 == Seq((100L, "c", "delete")), s"got $cdc2")
  }

  test("compact(sortBy) re-clusters: output files carry disjoint key spans and range reads prune again") {
    val t = freshTable()
    // repartition(2) round-robins: BOTH files span the whole key range,
    // so a post-compact range read without re-clustering opens everything
    VersionedLoad.bootstrap(spark, t,
      fact(1L -> "a", 2L -> "b", 100L -> "c", 101L -> "d").repartition(2),
      asOfMicros = 1000L, statsCol = Some("k"))
    val id1 = VersionedLoad.compact(spark, t, numFiles = 2, asOfMicros = Some(1000L),
      statsCol = Some("k"), sortBy = Some("k"))
    // content identical
    assert(SnapshotStore.readVersion(spark, t, id1).get
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq(1L -> "a", 2L -> "b", 100L -> "c", 101L -> "d"))
    // spans are disjoint after the clustered rewrite
    val spans = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.stats)
      .filter(_.col == "k").map(st => (st.min, st.max)).sorted
    assert(spans.size == 2 && spans(0)._2 < spans(1)._1,
      s"disjoint per-file spans expected, got $spans")
    // destroyed-file device: a low-range read opens exactly one file
    val highFile = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.stats)
      .filter(_.col == "k").maxBy(_.min).file
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    val expected = Seq(1L, 2L, 100L, 101L)
      .filter(k => k >= spans(0)._1 && k <= spans(0)._2)
    assert(SnapshotStore.readKeyRange(spark, t, "k", spans(0)._1, spans(0)._2).get
      .as[(Long, String)].collect().sorted.toSeq.map(_._1) == expected,
      "post-compact pruning opens only the matching file")
  }

  test("compact(zorderBy) clusters BOTH dimensions: per-file spans narrow on each, reads prune on either") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // a 16×16 grid: round-robin bootstrap gives every file the FULL
    // span on both dims; the z-ordered rewrite must narrow both
    val grid = (for { a <- 0L until 16L; b <- 0L until 16L } yield (a, b, s"$a-$b"))
      .toDF("k", "k2", "v")
    VersionedLoad.bootstrap(spark, t, grid.repartition(4), asOfMicros = 1000L,
      statsCol = Some("k"), statsCols = Seq("k2"))
    val id1 = VersionedLoad.compact(spark, t, numFiles = 4, asOfMicros = Some(1000L),
      statsCol = Some("k"), statsCols = Seq("k2"), zorderBy = Seq("k", "k2"))
    assert(SnapshotStore.readVersion(spark, t, id1).get.count() == 256L,
      "content identical across the z-ordered rewrite")
    // each Morton quadrant file spans ≤ ~half of each dimension (slack
    // for the range sampler's approximate quartile bounds); round-robin
    // spanned the full 0..15 on both
    val stats   = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.stats)
    val kSpans  = stats.filter(_.col == "k")
    val k2Spans = stats.filter(_.col == "k2")
    assert(kSpans.size == 4 && k2Spans.size == 4)
    assert(kSpans.forall(st => st.max - st.min <= 9),
      s"k narrowed per file, got ${kSpans.map(st => (st.min, st.max))}")
    assert(k2Spans.forall(st => st.max - st.min <= 9),
      s"k2 narrowed per file, got ${k2Spans.map(st => (st.min, st.max))}")
    // destroyed-file device on BOTH dimensions with ONE destroy: the
    // (high, high) Morton quadrant is maximal in each dim, so a low
    // range on EITHER column must prune it
    val k2ByFile = k2Spans.map(st => st.file -> st).toMap
    val q4 = kSpans.maxBy(st => st.min + k2ByFile(st.file).min)
    val q4k2 = k2ByFile(q4.file)
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), q4.file).toPath,
      "not a parquet file".getBytes("UTF-8"))
    assert(SnapshotStore.readKeyRange(spark, t, "k", 0L, q4.min - 1).get.count() > 0,
      "pruning on the first z-order dimension")
    assert(SnapshotStore.readKeyRange(spark, t, "k2", 0L, q4k2.min - 1).get.count() > 0,
      "pruning on the second z-order dimension")
  }

  test("composite-grain merge prunes its touched-file scan on the leading statted component") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // composite grain (k, k2); files cluster by k — stats on k alone
    VersionedLoad.bootstrap(spark, t,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (100L, 10L, "c"), (101L, 20L, "d"))
        .toDF("k", "k2", "v").repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"))
    // destroy the high file: a composite-key batch confined to the low
    // file's k-range must never open it during touched-file location
    val highFile = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.stats)
      .filter(_.col == "k").maxBy(_.min).file
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    // insert key 0 sorts BELOW all data, so it falls in no file's
    // span under ANY range split the sampler picks (split-robust device)
    val batch = Seq((1L, 10L, "A2"), (0L, 50L, "e")).toDF("k", "k2", "v")
    val id1 = VersionedLoad.merge(spark, t, batch, Seq("k", "k2"),
      asOfMicros = Some(2000L), statsCol = Some("k"))
    assert(manifest(t, id1).filter(_.startsWith("f ")).map(_.drop(2).trim).contains(highFile),
      "the pruned file is reused by reference, never scanned")
    // a mismatched k2 must NOT update (composite equality), and the
    // destroyed file's stats carry forward
    val v1snap = manifest(t, id1).head.trim
    assert(spark.read.parquet(s"$t/$v1snap")
      .as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((0L, 50L, "e"), (1L, 10L, "A2"), (2L, 20L, "b")),
      "commit dir = batch + the scanned file's survivor only")
  }

  test("delete on an additively-evolved table: mixed-generation survivors read and rewrite correctly") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t,
      fact(1L -> "a", 2L -> "b", 100L -> "c", 101L -> "d").repartitionByRange(2, col("k")),
      asOfMicros = 1000L, statsCol = Some("k"))
    // additive evolution: a merge batch introduces column w
    VersionedLoad.merge(spark, t, Seq((1L, "A2", 10L)).toDF("k", "v", "w"),
      Seq("k"), asOfMicros = Some(2000L), statsCol = Some("k"))
    // delete key 2 — its file is a MIXED-generation rewrite (the
    // surviving 1 -> (A2, 10) row carries w, pre-evolution files don't)
    val id2 = VersionedLoad.delete(spark, t, Seq(Tuple1(2L)).toDF("k"),
      Seq("k"), asOfMicros = Some(3000L), statsCol = Some("k"))
    val head = SnapshotStore.readVersion(spark, t, id2).get
      .select("k", "v", "w").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(head == Seq((1L, "A2", Some(10L)), (100L, "c", None), (101L, "d", None)),
      "deleted key gone; evolved and pre-evolution survivors intact")
  }

  test("occ delete refuses a raced head like occ merge does") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(1L -> "a", 2L -> "b"), asOfMicros = 1000L)
    // a commit lands between this writer's read and its delete: the
    // OCC delete must conflict instead of silently overwriting it
    val dir = new java.io.File(t)
    val debris = f"manifest-${99L}%020d"
    java.nio.file.Files.write(new java.io.File(dir, debris).toPath,
      "torn".getBytes("UTF-8"))
    intercept[SnapshotStore.ConflictException] {
      VersionedLoad.delete(spark, t, Seq(Tuple1(1L)).toDF("k"), Seq("k"),
        asOfMicros = Some(2000L), occ = true)
    }
    // the default (non-OCC) delete keeps the debris-proof recovery
    VersionedLoad.delete(spark, t, Seq(Tuple1(1L)).toDF("k"), Seq("k"),
      asOfMicros = Some(2000L))
    assert(SnapshotStore.read(spark, t).get.as[(Long, String)].collect().toSeq ==
      Seq(2L -> "b"))
  }

  test("string-keyed merge prunes its touched-file scan by the byte-prefix stats") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    // doc-UUID-shaped string keys, clustered: {aaa,bbb} and {xxx,zzz}
    VersionedLoad.bootstrap(spark, t,
      Seq(("aaa", 1L), ("bbb", 2L), ("xxx", 3L), ("zzz", 4L))
        .toDF("id", "v").repartitionByRange(2, col("id")),
      asOfMicros = 1000L, statsCol = Some("id"))
    // destroy the high file: a batch whose keys sort entirely below its
    // lo prefix must never open it during touched-file location
    val highFile = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.typedStats)
      .filter(st => st.col == "id" && st.kind == "str")
      .maxBy(_.lo).file
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    val id1 = VersionedLoad.merge(spark, t, Seq(("a", 5L), ("aaa", 10L)).toDF("id", "v"),
      Seq("id"), asOfMicros = Some(2000L), statsCol = Some("id"))
    assert(manifest(t, id1).filter(_.startsWith("f ")).map(_.drop(2).trim).contains(highFile),
      "the out-of-range file is reused by reference, never scanned")
    val v1snap = manifest(t, id1).head.trim
    assert(spark.read.parquet(s"$t/$v1snap").as[(String, Long)].collect().sorted.toSeq ==
      Seq(("a", 5L), ("aaa", 10L), ("bbb", 2L)),
      "commit dir = batch + the scanned file's survivor only")
    // and a string-keyed DELETE prunes the same way
    val id2 = VersionedLoad.delete(spark, t, Seq(Tuple1("bbb")).toDF("id"),
      Seq("id"), asOfMicros = Some(3000L), statsCol = Some("id"))
    assert(manifest(t, id2).filter(_.startsWith("f ")).map(_.drop(2).trim).contains(highFile))
  }

  test("date-keyed merge prunes its touched-file scan by the epoch-day stats") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    val df = Seq(("1995-01-01", 1L), ("1995-06-01", 2L), ("1997-01-01", 3L), ("1997-06-01", 4L))
      .toDF("ds", "v").selectExpr("CAST(ds AS DATE) AS d", "v")
    VersionedLoad.bootstrap(spark, t, df.repartitionByRange(2, col("d")),
      asOfMicros = 1000L, statsCol = Some("d"))
    val highFile = SnapshotStore.tableMeta(spark, t, None).toSeq.flatMap(_.typedStats)
      .filter(st => st.col == "d" && st.kind == "date")
      .maxBy(_.lo.toLong).file
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    val batch = Seq(("1995-01-01", 10L), ("1994-06-01", 5L))
      .toDF("ds", "v").selectExpr("CAST(ds AS DATE) AS d", "v")
    val id1 = VersionedLoad.merge(spark, t, batch, Seq("d"),
      asOfMicros = Some(2000L), statsCol = Some("d"))
    assert(manifest(t, id1).filter(_.startsWith("f ")).map(_.drop(2).trim).contains(highFile),
      "the out-of-range file is reused by reference, never scanned")
    // the commit dir holds the batch + the scanned file's survivor only
    // (reading v0 itself would open the destroyed file — the point is
    // exactly that the MERGE never did)
    val v1snap = manifest(t, id1).head.trim
    assert(spark.read.parquet(s"$t/$v1snap").count() == 3L)
  }

  test("string-keyed CDC reads prune their probe sides by the byte-prefix stats") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t,
      Seq(("aaa", 1L), ("bbb", 2L), ("xxx", 3L), ("zzz", 4L))
        .toDF("id", "v").repartitionByRange(2, col("id")),
      asOfMicros = 1000L, statsCol = Some("id"))
    // insert key "a" sorts BELOW all data, so the new rows' span stays
    // under the high file's lo prefix under ANY range split
    val id1 = VersionedLoad.merge(spark, t, Seq(("a", 5L), ("aaa", 10L)).toDF("id", "v"),
      Seq("id"), asOfMicros = Some(2000L), statsCol = Some("id"))
    // destroy the untouched high file AFTER the merge: the value-exact
    // CDC's from-side read must prune it (the new rows' key span
    // cannot intersect the high file's)
    val highFile = SnapshotStore.tableMeta(spark, t, Some(0L)).toSeq.flatMap(_.typedStats)
      .filter(st => st.col == "id" && st.kind == "str").maxBy(_.lo).file
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), highFile).toPath,
      "not a parquet file".getBytes("UTF-8"))
    val ups = VersionedLoad.upsertsBetween(spark, t, 0L, id1, Some("id")).get
      .as[(String, Long)].collect().sorted.toSeq
    assert(ups == Seq(("a", 5L), ("aaa", 10L)),
      "updates and inserts emit; the out-of-span from-file is never opened")
  }

  test("history lists the retained committed versions newest-first with as-of and file counts") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(1L -> "a", 2L -> "b"), asOfMicros = 1000L)
    VersionedLoad.refresh(spark, t, fact(3L -> "c"), Seq("k"), asOfMicros = 2000L)
    VersionedLoad.delete(spark, t, Seq(Tuple1(1L)).toDF("k"), Seq("k"),
      asOfMicros = Some(3000L))
    val h = SnapshotStore.history(spark, t)
    assert(h.map(_.version) == Seq(2L, 1L, 0L), "newest first")
    assert(h.map(_.asOfMicros) == Seq(Some(3000L), Some(2000L), Some(1000L)))
    // v1 references the bootstrap file by reuse + its own delta file;
    // the delete rewrote the only touched file, so v2's count holds too
    assert(h.forall(_.numFiles >= 1))
    assert(h.forall(_.primarySnapshot.startsWith("snapshot-")))
    // metadata only: history never opens a data file, so it works even
    // with every parquet byte destroyed
    SnapshotStore.currentFiles(spark, t).foreach { f =>
      java.nio.file.Files.write(new java.io.File(new java.io.File(t), f).toPath,
        "x".getBytes("UTF-8"))
    }
    assert(SnapshotStore.history(spark, t).size == 3)
  }

  test("vacuum collects crashed-writer orphans without touching retained history or claimed dirs") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(1L -> "a", 2L -> "b"), asOfMicros = 1000L)
    VersionedLoad.refresh(spark, t, fact(3L -> "c"), Seq("k"), asOfMicros = 2000L)
    val dir = new java.io.File(t)
    // a crashed writer's debris: snapshot written, manifest never claimed
    // — invisible to in-commit GC until the manifest count exceeds keep
    val orphan = new java.io.File(dir, "snapshot-00000000000000000009-dead")
    orphan.mkdirs()
    java.nio.file.Files.write(new java.io.File(orphan, "part-junk.parquet").toPath,
      Array[Byte](1, 2, 3))
    // a torn commit: manifest claimed, content names a dir — must survive
    val tornDir = new java.io.File(dir, "snapshot-00000000000000000008-torn")
    tornDir.mkdirs()
    java.nio.file.Files.write(new java.io.File(tornDir, "part-x.parquet").toPath,
      Array[Byte](7))
    java.nio.file.Files.write(new java.io.File(dir, f"manifest-${8L}%020d").toPath,
      "snapshot-00000000000000000008-torn".getBytes("UTF-8"))
    SnapshotStore.vacuum(spark, t, keep = 16)
    assert(!orphan.exists(), "the unclaimed orphan dir is collected")
    assert(tornDir.exists(), "a claimed (even torn) dir survives whole")
    // retained history fully intact and readable
    assert(SnapshotStore.readVersion(spark, t, 0L).get.count() == 2)
    assert(SnapshotStore.read(spark, t).get.count() == 3)
    // vacuum with a small keep also trims history like the commit path
    SnapshotStore.vacuum(spark, t, keep = 1)
    assert(SnapshotStore.readVersion(spark, t, 0L).isEmpty, "aged-out version gone")
    assert(SnapshotStore.read(spark, t).get.count() == 3, "head intact")
  }

  test("two CDC writers through withConflictRetry both commit, exactly once each") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(1L -> "a", 2L -> "b"), asOfMicros = 1000L)
    // two writers race disjoint I/U/D batches; each retries on conflict
    // and recomputes against the winner's head
    val b1 = Seq((1L, "A2", "U"), (10L, "x", "I")).toDF("k", "v", "_op")
    val b2 = Seq((2L, "", "D"), (20L, "y", "I")).toDF("k", "v", "_op")
    val threads = Seq(b1, b2).zipWithIndex.map { case (b, i) =>
      new Thread(() => {
        VersionedLoad.withConflictRetry() {
          VersionedLoad.applyCdc(spark, t, b, Seq("k"), "_op",
            asOfMicros = Some(2000L + i), occ = true)
        }: Unit
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(SnapshotStore.read(spark, t).get.as[(Long, String)].collect().sorted.toSeq ==
      Seq(1L -> "A2", 10L -> "x", 20L -> "y"),
      "both writers' effects present exactly once: update, delete, both inserts")
  }

  test("applyCdc rejects a missing or key-colliding op column loudly") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(1L -> "a"), asOfMicros = 1000L)
    intercept[IllegalArgumentException] {
      VersionedLoad.applyCdc(spark, t, fact(2L -> "b"), Seq("k"), "_op",
        asOfMicros = None)
    }
    intercept[IllegalArgumentException] {
      VersionedLoad.applyCdc(spark, t,
        Seq((2L, "b", "I")).toDF("k", "v", "_op"), Seq("k", "_op"), "_op",
        asOfMicros = None)
    }
  }

  test("upsertsBetween fails loudly on a non-additive chain instead of under-reporting changes") {
    val t = freshTable()
    val wide = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w")
    VersionedLoad.bootstrap(spark, t, wide, asOfMicros = 1000L)
    // a raw promote that DROPS column w — the non-additive break the
    // CDC read's schema alignment cannot silently absorb
    SnapshotStore.promote(spark, t, fact(1L -> "a", 3L -> "c"),
      asOfMicros = Some(2000L))
    val ex = intercept[IllegalStateException] {
      VersionedLoad.upsertsBetween(spark, t, 0L, 1L).get.count()
    }
    assert(ex.getMessage.contains("not additive"))
  }
}
