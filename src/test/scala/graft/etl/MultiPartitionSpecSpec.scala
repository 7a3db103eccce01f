package graft.etl

import graft.SparkSuite

/** Multi-column partition specs (r17 — Iceberg's spec = an ordered
  * transform LIST): repeated `p` headers + `v <v1> <v2> <path>` tuple
  * lines with `?` for a dimension a file is multi-valued in, pruning
  * as the INTERSECTION of per-dimension keep sets
  * ([[SnapshotStore.readPartitionRanges]]), per-dimension
  * destroyed-file proof, and evolution (a spec-list change applies
  * forward; old tuples drop — they would misparse or mis-prune under
  * the new arity). */
class MultiPartitionSpecSpec extends SparkSuite {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_mpspec").toString + "/t"

  private def manifest(t: String, version: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(new java.io.File(t), f"manifest-$version%020d").toPath), "UTF-8")
      .split("\n").toSeq

  private def destroy(t: String, file: String): Unit =
    java.nio.file.Files.write(new java.io.File(new java.io.File(t), file).toPath,
      "not a parquet file".getBytes("UTF-8")): Unit

  private val specs = Seq(
    SnapshotStore.PartitionSpec("year", "d"),
    SnapshotStore.PartitionSpec("div100", "g"))

  // (year, group) fact: 2×2 partitions, one file each, clustered by the
  // write-side layout helper (clusterBySpecs — the one transform
  // definition shapes the layout the spec then indexes)
  private def fact() =
    SnapshotStore.clusterBySpecs(
      Seq((10L, "1995-03-01", 1L, "a"), (11L, "1995-09-01", 1L, "b"),
          (20L, "1995-04-01", 200L, "c"), (21L, "1995-10-01", 200L, "d"),
          (30L, "1997-02-01", 1L, "e"), (31L, "1997-08-01", 1L, "f"),
          (40L, "1997-03-01", 200L, "g"), (41L, "1997-09-01", 200L, "h"))
        .toDF("k", "ds", "g", "v")
        .selectExpr("k", "CAST(ds AS DATE) AS d", "g", "v"),
      specs, 4)

  // v-tuple lines of a manifest as (dim0, dim1, path) string triples
  private def vTuples(m: Seq[String]): Seq[(String, String, String)] =
    m.filter(_.startsWith("v ")).map(_.split(" ", 4)).map(a => (a(1), a(2), a(3)))

  test("bootstrap under two specs records repeated p headers and v tuple lines") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(), asOfMicros = 1000L,
      partitionSpecs = specs)
    val m = manifest(t, 0L)
    // headers in declaration order
    val pIdx = m.zipWithIndex.filter(_._1.startsWith("p "))
    assert(pIdx.map(_._1) == Seq("p year d", "p div100 g"),
      s"ordered p headers expected, got $m")
    assert(vTuples(m).map(v => (v._1, v._2)).toSet ==
      Set(("1995", "0"), ("1995", "2"), ("1997", "0"), ("1997", "2")),
      s"one v tuple per (year, group) file expected, got $m")
    assert(SnapshotStore.partitionSpecsOf(spark, t) == specs)
    assert(SnapshotStore.partitionSpecsOf(spark, t).headOption == specs.headOption,
      "the single-spec accessor reports the leading dimension")
  }

  test("per-dimension destroyed-file pruning and the intersection of keep sets") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(), asOfMicros = 1000L,
      partitionSpecs = specs)
    val vs = vTuples(manifest(t, 0L))
    // destroy everything EXCEPT (1995, group 0): a both-dims probe must
    // open only the surviving file — each other file is excluded by at
    // least one dimension, so the intersection prunes all three
    vs.filterNot(v => v._1 == "1995" && v._2 == "0").foreach(v => destroy(t, v._3))
    assert(SnapshotStore.readPartitionRanges(spark, t,
        Seq(Some((1995L, 1995L)), Some((0L, 0L)))).get
      .select("v").as[String].collect().sorted.toSeq == Seq("a", "b"),
      "the intersection opens only the file matching BOTH dimensions")
    // dim-1-only probe (leading dim unconstrained, None): would need the
    // destroyed (1997, 0) file → must fail if opened; here we assert the
    // SOUND direction on a fresh table instead
    val t2 = freshTable()
    VersionedLoad.bootstrap(spark, t2, fact(), asOfMicros = 1000L,
      partitionSpecs = specs)
    val vs2 = vTuples(manifest(t2, 0L))
    // destroy the group-2 files only: a dim1=[0,0] probe never opens them
    vs2.filter(_._2 == "2").foreach(v => destroy(t2, v._3))
    assert(SnapshotStore.readPartitionRanges(spark, t2,
        Seq(None, Some((0L, 0L)))).get
      .select("v").as[String].collect().sorted.toSeq == Seq("a", "b", "e", "f"),
      "a trailing-dimension-only probe prunes by that dimension alone")
  }

  test("a file multi-valued in one dimension records ? there and still prunes on the concrete one") {
    import org.apache.spark.sql.functions.{col, year}
    val t = freshTable()
    // repartition by year only: files span both groups → dim1 is `?`
    VersionedLoad.bootstrap(spark, t,
      fact().repartitionByRange(2, year(col("d"))),
      asOfMicros = 1000L, partitionSpecs = specs)
    val vs = vTuples(manifest(t, 0L))
    assert(vs.nonEmpty && vs.forall(_._2 == "?"),
      s"mixed-group files must record ? on dim 1, got $vs")
    assert(vs.map(_._1).toSet == Set("1995", "1997"),
      s"year stays concrete, got $vs")
    // concrete dim prunes: destroy 1997, read 1995 with a dim1 probe —
    // the `?` dimension must-scans but the year dimension still prunes
    vs.filter(_._1 == "1997").foreach(v => destroy(t, v._3))
    assert(SnapshotStore.readPartitionRanges(spark, t,
        Seq(Some((1995L, 1995L)), Some((0L, 0L)))).get
      .select("v").as[String].collect().sorted.toSeq == Seq("a", "b"),
      "? on one dimension leaves the other dimension's prune intact")
  }

  test("evolution: dropping to a one-dimension spec voids old tuples; old manifests keep the two-dim spec") {
    import org.apache.spark.sql.functions.col
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(), asOfMicros = 1000L,
      statsCol = Some("k"), partitionSpecs = specs)
    // evolve: identity(g) alone, via a reuse-everything metadata commit
    SnapshotStore.promote(spark, t,
      SnapshotStore.read(spark, t).get.limit(0), keep = 16, asOfMicros = Some(2000L),
      reuseFiles = SnapshotStore.currentFiles(spark, t),
      partitionSpec = Some(SnapshotStore.PartitionSpec("identity", "g")))
    val m1 = manifest(t, 1L)
    assert(m1.count(_.startsWith("p ")) == 1 && m1.contains("p identity g"),
      s"the new one-dimension spec applies forward, got $m1")
    assert(!m1.exists(_.startsWith("v ")),
      s"old two-dim tuples must NOT carry under the new spec (wrong arity), got $m1")
    assert(SnapshotStore.partitionSpecsOf(spark, t, Some(0L)) == specs,
      "the old manifest keeps its own two-dimension spec")
    // the old version still pruned: destroy a 1997 file, v0 read of 1995
    val vs = vTuples(manifest(t, 0L))
    vs.filter(_._1 == "1997").foreach(v => destroy(t, v._3))
    assert(SnapshotStore.readPartitionRanges(spark, t,
        Seq(Some((1995L, 1995L))), version = Some(0L)).get.count() == 4,
      "version travel prunes under the pinned manifest's own spec list")
  }

  test("a refresh carries the FULL spec list and the reused tuples; over-long ranges vectors throw") {
    val t = freshTable()
    VersionedLoad.bootstrap(spark, t, fact(), asOfMicros = 1000L,
      statsCol = Some("k"), partitionSpecs = specs)
    import org.apache.spark.sql.functions.{col, year}
    val batch = Seq((50L, "1998-01-01", 1L, "i")).toDF("k", "ds", "g", "v")
      .selectExpr("k", "CAST(ds AS DATE) AS d", "g", "v")
    VersionedLoad.refresh(spark, t, batch, Seq("k"), asOfMicros = 2000L)
    val m1 = manifest(t, 1L)
    assert(m1.zipWithIndex.filter(_._1.startsWith("p ")).map(_._1) ==
      Seq("p year d", "p div100 g"), "the full ordered list carries")
    assert(vTuples(m1).size == 5,
      s"4 reused tuples + the new file's tuple expected, got ${vTuples(m1)}")
    intercept[IllegalArgumentException] {
      SnapshotStore.readPartitionRanges(spark, t,
        Seq(Some((1L, 2L)), Some((1L, 2L)), Some((1L, 2L)))).get.count()
    }
    // write-path dual pruning intersects BOTH dimensions when both are
    // grain keys: merge on (d, g, k) — the batch's spans prune through
    // each spec dimension (soundness: result must still be exact)
    val up = Seq((10L, "1995-03-01", 1L, "A")).toDF("k", "ds", "g", "v")
      .selectExpr("k", "CAST(ds AS DATE) AS d", "g", "v")
    VersionedLoad.merge(spark, t, up, Seq("d", "g", "k"), asOfMicros = Some(3000L))
    assert(SnapshotStore.read(spark, t).get
      .filter(col("k") === 10L).select("v").as[String].collect().toSeq == Seq("A"))
    assert(SnapshotStore.read(spark, t).get.count() == 9)
  }
}
