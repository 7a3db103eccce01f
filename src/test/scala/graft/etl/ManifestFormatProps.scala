package graft.etl

import graft.etl.SnapshotStore._
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The manifest format and its planner, with no SparkSession:
  *
  *  1. a seeded property: `parseManifest(renderManifest(m)) == m` for
  *     manifests carrying every line kind (`f s t r n p v c x`), with and
  *     without an as-of, `?` partition values, truncated string stats
  *     and paths that contain spaces;
  *  2. plain cases of [[SnapshotStore.planManifest]]'s carry rules. */
class ManifestFormatProps extends AnyFunSuite {
  import ManifestFormatProps._

  test("parseManifest inverts renderManifest for every line kind (seeded)") {
    val prop = Prop.forAll(manifest) { m =>
      val back = parseManifest(renderManifest(m))
      Prop(back == m) :| s"rendered:\n${renderManifest(m)}\nparsed back: $back"
    }
    val res = Test.check(Test.Parameters.default.withInitialSeed(Seed(20261019L))
      .withMinSuccessfulTests(400).withMaxSize(12), prop)
    assert(res.passed, res.status.toString)
  }

  private val schema = StructType(Seq(StructField("k", LongType), StructField("d", DateType),
    StructField("s", StringType)))
  private val specs = Seq(PartitionSpec("year", "d"), PartitionSpec("identity", "k"))

  /** A committed head over three files a, b and c, each with every
    * per-file record, two specs and one txn marker. */
  private val head: ManifestData = {
    val files = Seq("snapshot-a/a.parquet", "snapshot-a/b c.parquet", "snapshot-a/c.parquet")
    ManifestData("snapshot-a", Some(7L), files,
      stats = files.map(f => FileStat(f, "k", 1L, 9L)),
      typedStats = files.map(f => TypedFileStat(f, "s", "str", "YQ==", "eg==", hiTrunc = true)),
      specs = specs,
      partVals = files.map(f => FilePartition(f, Seq(Some(2021L), None))),
      rowCounts = files.map(_ -> 10L).toMap,
      nullStats = files.map(f => FileNullStat(f, "s", 2L)),
      schemaJson = Some(schema.json), txns = Map("app" -> 3L), terminated = true)
  }
  private val own = "snapshot-b/x.parquet"
  private val ownRecords = FileRecords(stats = Seq(FileStat(own, "k", 20L, 30L)),
    partVals = Seq(FilePartition(own, Seq(Some(2022L), Some(25L)))),
    rowCounts = Map(own -> 4L), nullStats = Seq(FileNullStat(own, "s", 0L)))
  private val reused = head.files.take(2)

  private def filesOf(m: ManifestData): Set[String] =
    (m.stats.map(_.file) ++ m.typedStats.map(_.file) ++ m.partVals.map(_.file) ++
      m.rowCounts.keys ++ m.nullStats.map(_.file)).toSet

  test("planner: a reuse commit carries only the reused files' records") {
    val m = planManifest(Some(head), "snapshot-b", Some(8L), reused, Seq(own), ownRecords,
      Nil, schema, Some("job" -> 1L))
    assert(m.files == reused :+ own)
    assert(filesOf(m) == (reused :+ own).toSet, "file c's records must not carry")
    assert(m.stats == ownRecords.stats ++ head.stats.take(2))
    assert(m.typedStats == head.typedStats.take(2))
    assert(m.partVals == ownRecords.partVals ++ head.partVals.take(2), "specs unchanged: v carries")
    assert(m.rowCounts == Map(own -> 4L) ++ reused.map(_ -> 10L))
    assert(m.specs == specs && m.txns == Map("app" -> 3L, "job" -> 1L) && m.asOf.contains(8L))
    assert(m.schema.contains(schema), m.schemaJson)
    assert(parseManifest(renderManifest(m)) == m)
  }

  test("planner: a changed spec list drops the carried v lines") {
    val evolved = Seq(PartitionSpec("month", "d"))
    val m = planManifest(Some(head), "snapshot-b", None, reused, Seq(own),
      ownRecords.copy(partVals = Seq(FilePartition(own, Seq(Some(202201L))))),
      evolved, schema, None)
    assert(m.specs == evolved)
    assert(m.partVals == Seq(FilePartition(own, Seq(Some(202201L)))),
      "reused files' old-spec values must not carry under the new spec")
    assert(m.stats.map(_.file) == own +: reused, "the other records still carry")
  }

  test("planner: a full rewrite that loses a spec column drops every spec") {
    val noDate = StructType(schema.fields.filterNot(_.name == "d"))
    val m = planManifest(Some(head), "snapshot-b", None, Nil, Seq(own), FileRecords(),
      Nil, noDate, None)
    assert(m.specs.isEmpty, "a partial list would renumber the dimensions")
    assert(m.files.isEmpty && filesOf(m).isEmpty, "a full rewrite carries no file records")
    assert(m.txns == head.txns, "txn markers carry across a full rewrite")
    assert(m.schema.map(_.fieldNames.toSeq).contains(Seq("k", "s")))
    // with the spec columns intact, the same rewrite keeps the whole list
    assert(planManifest(Some(head), "snapshot-b", None, Nil, Seq(own), FileRecords(),
      Nil, schema, None).specs == specs)
  }
}

object ManifestFormatProps {
  private val token: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(10).mkString)
  /** Root-relative, and sometimes with spaces inside the file name. */
  private val path: Gen[String] = for {
    dir   <- token
    parts <- Gen.nonEmptyListOf(token)
  } yield s"$dir/${parts.take(3).mkString(" ")}.parquet"
  private val long: Gen[Long] =
    Gen.frequency(8 -> Gen.choose(-1000000L, 1000000L), 1 -> Long.MinValue, 1 -> Long.MaxValue)
  private def b64(bytes: Seq[Byte]): String = {
    val s = java.util.Base64.getEncoder.encodeToString(bytes.toArray)
    if (s.isEmpty) "-" else s
  }
  private val bytes: Gen[Seq[Byte]] =
    Gen.choose(0, StatPrefixBytes).flatMap(Gen.listOfN(_, Gen.choose(-128, 127).map(_.toByte)))
  private val typedStat: Gen[TypedFileStat] = for {
    f    <- path
    c    <- token
    kind <- Gen.oneOf("date", "ts", "str")
    stat <- if (kind == "str")
      Gen.zip(bytes, bytes, Gen.oneOf(true, false)).map { case (lo, hi, tr) =>
        TypedFileStat(f, c, kind, b64(lo), b64(hi), tr) }
    else Gen.zip(long, long).map { case (lo, hi) =>
      TypedFileStat(f, c, kind, lo.toString, hi.toString, hiTrunc = false) }
  } yield stat
  private val schemaJson: Gen[String] =
    Gen.nonEmptyListOf(Gen.zip(token, Gen.oneOf(LongType, DateType, StringType)))
      .map(fs => StructType(fs.distinctBy(_._1).map { case (n, t) => StructField(n, t) }).json)

  val manifest: Gen[ManifestData] = for {
    snap     <- Gen.oneOf(token, long.map(id => f"snapshot-${id & Long.MaxValue}%020d-0a1b2c3d"))
    asOf     <- Gen.option(long)
    files    <- Gen.listOf(path)
    stats    <- Gen.listOf(Gen.zip(path, token, long, long).map { case (f, c, lo, hi) =>
      FileStat(f, c, lo, hi) })
    typed    <- Gen.listOf(typedStat)
    specs    <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.zip(
      Gen.oneOf("identity", "year", "month", "div10000", "bucket8"), token)
      .map { case (tr, c) => PartitionSpec(tr, c) }))
    partVals <- if (specs.isEmpty) Gen.const(Nil)
      else Gen.listOf(Gen.zip(path, Gen.listOfN(specs.size, Gen.option(long)))
        .map { case (f, vs) => FilePartition(f, vs) })
    rows     <- Gen.mapOf(Gen.zip(path, Gen.choose(0L, Long.MaxValue)))
    nulls    <- Gen.listOf(Gen.zip(path, token, Gen.choose(0L, 1000000L)).map { case (f, c, n) =>
      FileNullStat(f, c, n) })
    schema   <- Gen.option(schemaJson)
    txns     <- Gen.mapOf(Gen.zip(token, long))
  } yield ManifestData(snap, asOf, files, stats, typed, specs, partVals, rows, nulls,
    schema, txns, terminated = true)
}
