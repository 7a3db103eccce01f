package graft.etl

import java.time.{Instant, LocalDate}

import graft.SparkSuite
import graft.etl.SnapshotStore.{PartitionSpec, TableMeta, TypedFileStat}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, datediff, expr, lit, unix_micros}
import org.apache.spark.sql.sources
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.util.Random

/** Seeded property test of the store's one pruning decision
  * ([[FilePrune]]). Layouts mix long, date, timestamp and string stats,
  * identity, div, year, month and bucket specs, null counts (some files
  * all-null in a column) and unstatted, unvalued files from an earlier
  * commit. For every random predicate:
  *
  *  1. every file holding a matching row is kept;
  *  2. the hand-called reader opens exactly the files the DSv2 source
  *     plans for the equivalent `filter(...)`.
  *
  * Plus the soundness guards the decision keeps. */
class FilePruneProps extends SparkSuite {
  import FilePruneProps._
  import spark.implicits._

  private val Day0 = LocalDate.parse("2021-11-20").toEpochDay
  private val Micros0 = 1600000000000000L
  private val Prefixes = IndexedSeq("a", "b", "m", "z", "é", "日")

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_fileprune").toString + "/t"

  private type Row6 = (Long, Option[Long], Option[Long], Option[LocalDate], Option[Instant], Option[String])

  private def str(rnd: Random, prefix: String): String = rnd.nextInt(12) match {
    case 0 => ""
    case 1 => prefix + "x" * 70 + rnd.nextInt(100) // longer than the 64-byte stat prefix
    case _ => prefix + Iterator.fill(rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString
  }

  /** One file's rows: mostly narrow value clusters (so many files carry
    * a concrete partition value), a few random nulls, often a column
    * null in every row. */
  private def chunk(rnd: Random, f: Long): Seq[Row6] = {
    val allNull = if (rnd.nextInt(3) == 0) Some(rnd.nextInt(5)) else None
    // a single-key file is single-valued under bucket<N> too
    val (kLo, kW) = (rnd.nextInt(900).toLong, Seq(0, 8, 80)(rnd.nextInt(3)))
    val (g, gMixed) = (rnd.nextInt(4).toLong, rnd.nextInt(4) == 0)
    val (dLo, dW) = (Day0 + rnd.nextInt(1100), if (rnd.nextInt(3) > 0) rnd.nextInt(25) else 90)
    val (tLo, tW) = (Micros0 + rnd.nextInt(1000000) * 1000000L, 1 + rnd.nextInt(50000000))
    val prefix = Prefixes(rnd.nextInt(Prefixes.size))
    Seq.fill(4 + rnd.nextInt(12)) {
      def opt[A](c: Int)(v: => A): Option[A] =
        if (allNull.contains(c) || rnd.nextInt(12) == 0) None else Some(v)
      (f, opt(0)(kLo + rnd.nextInt(kW + 1)),
        opt(1)(if (gMixed) rnd.nextInt(4).toLong else g),
        opt(2)(LocalDate.ofEpochDay(dLo + rnd.nextInt(dW + 1))),
        opt(3)(Instant.EPOCH.plusNanos((tLo + rnd.nextInt(tW)) * 1000L)),
        opt(4)(str(rnd, prefix)))
    }
  }

  private def frame(rows: Seq[Row6], files: Int): DataFrame =
    rows.toDF("f", "k", "g", "d", "ts", "s").repartitionByRange(files, col("f")).drop("f")

  /** Two commits: two unstatted, unvalued files, then the rest with
    * stats on k/d/ts/s under `specs`, reusing the first two. */
  private def layout(seed: Long, specs: Seq[PartitionSpec]): String = {
    val rnd = new Random(seed)
    val t = freshTable()
    SnapshotStore.promote(spark, t, frame((0L until 2L).flatMap(chunk(rnd, _)), 2)): Unit
    SnapshotStore.promote(spark, t, frame((2L until 10L).flatMap(chunk(rnd, _)), 8),
      reuseFiles = SnapshotStore.currentFiles(spark, t),
      statsCols = Seq("k", "d", "ts", "s"), partitionSpecs = specs): Unit
    t
  }

  private def rowsOf(t: String): Seq[R] =
    SnapshotStore.read(spark, t).get.select(
      expr("regexp_extract(input_file_name(), '([^/]+/[^/]+)$', 1)"), col("k"), col("g"),
      datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"), unix_micros(col("ts")),
      col("s")).collect().toSeq.map { r =>
      def l(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      R(r.getString(0), l(1), l(2), l(3), l(4), Option(r.getString(5)))
    }

  private def bytesLe(a: String, b: String) = FilePrune.cmpBytes(a.getBytes("UTF-8"), b.getBytes("UTF-8")) <= 0

  /** An inclusive [lo, hi] probing the data's edges: each end is an
    * existing value, one off an existing value, or uniform over
    * [min, max]; a quarter of the ranges are points. */
  private def span(rnd: Random, vs: IndexedSeq[Long], min: Long, max: Long): (Long, Long) = {
    def end(): Long = rnd.nextInt(4) match {
      case 0 | 1 => vs(rnd.nextInt(vs.size))
      case 2     => vs(rnd.nextInt(vs.size)) + (if (rnd.nextBoolean()) 1 else -1)
      case _     => min + (rnd.nextDouble() * (max - min)).toLong
    }
    val a = end()
    val b = rnd.nextInt(4) match {
      case 0 => a
      case 1 => end()
      case _ => a + (rnd.nextDouble() * (max - min) / 20).toLong
    }
    (math.min(a, b), math.max(a, b))
  }

  private def pred(rnd: Random, rows: Seq[R]): Pred = rnd.nextInt(5) match {
    case 0 =>
      // k carries stats; g only an identity value in one layout
      val (c, value) = if (rnd.nextInt(3) > 0) ("k", (r: R) => r.k) else ("g", (r: R) => r.g)
      val vs = rows.flatMap(value).toIndexedSeq
      val (lo, hi) =
        if (rnd.nextBoolean()) { val v = vs(rnd.nextInt(vs.size)); (v, v) } // point lookup
        else span(rnd, vs, -20L, 1000L)
      Pred(s"$c in [$lo, $hi]", SnapshotStore.readKeyRange(spark, _, c, lo, hi),
        col(c).between(lo, hi), value(_).exists(v => v >= lo && v <= hi))
    case 1 =>
      val (lo, hi) = span(rnd, rows.flatMap(_.d).toIndexedSeq, Day0 - 20, Day0 + 1150)
      val (loD, hiD) = (LocalDate.ofEpochDay(lo), LocalDate.ofEpochDay(hi))
      Pred(s"d in [$loD, $hiD]", SnapshotStore.readDateRange(spark, _, "d", loD.toString, hiD.toString),
        col("d").between(lit(loD), lit(hiD)), _.d.exists(v => v >= lo && v <= hi))
    case 2 =>
      val (lo, hi) = span(rnd, rows.flatMap(_.ts).toIndexedSeq,
        Micros0 - 1000000L, Micros0 + 1000000L * 1000000L)
      def at(m: Long) = lit(Instant.EPOCH.plusNanos(m * 1000L))
      Pred(s"ts in [$lo, $hi]", SnapshotStore.readTimestampRange(spark, _, "ts", lo, hi),
        col("ts").between(at(lo), at(hi)), _.ts.exists(v => v >= lo && v <= hi))
    case 3 =>
      // existing strings, their prefixes, or fresh ones
      val ss = rows.flatMap(_.s).toIndexedSeq
      def end(): String = rnd.nextInt(3) match {
        case 0 => ss(rnd.nextInt(ss.size))
        case 1 => val v = ss(rnd.nextInt(ss.size)); v.take(rnd.nextInt(v.length + 1))
        case _ => str(rnd, Prefixes(rnd.nextInt(Prefixes.size)))
      }
      val Seq(lo, hi) = Seq(end(), end()).sortWith((a, b) => !bytesLe(b, a))
      Pred(s"s in ['$lo', '$hi']", SnapshotStore.readStringRange(spark, _, "s", lo, hi),
        col("s") >= lit(lo) && col("s") <= lit(hi), _.s.exists(v => bytesLe(lo, v) && bytesLe(v, hi)))
    case _ =>
      val c = Seq("k", "g", "d", "ts", "s")(rnd.nextInt(5))
      val isNull = rnd.nextBoolean()
      val value: R => Option[Any] = Map[String, R => Option[Any]](
        "k" -> (_.k), "g" -> (_.g), "d" -> (_.d), "ts" -> (_.ts), "s" -> (_.s))(c)
      Pred(s"$c is${if (isNull) "" else " not"} null",
        SnapshotStore.readNullFilter(spark, _, c, isNull),
        if (isNull) col(c).isNull else col(c).isNotNull, r => value(r).isEmpty == isNull)
  }

  private def rel(path: String): String = path.split('/').takeRight(2).mkString("/")

  private def sourceFiles(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[graft.sources.StoreScan].files
    }.flatten.toSet

  private val layouts = Seq(
    "div10(k) x month(d)" -> Seq(PartitionSpec("div10", "k"), PartitionSpec("month", "d")),
    "identity(g) x year(d) x bucket4(k)" ->
      Seq(PartitionSpec("identity", "g"), PartitionSpec("year", "d"), PartitionSpec("bucket4", "k")))

  for ((name, specs) <- layouts; seed <- Seq(7L, 11L)) {
    test(s"$name, seed $seed: random predicates keep every matching file; readers open what the DSv2 source plans") {
      val t = layout(seed, specs)
      val rows = rowsOf(t)
      val all = SnapshotStore.currentFiles(spark, t).toSet
      assert(all.size >= 6, s"the layout should span several files, got ${all.size}")
      val rnd = new Random(seed * 31)
      var pruning = 0
      (1 to 150).foreach { _ =>
        val p = pred(rnd, rows)
        val opened = p.read(t).get.inputFiles.map(rel).toSet
        val needed = rows.filter(p.matches).map(_.file).toSet
        assert(needed.subsetOf(opened), s"${p.label}: pruned files holding matches ${needed -- opened}")
        val planned = sourceFiles(
          spark.read.format("graft.sources.StoreSource").load(t).filter(p.filter))
        assert(opened == planned, s"${p.label}: reader opens $opened, the DSv2 source plans $planned")
        if (opened.size < all.size) pruning += 1
      }
      assert(pruning > 50, s"only $pruning of 150 predicates pruned anything — the layout is too wide")
    }
  }

  test("guard: a fractional literal on an integral column stays residual-only in the DSv2 source") {
    val t = layout(3L, Nil)
    val files = SnapshotStore.currentFiles(spark, t)
    def builder() = new graft.sources.StoreSource()
      .getTable(SnapshotStore.tableSchema(spark, t).get, Array.empty,
        java.util.Map.of("path", t)).asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).asInstanceOf[SupportsPushDownFilters]
    assert(FilePrune.literal("long", 4.5).isEmpty && FilePrune.literal("long", 4L).contains(4L))
    val fractional = builder()
    fractional.pushFilters(Array(sources.GreaterThan("k", 4.5), sources.LessThan("k", 4.5)))
    assert(fractional.pushedFilters().isEmpty)
    assert(fractional.build().description().contains(s"(${files.size} files after pruning)"),
      "an unpushed fractional bound must not prune")
    val whole = builder()
    whole.pushFilters(Array(sources.LessThan("k", java.lang.Long.valueOf(-1L))))
    assert(whole.pushedFilters().length == 1)
    val unstatted = SnapshotStore.filesForVersion(spark, t, 0L).get.size
    assert(whole.build().description().contains(s"($unstatted files after pruning)"),
      "a whole-number bound below every key keeps only the unstatted files")
  }

  test("guard: an all-0xFF truncated string max keeps its file; a finite truncated max prunes") {
    def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
    val ff = Array(0xFF, 0xFF).map(_.toByte)
    val meta = TableMeta(Seq("a/f1", "a/f2"), Nil, Seq(
      TypedFileStat("a/f1", "s", "str", b64("m".getBytes("UTF-8")), b64(ff), hiTrunc = true),
      TypedFileStat("a/f2", "s", "str", b64("m".getBytes("UTF-8")), b64("n".getBytes("UTF-8")),
        hiTrunc = true)), Nil, Nil, Map.empty, Nil, None)
    assert(FilePrune.incrBytes(ff).isEmpty)
    // above the successor of f2's truncated max "n" but below nothing for f1
    assert(FilePrune.keep(meta, Seq(FilePrune.Bytes("s", Array(0xFE.toByte), None))) == Seq("a/f1"))
    // inside f2's bound: both keep
    assert(FilePrune.keep(meta, Seq(FilePrune.Bytes("s", "nz".getBytes("UTF-8"), None))) ==
      Seq("a/f1", "a/f2"))
  }
}

object FilePruneProps {
  /** One table row, in the stat domains, with its file. */
  final case class R(file: String, k: Option[Long], g: Option[Long], d: Option[Long],
      ts: Option[Long], s: Option[String])

  /** A random predicate: the reader call, the equivalent DataFrame
    * filter, and the row-level truth. */
  final case class Pred(label: String, read: String => Option[DataFrame],
      filter: Column, matches: R => Boolean)
}
