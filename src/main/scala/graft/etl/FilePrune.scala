package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, count, datediff, lit, max, min, unix_micros, when}
import org.apache.spark.sql.types._

import SnapshotStore.{PartitionSpec, TableMeta}

/** The ONE file-pruning decision of the versioned store: given one
  * resolved manifest ([[SnapshotStore.TableMeta]]) and a conjunction of
  * bounds, which files can hold a matching row. Every pruned access path
  * routes through it — the range readers ([[SnapshotStore.readKeyRange]]
  * and its typed, partition and null siblings), the DSv2 source's pushed
  * filters, and [[VersionedLoad]]'s CDC span prune and copy-on-write
  * touched-file location — so the stat lines are decoded in one place
  * and every path prunes under the same rules:
  *
  *  - stat domains: `s` lines hold raw longs, `t date` epoch days, `t ts`
  *    epoch micros, `t str` Base64 UTF-8 byte prefixes compared in
  *    unsigned byte order (Spark's and DuckDB's string order); a
  *    truncated string max bounds values strictly below its byte
  *    successor, and an all-0xFF truncated max bounds nothing;
  *  - a file without a parseable stat, value or count line for a bound
  *    must be scanned — absence is never a prune;
  *  - a value bound implies IS NOT NULL: a file whose null count equals
  *    its row count holds no value;
  *  - partition values prune through the spec's transform, computed
  *    driver-side: identity, div, year and month are monotone (a span
  *    maps to a span), bucket maps only a finite point set.
  *
  * The decision only cuts IO: every caller applies the exact predicate
  * on top, so a bound that prunes more than an older path did can never
  * change a result. */
private[graft] object FilePrune {

  /** The stat kind of a column type — the domain its bounds compare in:
    * `long` (integral, the value itself), `date` (epoch day), `ts`
    * (epoch micros), `str` (UTF-8 bytes). None: the store keeps no
    * stats for the type (a lossy cast would record bounds the true
    * values escape). */
  def kindOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case DateType      => Some("date")
    case TimestampType => Some("ts")
    case StringType    => Some("str")
    case _             => None
  }

  /** A column's values in its `kind` stat domain — what the stat writer
    * aggregates and the key probes compare (epoch days through datediff,
    * epoch micros through unix_micros: both session-time-zone free). */
  def statValue(c: Column, kind: String): Column = kind match {
    case "date" => datediff(c, lit("1970-01-01").cast("date")).cast("long")
    case "ts"   => unix_micros(c)
    case "str"  => c
    case _      => c.cast("long")
  }

  /** A filter literal in the `kind` domain. None when it does not map
    * exactly: a fractional literal on an integral column stays
    * residual-only, because truncating it would shift a strict bound's
    * ±1 across a real value and prune files holding matching rows. */
  def literal(kind: String, v: Any): Option[Long] = (kind, v) match {
    case ("long", n: java.lang.Byte)       => Some(n.longValue)
    case ("long", n: java.lang.Short)      => Some(n.longValue)
    case ("long", n: java.lang.Integer)    => Some(n.longValue)
    case ("long", n: java.lang.Long)       => Some(n.longValue)
    case ("date", d: java.sql.Date)        => Some(d.toLocalDate.toEpochDay)
    case ("date", d: java.time.LocalDate)  => Some(d.toEpochDay)
    case ("ts", t: java.sql.Timestamp)     =>
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case ("ts", i: java.time.Instant)      => Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case _ => None
  }

  /** The bound `c op vs` puts on a `kind` column — `op` is `=` over one
    * or more literals (equality, IN) or `<`, `<=`, `>`, `>=` over one.
    * None when a literal does not map exactly ([[literal]]); a strict
    * string comparison widens to its inclusive form. */
  def compare(c: String, kind: String, op: String, vs: Seq[Any]): Option[Bound] =
    if (kind == "str") {
      val bs = vs.collect { case s: String => s.getBytes("UTF-8") }
      if (bs.size != vs.size) None
      else Some(op match {
        case "="        => Bytes(c, bs.min(byteOrder), Some(bs.max(byteOrder)))
        case ">" | ">=" => Bytes(c, bs.head, None)
        case _          => Bytes(c, Array.emptyByteArray, Some(bs.head))
      })
    } else {
      val ls = vs.flatMap(literal(kind, _))
      if (ls.size != vs.size) None
      else Some(Range(c, kind, op match {
        case "="  => Span.of(ls)
        case ">"  => if (ls.head == Long.MaxValue) Span(1L, 0L) else Span(ls.head + 1, Long.MaxValue)
        case ">=" => Span(ls.head, Long.MaxValue)
        case "<"  => if (ls.head == Long.MinValue) Span(1L, 0L) else Span(Long.MinValue, ls.head - 1)
        case _    => Span(Long.MinValue, ls.head)
      }))
    }

  /** Values of one long domain: the inclusive span [lo, hi], narrowed to
    * explicit `points` for equality and IN probes. */
  final case class Span(lo: Long, hi: Long, points: Option[Set[Long]] = None) {
    def isEmpty: Boolean = lo > hi || points.exists(_.isEmpty)
    def contains(v: Long): Boolean = v >= lo && v <= hi && points.forall(_.contains(v))
    /** Can a file whose values lie in [mn, mx] hold one of these? */
    def hits(mn: Long, mx: Long): Boolean =
      points.fold(mx >= lo && mn <= hi)(_.exists(p => p >= mn && p <= mx))
    /** The span as a finite value set, when it is one. */
    def pointSet: Option[Set[Long]] = points.orElse(if (lo == hi) Some(Set(lo)) else None)
    def and(o: Span): Span = {
      val (l, h) = (math.max(lo, o.lo), math.min(hi, o.hi))
      Span(l, h, (points ++ o.points).reduceOption(_ intersect _).map(_.filter(v => v >= l && v <= h)))
    }
  }

  object Span {
    def of(vs: Seq[Long]): Span = Span(vs.min, vs.max, Some(vs.toSet))
  }

  sealed trait Bound
  /** `col` ∈ span in the column's `kind` domain (long, date or ts). */
  final case class Range(col: String, kind: String, span: Span) extends Bound
  /** `col` ∈ [lo, hi] in unsigned UTF-8 byte order; `hi` None = no upper bound. */
  final case class Bytes(col: String, lo: Array[Byte], hi: Option[Array[Byte]]) extends Bound
  /** `col IS NULL` (`isNull`) or `col IS NOT NULL`. */
  final case class Nulls(col: String, isNull: Boolean) extends Bound
  /** Partition-spec dimension `dim`'s transform value ∈ span. */
  final case class Dim(dim: Int, span: Span) extends Bound

  /** The files of `meta` that can hold a row satisfying every bound, sorted. */
  def keep(meta: TableMeta, bounds: Seq[Bound]): Seq[String] =
    meta.files.filter(keeps(meta, bounds)).sorted

  /** [[keep]] as a per-file test. Bounds on one column (or dimension)
    * are intersected before any stat is consulted: a file straddling two
    * half-open bounds prunes when their conjunction misses it. */
  def keeps(meta: TableMeta, bounds: Seq[Bound]): String => Boolean = {
    val ranges = bounds.collect { case r: Range => r }.groupBy(r => (r.col, r.kind)).toSeq
      .map { case ((c, k), rs) => rangeTest(meta, c, k, rs.map(_.span).reduce(_ and _)) }
    val strings = bounds.collect { case b: Bytes => b }.groupBy(_.col).toSeq.map { case (c, bs) =>
      bytesTest(meta, c, bs.map(_.lo).max(byteOrder), bs.flatMap(_.hi).minOption(byteOrder))
    }
    val dims = bounds.collect { case d: Dim => d }.groupBy(_.dim).toSeq
      .map { case (d, ds) => dimTest(meta, d, ds.map(_.span).reduce(_ and _)) }
    val nulls = bounds.collect { case n: Nulls => n }.distinct.map(n => nullTest(meta, n.col, n.isNull))
    val tests = ranges ++ strings ++ dims ++ nulls
    f => tests.forall(_(f))
  }

  private def rangeTest(meta: TableMeta, c: String, kind: String, span: Span): String => Boolean =
    if (span.isEmpty) _ => false
    else {
      val stats = longRanges(meta, c, kind)
      val valued = nullTest(meta, c, isNull = false)
      // dual pruning: every spec dimension over the same column adds its
      // partition-value test through the transform
      val parts = meta.specs.zipWithIndex.collect {
        case (ps, d) if ps.col == c && specKind(ps).contains(kind) => (ps, d)
      }.flatMap { case (ps, d) => through(ps, span).map(valueTest(meta, d, _)) }
      f => stats.get(f).forall { case (mn, mx) => span.hits(mn, mx) } && valued(f) &&
        parts.forall(_(f))
    }

  private def bytesTest(meta: TableMeta, c: String, lo: Array[Byte],
      hi: Option[Array[Byte]]): String => Boolean =
    if (hi.exists(cmpBytes(_, lo) < 0)) _ => false
    else {
      val stats = strRanges(meta, c)
      val valued = nullTest(meta, c, isNull = false)
      f => stats.get(f).forall(_.hits(lo, hi)) && valued(f)
    }

  /** A dimension probe prunes by the recorded values, then — for the
    * files the value index cannot judge (pre-evolution, multi-valued) —
    * by the spec column's own stats through the monotone transform. */
  private def dimTest(meta: TableMeta, d: Int, span: Span): String => Boolean =
    meta.specs.lift(d) match {
      case None => _ => true
      case Some(_) if span.isEmpty => _ => false
      case Some(ps) =>
        val byValue = valueTest(meta, d, span)
        val byStats: String => Boolean = (for (tx <- monotone(ps); k <- specKind(ps)) yield {
          val stats = longRanges(meta, ps.col, k)
          (f: String) => stats.get(f).forall { case (mn, mx) =>
            scala.util.Try(span.hits(tx(mn), tx(mx))).getOrElse(true) }
        }).getOrElse(_ => true)
        f => byValue(f) && byStats(f)
    }

  /** A file's recorded value on dimension `d` lies in `span`; files with
    * no concrete value there (no `v` line, or `?`) must scan. */
  private def valueTest(meta: TableMeta, d: Int, span: Span): String => Boolean = {
    val vals = meta.partVals.flatMap(pv => pv.values.lift(d).flatten.map(pv.file -> _)).toMap
    f => vals.get(f).forall(span.contains)
  }

  private def nullTest(meta: TableMeta, c: String, isNull: Boolean): String => Boolean = {
    val nulls = nullCounts(meta, c)
    f => nulls.get(f).forall(n => if (isNull) n > 0L else meta.rowCounts.get(f).forall(_ != n))
  }

  /** The stat kind a spec's column carries: identity/div/bucket take an
    * integral column, year/month a date column. */
  private def specKind(ps: PartitionSpec): Option[String] = ps.transform match {
    case "year" | "month" => Some("date")
    case t if t == "identity" || SnapshotStore.divWidth(t).isDefined ||
        SnapshotStore.bucketN(t).isDefined => Some("long")
    case _ => None
  }

  /** A monotone spec's driver-side transform — the value-side twin of
    * [[SnapshotStore.transformColumn]]. */
  private def monotone(ps: PartitionSpec): Option[Long => Long] = ps.transform match {
    case "identity" => Some(v => v)
    case "year"  => Some(d => java.time.LocalDate.ofEpochDay(d).getYear.toLong)
    case "month" => Some { d =>
      val x = java.time.LocalDate.ofEpochDay(d)
      x.getYear.toLong * 100 + x.getMonthValue
    }
    case t => SnapshotStore.divWidth(t).map(w => (v: Long) => Math.floorDiv(v, w))
  }

  /** `span` mapped through `ps`'s transform. A bound the calendar cannot
    * place (an open Long.MinValue/MaxValue end) maps to the open end; a
    * bucket maps only a finite point set. None = no sound mapping. */
  private def through(ps: PartitionSpec, span: Span): Option[Span] =
    SnapshotStore.bucketN(ps.transform) match {
      case Some(n) => span.pointSet.map(vs =>
        Span(Long.MinValue, Long.MaxValue, Some(vs.map(SnapshotStore.bucketValue(_, n)))))
      case None => monotone(ps).map { tx =>
        def at(v: Long, open: Long) = scala.util.Try(tx(v)).getOrElse(open)
        Span(at(span.lo, Long.MinValue), at(span.hi, Long.MaxValue),
          span.points.flatMap(vs => scala.util.Try(vs.map(tx)).toOption))
      }
    }

  // ── stat line decoding

  /** Per-file [min, max] of `c` in the `kind` domain (long, date or ts),
    * from the parseable stat lines only. */
  def longRanges(meta: TableMeta, c: String, kind: String): Map[String, (Long, Long)] =
    if (kind == "long") meta.stats.filter(_.col == c).map(s => s.file -> ((s.min, s.max))).toMap
    else meta.typedStats.filter(s => s.col == c && s.kind == kind)
      .flatMap(s => scala.util.Try(s.file -> ((s.lo.toLong, s.hi.toLong))).toOption).toMap

  /** One file's `t str` bounds: every value is ≥ `lo` and below `ub` —
    * inclusive when the max was recorded whole, exclusive for a
    * truncated max's byte successor; `ub` None = no finite bound. */
  private final case class StrRange(lo: Array[Byte], ub: Option[Array[Byte]], inclusive: Boolean) {
    def hits(qLo: Array[Byte], qHi: Option[Array[Byte]]): Boolean =
      qHi.forall(cmpBytes(_, lo) >= 0) &&
        ub.forall(u => if (inclusive) cmpBytes(qLo, u) <= 0 else cmpBytes(qLo, u) < 0)
  }

  /** Per-file string bounds of `c`; undecodable lines are dropped (the
    * file must scan). */
  private def strRanges(meta: TableMeta, c: String): Map[String, StrRange] =
    meta.typedStats.filter(s => s.col == c && s.kind == "str").flatMap { s =>
      scala.util.Try {
        val hi = decB64(s.hi)
        s.file -> (if (s.hiTrunc) StrRange(decB64(s.lo), incrBytes(hi), inclusive = false)
                   else StrRange(decB64(s.lo), Some(hi), inclusive = true))
      }.toOption
    }.toMap

  def nullCounts(meta: TableMeta, c: String): Map[String, Long] =
    meta.nullStats.filter(_.col == c).map(s => s.file -> s.nulls).toMap

  // ── probes: the bound a set of rows satisfies

  /** Whether any file carries a parseable stat on `c` — without one no
    * probe can prune, so callers skip the probe's cost. */
  def hasStats(meta: TableMeta, c: String, kind: String): Boolean =
    if (kind == "str") strRanges(meta, c).nonEmpty else longRanges(meta, c, kind).nonEmpty

  /** The bound a probe made of exactly `files` of `meta` satisfies on
    * `c`, read from their stat lines instead of a scan. Outer None: the
    * lines cannot decide (a file without a parseable stat or null count,
    * or a string max with no finite bound) — scan the probe instead;
    * Some(None): the probe holds a null key, which no bound describes.
    * String bounds widen to the recorded prefixes, so the bound may be
    * looser than the scanned one, never tighter. */
  def spanOf(meta: TableMeta, c: String, kind: String, files: Set[String]): Option[Option[Bound]] = {
    val nulls = nullCounts(meta, c).filter(e => files(e._1))
    if (files.isEmpty || nulls.size != files.size) None
    else if (nulls.values.exists(_ > 0L)) Some(None)
    else if (kind == "str") {
      val rs = strRanges(meta, c).filter(e => files(e._1)).values.toSeq
      if (rs.size != files.size || rs.exists(_.ub.isEmpty)) None
      else Some(Some(Bytes(c, rs.map(_.lo).min(byteOrder), Some(rs.map(_.ub.get).max(byteOrder)))))
    } else {
      val rs = longRanges(meta, c, kind).filter(e => files(e._1)).values.toSeq
      if (rs.size != files.size) None
      else Some(Some(Range(c, kind, Span(rs.map(_._1).min, rs.map(_._2).max))))
    }
  }

  /** The bound `probe`'s column `c` satisfies, by one min/max scan. None
    * when the probe holds a null key or no rows. */
  def scanSpan(probe: DataFrame, c: String, kind: String): Option[Bound] = {
    val v = statValue(col(c), kind)
    val r = probe.agg(min(v), max(v), count(lit(1)) - count(col(c))).head()
    if (r.isNullAt(0) || r.isNullAt(1) || r.getLong(2) != 0L) None
    else if (kind == "str")
      Some(Bytes(c, r.getString(0).getBytes("UTF-8"), Some(r.getString(1).getBytes("UTF-8"))))
    else Some(Range(c, kind, Span(r.getLong(0), r.getLong(1))))
  }

  /** Files a batch of keys can touch through `keyCol`'s stats: one
    * broadcast probe of every key against the per-file bounds — sharper
    * than the keys' span, since a file between two keys prunes. String
    * keys compare as binary, whose order is the bounds' memcmp order.
    * None when no file carries a parseable stat on `keyCol`. */
  def probeKeep(meta: TableMeta, keys: DataFrame, keyCol: String): Option[String => Boolean] = {
    val spark = keys.sparkSession
    import spark.implicits._
    val probe: Option[(Set[String], DataFrame, Column)] =
      kindOf(keys.schema(keyCol).dataType).map {
        case "str" =>
          val rs = strRanges(meta, keyCol)
          val k = col(keyCol).cast("binary")
          (rs.keySet, rs.toSeq.map { case (f, r) => (f, r.lo, r.ub, r.inclusive) }
            .toDF("__file", "__lo", "__ub", "__inc"),
            k >= col("__lo") && (col("__ub").isNull ||
              when(col("__inc"), k <= col("__ub")).otherwise(k < col("__ub"))))
        case kind =>
          val rs = longRanges(meta, keyCol, kind)
          (rs.keySet, rs.toSeq.map { case (f, (mn, mx)) => (f, mn, mx) }.toDF("__file", "__mn", "__mx"),
            statValue(col(keyCol), kind).between(col("__mn"), col("__mx")))
      }
    probe.filter(_._1.nonEmpty).map { case (statted, ranges, hit) =>
      val hits = keys.join(broadcast(ranges), hit).select("__file").distinct()
        .collect().map(_.getString(0)).toSet
      f => !statted(f) || hits(f)
    }
  }

  // ── byte strings

  /** Smallest byte string strictly greater than EVERY string carrying
    * prefix `p`: drop trailing 0xFF bytes, increment the last remaining
    * byte. None when p is all-0xFF (no finite upper bound exists). */
  private[etl] def incrBytes(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) None
    else {
      val r = java.util.Arrays.copyOf(p, i + 1)
      r(i) = ((r(i) & 0xFF) + 1).toByte
      Some(r)
    }
  }

  /** Unsigned lexicographic byte compare (memcmp order — identical to
    * Spark UTF8String / parquet binary / DuckDB default collation). */
  private[etl] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private val byteOrder: Ordering[Array[Byte]] = (a, b) => cmpBytes(a, b)

  /** Decodes a `t str` bound token: Base64, with `-` for the empty string. */
  private[etl] def decB64(s: String): Array[Byte] =
    if (s == "-") Array.emptyByteArray else java.util.Base64.getDecoder.decode(s)
}
