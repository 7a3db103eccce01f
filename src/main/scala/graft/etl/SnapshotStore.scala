package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}

/** A minimal manifest-pointer table format — the lightweight native
  * answer to the "Delta/Iceberg ACID sink" scope decision (SURVEY
  * §7.3): versioned snapshot directories promoted by atomically-claimed
  * monotonic manifest files, giving crash-safe commits, readers that
  * never observe a torn write, O(1) time travel, and (since r14)
  * FILE-LEVEL manifests so an incremental refresh commits only its new
  * files and reuses the previous version's by reference — without any
  * dependency beyond the filesystem.
  *
  * Protocol (single writer; multi-writer via [[retryingPromote]]):
  *   - each commit writes a fresh `snapshot-<id>-<nonce>/` directory
  *     (never overwriting one a live manifest references), then
  *     promotes it by atomically CLAIMING `manifest-<id>` with
  *     create-no-overwrite (O_EXCL through java.io on the local
  *     filesystem, `fs.create(p, overwrite = false)` elsewhere — atomic
  *     on HDFS, the store's conditional-put on object stores). The
  *     earlier tmp+rename protocol was dropped because POSIX rename(2)
  *     silently REPLACES an existing destination, so rename success
  *     never proved exclusive ownership on a local filesystem (the
  *     r13 ADVICE finding); an exclusive create does. A reader that
  *     lists a just-claimed manifest before its content lands sees an
  *     empty/torn manifest and resolves past it — the commit point is
  *     "content readable AND snapshot `_SUCCESS` present";
  *   - manifest ids are strictly monotonic and always move PAST every
  *     id already listed — committed or debris (`max(preferredId,
  *     max listed id + 1)`): no manifest is ever deleted or rewritten
  *     on the commit path, there is no instant without a committed
  *     pointer, and torn debris squatting on an id can never wedge the
  *     table into recomputing the same colliding id on every retry
  *     (resolution still walks COMMITTED manifests only);
  *   - a manifest records the commit's PRIMARY snapshot directory plus
  *     optional metadata: an as-of TIMESTAMP (epoch micros, pinned by
  *     the caller — the engine's `asOfDate` determinism discipline,
  *     never wall clock) that [[readAsOf]] resolves for timestamp
  *     travel, and an optional explicit FILE LIST (`f <path relative
  *     to the table root>` lines) mixing files from the primary
  *     directory with files REUSED from earlier versions' directories.
  *     A manifest without a file list means "every data file of the
  *     primary directory" — the r13 format, still written by full
  *     promotes and still readable;
  *   - readers resolve the NEWEST manifest whose primary snapshot
  *     carries the `_SUCCESS` marker its writing job left, falling back
  *     past any torn write; `readVersion` resolves an exact id the
  *     same way;
  *   - GC (best-effort, inside the commit) retains the newest `keep`
  *     committed manifests and every FILE they reference — file-level:
  *     a directory whose own manifest aged out survives in part as long
  *     as newer commits reuse some of its files. `keep = Int.MaxValue`
  *     turns the table into a full time-travel log;
  *   - writer FENCING (optional): [[acquireFence]] mints a monotonic
  *     fence id by the same exclusive-create device; a promote carrying
  *     a fence fails by contract when a NEWER fence exists — a zombie
  *     writer that stalled across a failover dies loudly before its
  *     claim, instead of racing it;
  *   - OPTIMISTIC CONCURRENCY (optional): a promote carrying
  *     `expectCurrent` fails with [[ConflictException]] when the
  *     committed head moved past what the writer's merge read — and the
  *     exclusive manifest claim is the final arbiter for the race the
  *     pre-check cannot see. [[retryingPromote]] wraps the
  *     re-read → re-merge → re-promote loop so two genuine writers both
  *     commit, exactly once each, instead of ping-ponging exceptions.
  *
  * Read laziness contract: [[read]]/[[readVersion]]/[[readAsOf]] return
  * a LAZY DataFrame over the resolved snapshot files — the caller
  * must run its action while the version is still retained. With a
  * small `keep`, further promotes can GC the files out from under a
  * parked frame (the scan then fails loudly mid-action, never returns
  * wrong rows). Callers that hold results across commits either
  * materialize promptly (the [[graft.streaming.Scd2Stream]] sink
  * collects each dim snapshot before its next promote) or pass a
  * retention bound that covers their read window.
  *
  * Pruned reads ([[readKeyRange]], [[readDateRange]],
  * [[readTimestampRange]], [[readStringRange]], [[readPartitionRanges]],
  * [[readNullFilter]]) read the head — or, with `version`, that retained
  * version, so pruning composes with version and timestamp travel —
  * opening only the files the manifest's skipping index cannot rule out
  * (per-file stats, partition values, null counts; a file without a
  * stat line always scans), and apply the EXACT predicate on top: the
  * index only cuts IO, never correctness. The decision is [[FilePrune]],
  * the same one the DSv2 source ([[graft.sources.StoreSource]]) makes for
  * pushed filters. None when nothing was ever committed; an all-pruned
  * read is an empty frame; lazy, per the contract above.
  *
  * [[graft.streaming.Scd2Stream]] commits its dimension through this
  * store; `etl_snapshot_timetravel` demonstrates the batch-side
  * version/timestamp travel, `etl_incremental_versioned` the crash-safe
  * batch refresh, and VersionedLoadSpec pins the file-reuse commit
  * (unchanged files byte-identical across a refresh).
  */
object SnapshotStore {

  private val ManifestPrefix = "manifest-"
  private val SnapshotPrefix = "snapshot-"
  private val FencePrefix    = "fence-"

  /** Sentinel for [[promote]]'s `expectCurrent`: the writer read an
    * empty (never-committed) table. */
  val NoVersion: Long = -1L

  /** Default [[vacuum]] retention window: 7 days in epoch micros (the
    * Delta VACUUM default). */
  val DefaultVacuumRetentionMicros: Long = 7L * 24 * 3600 * 1000000L

  /** [[vacuum]] refuses a retention below this floor (1 hour) unless
    * the caller passes `enforceRetention = false` — the Delta
    * retentionDurationCheck shape: an aggressive vacuum under live
    * readers is the format's one documented footgun, so crossing the
    * floor must be deliberate. */
  val MinVacuumRetentionMicros: Long = 3600L * 1000000L

  /** A promote carrying a stale fence observed a newer writer's fence
    * and refused to race it. */
  final class FencedException(msg: String) extends IllegalStateException(msg)

  /** A promote lost an optimistic-concurrency race: the committed head
    * moved (or the manifest id was claimed) after the writer read its
    * base state. Retry by re-reading and re-merging —
    * [[retryingPromote]] does exactly that. */
  final class ConflictException(msg: String) extends IllegalStateException(msg)

  /** A promote carrying a `txn` marker found the table already at (or
    * past) that transaction version — the commit was applied by an
    * earlier run and must NOT re-apply. Callers treat this as success
    * ([[VersionedLoad.idempotent]] maps it to None). */
  final class TxnAlreadyAppliedException(msg: String) extends IllegalStateException(msg)

  /** Per-file column statistics carried by a manifest: the min/max of
    * one LONG column over one data file — the data-skipping index the
    * heavyweight formats keep per file, in its smallest honest form
    * (a single numeric column, normally the table's grain key). */
  final case class FileStat(file: String, col: String, min: Long, max: Long)

  /** Typed per-file stats for the non-integral stat columns (r15 —
    * Delta/Iceberg keep these for every leading column):
    * `kind == "date"` → `lo`/`hi` are epoch-day longs rendered as
    * decimal strings (exact bounds, `hiTrunc` always false);
    * `kind == "ts"` → epoch-micros longs, same encoding (r15);
    * `kind == "str"` → `lo`/`hi` are Base64 of the value's UTF-8 bytes
    * truncated to [[StatPrefixBytes]] — a truncated `lo` is still a
    * valid LOWER bound (a byte prefix sorts ≤ every extension), and a
    * truncated `hi` (`hiTrunc = true`) bounds values strictly below the
    * prefix with its last byte incremented. All string pruning
    * comparisons run in unsigned UTF-8 BYTE order — exactly the order
    * Spark's UTF8String (and DuckDB's default binary collation) compare
    * in, so the prune decision and the exact filter can never disagree
    * on exotic code points. */
  final case class TypedFileStat(file: String, col: String, kind: String,
      lo: String, hi: String, hiTrunc: Boolean)

  /** String stat bounds keep at most this many UTF-8 bytes per side —
    * manifests stay metadata-sized on long-document tables; truncation
    * only widens the recorded range, never narrows it. */
  val StatPrefixBytes: Int = 64

  /** A partition spec (r16 — the Iceberg hidden-partitioning shape): a
    * TRANSFORM over one column whose per-file VALUES the manifest
    * records, letting readers prune whole files by partition value
    * BEFORE any file stat is consulted. Supported transforms:
    * `identity` (integral column — the value itself), `year` /
    * `month` over a date column (`year(c)`; `year(c)*100 + month(c)`,
    * both monotone in the date so range queries stay ranges), and
    * `div<W>` over an integral column (floor(c / W), the Iceberg
    * truncate[W] family — `div10000` turns a yyyymmdd long date_key
    * into its year, the reference reports' `&p_year` grain), and
    * `bucket<N>` over an integral column (Murmur3 seed-42 of the long
    * value mod N — the Iceberg bucket[N] family, r17: point-lookup
    * pruning on a high-cardinality grain key, and the shared layout
    * two co-bucketed store tables join bucket-by-bucket under). A
    * table may declare SEVERAL specs (r17, ordered — see the
    * multi-column manifest format below). The specs are versioned WITH
    * the data — each manifest carries its own `p` header(s) — so
    * partition pruning composes with version and timestamp travel,
    * and a spec CHANGE (partition evolution) is just newer manifests
    * carrying different headers: old versions keep pruning by the
    * spec they were written under; files written before the new spec
    * carry no value line under it and safely degrade to must-scan. */
  final case class PartitionSpec(transform: String, col: String)

  /** One file's recorded partition values under the manifest's spec
    * list, positionally — `values(d)` is the file's value under spec
    * dimension `d`; `None` (the `?` manifest token, r17) marks a
    * dimension the file is MULTI-VALUED in (it must-scan on that
    * dimension but still prunes on its concrete ones). A file
    * multi-valued in EVERY dimension gets no line at all — the
    * absence-means-must-scan rule. */
  final case class FilePartition(file: String, values: Seq[Option[Long]]) {
    /** Leading-dimension value — the single-spec (r16) accessor; throws
      * on a `?`-valued leading dimension. */
    def value: Long = values.head.get
  }

  /** Per-file NULL COUNT for one stat column (r17 — the Delta nullCount
    * shape): with the file's row count (`r` lines), it answers the two
    * prunes min/max never can — `IS NULL` (nulls = 0 → no match) and
    * `IS NOT NULL` (nulls = rowCount → no match). */
  final case class FileNullStat(file: String, col: String, nulls: Long)

  /** One committed manifest's content: the primary snapshot directory,
    * the optional pinned as-of instant, the optional explicit file
    * list (table-root-relative; empty = all data files of `snap`),
    * optional per-file column stats, and whether the content carried
    * the `end` terminator line. The terminator is what makes the
    * exclusive-create protocol safe against TORN CONTENT: the claim is
    * atomic but the write after it is not, so a crash (or a racing
    * reader) can observe a prefix that still parses — without the
    * terminator requirement a truncated file list would resolve as a
    * committed SUBSET of the version and GC would collect the
    * truncated-away files. Only fully-terminated manifests commit. */
  private[etl] final case class ManifestData(
      snap: String, asOf: Option[Long], files: Seq[String],
      stats: Seq[FileStat], typedStats: Seq[TypedFileStat],
      specs: Seq[PartitionSpec], partVals: Seq[FilePartition],
      rowCounts: Map[String, Long], nullStats: Seq[FileNullStat],
      schemaJson: Option[String],
      txns: Map[String, Long], terminated: Boolean) {
    /** The commit's recorded table schema, if its `c` line parses. */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.flatMap(j => scala.util.Try(
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
  }

  /** Per-file records as a manifest's `s`, `t`, `v`, `r` and `n` lines
    * hold them: what [[promote]]'s stats scan yields for a commit's own
    * files, handed to [[planManifest]]. */
  private[etl] final case class FileRecords(stats: Seq[FileStat] = Nil,
      typedStats: Seq[TypedFileStat] = Nil, partVals: Seq[FilePartition] = Nil,
      rowCounts: Map[String, Long] = Map.empty, nullStats: Seq[FileNullStat] = Nil)

  private def manifestId(name: String): Option[Long] =
    if (name.startsWith(ManifestPrefix))
      scala.util.Try(name.stripPrefix(ManifestPrefix).toLong).toOption
    else None

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Manifest FILES under `tgt` as (id, path), newest first — one
    * directory listing, NO content reads: resolution is lazy so reads
    * and commits stay O(1)-ish in retained history instead of opening
    * every manifest (a full time-travel log would otherwise pay one
    * filesystem round trip per retained version per operation). */
  private def manifestFiles(fs: FileSystem, tgt: Path): Seq[(Long, Path)] = {
    if (!fs.exists(tgt)) return Nil
    fs.listStatus(tgt).toIndexedSeq
      .flatMap(st => manifestId(st.getPath.getName).map(id => (id, st.getPath)))
      .sortBy(-_._1)
  }

  /** Manifest CONTENT reads performed since JVM start — test
    * instrumentation for the resolution-cost contract (see the
    * "checkpointing" note on the object scaladoc): every manifest is
    * SELF-CONTAINED (full file list + stats + specs + txns — each
    * commit IS its own checkpoint, Delta's log+checkpoint rolled into
    * one), so resolving the head parses exactly 1 + (torn debris
    * above it) manifests REGARDLESS of retained history length.
    * ResolutionCostSpec pins that bound with this counter. */
  private[etl] val contentReads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def readContent(fs: FileSystem, p: Path): Option[String] = {
    contentReads.incrementAndGet(): Unit
    scala.util.Try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    }.toOption.filter(_.nonEmpty)
  }

  /** The manifest text of `m` — the one writer of every line kind, and
    * the inverse of [[parseManifest]] (`parseManifest(renderManifest(m))
    * == m` for every `m` the write path can form: no whitespace inside
    * a token, no newline or edge whitespace in a path, one `v` value per
    * spec).
    *
    * Manifest content: line 1 = primary snapshot dir name; line 2
    * (optional, may be blank) = the commit's pinned as-of timestamp in
    * epoch micros; lines 3+ (optional) = `f <relative path>` explicit
    * file list, `s <col> <min> <max> <relative path>` per-file LONG
    * column stats, and `t <kind> <col> <lo> <hi> <E|T> <relative
    * path>` per-file TYPED stats (path LAST on every line — it is the
    * only token that could ever grow a delimiter; stat column names
    * are whitespace-rejected at write time), plus (r17)
    * `r <rowCount> <relative path>` per-file row counts and
    * `n <col> <nullCount> <relative path>` per-file null counts — the
    * IS NULL / IS NOT NULL skipping index [[readNullFilter]] prunes
    * with — and `c <base64(StructType.json)>`, the commit's recorded
    * TABLE schema (readers plan with zero footer reads; see
    * readParquet); final line = the `end`
    * terminator (required for the manifest to commit — see
    * [[ManifestData]]). Unknown line prefixes are ignored, so a reader
    * from before a line type existed still resolves the manifest (and
    * one from after tolerates its absence) — `t` lines ride on exactly
    * this rule past r14 readers.
    *
    * PARTITION SPEC (r16 — the r15 design note become code): a header
    * line `p <transform> <col>` (e.g. `p year date_key`) declares the
    * manifest's [[PartitionSpec]], and one `v <value> <relative path>`
    * line per SINGLE-VALUED file binds it to its partition value.
    * Because the lines live in each version's manifest, the spec is
    * versioned WITH the data: partition pruning composes with time
    * travel (a readAsOf resolves the manifest first, then prunes by
    * that manifest's own `v` lines), and a spec CHANGE is just newer
    * manifests carrying a different header — old versions keep pruning
    * by the spec they were written under, the Iceberg
    * partition-evolution behavior; files from before the change carry
    * no `v` line under the new spec and degrade to must-scan.
    *
    * MULTI-COLUMN SPECS (r17 — the r16 design note become code; the
    * Iceberg spec = an ordered transform LIST): repeated `p` headers
    * declare the dimensions IN ORDER, and each `v` line carries one
    * value PER DIMENSION positionally — `v <v1> <v2> ... <path>` —
    * with `?` marking a dimension the file is multi-valued in (it
    * must-scans on that dimension, prunes on its concrete ones).
    * Pruning intersects the per-dimension keep sets exactly like the
    * dual-pruning intersections do; a single-spec r16 manifest parses
    * as the one-dimension case unchanged. A MALFORMED `p` line (a
    * column name that would misparse the space-split, an empty
    * transform) voids the WHOLE spec list — dropping one header would
    * silently renumber every `v` tuple's dimensions, so the sound
    * degrade is "unpartitioned: every file must-scans" (defense in
    * depth for hand-edited manifests; the write path rejects such
    * specs before committing). Readers do not depend on the order of
    * the lines after line 2. */
  private[etl] def renderManifest(m: ManifestData): String = {
    def vals(v: Seq[Option[Long]]) = v.map(_.fold("?")(_.toString)).mkString(" ")
    (Seq(m.snap, m.asOf.fold("")(_.toString)) ++
      m.files.map(f => s"f $f") ++
      m.schemaJson.map(j => "c " + java.util.Base64.getEncoder.encodeToString(j.getBytes("UTF-8"))) ++
      m.specs.map(ps => s"p ${ps.transform} ${ps.col}") ++
      m.stats.map(st => s"s ${st.col} ${st.min} ${st.max} ${st.file}") ++
      m.typedStats.map(st =>
        s"t ${st.kind} ${st.col} ${st.lo} ${st.hi} ${if (st.hiTrunc) "T" else "E"} ${st.file}") ++
      m.rowCounts.toSeq.sortBy(_._1).map { case (f, rc) => s"r $rc $f" } ++
      m.nullStats.map(st => s"n ${st.col} ${st.nulls} ${st.file}") ++
      m.partVals.map(pv => s"v ${vals(pv.values)} ${pv.file}") ++
      m.txns.toSeq.sortBy(_._1).map { case (a, v) => s"x $a $v" } ++
      (if (m.terminated) Seq("end") else Nil)).mkString("\n")
  }

  /** Manifest text → [[ManifestData]]; see [[renderManifest]]. */
  private[etl] def parseManifest(content: String): ManifestData = {
    val lines = content.split("\n", -1)
    val asOf = if (lines.length >= 2) scala.util.Try(lines(1).trim.toLong).toOption else None
    val files = lines.drop(2).collect { case l if l.startsWith("f ") => l.drop(2).trim }
    val rawSpecs = lines.drop(2).filter(_.startsWith("p ")).toIndexedSeq.map { l =>
      l.drop(2).trim.split(" ", 2) match {
        case Array(tr, c) if tr.nonEmpty && c.nonEmpty && !tr.exists(_.isWhitespace) &&
            !c.trim.exists(_.isWhitespace) && !c.contains("`") =>
          Some(PartitionSpec(tr, c.trim))
        case _ => None
      }
    }
    val specs: Seq[PartitionSpec] =
      if (rawSpecs.forall(_.isDefined)) rawSpecs.flatten else Nil
    // v tuple lines: exactly specs.size value tokens, path LAST (split
    // with limit so a path containing spaces survives); parsed only
    // when a valid spec list gives the tuple its meaning
    val partVals: Seq[FilePartition] = if (specs.isEmpty) Nil
    else lines.drop(2).toIndexedSeq.collect { case l if l.startsWith("v ") =>
      val toks = l.drop(2).trim.split(" ", specs.size + 1)
      if (toks.length == specs.size + 1 && toks.last.nonEmpty) {
        val vals = toks.dropRight(1).toIndexedSeq.map {
          case "?" => Some(None)
          case s   => scala.util.Try(s.toLong).toOption.map(Some(_))
        }
        if (vals.forall(_.isDefined)) Some(FilePartition(toks.last.trim, vals.map(_.get)))
        else None
      } else None
    }.flatten
    // `r <rowCount> <path>` / `n <col> <nullCount> <path>` (r17): the
    // row-count + null-count index IS NULL / IS NOT NULL pruning reads
    val rowCounts: Map[String, Long] = lines.drop(2).collect { case l if l.startsWith("r ") =>
      l.drop(2).trim.split(" ", 2) match {
        case Array(c, p) if p.nonEmpty => scala.util.Try(p.trim -> c.toLong).toOption
        case _ => None
      }
    }.flatten.toMap
    val nullStats = lines.drop(2).collect { case l if l.startsWith("n ") =>
      l.drop(2).trim.split(" ", 3) match {
        case Array(c, nn, p) if p.nonEmpty =>
          scala.util.Try(FileNullStat(p.trim, c, nn.toLong)).toOption
        case _ => None
      }
    }.flatten
    // `c <base64(StructType.json)>` (r17 — the Delta schema-in-the-log
    // shape): the commit's TABLE schema, recorded so readers plan with
    // zero parquet-footer reads; an undecodable line degrades to the
    // footer-merging read, never a wrong schema
    val schemaJson = lines.drop(2).collectFirst { case l if l.startsWith("c ") =>
      scala.util.Try(new String(
        java.util.Base64.getDecoder.decode(l.drop(2).trim), "UTF-8")).toOption
    }.flatten
    // `x <appId> <version>` — idempotent-transaction markers (r16, the
    // Delta txnAppId/txnVersion shape): latest version per application
    // id, carried forward by every commit
    val txns: Map[String, Long] = lines.drop(2).collect { case l if l.startsWith("x ") =>
      l.drop(2).trim.split(" ", 2) match {
        case Array(app, ver) => scala.util.Try(app -> ver.trim.toLong).toOption
        case _ => None
      }
    }.flatten.toMap
    val stats = lines.drop(2).collect { case l if l.startsWith("s ") =>
      l.drop(2).trim.split(" ", 4) match {
        case Array(c, mn, mx, p) =>
          scala.util.Try(FileStat(p, c, mn.toLong, mx.toLong)).toOption
        case _ => None
      }
    }.flatten
    val typed = lines.drop(2).collect { case l if l.startsWith("t ") =>
      l.drop(2).trim.split(" ", 6) match {
        case Array(kind, c, lo, hi, flag, p) if flag == "E" || flag == "T" =>
          Some(TypedFileStat(p, c, kind, lo, hi, flag == "T"))
        case _ => None
      }
    }.flatten
    ManifestData(lines(0).trim, asOf, files.toIndexedSeq, stats.toIndexedSeq,
      typed.toIndexedSeq, specs, partVals, rowCounts, nullStats.toIndexedSeq,
      schemaJson, txns, lines.last.trim == "end")
  }

  /** The width W of a `div<W>` transform name, if it is one (W ≥ 1). */
  private[graft] def divWidth(transform: String): Option[Long] =
    if (transform.startsWith("div"))
      scala.util.Try(transform.stripPrefix("div").toLong).toOption.filter(_ >= 1L)
    else None

  /** The bucket count N of a `bucket<N>` transform name, if it is one
    * (N ≥ 1) — the Iceberg bucket[N] hash-partition family (r17). */
  private[graft] def bucketN(transform: String): Option[Int] =
    if (transform.startsWith("bucket"))
      scala.util.Try(transform.stripPrefix("bucket").toInt).toOption.filter(_ >= 1)
    else None

  /** The bucket a LONG key falls in under `bucket<N>`, computed
    * DRIVER-SIDE: Murmur3 (x86_32, seed 42) of the long — byte-for-byte
    * the hash `functions.hash(col.cast("long"))` computes per row, so a
    * driver-side point probe and the column-side transform can never
    * disagree (BucketSpec pins the parity). */
  def bucketValue(key: Long, n: Int): Long = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(key, 42)
    (((h.toLong % n) + n) % n)
  }

  /** `df` range-clustered BY ITS PARTITION-SPEC VALUES — the write-side
    * layout helper (r17): range-partitioning on the ordered transform
    * columns makes each written file single-valued in as many leading
    * dimensions as the data allows, so the manifest records concrete
    * `v` tuples instead of `?` must-scans. Callers pass the SAME spec
    * list to [[promote]]/[[VersionedLoad.bootstrap]]; a straggler file
    * spanning two values in some dimension degrades to `?` there — a
    * pruning loss, never a correctness edge. */
  def clusterBySpecs(df: DataFrame, specs: Seq[PartitionSpec],
      numFiles: Int): DataFrame = {
    require(specs.nonEmpty, "SnapshotStore.clusterBySpecs: empty spec list")
    df.repartitionByRange(numFiles, specs.map(transformColumn(_, df)): _*)
  }

  /** The partition-transform column for `spec` over `df`'s schema —
    * the ONE definition of every transform's semantics, shared by the
    * write-side value recorder, the read-side exact filter, and the
    * copy-on-write batch-span prune, so they can never drift. Throws
    * on an unknown transform or a column type it cannot take — and,
    * defense in depth, on a column name that would misparse or escape
    * the quoted `expr()` route (the promote-side guard re-checked here
    * because a spec can also arrive PARSED from a hand-edited
    * manifest; r16 ADVICE). */
  private[etl] def transformColumn(spec: PartitionSpec,
      df: DataFrame): org.apache.spark.sql.Column = transformColumn(spec, df.schema)

  /** [[transformColumn]] over a bare schema — builds the column without
    * a session, so [[planManifest]] can test whether a spec still fits. */
  private def transformColumn(spec: PartitionSpec,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{month, year}
    if (spec.col.exists(_.isWhitespace) || spec.col.contains("`") ||
        spec.transform.exists(_.isWhitespace))
      throw new IllegalArgumentException(
        s"SnapshotStore: partition spec '$spec' carries whitespace or a backtick — " +
          "rejected everywhere a spec is consumed, not only at promote")
    val dt = schema(spec.col).dataType
    (spec.transform, FilePrune.kindOf(dt).getOrElse("")) match {
      case ("identity", "long") => col(spec.col).cast("long")
      case ("year", "date")     => year(col(spec.col)).cast("long")
      case ("month", "date")    =>
        (year(col(spec.col)) * 100 + month(col(spec.col))).cast("long")
      case (t, "long") if bucketN(t).isDefined =>
        // Murmur3(seed 42) of the value AS LONG, mod N into [0, N):
        // functions.hash on a long column IS Murmur3_x86_32.hashLong,
        // so [[bucketValue]] reproduces this exactly driver-side. The
        // cast-to-long first makes int/long key columns hash alike.
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(col(spec.col).cast("long")),
          org.apache.spark.sql.functions.lit(bucketN(t).get)).cast("long")
      case (t, "long") if divWidth(t).isDefined =>
        // FLOOR division in EXACT long arithmetic: subtract the
        // non-negative pmod first (the numerator is then exactly
        // divisible, so SQL `div`'s truncation equals floor and matches
        // the driver-side Math.floorDiv for negatives too); a double
        // route would lose exactness above 2^53
        val w = divWidth(t).get
        org.apache.spark.sql.functions.expr(
          s"CAST((CAST(`${spec.col}` AS BIGINT) - " +
            s"pmod(CAST(`${spec.col}` AS BIGINT), $w)) div $w AS BIGINT)")
      case (t, _) => throw new IllegalArgumentException(
        s"SnapshotStore: partition transform $t is not applicable to ${spec.col}: $dt — " +
          "identity/div<W>/bucket<N> take an integral column; year/month take a date column")
    }
  }

  /** Resolve ONE manifest to its committed content: it parses WITH the
    * content terminator and the PRIMARY snapshot directory carries
    * `_SUCCESS` — a manifest whose write raced a crash (no content, or
    * a truncated prefix of it) resolves to None.
    *
    * The parse is memoized in [[graft.FileMemo]] by the manifest's
    * identity: committed manifests are WRITE-ONCE by the claim protocol
    * (create-no-overwrite + content + terminator; no rewrite path
    * exists), so a metadata-heavy op (the CDC/purge read path resolves
    * the same manifest ~10× per invocation) pays one read+parse per
    * manifest. Only terminated manifests are memoized (a torn write
    * that completes later must re-read), and the liveness check runs on
    * every call, so a GC'd version resolves None exactly as before. A
    * hit that FAILS the liveness check is dropped and re-read once: a
    * table dropped and recreated at the same path can write a new
    * manifest with the old one's key (same length, mtime within the
    * clock's granularity), and trusting the stale parse would name the
    * old, deleted snapshot. */
  private def resolve(fs: FileSystem, tgt: Path, manifest: Path): Option[ManifestData] = {
    def live(m: ManifestData) = fs.exists(new Path(new Path(tgt, m.snap), "_SUCCESS"))
    def load() = readContent(fs, manifest).map(parseManifest)
      .filter(m => m.terminated && m.snap.nonEmpty)
    graft.FileMemo.fileId(fs, manifest).flatMap(id =>
      graft.FileMemo.get[ManifestData](graft.FileMemo.Manifest, Seq(id), valid = live)(load()))
  }

  /** The data files a committed manifest references, table-root
    * relative: the explicit list if present, else every visible file of
    * the primary directory. */
  private def manifestDataFiles(fs: FileSystem, tgt: Path, m: ManifestData): Seq[String] =
    if (m.files.nonEmpty) m.files
    else dirDataFiles(fs, tgt, m.snap)

  /** Visible (non-marker) files of one snapshot dir, root-relative. */
  private def dirDataFiles(fs: FileSystem, tgt: Path, snap: String): Seq[String] = {
    val d = new Path(tgt, snap)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toIndexedSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(n => s"$snap/$n")
  }

  /** A committed manifest's rows: its explicit file list, or — with none
    * — its snapshot DIRECTORY as the one path (more than 32 explicit
    * paths would make Spark's file index launch a listing job). */
  private def readManifest(spark: SparkSession, tgt: Path, m: ManifestData): DataFrame =
    readParquet(spark,
      if (m.files.nonEmpty) m.files.map(f => new Path(tgt, f).toString)
      else Seq(new Path(tgt, m.snap).toString), m.schema)

  /** The one choice between a commit's recorded schema and the
    * mergeSchema fallback, for every store read.
    *
    * Recorded table schema (r17, the Delta schema-in-the-log shape):
    * the read plans with ZERO parquet-footer reads and no schema-
    * inference job — at 100k files the fallback's one-footer-per-file
    * planning cost is the largest remaining metadata-scale term. A file
    * that predates an additive evolution projects its missing column as
    * null, exactly like the merged read; a type conflict fails loudly AT
    * SCAN (the additive-only evolution contract, enforced at promote
    * since r17).
    *
    * mergeSchema fallback (pre-r17 manifests, undecodable c line, or a
    * caller with no manifest): a file list may mix schema generations
    * after an ADDITIVE evolution — the union schema projects the
    * missing column as null in old files. Cost: one footer read per
    * listed file. Conflicting TYPE changes on one column fail the read
    * loudly — evolution here is additive by contract, never coercive. */
  private def readParquet(spark: SparkSession, paths: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  /** The `listed` manifests that resolve, newest first — lazy, so a
    * caller that stops early reads no older manifest. */
  private def committed(fs: FileSystem, tgt: Path,
      listed: Seq[(Long, Path)]): Iterator[(Long, ManifestData)] =
    listed.iterator.flatMap { case (id, p) => resolve(fs, tgt, p).map(id -> _) }

  /** The newest COMMITTED manifest — walks newest-first and stops at the
    * first manifest that resolves (normally the very first). */
  private def currentManifest(fs: FileSystem, tgt: Path): Option[(Long, ManifestData)] =
    committed(fs, tgt, manifestFiles(fs, tgt)).nextOption()

  private[graft] def currentSnapshot(fs: FileSystem, tgt: Path): Option[(Long, Path)] =
    currentManifest(fs, tgt).map { case (id, m) => (id, new Path(tgt, m.snap)) }

  /** Latest committed version id, if any commit ever succeeded. */
  def currentVersion(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, tgt) = fsOf(spark, dir)
    currentManifest(fs, tgt).map(_._1)
  }

  /** One committed version's audit metadata — the DESCRIBE HISTORY row
    * of the heavyweight formats: its id, pinned as-of instant (None for
    * untimestamped commits), referenced data-file count, and primary
    * snapshot directory name. */
  final case class HistoryEntry(version: Long, asOfMicros: Option[Long],
      numFiles: Int, primarySnapshot: String)

  /** The RETAINED committed history, newest first — every version still
    * resolvable (torn debris skipped, GC'd manifests gone). Metadata
    * only: one manifest read per retained version, no data file is
    * opened, so the call is manifest-count-scale like GC itself. The
    * audit surface a versioned store owes its operators: what committed,
    * when (by the pinned as-of), and how big (by file count). */
  def history(spark: SparkSession, dir: String): Seq[HistoryEntry] = {
    val (fs, tgt) = fsOf(spark, dir)
    manifestFiles(fs, tgt).flatMap { case (id, p) =>
      resolve(fs, tgt, p).map(m =>
        HistoryEntry(id, m.asOf, manifestDataFiles(fs, tgt, m).size, m.snap))
    }
  }

  /** The current committed version's pinned as-of instant, if it has
    * one — writers that must keep the as-of timeline MONOTONE (the
    * streaming fact sink clamping a late batch) read it before
    * committing. */
  def currentAsOf(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, tgt) = fsOf(spark, dir)
    currentManifest(fs, tgt).flatMap(_._2.asOf)
  }

  /** The current committed version's data files, table-root relative —
    * the reuse list an incremental commit passes back to [[promote]].
    * Empty when nothing was ever committed. */
  def currentFiles(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, tgt) = fsOf(spark, dir)
    currentManifest(fs, tgt).toSeq
      .flatMap { case (_, m) => manifestDataFiles(fs, tgt, m) }
  }

  /** True when every path is a present data file of a completed snapshot
    * directory: one named like a commit's `snapshot-<id>-<nonce>/` that
    * carries its writing job's `_SUCCESS`. Such files are write-once
    * (every commit writes a fresh directory, and nothing rewrites one:
    * GC and vacuum only delete), so rows read from one stay that file's
    * rows for as long as its path, length and mtime do. A deleted file is
    * not one, so a read planned before GC or an erasure removed it still
    * fails as the read-laziness contract says. Costs one existence check
    * per file and per directory; opens no file. False for an empty list. */
  private[graft] def areSnapshotFiles(conf: org.apache.hadoop.conf.Configuration, files: Seq[Path]): Boolean =
    files.nonEmpty && files.forall { f =>
      val n = f.getName
      !n.startsWith("_") && !n.startsWith(".") && f.getParent != null &&
        SnapshotDirName.matches(f.getParent.getName)
    } && (files.map(_.getParent).distinct.map(new Path(_, "_SUCCESS")) ++ files).forall { p =>
      p.getFileSystem(conf).exists(p)
    }

  /** A commit's snapshot directory name, as [[promote]] forms it. */
  private val SnapshotDirName = s"$SnapshotPrefix\\d{20}-[0-9a-f]{8}".r

  /** Version `id`'s data files, table-root relative — the file-level
    * view [[VersionedLoad.restore]] and [[VersionedLoad.changesBetween]]
    * build on. None when the version is not committed/retained. */
  def filesForVersion(spark: SparkSession, dir: String, id: Long): Option[Seq[String]] = {
    val (fs, tgt) = fsOf(spark, dir)
    manifestFiles(fs, tgt).find(_._1 == id)
      .flatMap { case (_, p) => resolve(fs, tgt, p) }
      .map(m => manifestDataFiles(fs, tgt, m))
  }

  /** Read an explicit file list (as returned by [[filesForVersion]] /
    * [[currentFiles]]) lazily. Empty list → None. Footer-merging (the
    * caller has no manifest to take a recorded schema from); the
    * manifest-aware readers route through the recorded schema
    * instead — see readParquet. */
  def readFiles(spark: SparkSession, dir: String, files: Seq[String]): Option[DataFrame] =
    readFilesAs(spark, dir, files, None)

  /** [[readFiles]] planned with `version`'s recorded manifest schema
    * (`None` = head) when present — zero footer reads and, unlike the
    * mergeSchema fallback, no schema-inference Spark JOB at plan time
    * (ParquetFileFormat.mergeSchemasInParallel launches one driver-
    * blocking job per read call regardless of file count; the CDC read
    * family paid up to four such jobs per table per invocation, the
    * dominant warm cost of the versioned-read query paths). Under the
    * store's additive-evolution contract the recorded schema equals the
    * merged union whenever any listed file carries it, and a file
    * predating an additive evolution projects the evolved columns as
    * null — exactly what the merged read yields for that file. Falls
    * back to mergeSchema when no schema was recorded. */
  def readFilesForVersion(spark: SparkSession, dir: String, version: Option[Long],
      files: Seq[String]): Option[DataFrame] =
    readFilesAs(spark, dir, files, tableSchema(spark, dir, version))

  /** [[readFiles]] with an optional RECORDED schema; see [[readParquet]]. */
  private def readFilesAs(spark: SparkSession, dir: String, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): Option[DataFrame] =
    if (files.isEmpty) None
    else Some(readParquet(spark, files.map(f => new Path(dir, f).toString), schema))

  /** Resolve the pruned readers' target manifest: the committed head,
    * or — when `version` is given — exactly that retained committed
    * version (None if unretained). Pruned reads thus compose with
    * version travel: "point lookup in yesterday's snapshot" opens only
    * that version's matching files, because a version's manifest
    * carries its own stats. */
  private def manifestFor(fs: FileSystem, tgt: Path,
      version: Option[Long]): Option[ManifestData] = version match {
    case None => currentManifest(fs, tgt).map(_._2)
    case Some(id) => manifestFiles(fs, tgt).find(_._1 == id)
      .flatMap { case (_, p) => resolve(fs, tgt, p) }
  }

  /** The committed state restricted to integral `column` ∈ [lo, hi] —
    * the grain-key range read (a point lookup when lo == hi, which also
    * prunes by a bucket spec on the column). A pruned read: see the
    * object scaladoc. Throws on a non-integral column: a cast to long
    * would truncate (5.7 passes a [1, 5] filter) and return rows outside
    * the range. */
  def readKeyRange(spark: SparkSession, dir: String, column: String,
      lo: Long, hi: Long, version: Option[Long] = None): Option[DataFrame] =
    readPruned(spark, dir, version, "readKeyRange", Some(column -> "long")) { _ =>
      (Seq(FilePrune.Range(column, "long", FilePrune.Span(lo, hi))),
        _ => col(column).cast("long").between(lo, hi))
    }

  /** The committed state restricted to date `column` ∈ [loDate, hiDate]
    * (ISO `yyyy-MM-dd`, inclusive), pruned by the `t date` stats and any
    * year/month spec on the column. A pruned read: see the object
    * scaladoc. */
  def readDateRange(spark: SparkSession, dir: String, column: String,
      loDate: String, hiDate: String, version: Option[Long] = None): Option[DataFrame] = {
    val span = FilePrune.Span(java.time.LocalDate.parse(loDate).toEpochDay,
      java.time.LocalDate.parse(hiDate).toEpochDay)
    readPruned(spark, dir, version, "readDateRange", Some(column -> "date")) { _ =>
      (Seq(FilePrune.Range(column, "date", span)),
        _ => col(column).between(lit(loDate).cast("date"), lit(hiDate).cast("date")))
    }
  }

  /** The committed state restricted to timestamp `column` ∈ [loMicros,
    * hiMicros] (epoch micros, inclusive — callers pass instants, never
    * wall clock), pruned by the `t ts` stats; the exact filter compares
    * through unix_micros, session-time-zone free like the stats. A
    * pruned read: see the object scaladoc. */
  def readTimestampRange(spark: SparkSession, dir: String, column: String,
      loMicros: Long, hiMicros: Long, version: Option[Long] = None): Option[DataFrame] =
    readPruned(spark, dir, version, "readTimestampRange", Some(column -> "ts")) { _ =>
      (Seq(FilePrune.Range(column, "ts", FilePrune.Span(loMicros, hiMicros))),
        _ => unix_micros(col(column)).between(loMicros, hiMicros))
    }

  /** The newest committed version id whose pinned as-of instant is ≤
    * `asOfMicros` — [[readAsOf]]'s resolution exposed as an ID, so
    * timestamp travel composes with the version-pinned PRUNED readers:
    * `readKeyRange(..., version = versionAsOf(t))` is "point lookup in
    * the table as of t", opening only that version's matching files.
    * None when no retained commit qualifies. */
  def versionAsOf(spark: SparkSession, dir: String, asOfMicros: Long): Option[Long] = {
    val (fs, tgt) = fsOf(spark, dir)
    committed(fs, tgt, manifestFiles(fs, tgt))
      .collectFirst { case (id, m) if m.asOf.exists(_ <= asOfMicros) => id }
  }

  /** The committed state restricted to string `column` ∈ [lo, hi]
    * (inclusive, UTF-8 byte order — Spark's native string comparison),
    * pruned by the `t str` prefix stats: a file prunes only when the
    * range provably clears its recorded prefixes, truncated ones
    * included. A pruned read: see the object scaladoc. */
  def readStringRange(spark: SparkSession, dir: String, column: String,
      lo: String, hi: String, version: Option[Long] = None): Option[DataFrame] =
    readPruned(spark, dir, version, "readStringRange", Some(column -> "str")) { _ =>
      (Seq(FilePrune.Bytes(column, lo.getBytes("UTF-8"), Some(hi.getBytes("UTF-8")))),
        _ => col(column) >= lit(lo) && col(column) <= lit(hi))
    }

  /** Partition-pruned read (r16): the committed state restricted to
    * partition values ∈ [lo, hi] under the resolved manifest's leading
    * [[PartitionSpec]] — the year-sliced report read (`BETWEEN
    * &p_year_from AND &p_year_to`). See [[readPartitionRanges]]. */
  def readPartitionRange(spark: SparkSession, dir: String, lo: Long, hi: Long,
      version: Option[Long] = None): Option[DataFrame] =
    readPartitionRanges(spark, dir, Seq(Some((lo, hi))), version)

  /** Multi-dimension partition-pruned read (r17): `ranges(d)` probes
    * spec dimension `d` with an inclusive transform-value range (None
    * = unconstrained); fewer ranges than dimensions leaves the tail
    * unconstrained. A file survives only when EVERY constrained
    * dimension could hold matching rows — judged by its recorded `v`
    * value, or, when it has none (pre-evolution and multi-valued files),
    * by its stats on the spec column through the monotone transform;
    * the exact transform filters run on top. With `version` the prune
    * applies under THAT manifest's specs and values, so partition
    * pruning composes with time travel. The reference's Q2/Q3
    * two-dimension report filters (year + supplier/state —
    * LQY_query2.txt:79-81, LQY_query3.txt:92) are exactly this shape
    * over a (year, dim2)-partitioned fact. Throws when the resolved
    * manifest carries no spec (a partition read of an unpartitioned
    * table is a wiring bug) or fewer dimensions than `ranges`; otherwise
    * a pruned read: see the object scaladoc. */
  def readPartitionRanges(spark: SparkSession, dir: String,
      ranges: Seq[Option[(Long, Long)]],
      version: Option[Long] = None): Option[DataFrame] =
    readPruned(spark, dir, version, "readPartitionRanges", None) { m =>
      if (m.specs.isEmpty) throw new IllegalStateException(
        s"SnapshotStore.readPartitionRanges: $dir carries no partition spec" +
          version.fold(" at the committed head")(v => s" at version $v"))
      if (ranges.size > m.specs.size) throw new IllegalArgumentException(
        s"SnapshotStore.readPartitionRanges: ${ranges.size} ranges probe a " +
          s"${m.specs.size}-dimension spec ${m.specs.mkString(", ")}")
      val dims = ranges.zipWithIndex.collect { case (Some((lo, hi)), d) => (d, lo, hi) }
      (dims.map { case (d, lo, hi) => FilePrune.Dim(d, FilePrune.Span(lo, hi)) },
        df => dims.map { case (d, lo, hi) => transformColumn(m.specs(d), df).between(lo, hi) }
          .foldLeft(lit(true))(_ && _))
    }

  /** The ORDERED partition-spec list the head (or `version`'s)
    * manifest was written under (empty = unpartitioned) — what a
    * writer consults before choosing how to shape a commit, and what
    * the partition-evolution spec pins. */
  def partitionSpecsOf(spark: SparkSession, dir: String,
      version: Option[Long] = None): Seq[PartitionSpec] = {
    val (fs, tgt) = fsOf(spark, dir)
    manifestFor(fs, tgt, version).toSeq.flatMap(_.specs)
  }

  /** One resolved version's FULL metadata view, from a SINGLE manifest
    * resolution (r17): what every pruning decision ([[FilePrune]]) and
    * the DSv2 planner read — separate accessor calls would re-list and
    * re-parse per call, and a commit landing between two of them could
    * pair one version's file list with another's stats. */
  private[graft] final case class TableMeta(files: Seq[String],
      stats: Seq[FileStat], typedStats: Seq[TypedFileStat],
      specs: Seq[PartitionSpec], partVals: Seq[FilePartition],
      rowCounts: Map[String, Long], nullStats: Seq[FileNullStat],
      schema: Option[org.apache.spark.sql.types.StructType])

  /** The committed head's (version, file list) from ONE manifest
    * resolution — the atomic read an OCC append bases itself on
    * (separate currentVersion/currentFiles calls could straddle a
    * concurrent commit and pair one version's id with another's
    * files; review r17). */
  private[graft] def headState(spark: SparkSession,
      dir: String): Option[(Long, Seq[String])] = {
    val (fs, tgt) = fsOf(spark, dir)
    currentManifest(fs, tgt).map { case (id, m) =>
      (id, manifestDataFiles(fs, tgt, m))
    }
  }

  private[graft] def tableMeta(spark: SparkSession, dir: String,
      version: Option[Long]): Option[TableMeta] = {
    val (fs, tgt) = fsOf(spark, dir)
    manifestFor(fs, tgt, version).map(m => TableMeta(
      manifestDataFiles(fs, tgt, m), m.stats, m.typedStats, m.specs,
      m.partVals, m.rowCounts, m.nullStats, m.schema))
  }

  /** NULL-predicate pruned read (r17): the committed state restricted to
    * `column IS NULL` (`isNull = true`) or `column IS NOT NULL`, pruned
    * by the `n`/`r` lines (the Delta nullCount shape) — for IS NULL a
    * file with a null count of 0 prunes, for IS NOT NULL a file whose
    * null count equals its row count. The reference's open-loan
    * measures (`returnDate IS NULL`, 05_InitialLoading.sql:375-390) are
    * the structural consumer. A pruned read: see the object scaladoc. */
  def readNullFilter(spark: SparkSession, dir: String, column: String,
      isNull: Boolean, version: Option[Long] = None): Option[DataFrame] =
    readPruned(spark, dir, version, "readNullFilter", None) { _ =>
      (Seq(FilePrune.Nulls(column, isNull)),
        _ => if (isNull) col(column).isNull else col(column).isNotNull)
    }

  /** The one body of every pruned reader: resolve the head (or
    * `version`'s) manifest ONCE, let `plan` turn it into bounds and the
    * exact predicate, keep the files [[FilePrune]] keeps, check
    * `typed`'s column against its stat kind, and filter exactly on top.
    * An all-pruned read plans over the full list cut by limit(0)
    * (PropagateEmptyRelation: no file or, with a recorded schema, footer
    * is read) — an empty result, not a missing table. */
  private def readPruned(spark: SparkSession, dir: String, version: Option[Long],
      op: String, typed: Option[(String, String)])(
      plan: TableMeta => (Seq[FilePrune.Bound], DataFrame => org.apache.spark.sql.Column))
      : Option[DataFrame] =
    tableMeta(spark, dir, version).flatMap { meta =>
      val (bounds, exact) = plan(meta)
      val keep = FilePrune.keep(meta, bounds)
      readFilesAs(spark, dir, if (keep.isEmpty) meta.files.sorted else keep, meta.schema).map { df =>
        typed.foreach { case (c, kind) =>
          val dt = df.schema(c).dataType
          if (!FilePrune.kindOf(dt).contains(kind)) throw new IllegalArgumentException(
            s"SnapshotStore.$op: $c is $dt, not " + Map("long" -> "an integral",
              "date" -> "a date", "ts" -> "a timestamp", "str" -> "a string")(kind) + " column")
        }
        val rows = df.filter(exact(df))
        if (keep.isEmpty) rows.limit(0) else rows
      }
    }

  /** The latest transaction version the table recorded for `appId`
    * (the Delta txn lookup): what an at-least-once driver consults to
    * decide where to resume a multi-table transaction. None when no
    * commit ever carried the marker. Growth bound: markers carry
    * forever (dropping one would re-enable the duplicate it guards
    * against — Delta expires them only under an explicit retention
    * config), one ~50-byte line per distinct writer identity; writer
    * identities are per-table-per-checkpoint and only multiply on
    * deliberate checkpoint recreation, so manifests stay
    * metadata-scale. */
  def lastTxnVersion(spark: SparkSession, dir: String, appId: String): Option[Long] = {
    val (fs, tgt) = fsOf(spark, dir)
    currentManifest(fs, tgt).flatMap(_._2.txns.get(appId))
  }

  /** UTF-8 bytes of `s` truncated to ≤ [[StatPrefixBytes]]; ._2 =
    * whether bytes were dropped. Truncation may split a multi-byte
    * codepoint — harmless, because every stat comparison (write-side
    * and prune-side) runs in raw byte space, never through a decode. */
  private def truncBytes(s: String): (Array[Byte], Boolean) = {
    val b = s.getBytes("UTF-8")
    if (b.length <= StatPrefixBytes) (b, false)
    else (java.util.Arrays.copyOf(b, StatPrefixBytes), true)
  }

  /** Every nested level forced nullable — the shape a mergeSchema read
    * produces and the only sound recording for a file list that mixes
    * schema generations (a pre-evolution file projects the evolved
    * column as null; a non-null recorded field over actual nulls would
    * be a codegen correctness hazard, not just a lie). */
  private def asNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = asNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** prev ∪ next, ADDITIVELY: every prev field keeps its position and
    * type (a field the delta dropped stays — reused files still carry
    * it, exactly like the merged-footer read); next-only fields append.
    * A same-name field whose type differs (recursively, ignoring
    * nullability) violates the additive-evolution contract and throws —
    * at WRITE time since r17, where the mergeSchema fallback could only
    * fail at read. */
  private[etl] def mergeSchemas(prev: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    val kept = prev.fields.map { pf =>
      nextByName.get(pf.name).foreach { nf =>
        // structural equality after recursive nullability normalization
        // (DataType.sameType is private[sql])
        if (asNullable(pf.dataType) != asNullable(nf.dataType))
          throw new IllegalArgumentException(
            s"SnapshotStore: column ${pf.name} changes type ${pf.dataType.simpleString} → " +
              s"${nf.dataType.simpleString} across a file-reuse commit — evolution is " +
              "additive by contract, never coercive")
      }
      pf
    }
    val prevNames = prev.fieldNames.toSet
    val added = next.fields.filterNot(f => prevNames.contains(f.name))
    org.apache.spark.sql.types.StructType(kept ++ added)
  }

  /** The table schema the head (or `version`'s) manifest records, if
    * its commit carried a `c` line — what readers plan with (zero
    * footer reads); None on pre-r17 manifests. */
  def tableSchema(spark: SparkSession, dir: String,
      version: Option[Long] = None): Option[org.apache.spark.sql.types.StructType] = {
    val (fs, tgt) = fsOf(spark, dir)
    manifestFor(fs, tgt, version).flatMap(_.schema)
  }

  /** Base64 with a `-` sentinel for the empty string (standard Base64
    * never emits `-`, and an empty token would break the space-split). */
  private def encB64(b: Array[Byte]): String = {
    val s = java.util.Base64.getEncoder.encodeToString(b)
    if (s.isEmpty) "-" else s
  }

  /** Read the latest committed state. None when nothing was ever
    * committed. Lazy — see the read-laziness contract above. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    val (fs, tgt) = fsOf(spark, dir)
    currentManifest(fs, tgt).map { case (_, m) => readManifest(spark, tgt, m) }
  }

  /** Time travel: read exactly version `id` (committed), if its manifest
    * and files are still retained — short-circuits on the id before
    * any content read. Lazy — see the read-laziness contract above. */
  def readVersion(spark: SparkSession, dir: String, id: Long): Option[DataFrame] = {
    val (fs, tgt) = fsOf(spark, dir)
    manifestFiles(fs, tgt).find(_._1 == id)
      .flatMap { case (_, p) => resolve(fs, tgt, p) }
      .map(m => readManifest(spark, tgt, m))
  }

  /** Timestamp travel: the newest committed version whose pinned as-of
    * timestamp is ≤ `asOfMicros` — "the table as of yesterday". Commits
    * without timestamp metadata never match (a timestamp query against
    * an untimestamped commit has no defined answer); None when no
    * retained commit qualifies (asking before the first commit).
    * Resolution walks newest-first and stops at the first qualifying
    * commit, so the common "as of now" query reads one manifest. Lazy —
    * see the read-laziness contract above. */
  def readAsOf(spark: SparkSession, dir: String, asOfMicros: Long): Option[DataFrame] = {
    val (fs, tgt) = fsOf(spark, dir)
    committed(fs, tgt, manifestFiles(fs, tgt))
      .collectFirst { case (_, m) if m.asOf.exists(_ <= asOfMicros) =>
        readManifest(spark, tgt, m) }
  }

  /** Atomically claim `p` by create-no-overwrite and write `content`.
    * Returns false when the path already exists (someone else claimed
    * it). On the local filesystem Hadoop's `create(p, overwrite =
    * false)` is a non-atomic exists()+truncating-open AND rename(2)
    * silently replaces — so the `file` scheme routes through
    * java.io.File.createNewFile, which the JDK guarantees atomic
    * (O_CREAT|O_EXCL). Other schemes use `fs.create(p, false)`: atomic
    * on HDFS; object stores supply their own conditional-put. The
    * content write AFTER the claim is not atomic — readers tolerate a
    * torn manifest (resolves None until content + `_SUCCESS` agree). */
  private def claimFile(fs: FileSystem, p: Path, content: Array[Byte]): Boolean = {
    val isLocal = Option(p.toUri.getScheme).forall(s => s == "file") &&
      fs.getUri.getScheme == "file"
    if (isLocal) {
      val f = new java.io.File(fs.makeQualified(p).toUri.getPath)
      if (!f.createNewFile()) return false
      val out = new java.io.FileOutputStream(f)
      try out.write(content) finally out.close()
      true
    } else {
      // ONLY an already-exists outcome means "claimed" — a permission/
      // quota/network IOException must propagate, or acquireFence would
      // hot-loop forever and promote would report a phantom conflict
      val out =
        try fs.create(p, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.nio.file.FileAlreadyExistsException        => return false
        }
      try out.write(content) finally out.close()
      true
    }
  }

  private def fenceFiles(fs: FileSystem, tgt: Path): Seq[Long] = {
    if (!fs.exists(tgt)) return Nil
    fs.listStatus(tgt).toIndexedSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(FencePrefix))
        scala.util.Try(n.stripPrefix(FencePrefix).toLong).toOption
      else None
    }
  }

  /** Mint a writer fence: the returned token is newer than every fence
    * ever minted on this table, established by the same atomic
    * exclusive-create device the commit path uses (a collision means
    * another writer just fenced — retry past it). A promote passing
    * this token fails with [[FencedException]] once any NEWER fence
    * exists — the zombie-writer failure mode becomes an explicit
    * contract violation instead of a filesystem race. Fence files are
    * tiny and never GC'd (one per writer generation, not per commit). */
  def acquireFence(spark: SparkSession, dir: String): Long = {
    val (fs, tgt) = fsOf(spark, dir)
    if (!fs.exists(tgt)) fs.mkdirs(tgt)
    var attempt = fenceFiles(fs, tgt).foldLeft(-1L)(math.max) + 1
    while (true) {
      if (claimFile(fs, new Path(tgt, f"$FencePrefix$attempt%020d"), Array.emptyByteArray))
        return attempt
      attempt = math.max(attempt + 1, fenceFiles(fs, tgt).foldLeft(-1L)(math.max) + 1)
    }
    -1L // unreachable
  }

  /** Commit `df` as the next version and return its id.
    *
    * `preferredId` seeds the monotonic id (a stream passes its batchId
    * so fresh checkpoints over old tables continue PAST the old ids
    * rather than colliding below them); `keep` bounds the retained
    * history; `asOfMicros` pins the commit's as-of timestamp for
    * [[readAsOf]] (caller-supplied, never wall clock — replays must
    * commit identical metadata); `fence` ties the commit to an
    * [[acquireFence]] token.
    *
    * `reuseFiles` (root-relative, normally [[currentFiles]]) makes the
    * commit INCREMENTAL: `df` carries only the NEW rows, which land in
    * this commit's primary directory, and the manifest's explicit file
    * list references the reused files in place — an unchanged file is
    * never rewritten, the refresh's write cost is O(delta) instead of
    * O(table). The files must belong to still-retained versions (they
    * always do when taken from [[currentFiles]] under this commit's own
    * `keep`).
    *
    * `expectCurrent` (use [[NoVersion]] for "table was empty") turns
    * the commit optimistic: if the committed head no longer equals the
    * version the caller's merge was computed FROM, the promote throws
    * [[ConflictException]] instead of committing a lost update; the
    * exclusive manifest claim backstops the window the pre-check cannot
    * see (two writers racing past the same head: exactly one claim
    * succeeds, the loser conflicts).
    *
    * `txn` records an idempotent-transaction marker (the Delta
    * txnAppId/txnVersion shape): a commit whose (appId, version) the
    * table already carries at-or-past throws
    * [[TxnAlreadyAppliedException]] — treat as success. NOTE the
    * concurrency contract: the pre-check/re-check alone closes the
    * duplicate window only for SEQUENTIAL re-runs (crash → rerun).
    * TWO CONCURRENT writers carrying the same (appId, version) can
    * BOTH land when torn debris above the head bumps one writer's
    * claimed id past the other's — exactly-once under concurrency
    * additionally requires `expectCurrent` (occ), whose head pin
    * turns the race into a [[ConflictException]] whose retry then
    * hits the marker; [[VersionedLoad.idempotent]] composed with
    * occ + [[VersionedLoad.withConflictRetry]] is the supported
    * combination (r16 ADVICE).
    *
    * `partitionSpec` / `partitionSpecs` declare the table's ordered
    * partition-spec dimensions (single + extra tail, mirroring
    * statsCol/statsCols); see [[PartitionSpec]]. */
  def promote(spark: SparkSession, dir: String, df: DataFrame,
      preferredId: Long = 0L, keep: Int = 2,
      asOfMicros: Option[Long] = None, fence: Option[Long] = None,
      reuseFiles: Seq[String] = Nil, expectCurrent: Option[Long] = None,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      partitionSpec: Option[PartitionSpec] = None,
      partitionSpecs: Seq[PartitionSpec] = Nil,
      txn: Option[(String, Long)] = None): Long = {
    val (fs, tgt) = fsOf(spark, dir)
    val effCols = (statsCol.toSeq ++ statsCols).distinct
    val callerSpecs = partitionSpec.toSeq ++ partitionSpecs
    // idempotent-transaction pre-check (r16 — the Delta txnAppId/
    // txnVersion shape): a commit carrying a txn marker the table
    // already recorded at (or past) that version was applied by an
    // earlier run — refuse BEFORE the slow snapshot write. The check
    // re-runs on every retry of an occ loop, so a crash-rerun or a
    // raced duplicate converges on exactly-once per table.
    txn.foreach { case (app, ver) =>
      if (app.isEmpty || app.exists(_.isWhitespace))
        throw new IllegalArgumentException(
          s"SnapshotStore.promote: txn appId '$app' is empty or contains whitespace — " +
            "x manifest lines are space-delimited")
      if (currentManifest(fs, tgt).exists(_._2.txns.get(app).exists(_ >= ver)))
        throw new TxnAlreadyAppliedException(
          s"SnapshotStore: txn ($app, $ver) is already applied on $dir — " +
            "an earlier run committed it; treat as success")
    }
    // partition-spec validation BEFORE the slow snapshot write, like the
    // stat columns: an unknown transform or a type mismatch must not
    // leave an orphaned snapshot directory behind. transformColumn is
    // the shared write/read builder, so a spec that validates here
    // prunes identically on read.
    callerSpecs.foreach { ps =>
      if (ps.col.exists(_.isWhitespace) || ps.transform.exists(_.isWhitespace) ||
          ps.col.contains("`"))
        throw new IllegalArgumentException(
          s"SnapshotStore.promote: partition spec '$ps' contains whitespace or a " +
            "backtick — the p/v manifest lines are space-delimited and the div " +
            "transform quotes the column name")
      transformColumn(ps, df): Unit
    }
    // stat-column validation BEFORE the (slow) snapshot write — a bad
    // stat request must not leave an orphaned snapshot directory behind
    effCols.foreach { c =>
      // stat lines are space-delimited with the column name in a token
      // position — a whitespace-bearing name would misparse on read
      // (Try → None: a safe must-scan degrade, but an UNDETECTABLE loss
      // of the skipping index; r14 ADVICE)
      if (c.exists(_.isWhitespace))
        throw new IllegalArgumentException(
          s"SnapshotStore.promote: statsCol '$c' contains whitespace — " +
            "stat lines are space-delimited and the name would misparse on read")
      if (FilePrune.kindOf(df.schema(c).dataType).isEmpty)
        throw new IllegalArgumentException(
          s"SnapshotStore.promote: statsCol $c must be an integral, date, timestamp, " +
            s"or string column, got ${df.schema(c).dataType}")
    }
    // the id moves past EVERY listed manifest, not just the committed
    // head: debris squatting at committed-head + 1 would otherwise make
    // the claim below fail with the SAME recomputed id on every retry,
    // wedging the table until manual cleanup (resolution, by contrast,
    // rightly trusts committed manifests only)
    val maxListed = manifestFiles(fs, tgt).headOption.map(_._1)
    val nextId = math.max(preferredId, maxListed.map(_ + 1).getOrElse(0L))
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val snapName = f"$SnapshotPrefix$nextId%020d-$nonce"
    df.write.mode("overwrite").parquet(new Path(tgt, snapName).toString)
    // fence + expectation checks AFTER the (slow) snapshot write,
    // immediately before the claim: the narrowest window a zombie or a
    // raced merge can slip through; the exclusive create remains the
    // final arbiter regardless
    fence.foreach { f =>
      val newest = fenceFiles(fs, tgt).foldLeft(-1L)(math.max)
      if (newest > f)
        throw new FencedException(
          s"SnapshotStore: fence $f superseded by $newest — a newer writer owns $dir; " +
            s"this writer's snapshot $snapName is unpromoted and GC-eligible")
    }
    expectCurrent.foreach { exp =>
      val head = currentManifest(fs, tgt).map(_._1).getOrElse(NoVersion)
      if (head != exp)
        throw new ConflictException(
          s"SnapshotStore: committed head is $head but this merge was computed from $exp — " +
            s"re-read and re-merge; snapshot $snapName is unpromoted and GC-eligible")
      // a CLAIMED manifest above the head is a mid-flight commit whose
      // content may land after this check — skipping past it (as the
      // debris-proof id rule otherwise would) could commit a merge that
      // silently shadows those rows once they resolve. OCC refuses to
      // race an in-flight claim; the cost is that torn debris above the
      // head blocks expectCurrent promotes until a non-OCC writer moves
      // past it or the debris is cleaned — correctness over
      // availability, and only in the optional OCC mode (plain promotes
      // keep the debris-proof behavior unchanged).
      val maxNow = manifestFiles(fs, tgt).headOption.map(_._1).getOrElse(NoVersion)
      if (maxNow > head)
        throw new ConflictException(
          s"SnapshotStore: manifest id $maxNow is claimed above head $head (in-flight or torn " +
            s"commit) — refusing to race it; snapshot $snapName is unpromoted and GC-eligible")
    }
    val ownFiles = dirDataFiles(fs, tgt, snapName)
    // one head-manifest read serves everything the plan carries forward
    val prev: Option[ManifestData] = currentManifest(fs, tgt).map(_._2)
    // re-check the txn marker against the freshest head read (narrows
    // the pre-check→claim window; the exclusive claim + occ remain the
    // final arbiter for what this check cannot see)
    txn.foreach { case (app, ver) =>
      if (prev.exists(_.txns.get(app).exists(_ >= ver)))
        throw new TxnAlreadyAppliedException(
          s"SnapshotStore: txn ($app, $ver) was applied concurrently on $dir — " +
            s"treat as success; snapshot $snapName is unpromoted and GC-eligible")
    }
    val own = ownRecords(spark, new Path(tgt, snapName), ownFiles, df.schema, effCols,
      nextSpecs(prev, reuseFiles, callerSpecs, df.schema))
    val next = planManifest(prev, snapName, asOfMicros, reuseFiles, ownFiles, own,
      callerSpecs, df.schema, txn)
    // the `end` terminator line commits the content: the exclusive
    // create is atomic but this write is not, and a truncated file list
    // must never resolve as a committed subset (see ManifestData)
    val mPath = new Path(tgt, f"$ManifestPrefix$nextId%020d")
    if (!claimFile(fs, mPath, renderManifest(next).getBytes("UTF-8"))) {
      val msg = s"SnapshotStore: manifest id $nextId was claimed concurrently — " +
        s"snapshot $snapName is unpromoted and GC-eligible"
      if (expectCurrent.isDefined) throw new ConflictException(msg)
      else throw new IllegalStateException(msg + " (concurrent writer?)")
    }
    gc(fs, tgt, keep, snapName)
    nextId
  }

  /** The commit's effective partition specs: the caller's ordered list,
    * or — when it passes none — the head's, CARRIED so a chain of
    * refreshes/merges keeps its table partitioned without re-declaring
    * the specs on every commit. A caller-passed list that differs from
    * the head's is partition EVOLUTION: it applies from this commit
    * forward. The carried list survives ALL-OR-NOTHING, even across a
    * full rewrite (a merge whose batch touches every file commits with
    * no reuse, and must not silently lose the partition index) — but a
    * full rewrite that dropped or retyped ANY spec column defines a
    * table the list can no longer describe: carrying a partial list
    * would silently renumber the dimensions, and carrying the full one
    * would make every readPartitionRanges throw forever, so the whole
    * list drops (the only way to shed specs) and the head is
    * unpartitioned. */
  private def nextSpecs(prev: Option[ManifestData], reuseFiles: Seq[String],
      callerSpecs: Seq[PartitionSpec],
      schema: org.apache.spark.sql.types.StructType): Seq[PartitionSpec] =
    if (callerSpecs.nonEmpty) callerSpecs
    else prev.map(_.specs).getOrElse(Nil) match {
      case carried if carried.nonEmpty && (reuseFiles.nonEmpty ||
          carried.forall(ps => scala.util.Try(transformColumn(ps, schema)).isSuccess)) =>
        carried
      case _ => Nil
    }

  /** The next commit's manifest — the pure half of [[promote]]: no
    * filesystem, no Spark job. `prev` is the committed head, `own` the
    * records of this commit's `ownFiles`, written under primary
    * directory `snap` with table `schema`.
    *
    *  - The FILE LIST is explicit (`reuseFiles ++ ownFiles`) only on a
    *    reuse commit; a full rewrite lists none (every file of `snap`).
    *  - Reused files CARRY their stats, row and null counts
    *    unconditionally: their content is immutable, so the records
    *    never go stale, and a commit that stats nothing itself
    *    (restore's metadata-only promote) must not drop the skipping
    *    index its reused files already carry.
    *  - Reused files carry their `v` values ONLY when the spec list is
    *    unchanged: after an evolution the old tuples were computed under
    *    other transforms (or another arity) and would prune wrongly, so
    *    the files degrade to must-scan (Iceberg's old-data-keeps-old-spec,
    *    expressed per manifest). Specs: see [[nextSpecs]].
    *  - The recorded SCHEMA (the `c` line, see readParquet) is `schema`
    *    on a full rewrite and prev ∪ `schema` on a reuse commit
    *    ([[mergeSchemas]]: a type conflict throws at write, not at
    *    read); reuse over a manifest with NO recorded schema records
    *    none — the reused files' union is unknowable without the footer
    *    reads the line exists to avoid.
    *  - TXN markers always carry (table metadata that survives even a
    *    full overwrite, as in Delta), plus `txn`. */
  private[etl] def planManifest(prev: Option[ManifestData], snap: String,
      asOf: Option[Long], reuseFiles: Seq[String], ownFiles: Seq[String],
      own: FileRecords, callerSpecs: Seq[PartitionSpec],
      schema: org.apache.spark.sql.types.StructType,
      txn: Option[(String, Long)]): ManifestData = {
    val specs = nextSpecs(prev, reuseFiles, callerSpecs, schema)
    val reused = reuseFiles.toSet
    val carried = prev.filter(_ => reuseFiles.nonEmpty)
    def carry[A](records: ManifestData => Seq[A])(file: A => String): Seq[A] =
      carried.toSeq.flatMap(records).filter(a => reused.contains(file(a)))
    ManifestData(snap, asOf,
      files = if (reuseFiles.isEmpty) Nil else reuseFiles ++ ownFiles,
      stats = own.stats ++ carry(_.stats)(_.file),
      typedStats = own.typedStats ++ carry(_.typedStats)(_.file),
      specs = specs,
      partVals = own.partVals ++
        (if (carried.exists(_.specs == specs)) carry(_.partVals)(_.file) else Nil),
      rowCounts = carry(_.rowCounts.toSeq)(_._1).toMap ++ own.rowCounts,
      nullStats = own.nullStats ++ carry(_.nullStats)(_.file),
      schemaJson = (if (reuseFiles.isEmpty) Some(schema)
        else carried.flatMap(_.schema).map(mergeSchemas(_, schema))).map(asNullable(_).json),
      txns = prev.map(_.txns).getOrElse(Map.empty) ++ txn,
      terminated = true)
  }

  /** This commit's own per-file records, from ONE O(delta) scan of its
    * just-written (page-cache warm) `snapDir` however many columns it
    * stats: the row count; per stat column the min/max (an `s` record
    * for an integral column, a `t` record for a date, timestamp or
    * string one — a lossy cast would record bounds the true values
    * escape) and the NON-NULL count (nulls = rows − non-nulls;
    * count(col) skips nulls exactly like min/max, and null-ness is
    * transform-independent, so the raw column serves every kind); per
    * spec dimension the transform's min/max, a `v` value exactly when
    * single-valued and non-null. An all-null column records no range
    * and is never prunable — absence means "must scan". No scan runs
    * when the commit stats nothing and declares no spec. */
  private def ownRecords(spark: SparkSession, snapDir: Path, ownFiles: Seq[String],
      schema: org.apache.spark.sql.types.StructType, effCols: Seq[String],
      specs: Seq[PartitionSpec]): FileRecords = {
    import org.apache.spark.sql.functions.{col => fcol, count => fcount,
      expr, max => fmax, min => fmin}
    if (ownFiles.isEmpty || (effCols.isEmpty && specs.isEmpty)) return FileRecords()
    val reread = spark.read.parquet(snapDir.toString)
    // a CARRIED spec may reference a column this commit's own rows lack
    // or cannot transform (additive-evolution edge): its own files then
    // record no value on that DIMENSION (`?` when other dimensions are
    // concrete, no record when none is) and must-scan there — absence,
    // never a wrong value
    val availDims = specs.zipWithIndex.flatMap { case (ps, d) =>
      scala.util.Try(transformColumn(ps, reread)).toOption.map(_ -> d) }
    val kinds = effCols.map(c => FilePrune.kindOf(schema(c).dataType).get)
    val statAggs = effCols.zip(kinds).zipWithIndex.flatMap { case ((c, kind), i) =>
      val base = FilePrune.statValue(fcol(c), kind)
      Seq(fmin(base).as(s"__mn$i"), fmax(base).as(s"__mx$i"), fcount(fcol(c)).as(s"__nn$i"))
    }
    val specAggs = availDims.flatMap { case (tx, d) =>
      Seq(fmin(tx).as(s"__pmn$d"), fmax(tx).as(s"__pmx$d")) }
    if (statAggs.isEmpty && specAggs.isEmpty) return FileRecords()
    val aggs = Seq(fcount(lit(1)).as("__rc")) ++ statAggs ++ specAggs
    val selCols = (effCols ++ specs.map(_.col)).distinct.filter(reread.columns.contains)
    val rows = reread
      .select(expr("regexp_extract(input_file_name(), '([^/]+/[^/]+)$', 1)").as("__f")
        +: selCols.map(fcol): _*)
      .groupBy("__f")
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
    // row layout: 0 = __f, 1 = __rc, stat col i at (2+3i, 3+3i, 4+3i),
    // then available spec dim j at (pBase+2j, pBase+2j+1)
    val pBase = 2 + 3 * effCols.size
    val ranges = for (r <- rows; ((c, kind), i) <- effCols.zip(kinds).zipWithIndex
        if !r.isNullAt(2 + 3 * i) && !r.isNullAt(3 + 3 * i)) yield (r, c, kind, 2 + 3 * i)
    val availIdx: Map[Int, Int] = availDims.map(_._2).zipWithIndex.toMap
    val partVals = if (availDims.isEmpty) Nil else rows.flatMap { r =>
      val vals: Seq[Option[Long]] = specs.indices.map { d =>
        availIdx.get(d).flatMap { j =>
          val (mn, mx) = (pBase + 2 * j, pBase + 2 * j + 1)
          if (r.isNullAt(mn) || r.isNullAt(mx) || r.getLong(mn) != r.getLong(mx)) None
          else Some(r.getLong(mn))
        }
      }
      if (vals.forall(_.isEmpty)) None else Some(FilePartition(r.getString(0), vals))
    }
    FileRecords(
      stats = ranges.collect { case (r, c, "long", i) =>
        FileStat(r.getString(0), c, r.getLong(i), r.getLong(i + 1)) },
      typedStats = ranges.collect {
        case (r, c, "str", i) =>
          val ((lo, _), (hi, hiT)) = (truncBytes(r.getString(i)), truncBytes(r.getString(i + 1)))
          TypedFileStat(r.getString(0), c, "str", encB64(lo), encB64(hi), hiT)
        case (r, c, kind, i) if kind != "long" =>
          TypedFileStat(r.getString(0), c, kind, r.getLong(i).toString,
            r.getLong(i + 1).toString, hiTrunc = false)
      },
      partVals = partVals,
      // a zero-ROW own file produces no group row above but its row
      // count is still a KNOWN fact — 0 (Delta's numRecords=0 shape) keeps
      // the count index COMPLETE: the DSv2 metadata-only aggregates need
      // a row count for every file, and a full delete's empty rewrite
      // must not silently break them
      rowCounts = ownFiles.map(_ -> 0L).toMap ++ rows.map(r => r.getString(0) -> r.getLong(1)),
      nullStats = for (r <- rows; (c, i) <- effCols.zipWithIndex)
        yield FileNullStat(r.getString(0), c, r.getLong(1) - r.getLong(4 + 3 * i)))
  }

  /** Best-effort retention, file-granular: keep the newest `keep`
    * COMMITTED manifests and every file they reference; a reader that
    * just resolved a retained manifest still finds its files intact.
    * Skipped entirely while the manifest count fits the retention bound
    * (orphan snapshot dirs from crashed writes linger until the first
    * GC-triggering commit — and forever in the keep = Int.MaxValue
    * full-log mode, where nothing is ever collected). Retention counts
    * COMMITTED manifests: torn debris with ids above the head must not
    * occupy keep slots, or a couple of junk files could push every
    * committed manifest — including the one just promoted — into the
    * dropped set and destroy the table's whole history. The cutoff is
    * the keep-th newest committed id; manifests at or above it
    * (committed or debris) are left alone, manifests below it go, and
    * snapshot files go exactly when NO retained manifest references
    * them — so a directory whose own manifest aged out keeps just the
    * files newer commits still reuse. */
  private def gc(fs: FileSystem, tgt: Path, keep: Int, justPromoted: String): Unit =
    try {
      val all = manifestFiles(fs, tgt)
      if (all.size > keep) {
        val retained = committed(fs, tgt, all).take(keep).toSeq
        if (retained.size == keep)
          sweep(fs, tgt, all, retained, Some(retained.last._1), Some(justPromoted))
      }
    } catch { case _: java.io.IOException => () }

  /** The one retention sweep of [[gc]] and [[vacuum]]. Deletes the
    * `listed` manifests below `cutoff`, then every snapshot file that no
    * `retained` manifest references — a directory left with none goes
    * whole. A directory survives whole when a retained manifest names it
    * as primary, when it is `alsoKeep`, or when any other listed
    * manifest at or above the cutoff (every one, without a cutoff) names
    * it: that manifest did not resolve — torn, or mid-commit — and may
    * yet. Each such manifest's content is read once; the retained ones
    * are already in hand. */
  private def sweep(fs: FileSystem, tgt: Path, listed: Seq[(Long, Path)],
      retained: Seq[(Long, ManifestData)], cutoff: Option[Long],
      alsoKeep: Option[String] = None): Unit = {
    cutoff.foreach(c => listed.filter(_._1 < c).foreach { case (_, p) => fs.delete(p, false): Unit })
    val referenced = retained.flatMap { case (_, m) => manifestDataFiles(fs, tgt, m) }.toSet
    val retainedIds = retained.map(_._1).toSet
    val claimed = listed.filter { case (id, _) => cutoff.forall(id >= _) && !retainedIds(id) }
      .flatMap { case (_, p) => readContent(fs, p).map(parseManifest(_).snap) }
    val whole = retained.map(_._2.snap).toSet ++ claimed ++ alsoKeep
    fs.listStatus(tgt).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(SnapshotPrefix) && !whole.contains(n)) {
        val (kept, dead) = dirDataFiles(fs, tgt, n).partition(referenced.contains)
        if (kept.isEmpty) fs.delete(st.getPath, true): Unit
        else dead.foreach(f => fs.delete(new Path(tgt, f), false): Unit)
      }
    }
  }

  /** Standalone storage hygiene — the VACUUM of the heavyweight
    * formats: apply the commit-path retention WITHOUT committing
    * anything. Collects (a) manifests below the keep-th newest
    * committed id (only when a full keep set exists — the commit-path
    * rule), and (b) snapshot directories/files that NO retained
    * committed manifest references and NO still-listed manifest claims
    * — which is exactly the debris crashed writers leave: a snapshot
    * written but never claimed lingers FOREVER under normal operation
    * (the in-commit GC only fires when the manifest count exceeds
    * `keep`, and never in the keep = Int.MaxValue full-log mode).
    *
    * Contract: run QUIESCED (no in-flight writer on this table) — a
    * just-written, not-yet-claimed snapshot is indistinguishable from
    * crashed-writer debris and would be collected; a dir any listed
    * manifest names (committed or torn) survives whole, like the
    * commit-path rule. Best-effort like GC: IO errors are swallowed,
    * the table stays consistent regardless of where the sweep stops.
    *
    * RETENTION GUARD (r16 — the Delta VACUUM retention-duration check):
    * readers may park a version pin and read lazily, so collecting a
    * recent version loses files mid-read. With `nowMicros` supplied
    * (caller-pinned instant, never wall clock — the store's asOfDate
    * determinism discipline), every committed version whose pinned
    * as-of lies within `retentionMicros` of it is PROTECTED even past
    * the `keep` bound — a pin inside the retention window survives the
    * vacuum. Asking for a retention below [[MinVacuumRetentionMicros]]
    * throws unless `enforceRetention = false` is passed deliberately
    * (the Delta retentionDurationCheck escape hatch). Untimestamped
    * commits carry no age and rely on `keep` alone.
    *
    * TIME DOMAIN (r16 ADVICE): `nowMicros` must live in the SAME
    * LOGICAL time domain as the commits' pinned `asOfMicros` — age is
    * judged by their difference, so a wall-clock `now` against
    * historical business-time pins protects everything (or nothing)
    * rather than "the last 7 days". With `nowMicros` ABSENT the
    * retention window cannot apply at all, so the below-floor check is
    * skipped too: `keep` alone governs, and no floor error fires for
    * a parameter that has no effect. */
  def vacuum(spark: SparkSession, dir: String, keep: Int = 16,
      nowMicros: Option[Long] = None,
      retentionMicros: Long = DefaultVacuumRetentionMicros,
      enforceRetention: Boolean = true): Unit = {
    if (nowMicros.isDefined && enforceRetention &&
        retentionMicros < MinVacuumRetentionMicros)
      throw new IllegalArgumentException(
        s"SnapshotStore.vacuum: retention ${retentionMicros}us is below the " +
          s"${MinVacuumRetentionMicros}us floor — a reader holding a recent version pin " +
          "would lose files mid-read; pass enforceRetention = false to override deliberately")
    try {
      val (fs, tgt) = fsOf(spark, dir)
      if (!fs.exists(tgt)) return
      val all = manifestFiles(fs, tgt)
      val resolved = committed(fs, tgt, all).toSeq
      val horizon = nowMicros.map(_ - retentionMicros)
      def young(m: ManifestData): Boolean = horizon.exists(h => m.asOf.exists(_ >= h))
      val byKeep = resolved.take(keep)
      // retained = the keep-newest committed set, widened to every
      // version still inside the retention window; the cutoff is the
      // oldest protected id, and everything at/above it survives
      // (conservative — resolved is newest-first, so the protected set
      // is effectively a prefix). Manifests go only once a full keep set
      // exists — the commit-path rule.
      val protectedIds = byKeep.map(_._1) ++ resolved.filter(c => young(c._2)).map(_._1)
      val retained =
        if (protectedIds.isEmpty) Nil
        else { val cutoff = protectedIds.min; resolved.filter(_._1 >= cutoff) }
      sweep(fs, tgt, all, retained, retained.lastOption.map(_._1).filter(_ => byKeep.size == keep))
    } catch { case _: java.io.IOException => () }
  }

  /** Optimistic multi-writer commit: re-read → re-merge → re-promote
    * until the commit lands or `maxAttempts` genuine conflicts pass.
    * `compute` receives the CURRENT committed state (None when the
    * table is empty) and returns the full desired next state; each
    * attempt fences (so stalled writers die loudly) and pins
    * `expectCurrent` to the version it read (so a commit that lands
    * between read and claim surfaces as a conflict, never a lost
    * update). Two genuine writers interleaving both commit, exactly
    * once each — the loser's merge re-runs on top of the winner's
    * state (spec: SnapshotStoreSpec "two writers both commit"). */
  def retryingPromote(spark: SparkSession, dir: String,
      compute: Option[DataFrame] => DataFrame,
      keep: Int = 2, asOfMicros: Option[Long] = None,
      maxAttempts: Int = 5): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      val fence = acquireFence(spark, dir)
      val (fs, tgt) = fsOf(spark, dir)
      val base = currentManifest(fs, tgt)
      val df = compute(base.map { case (_, m) => readManifest(spark, tgt, m) })
      try {
        return promote(spark, dir, df, keep = keep, asOfMicros = asOfMicros,
          fence = Some(fence), expectCurrent = Some(base.map(_._1).getOrElse(NoVersion)))
      } catch {
        case e: FencedException   => if (attempt >= maxAttempts) throw e
        case e: ConflictException => if (attempt >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }
}
