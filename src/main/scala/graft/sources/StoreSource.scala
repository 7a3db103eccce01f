package graft.sources

import java.util.{Map => JMap}

import graft.etl.{FilePrune, SnapshotStore}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The versioned store as a FIRST-CLASS Spark DataSource v2 (r17):
  * `spark.read.format("graft.sources.StoreSource").load(tableDir)`
  * plans over the manifest alone — schema from the recorded `c` line
  * (zero footer reads at plan time), FILE PRUNING from pushed filters
  * against the manifest's per-file stats / partition values / null
  * counts, column pruning pushed into the parquet reader, and — when
  * the caller opts into partition-grouped tasks — a reported
  * [[KeyGroupedPartitioning]] that lets Catalyst plan a STORAGE-
  * PARTITIONED JOIN between two co-partitioned store tables with NO
  * shuffle Exchange (`spark.sql.sources.v2.bucketing.enabled=true`;
  * StoreSourceSpec asserts the Exchange-free plan).
  *
  * The file pruning is [[FilePrune]], the decision the hand-called
  * readers ([[SnapshotStore.readKeyRange]] and its siblings) make: a
  * pushed filter keeps exactly the files the matching reader opens.
  * What the source adds is the planner: `df.filter(...)` reaches it as
  * pushed filters and composes with everything else Catalyst does,
  * EXPLAIN shows the decision, and joins see the layout.
  *
  * Options: `path` (table root), `version` (pin a committed version),
  * `partitionGrouped` (= "true": one task per partition-value tuple,
  * required for the storage-partitioned join; default: the kept files
  * packed into tasks the way Spark packs a parquet scan's files).
  *
  * Reading: the kept files go to Spark's own parquet reader
  * ([[ParquetPartitionReaderFactory]] over `FilePartition`s) — the same
  * vectorized reader the range readers' `FileSourceScan` runs, so both
  * store read paths share one physical reader. Batches stay columnar
  * to the operator, the session's Hadoop conf reaches the reader, and
  * every filter is also handed to parquet for row-group skipping on
  * top of the manifest's file pruning.
  *
  * Scope (documented, enforced loudly): the table must carry a
  * recorded `c` schema (any r17+ commit does); files missing an
  * additively-evolved column project it as null. Partitioning is
  * REPORTED only when every dimension is `identity` (resolvable
  * without a function catalog) or `bucket<N>` and every file carries a
  * concrete tuple; anything else degrades to unknown partitioning,
  * never a wrong one. */
class StoreSource extends TableProvider
    with sources.CreatableRelationProvider {

  override def supportsExternalMetadata(): Boolean = false

  /** `df.write.format(...).mode(...).save(dir)` — Spark routes a
    * TableProvider without BATCH_WRITE through the V1 write command,
    * which needs this interface (the JDBC pattern). Append reuses the
    * head's files, Overwrite rewrites, ErrorIfExists/Ignore honor the
    * table's existence; the commit itself is the same
    * [[StoreWrites.commit]] the catalog DML route uses. NEW tables
    * cannot start here (the read-side schema inference needs a
    * manifest) — create through the catalog
    * (`writeTo(...).create()` / CREATE TABLE) or bootstrap. */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): sources.BaseRelation = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-store: .save(<table dir>) is required"))
    parameters.get("version").foreach(v => throw new IllegalArgumentException(
      s"graft-store: cannot write to version pin $v of $dir — versions are immutable"))
    val spark = data.sparkSession
    val exists = SnapshotStore.currentVersion(spark, dir).isDefined
    import org.apache.spark.sql.SaveMode._
    mode match {
      case ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-store: $dir already exists (SaveMode.ErrorIfExists)")
      case Ignore if exists => ()
      case m => StoreWrites.commit(spark, dir, data,
        overwrite = m == Overwrite, opt = parameters.get)
    }
    val out = sqlContext
    new sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = out
      override def schema: StructType = data.schema
    }
  }

  private def dirOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException("graft-store: .load(<table dir>) is required"))

  private def versionOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("version")).map(_.toLong)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val dir = dirOf(options)
    SnapshotStore.tableSchema(spark, dir, versionOf(options)).getOrElse(
      throw new IllegalStateException(
        s"graft-store: $dir carries no recorded schema (`c` manifest line) — " +
          "commit once with an r17+ writer, or read through SnapshotStore.read"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val ci = new CaseInsensitiveStringMap(properties)
    new StoreTable(dirOf(ci), versionOf(ci), StoreTable.groupedOf(ci), schema)
  }
}

private[sources] class StoreTable(dir: String, version: Option[Long],
    grouped: Boolean, tableSchema: StructType) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graft-store:$dir" + version.fold("")(v => s"@v$v")
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** Writes ride Spark's V1Write bridge (the JDBC-v2 pattern): the
    * planned input lands as a DataFrame on the DRIVER-side insert,
    * which commits through [[SnapshotStore.promote]] — append reuses
    * the head's files (incremental add), truncate/overwrite rewrites.
    * The store's whole commit discipline comes for free: carried
    * partition specs compute `v` tuples for the new files, carried
    * stats survive on reused files, own-file stats via the
    * `statsCol`/`statsCols` write options, GC via `keep`. Writing to
    * a version PIN is refused — the past is immutable. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    version.foreach(v => throw new IllegalArgumentException(
      s"graft-store: cannot write to version pin $v of $dir — versions are immutable"))
    new StoreWriteBuilder(dir, info)
  }

  override def partitioning(): Array[Transform] = {
    val mapped = SnapshotStore.partitionSpecsOf(SparkSession.active, dir, version)
      .map(StoreTable.transformOf)
    // ALL-OR-NOTHING like StoreScan.outputPartitioning: dropping only
    // the unexpressible dimensions would CLAIM a coarser layout the
    // files do not have — a mixed-spec table reports no partitioning
    // rather than a wrong one (review r17)
    if (mapped.forall(_.isDefined)) mapped.flatten.toArray else Array.empty
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StoreScanBuilder(dir, version, grouped || StoreTable.groupedOf(options), tableSchema)
}

private[sources] object StoreTable {
  def groupedOf(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("partitionGrouped")).exists(_.equalsIgnoreCase("true"))

  /** A spec dimension as a V2 transform when Catalyst can resolve it
    * without a function catalog: identity and bucket<N>. year/month/div
    * are real transforms, but unexpressible here. */
  def transformOf(ps: SnapshotStore.PartitionSpec): Option[Transform] =
    if (ps.transform == "identity") Some(Expressions.identity(ps.col))
    else SnapshotStore.bucketN(ps.transform).map(n => Expressions.bucket(n, ps.col))
}

/** The write side of the connector. Append (the default) promotes the
  * batch WITH the head's files reused — O(delta) like every
  * incremental store commit; truncate (INSERT OVERWRITE /
  * mode("overwrite")) promotes a full rewrite. Options: `statsCol` /
  * `statsCols` (comma-separated) stat the new files, `asOfMicros`
  * pins the commit's business instant, `keep` the GC retention.
  * Concurrency: the exclusive manifest claim arbitrates as always;
  * exactly-once / OCC writes stay on the SnapshotStore API where
  * txn markers and expectCurrent live. */
private[sources] class StoreWriteBuilder(dir: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var overwrite = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    overwrite = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: sources.InsertableRelation =
        new sources.InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame,
              ignored: Boolean): Unit =
            StoreWrites.commit(data.sparkSession, dir, data,
              overwrite = overwrite,
              opt = k => Option(info.options.get(k)))
        }
    }
}

/** The ONE commit both write routes (catalog DML via V1Write,
  * `format(...).save` via CreatableRelationProvider) share — a
  * drifting copy would give the two routes different semantics.
  *
  * Appends are OCC: the head (version, files) comes from ONE manifest
  * resolution and the promote carries `expectCurrent` on it, so two
  * concurrent appends cannot both land on the same base — the loser
  * fails with ConflictException and retries, instead of silently
  * dropping the winner's files from the new head (the lost-update
  * Delta surfaces as ConcurrentAppendException; review r17).
  * Overwrites replace everything BY INTENT and stay non-OCC. */
private[sources] object StoreWrites {
  def commit(spark: SparkSession, dir: String,
      data: org.apache.spark.sql.DataFrame, overwrite: Boolean,
      opt: String => Option[String]): Unit = {
    val statsCol = opt("statsCol").map(_.trim).filter(_.nonEmpty)
    val statsCols = opt("statsCols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val asOf = opt("asOfMicros").map(_.toLong)
    val keep = opt("keep").map(_.toInt).getOrElse(16)
    val (expect, reuse) =
      if (overwrite) (None, Nil)
      else SnapshotStore.headState(spark, dir) match {
        case Some((v, files)) => (Some(v), files)
        case None             => (Some(SnapshotStore.NoVersion), Nil)
      }
    SnapshotStore.promote(spark, dir, data, keep = keep,
      asOfMicros = asOf, reuseFiles = reuse, expectCurrent = expect,
      statsCol = statsCol, statsCols = statsCols): Unit
  }
}

/** Driver-side planning: collects pushed filters as [[FilePrune]]
  * bounds (comparisons and IN on integral, date, timestamp and string
  * columns; IS [NOT] NULL on any), prunes the manifest's file list by
  * them, and prunes columns. All filters stay RESIDUAL (Spark re-applies
  * them on the scan output) — the indexes only cut IO, never
  * correctness, the store's standing contract. */
private[sources] class StoreScanBuilder(dir: String, version: Option[Long],
    grouped: Boolean, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = tableSchema
  private var pushed: Array[sources.Filter] = Array.empty
  private var offered: Array[sources.Filter] = Array.empty
  private var aggAnswer: Option[(StructType, Array[InternalRow])] = None
  private var limit: Option[Int] = None

  /** LIMIT n truncates the PLANNED file list once the manifest's known
    * row counts reach n — `df.limit(100)` over a 10k-file table plans
    * one file, not 10k tasks. Sound only on a filterless scan (any
    * residual filter could reject every row the kept files hold — and
    * Spark's rule only offers the limit then; re-checked as defense)
    * and only for per-file tasks (partition-grouped scans report a
    * layout whose per-tuple file sets must stay whole). Files without
    * a recorded count are kept and bound nothing. Spark re-applies
    * the exact limit on top (isPartiallyPushed). */
  override def pushLimit(n: Int): Boolean = {
    if (pushed.nonEmpty || grouped) false
    else { limit = Some(n); true }
  }

  override def isPartiallyPushed(): Boolean = true

  /** ONE manifest resolution serves the whole builder — aggregate
    * probing, file pruning, and the final build all read the SAME
    * resolved version (separate accessor calls could pair one
    * version's file list with a concurrently-committed version's
    * specs; review r17). */
  private lazy val metaOpt: Option[SnapshotStore.TableMeta] =
    SnapshotStore.tableMeta(SparkSession.active, dir, version)

  // Spark's parquet reader takes the required schema as given: nested
  // pruning and the empty projection of count(*) included
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The bound a pushed filter puts on the manifest, if any index can
    * act on it. */
  private def boundOf(f: sources.Filter): Option[FilePrune.Bound] = {
    def cmp(c: String, op: String, vs: Any*) =
      tableSchema.fields.find(_.name == c).flatMap(fd => FilePrune.kindOf(fd.dataType))
        .flatMap(FilePrune.compare(c, _, op, vs))
    f match {
      case sources.EqualTo(c, v)            => cmp(c, "=", v)
      case sources.In(c, vs) if vs.nonEmpty => cmp(c, "=", vs.toIndexedSeq: _*)
      case sources.GreaterThan(c, v)        => cmp(c, ">", v)
      case sources.GreaterThanOrEqual(c, v) => cmp(c, ">=", v)
      case sources.LessThan(c, v)           => cmp(c, "<", v)
      case sources.LessThanOrEqual(c, v)    => cmp(c, "<=", v)
      case sources.IsNull(c)                => Some(FilePrune.Nulls(c, isNull = true))
      case sources.IsNotNull(c)             => Some(FilePrune.Nulls(c, isNull = false))
      case _ => None
    }
  }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    // a filter is "pushed" when some manifest index can act on it; it
    // is ALWAYS also returned as residual (the parquet-source pattern:
    // best-effort pushdown, exact re-application on top). Every offered
    // filter also goes to the parquet reader for row-group skipping.
    offered = filters
    pushed = filters.filter(boundOf(_).isDefined)
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  /** Metadata-only aggregates (r17): COUNT(*) / COUNT(col) /
    * MIN(col) / MAX(col) — optionally grouped by identity-partition
    * LONG columns — answered ENTIRELY from the manifest's `r` (row
    * count), `n` (null count), `s` (long min/max) and `t date`
    * (epoch-day min/max) lines, the Delta/Iceberg metadata-aggregate
    * move: a COUNT(*) over 100 TB becomes one manifest read and ZERO
    * tasks. Soundness gates, each degrading to the normal scan (never
    * a wrong answer):
    *
    *  - Spark offers aggregate pushdown only when NO post-scan filter
    *    remains; this source keeps every filter residual, so only
    *    filterless queries arrive (`pushed.isEmpty` re-checked as
    *    defense).
    *  - COUNT(*) needs a recorded row count for EVERY file; COUNT(col)
    *    additionally the col's null count (rows − nulls is exact —
    *    count(col) is null-skipping exactly like the stats scan that
    *    wrote the lines). DISTINCT never pushes.
    *  - MIN/MAX need the col statted on every file holding rows:
    *    integral via the `s` index, DATE via the exact `t date` index.
    *    String stats are PREFIX-TRUNCATED bounds, not values — never
    *    pushed. min/max-of-per-file-min/max is exact because the file
    *    stats are null-skipping like SQL MIN/MAX.
    *  - GROUP BY cols must each be an `identity` spec dimension over a
    *    LONG column where every file carries a concrete tuple value
    *    AND a recorded null count of 0 — the recorded value is
    *    min==max over NON-NULL rows, so without the null gate a file
    *    could smuggle null-group rows into its tuple's counts. Groups
    *    come from files; a group whose files hold 0 rows is not
    *    emitted (relationally it does not exist). */
  // Spark calls supportCompletePushDown then pushAggregation with the
  // SAME Aggregation instance; memoizing on identity avoids building
  // the full answer (stat maps, groups, result rows) twice per query
  // (review r17). A different instance just recomputes — still correct.
  private var memoAgg: Aggregation = _
  private var memoAnswer: Option[(StructType, Array[InternalRow])] = None

  private def answerMemo(agg: Aggregation): Option[(StructType, Array[InternalRow])] = {
    if (!(agg eq memoAgg)) { memoAgg = agg; memoAnswer = answerFromStats(agg) }
    memoAnswer
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerMemo(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    // complete-or-nothing: answerMemo is the SAME test
    // supportCompletePushDown ran, so a partial-rewrite retry (which
    // would need merge semantics we don't implement) can never be
    // accepted here
    aggAnswer = answerMemo(agg)
    aggAnswer.isDefined
  }

  private def answerFromStats(agg: Aggregation): Option[(StructType, Array[InternalRow])] = {
    import org.apache.spark.sql.types._
    if (pushed.nonEmpty) return None
    val meta = metaOpt.getOrElse(return None)
    val files = meta.files
    val rowsOf = meta.rowCounts
    // every aggregate below needs to classify files as row-bearing or
    // empty; an unrecorded count is unknowable — bail
    if (!files.forall(rowsOf.contains)) return None
    val live = files.filter(f => rowsOf(f) > 0L)
    def fieldOf(c: String) = tableSchema.fields.find(_.name == c)
    def nameOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames()(0))
        case _ => None
      }
    // ── group dimensions
    val specIdx: Map[String, Int] = meta.specs.zipWithIndex.collect {
      case (ps, d) if ps.transform == "identity" => ps.col -> d
    }.toMap
    val byFile = meta.partVals.map(pv => pv.file -> pv.values).toMap
    val groupCols: Seq[String] =
      agg.groupByExpressions.toSeq.map(e => nameOf(e).getOrElse(return None))
    val groupDims: Seq[Int] = groupCols.map { c =>
      if (!fieldOf(c).exists(_.dataType == LongType)) return None
      val d = specIdx.getOrElse(c, return None)
      val nulls = FilePrune.nullCounts(meta, c)
      val ok = live.forall(f =>
        byFile.get(f).exists(_.lift(d).exists(_.isDefined)) && nulls.get(f).contains(0L))
      if (!ok) return None
      d
    }
    val groups: Seq[(Seq[Long], Seq[String])] =
      if (groupDims.isEmpty) Seq((Nil, live))
      else live.groupBy(f => groupDims.map(d => byFile(f)(d).get))
        .toSeq.sortBy(_._1.mkString(","))
    // ── one evaluator per aggregate: group's files → exact value
    type Eval = Seq[String] => Option[Any]
    def minMax(colRef: org.apache.spark.sql.connector.expressions.Expression,
        wantMin: Boolean): Option[(StructField, Eval)] =
      nameOf(colRef).flatMap(c => fieldOf(c)).flatMap { f =>
        // integral and date stats are exact values; timestamps are left
        // to the scan, string stats are truncated prefixes
        FilePrune.kindOf(f.dataType).filter(k => k == "long" || k == "date").map { kind =>
          val st = FilePrune.longRanges(meta, f.name, kind)
            .map { case (file, (mn, mx)) => file -> (if (wantMin) mn else mx) }
          (StructField(s"${if (wantMin) "min" else "max"}(${f.name})", f.dataType),
            (fs: Seq[String]) =>
              if (!fs.forall(st.contains)) None
              else Some(if (fs.isEmpty) null else {
                val v = if (wantMin) fs.map(st).min else fs.map(st).max
                f.dataType match {
                  case ByteType             => Byte.box(v.toByte)
                  case ShortType            => Short.box(v.toShort)
                  case IntegerType | DateType => Int.box(v.toInt)
                  case _                    => Long.box(v)
                }
              }))
        }
      }
    val evals: Seq[(StructField, Eval)] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        (StructField("count(*)", LongType, nullable = false),
          (fs: Seq[String]) => Some(Long.box(fs.map(rowsOf).sum)): Option[Any])
      case c: Count if !c.isDistinct => c.column match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] if l.value != null =>
          // count(1) — the CountStar shape the DataFrame API emits
          (StructField("count(1)", LongType, nullable = false),
            (fs: Seq[String]) => Some(Long.box(fs.map(rowsOf).sum)): Option[Any])
        case ref =>
          val name = nameOf(ref).getOrElse(return None)
          val nulls = FilePrune.nullCounts(meta, name)
          (StructField(s"count($name)", LongType, nullable = false),
            (fs: Seq[String]) =>
              if (!fs.forall(nulls.contains)) None
              else Some(Long.box(fs.map(f => rowsOf(f) - nulls(f)).sum)))
      }
      case m: Min => minMax(m.column, wantMin = true).getOrElse(return None)
      case m: Max => minMax(m.column, wantMin = false).getOrElse(return None)
      case _ => return None
    }
    // evaluate every group up front — ANY gap anywhere degrades the
    // WHOLE query to the normal scan (a per-group fallback would need
    // merge semantics complete pushdown forbids)
    val rows: Array[InternalRow] = groups.map { case (key, fs) =>
      val vals = evals.map { case (_, ev) => ev(fs).getOrElse(return None) }
      new GenericInternalRow((key.map(Long.box(_): Any) ++ vals).toArray): InternalRow
    }.toArray
    val schema = StructType(
      groupCols.map(c => StructField(c, LongType)) ++ evals.map(_._1))
    Some((schema, rows))
  }

  override def build(): Scan = {
    val meta = metaOpt.getOrElse(
      throw new IllegalStateException(version.fold(
        s"graft-store: $dir has no committed version")(v =>
        s"graft-store: version $v of $dir is not committed/retained")))
    aggAnswer.foreach { case (schema, rows) =>
      return new StoreAggScan(dir, schema, rows)
    }
    val keptFiles = FilePrune.keep(meta, pushed.toSeq.flatMap(boundOf))
    val limited = limit match {
      case Some(n) if pushed.isEmpty && !grouped =>
        val rowsBefore = keptFiles.scanLeft(0L)(_ + meta.rowCounts.getOrElse(_, 0L))
        keptFiles.zip(rowsBefore).takeWhile(_._2 < n).map(_._1)
      case _ => keptFiles
    }
    new StoreScan(dir, limited, required, tableSchema, meta.specs, meta.partVals,
      grouped, offered)
  }
}

/** A pushed-aggregate result: the answer was computed on the DRIVER
  * from manifest lines alone, so the scan is a [[LocalScan]] — Spark
  * plans it as a LocalTableScanExec with ZERO tasks and ZERO data
  * files opened (StoreAggPushdownSpec proves it with every data file
  * destroyed). */
private[sources] class StoreAggScan(dir: String, schema: StructType,
    resultRows: Array[InternalRow]) extends Scan with LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = resultRows
  override def description(): String =
    s"graft-store $dir metadata-only aggregate (${resultRows.length} rows from manifest stats)"
}

/** One task per packed run of kept files (default, Spark's own
  * `FilePartition` packing) or per concrete partition tuple
  * (`partitionGrouped` — each task owns one tuple's files and reports
  * it as the partition key, the storage-partitioned-join shape). The
  * files are read by Spark's own [[ParquetPartitionReaderFactory]], the
  * reader the range readers' `FileSourceScan` uses too: vectorized
  * batches straight to the operator, the session's Hadoop conf, and
  * every offered filter handed to parquet so row groups whose footer
  * stats rule it out are skipped. */
private[graft] class StoreScan(dir: String, val files: Seq[String],
    readSchemaV: StructType, tableSchema: StructType,
    specs: Seq[SnapshotStore.PartitionSpec],
    partVals: Seq[SnapshotStore.FilePartition], grouped: Boolean,
    filters: Array[sources.Filter])
    extends Scan with Batch with SupportsReportPartitioning {

  override def readSchema(): StructType = readSchemaV
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-store $dir (${files.size} files after pruning)"

  /** (tuple → its files), defined only when EVERY kept file carries a
    * fully-concrete value tuple — the precondition for partition-
    * grouped tasks and for reporting the layout to Catalyst. */
  private lazy val tuples: Option[Seq[(Seq[Long], Seq[String])]] = {
    val byFile = partVals.map(pv => pv.file -> pv.values).toMap
    val concrete = specs.nonEmpty && files.forall(f =>
      byFile.get(f).exists(vs => vs.size == specs.size && vs.forall(_.isDefined)))
    if (!concrete) None
    else Some(files.map(f => (byFile(f).map(_.get), f))
      .groupBy(_._1).toSeq.map { case (k, fs) => (k, fs.map(_._2).sorted) }
      .sortBy(_._1.mkString(",")))
  }

  private lazy val partitions: Array[InputPartition] = {
    val spark = SparkSession.active
    // each kept file is one whole-file split; length and mtime come from
    // ONE listing per distinct snapshot directory, not a stat per file
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val st: Map[String, FileStatus] = files.groupBy(new Path(root, _).getParent).flatMap {
      case (parent, inDir) =>
        val listed = fs.listStatus(parent).map(s => s.getPath.getName -> s).toMap
        inDir.map(f => f -> listed.getOrElse(new Path(f).getName,
          throw new java.io.FileNotFoundException(
            s"graft-store: $dir/$f is in the manifest but not on disk")))
    }
    def split(f: String) = PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(st(f).getPath), 0L, st(f).getLen, Array.empty[String],
      st(f).getModificationTime, st(f).getLen)
    if (grouped && tuples.isDefined)
      tuples.get.zipWithIndex.map { case ((key, inTuple), i) =>
        // per-dimension key value types match the reported transform's
        // result type: identity → long (the column), bucket → int (the
        // V2 bucket function's resultType) — a mismatched partition-key
        // row type would break the planner's value comparisons
        val typed: Seq[Any] = key.zip(specs).map { case (v, ps) =>
          if (SnapshotStore.bucketN(ps.transform).isDefined) Int.box(v.toInt) else Long.box(v)
        }
        new KeyedFilePartition(i, inTuple.map(split).toArray, InternalRow.fromSeq(typed))
          : InputPartition
      }.toArray
    else FilePartition.getFilePartitions(spark, files.map(split).sortBy(-_.length),
      FilePartition.maxSplitBytes(spark,
        Seq(PartitionDirectory(InternalRow.empty, st.values.toArray)))).toArray
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  /** Reported only for dimensions Catalyst can resolve WITHOUT a
    * function catalog ([[StoreTable.transformOf]]), identity only over
    * a LONG column (the partition key rows carry longs); anything else
    * degrades to unknown partitioning, never a wrong report. */
  override def outputPartitioning(): Partitioning = {
    val report = specs.flatMap(ps => StoreTable.transformOf(ps).filter(_ =>
      ps.transform != "identity" || tableSchema.fields.find(_.name == ps.col)
        .exists(_.dataType == org.apache.spark.sql.types.LongType)))
    if (grouped && tuples.exists(_.nonEmpty) && report.size == specs.size)
      new KeyGroupedPartitioning(report.toArray, tuples.get.size)
    else new UnknownPartitioning(partitions.length)
  }

  /** Spark's parquet reader with the conf keys its own `ParquetScan`
    * sets before building the same factory. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val sql = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    Seq(ParquetInputFormat.READ_SUPPORT_CLASS -> classOf[ParquetReadSupport].getName,
      ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA -> readSchemaV.json,
      ParquetWriteSupport.SPARK_ROW_SCHEMA -> readSchemaV.json,
      SQLConf.SESSION_LOCAL_TIMEZONE.key -> sql.sessionLocalTimeZone,
      SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key -> sql.nestedSchemaPruningEnabled.toString,
      SQLConf.CASE_SENSITIVE.key -> sql.caseSensitiveAnalysis.toString,
      SQLConf.PARQUET_BINARY_AS_STRING.key -> sql.isParquetBinaryAsString.toString,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP.key -> sql.isParquetINT96AsTimestamp.toString,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key ->
        sql.parquetInferTimestampNTZEnabled.toString,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key -> sql.legacyParquetNanosAsLong.toString,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key ->
        sql.parquetReaderRespectUnknownTypeAnnotation.toString,
    ).foreach { case (k, v) => conf.set(k, v) }
    ParquetPartitionReaderFactory(sql,
      spark.sparkContext.broadcast(new SerializableConfiguration(conf)),
      tableSchema, readSchemaV, new StructType(), filters, None,
      new ParquetOptions(Map.empty[String, String], sql))
  }
}

/** A partition-grouped task: Spark's file partition plus the tuple it
  * reports as its storage-partitioned-join key. */
private[sources] class KeyedFilePartition(index: Int, files: Array[PartitionedFile],
    key: InternalRow) extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}
