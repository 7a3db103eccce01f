package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's subsequent-load contract (07_SubsequentLoading.sql:
  * 324-442 — re-runnable NOT-EXISTS-guarded fact refresh) committed
  * through [[SnapshotStore]]: each refresh is one atomic versioned
  * commit, so the batch path gets exactly the crash-safety the
  * streaming SCD2 sink has — a refresh that dies mid-write leaves the
  * previous version current (readers never observe a half-appended
  * fact), a retry simply re-runs the refresh on top of it, and every
  * pre/post state stays time-travelable for audit.
  *
  * Scale shape: the refresh writes ONLY the delta. The anti-join of the
  * batch against the existing fact on its grain key (the
  * [[MergeUpsert.insertMissing]] NOT-EXISTS guard; the batch side
  * broadcasts when small) produces the genuinely-new rows, those land
  * as this commit's files, and the manifest reuses every existing file
  * BY REFERENCE ([[SnapshotStore.currentFiles]] → `promote(reuseFiles)`)
  * — the reference's MERGE-touches-only-new-rows contract
  * (07_SubsequentLoading.sql:331-355) applied to the storage layer. An
  * unchanged file is never rewritten (byte-identity across refreshes is
  * spec-pinned), so at 100 TB a daily refresh costs O(delta) write, not
  * O(table). [[merge]] extends the same file-reuse discipline to the
  * UPDATE arm, [[delete]] to the keyed DELETE arm, and [[applyCdc]] to
  * the full three-arm I/U/D contract (all copy-on-write: only files
  * containing a matched key are rewritten); [[compact]] is the
  * complementary full rewrite that heals the small-file accumulation
  * many incremental commits leave behind — and, with `sortBy`,
  * re-clusters the layout so the stats index keeps pruning after it.
  */
object VersionedLoad {

  /** First load: commit `initial` as the table's version 0.
    * `statsCol` (an integral column, normally the grain key) makes
    * this and every downstream commit record per-file min/max stats —
    * the data-skipping index [[merge]] prunes with. `statsCols` adds
    * further stat columns (integral, date, timestamp or string — the
    * multi-column index every pruned read decides with, [[FilePrune]]). */
  def bootstrap(spark: SparkSession, table: String, initial: DataFrame,
      asOfMicros: Long, keep: Int = 16, statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      partitionSpec: Option[SnapshotStore.PartitionSpec] = None,
      partitionSpecs: Seq[SnapshotStore.PartitionSpec] = Nil): Long =
    SnapshotStore.promote(spark, table, initial,
      preferredId = 0L, keep = keep, asOfMicros = Some(asOfMicros),
      statsCol = statsCol, statsCols = statsCols, partitionSpec = partitionSpec,
      partitionSpecs = partitionSpecs)

  /** Compact the CURRENT version's files into `numFiles` as a NEW
    * commit — the table-format answer to small-file accumulation (many
    * incremental refreshes each writing a few files): readers never
    * observe a half-compacted directory (the rewrite is invisible until
    * its manifest promotes), the pre-compaction version stays
    * time-travelable until GC, and a crash mid-rewrite leaves only an
    * unreferenced snapshot directory. Pass the compacted version's own
    * `asOfMicros` so the LOGICAL timeline is unchanged: readAsOf at
    * that instant resolves the compacted (newest) physical version.
    * Content is identical by construction — coalesce only merges
    * partitions. After a chain of file-reuse refreshes, compaction also
    * collapses the reference chain: the new manifest owns all its files
    * directly, letting GC reclaim the chain's spread-out debris.
    *
    * `sortBy` RANGE-CLUSTERS the rewrite (r15): rows repartition by
    * range on that column and sort within partitions, so the compacted
    * files carry DISJOINT key spans — without it, coalesce interleaves
    * the inputs and every output file spans the whole key range,
    * silently degrading [[SnapshotStore.readKeyRange]] pruning to a
    * full scan right when the table was just "optimized". With sortBy
    * (+ the matching statsCol), a post-compaction point/range lookup
    * opens O(matching files) — the io_sorted_layout range discipline
    * wired into the store's own compact path. Cost: one range-exchange
    * shuffle instead of coalesce's free merge; content identical either
    * way.
    *
    * `zorderBy` (exactly two integral/date columns, exclusive with
    * sortBy) MORTON-CLUSTERS the rewrite instead — the OPTIMIZE ZORDER
    * of the heavyweight formats, on the store's own layout path: both
    * dimensions RANK-scale to 8 bits through sampled quantile
    * boundaries (equal-frequency cells — one approxQuantile pass over
    * the two columns), interleave through the codegen'd
    * [[graft.functions.ZOrder]] expression, and the range shuffle on
    * the curve position writes files whose recorded per-file spans are
    * NARROW IN BOTH columns — so [[SnapshotStore.readKeyRange]] prunes
    * on either dimension, where a single-key sort serves only its
    * leading column. Rank (not min/max-linear) scaling keeps the cells
    * equal-frequency under skew: a long-tail dim or a few far outliers
    * would collapse linear cells into one and degrade the curve toward
    * a single-key sort. Record stats for both z-order columns
    * (statsCol/statsCols) or the narrow layout is invisible to the
    * pruner. */
  def compact(spark: SparkSession, table: String, numFiles: Int,
      asOfMicros: Option[Long] = None, keep: Int = 16,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      sortBy: Option[String] = None, zorderBy: Seq[String] = Nil,
      partitionSpec: Option[SnapshotStore.PartitionSpec] = None,
      partitionSpecs: Seq[SnapshotStore.PartitionSpec] = Nil): Long = {
    import org.apache.spark.sql.functions.{call_function, col, datediff, lit, when}
    if (sortBy.isDefined && zorderBy.nonEmpty)
      throw new IllegalArgumentException(
        "VersionedLoad.compact: sortBy and zorderBy are exclusive clustering modes")
    if (zorderBy.nonEmpty && zorderBy.size != 2)
      throw new IllegalArgumentException(
        s"VersionedLoad.compact: zorderBy takes exactly two columns, got $zorderBy")
    val current = SnapshotStore.read(spark, table).getOrElse(
      throw new IllegalStateException(
        s"VersionedLoad.compact: $table has no committed version"))
    val shaped =
      if (zorderBy.nonEmpty) {
        graft.functions.ZOrder.register(spark)
        if (current.columns.contains("__z"))
          throw new IllegalArgumentException(
            "VersionedLoad.compact: the table carries a column named __z, which collides " +
              "with the z-order working column and would be silently lost — rename it first")
        def asLong(c: String): org.apache.spark.sql.Column =
          current.schema(c).dataType match {
            case org.apache.spark.sql.types.DateType =>
              datediff(col(c), lit("1970-01-01").cast("date")).cast("long")
            case dt if FilePrune.kindOf(dt).contains("long") => col(c).cast("long")
            case dt => throw new IllegalArgumentException(
              s"VersionedLoad.compact: zorderBy column $c must be integral or date, got $dt")
          }
        // RANK-scale each dim into 0..255 via sampled quantile
        // boundaries (equal-frequency cells): skew — a long-tail dim, a
        // few far outliers — still spreads across every cell, where
        // min/max-LINEAR scaling collapses most rows into a few and the
        // Morton clustering degrades toward a single-key sort.
        // Boundaries and probes compare in DOUBLE space, so wide or
        // mixed-sign long ranges cannot overflow the scale arithmetic
        // (r15 ADVICE); quantile error only shifts cell boundaries,
        // never correctness — the recorded per-file stats stay exact.
        // A degenerate or all-null dim contributes a constant cell
        // (harmless — the other dim still orders).
        val probs = (1 to 255).map(_ / 256.0).toArray
        val qdf = current.select(
          asLong(zorderBy.head).cast("double").as("__q0"),
          asLong(zorderBy(1)).cast("double").as("__q1"))
        val bounds = qdf.stat.approxQuantile(Array("__q0", "__q1"), probs, 0.01)
        // cell(v) = #boundaries STRICTLY below v, over ALL 255 quantile
        // boundaries (repeats kept — a value occupying many quantile
        // slots pushes everything above it proportionally, which IS the
        // equal-frequency weighting): cells land 0-based on the full
        // 0..255 range, so a low-cardinality dim maps to bit-aligned
        // multiples of 256/K and the Morton quadrants stay exact.
        // (Deduped >= counting produced 1-based cells compressed into
        // 1..K, whose top bits no longer split the curve into quadrants.)
        // The count runs as the codegen'd binary-search expression
        // [[graft.functions.QuantileCell]] — O(log 256) per row and one
        // static call in generated code, where a 255-branch when()-sum
        // would codegen a ~500-node tree per dimension.
        graft.functions.QuantileCell.register(spark)
        // coalesce: a NULL dim value takes cell 0 (the when()-sum's old
        // behavior) — without it bit_interleave's null-intolerance would
        // collapse every null-dim row into one unsorted NULL z bucket,
        // losing the other dimension's ordering for those rows
        def ranked(c: org.apache.spark.sql.Column, bs: Array[Double]) =
          if (bs.isEmpty) lit(0L) // all-null dim
          else org.apache.spark.sql.functions.coalesce(
            call_function("quantile_cell", c.cast("double"), lit(bs)), lit(0L))
        current
          .withColumn("__z", call_function("bit_interleave",
            ranked(asLong(zorderBy.head), bounds(0)),
            ranked(asLong(zorderBy(1)), bounds(1))))
          .repartitionByRange(numFiles, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
      } else sortBy match {
        case Some(c) =>
          current.repartitionByRange(numFiles, col(c)).sortWithinPartitions(c)
        case None => current.coalesce(numFiles)
      }
    // compact is layout maintenance, not a semantic replace: the head's
    // FULL partition-spec list carries across the full rewrite (its
    // per-file values recompute from the rewritten files) unless
    // overridden
    val carrySpecs: Seq[SnapshotStore.PartitionSpec] =
      if (partitionSpec.isDefined || partitionSpecs.nonEmpty)
        partitionSpec.toSeq ++ partitionSpecs
      else SnapshotStore.partitionSpecsOf(spark, table)
    SnapshotStore.promote(spark, table, shaped,
      keep = keep, asOfMicros = asOfMicros, statsCol = statsCol, statsCols = statsCols,
      partitionSpecs = carrySpecs)
  }

  /** One incremental refresh: anti-join `batch` against the CURRENT
    * committed version on `keys` (replaying an overlapping batch is a
    * no-op — the reference's re-runnable contract), write ONLY the new
    * rows, commit them plus the current version's files by reference as
    * the next version, and return its id. Throws when the table was
    * never bootstrapped — refreshing nothing is a pipeline wiring bug,
    * not an implicit bootstrap. */
  def refresh(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String], asOfMicros: Long, keep: Int = 16,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil): Long =
    refreshOpt(spark, table, batch, keys, Some(asOfMicros), keep, statsCol, statsCols)

  /** ROLLBACK as a forward commit (the RESTORE of the heavyweight
    * formats): re-promote version `version`'s state as the NEW head —
    * a METADATA-ONLY commit, because the new manifest references the
    * old version's files in place; no data is rewritten regardless of
    * table size (the commit's own primary directory holds only the
    * empty-schema marker write). History stays append-only: the rolled-
    * back-over versions remain travelable until GC, and the restore
    * itself is one more auditable version. Throws when `version` is not
    * committed/retained. */
  def restore(spark: SparkSession, table: String, version: Long,
      asOfMicros: Option[Long] = None, keep: Int = 16): Long = {
    val files = SnapshotStore.filesForVersion(spark, table, version).getOrElse(
      throw new IllegalStateException(
        s"VersionedLoad.restore: version $version of $table is not committed/retained"))
    val state = SnapshotStore.readVersion(spark, table, version).getOrElse(
      throw new IllegalStateException(
        s"VersionedLoad.restore: version $version of $table is unreadable"))
    SnapshotStore.promote(spark, table, state.limit(0),
      keep = keep, asOfMicros = asOfMicros, reuseFiles = files)
  }

  /** Incremental consumption between two committed versions: the rows
    * in files `toVersion` references that `fromVersion` does not — for
    * an append-only file-reuse chain (every [[refresh]] commit) this IS
    * the set of rows inserted between the versions, computed at
    * O(delta) read cost from the manifest file-list DIFF, never a scan
    * or join over the full table (the CDC-read pattern of the
    * heavyweight formats, for the insert-only contract this load
    * implements). Precondition: no [[compact]]/[[restore]]/[[merge]]/
    * [[delete]]/[[applyCdc]] commit strictly between the two versions —
    * a rewrite re-homes unchanged rows into new files, so the file diff
    * would return them as "changes" (for merge/delete: the touched
    * files' survivors), and deleted rows are invisible to a
    * new-files-only read; diff across rewrite boundaries per leg with
    * [[upsertsBetween]]/[[cdcBetween]] instead.
    * None when nothing changed. */
  def changesBetween(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): Option[DataFrame] = {
    val newFiles = (filesOf(spark, table, toVersion, "changesBetween")
      -- filesOf(spark, table, fromVersion, "changesBetween")).toSeq.sorted
    SnapshotStore.readFilesForVersion(spark, table, Some(toVersion), newFiles)
  }

  private def filesOf(spark: SparkSession, table: String, v: Long, op: String): Set[String] =
    SnapshotStore.filesForVersion(spark, table, v).getOrElse(
      throw new IllegalStateException(
        s"VersionedLoad.$op: version $v of $table is not committed/retained")).toSet

  /** Version `version`'s files that can hold a row whose `statsCol`
    * lies in `probe`'s span on it — integral, date, timestamp or string,
    * pruned by [[FilePrune]]: a row outside every probe key's span can
    * neither cancel nor match anything. The span comes from the
    * manifest when the caller knows the probe is exactly `probeFiles`
    * of a committed version (their stat and null-count lines already
    * record it — no driver-blocking min/max job; r18), else from one
    * min/max scan of the probe. Every file is read when no statsCol or
    * stat exists, or the probe carries a null key (no span describes
    * it). None when nothing is kept. */
  private def prunedRead(spark: SparkSession, table: String, version: Long,
      statsCol: Option[String], probe: DataFrame,
      probeFiles: Option[(Long, Set[String])] = None): Option[DataFrame] = {
    val meta = SnapshotStore.tableMeta(spark, table, Some(version)).getOrElse(
      throw new IllegalStateException(
        s"VersionedLoad: version $version of $table is not committed/retained"))
    val kept = for {
      c <- statsCol
      kind <- FilePrune.kindOf(probe.schema(c).dataType)
      if FilePrune.hasStats(meta, c, kind)
      bound <- probeFiles
        .flatMap { case (pv, pfs) => SnapshotStore.tableMeta(spark, table, Some(pv))
          .flatMap(FilePrune.spanOf(_, c, kind, pfs)) }
        .getOrElse(FilePrune.scanSpan(probe, c, kind))
    } yield FilePrune.keep(meta, Seq(bound))
    SnapshotStore.readFilesForVersion(spark, table, Some(version),
      kept.getOrElse(meta.files.sorted))
  }

  /** Value-exact CDC between two committed versions: every row of
    * `toVersion` that `fromVersion` did not contain — inserts AND the
    * new values of updates (for delete events too, use [[cdcBetween]]).
    * Unlike [[changesBetween]]'s O(delta) file diff, this read is
    * CORRECT across ANY commit chain — [[merge]] re-homes touched
    * files' unchanged survivors and [[compact]]/[[restore]] re-home
    * everything, and the multiset difference cancels every re-homed
    * row exactly.
    *
    * Cost: the new files' rows (file diff, O(delta) for refresh/merge
    * chains; O(table) across a compaction) differenced against the
    * from-version — `statsCol` prunes the from-side read to the files
    * whose key range intersects the new rows' span (one O(delta)
    * min/max scan + the manifest stats), because a from-row outside
    * every new row's key range can cancel nothing. None when nothing
    * changed.
    *
    * Schema precondition: the chain between the versions is ADDITIVE —
    * every from-side column still exists in the to-side schema. A
    * from-side-only column (a raw promote that DROPPED a column) would
    * otherwise be silently projected away, letting a from-row that
    * differs only there spuriously cancel a genuinely new row; the
    * violation fails loudly instead (r14 ADVICE). */
  def upsertsBetween(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long,
      statsCol: Option[String] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val fromFiles = filesOf(spark, table, fromVersion, "upsertsBetween")
    val toFiles   = filesOf(spark, table, toVersion, "upsertsBetween")
    val newFiles  = (toFiles -- fromFiles).toSeq.sorted
    SnapshotStore.readFilesForVersion(spark, table, Some(toVersion), newFiles).flatMap { newRows =>
      val fromSide: Option[DataFrame] =
        prunedRead(spark, table, fromVersion, statsCol, newRows,
          // the probe is exactly the new files' contents — the manifest
          // span fast path applies (no driver min/max job)
          probeFiles = Some((toVersion, newFiles.toSet)))
      val changed = fromSide.fold(newRows) { f =>
        def nullLit(fd: org.apache.spark.sql.types.StructField) =
          org.apache.spark.sql.functions.lit(null).cast(fd.dataType).as(fd.name)
        val newHave = newRows.columns.toSet
        val extra = f.columns.filterNot(newHave)
        if (extra.isEmpty) {
          // fast path (from-side ⊆ new-files schema): align the
          // from-side to the new rows' schema, projecting columns an
          // additive evolution introduced as nulls — a survivor
          // re-homed with only a null-valued new column is logically
          // unchanged and must cancel
          val fHave = f.columns.toSet
          val sel = newRows.schema.fields.map(fd =>
            if (fHave.contains(fd.name)) col(fd.name) else nullLit(fd))
          newRows.exceptAll(f.select(sel.toIndexedSeq: _*))
        } else {
          // the from-side carries columns the NEW files lack. That is
          // non-additive only when the FULL toVersion schema lacks them
          // too: a rewrite touching only pre-evolution files yields new
          // files WITHOUT an evolved column that other toVersion files
          // still carry (r15 ADVICE — the r14 newRows-only check threw
          // spuriously here). Validate against the union schema of all
          // toVersion files (footer reads, metadata-scale), then diff
          // in that union space: a column absent from a side's files is
          // null there under mergeSchema, so extending both sides with
          // typed nulls compares exactly what a full-table read would.
          val toSchema = SnapshotStore.tableSchema(spark, table, Some(toVersion))
            .getOrElse(SnapshotStore.readFiles(spark, table, toFiles.toSeq.sorted).get.schema)
          val toHave = toSchema.fieldNames.toSet
          val dropped = extra.filterNot(toHave)
          if (dropped.nonEmpty)
            throw new IllegalStateException(
              s"VersionedLoad.upsertsBetween: version $fromVersion carries column(s) " +
                s"${dropped.mkString(", ")} absent from version $toVersion — the chain is " +
                "not additive, and projecting them away would under-report changes")
          val union = toSchema.fields.filter(fd =>
            newHave.contains(fd.name) || f.columns.contains(fd.name))
          def align(df: DataFrame) = {
            val have = df.columns.toSet
            df.select(union.map(fd =>
              if (have.contains(fd.name)) col(fd.name) else nullLit(fd)).toIndexedSeq: _*)
          }
          align(newRows).exceptAll(align(f))
        }
      }
      Some(changed)
    }
  }

  /** Row-level CDC between two committed versions WITH delete events:
    * the upsert rows of [[upsertsBetween]] plus the PRE-IMAGE of every
    * deleted row, each tagged by a `_change_type` column ('upsert' |
    * 'delete') — what a downstream replica applies after a chain that
    * includes [[delete]]/[[applyCdc]] commits.
    *
    * Delete detection is file-diff-shaped like the rest of the CDC
    * surface: a deleted key's file was necessarily REWRITTEN (its
    * survivors re-homed), so every delete candidate lives in the files
    * `fromVersion` references that `toVersion` no longer does — an
    * O(touched files) read, never a full from-side scan. A candidate
    * is a real delete exactly when its key exists in NO toVersion file;
    * that existence probe prunes by `statsCol` to the to-side files
    * whose range intersects the candidates' span. Update pre-images and
    * re-homed unchanged rows probe positive and drop out. Keys compare
    * NULL-SAFE, so a null-keyed row deletes correctly instead of
    * phantom-deleting forever. None when nothing changed at all. */
  def cdcBetween(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String],
      statsCol: Option[String] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.lit
    val fromFiles = filesOf(spark, table, fromVersion, "cdcBetween")
    val toFiles   = filesOf(spark, table, toVersion, "cdcBetween")
    val removed   = fromFiles -- toFiles
    val ups = upsertsBetween(spark, table, fromVersion, toVersion, statsCol)
      .map(_.withColumn("_change_type", lit("upsert")))
    // the delete-existence probe prunes the to-side ONLY on a grain-key
    // component: a non-key statsCol an update changed could prune the
    // file holding the key's NEW value out of the probe, emitting the
    // update's pre-image as a false delete (r15 ADVICE).
    // upsertsBetween's whole-row pruning above is unaffected and keeps
    // the caller's statsCol.
    val probeCol = statsCol.filter(keys.contains)
    val dels = SnapshotStore.readFilesForVersion(spark, table, Some(fromVersion),
      removed.toSeq.sorted).map { cand =>
      val toKeys = prunedRead(spark, table, toVersion, probeCol, cand,
        // the candidates are exactly the removed files' contents — the
        // manifest span fast path applies (no driver min/max job)
        probeFiles = Some((fromVersion, removed)))
        .map(_.select(keys.map(org.apache.spark.sql.functions.col): _*))
      toKeys.fold(cand) { tk =>
        val cond = keys.map(k => cand(k) <=> tk(k)).reduce(_ && _)
        cand.join(tk, cond, "left_anti")
      }.withColumn("_change_type", lit("delete"))
    }
    (ups, dels) match {
      case (Some(u), Some(d)) => Some(u.unionByName(d, allowMissingColumns = true))
      case (u, d)             => u.orElse(d)
    }
  }

  /** [[refresh]] with optional as-of metadata — a commit without a
    * pinned instant is invisible to timestamp travel but fully version-
    * travelable (the streaming fact sink uses this when no event-time
    * column is configured). */
  def refreshOpt(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String], asOfMicros: Option[Long], keep: Int = 16,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): Long = {
    val current = SnapshotStore.read(spark, table).getOrElse(
      throw new IllegalStateException(
        s"VersionedLoad.refresh: $table has no committed version — bootstrap first"))
    val newRows = batch.join(current, keys, "left_anti")
    SnapshotStore.promote(spark, table, newRows,
      keep = keep, asOfMicros = asOfMicros,
      reuseFiles = SnapshotStore.currentFiles(spark, table),
      statsCol = statsCol, statsCols = statsCols, txn = txn)
  }

  /** Copy-on-write MERGE — the full upsert at the storage layer, where
    * [[refresh]] implements only the insert arm: matched keys take the
    * batch's row, unmatched existing rows survive, unmatched batch rows
    * insert, all as ONE atomic versioned commit. The reference splits
    * this across two statement shapes — its MERGEs carry only the
    * NOT-MATCHED insert arm (07_SubsequentLoading.sql:331-355) while
    * updates arrive through correlated UPDATEs against the same facts
    * (07_SubsequentLoading.sql:288-322, the update_correlated
    * contract); merge() is the combined shape both compose into once
    * commits must be atomic and versioned.
    *
    * Scale shape: only the files that CONTAIN a matched key are
    * rewritten — their surviving rows re-land with the batch in this
    * commit's primary directory, every untouched file is reused by
    * reference, so the write cost is O(delta + touched files), never
    * O(table); with a key-clustered layout (bucketing, the sorted-
    * layout op) the touched set concentrates instead of spraying
    * across every file. Locating the matched keys costs one semi-join
    * scan of the current version (the batch's distinct keys broadcast
    * when small); the touched-file list itself is metadata-scale
    * (bounded by the file count, like the manifest).
    *
    * Precondition: `batch` is key-unique — dedupe first (the streaming
    * fact sink's deterministic min-struct winner is the supported way).
    * Duplicate keys across EXISTING files (impossible through
    * bootstrap + refresh/merge, possible through raw promotes) are
    * healed as a side effect: every copy's file is touched, every old
    * copy drops, exactly the batch row survives.
    *
    * Concurrency: like [[refresh]], single-writer by default — a
    * commit landing between this merge's read and its promote would be
    * silently overwritten (the lost-update race every read-merge-write
    * has). `occ = true` pins the promote to the head this merge read:
    * the race then surfaces as [[SnapshotStore.ConflictException]] to
    * retry, at the documented OCC cost that torn debris above the head
    * blocks the commit (which is why the streaming sink, whose crash
    * recovery depends on promoting PAST its own debris, keeps the
    * default).
    *
    * Throws when the table was never bootstrapped — merging into
    * nothing is a pipeline wiring bug, not an implicit bootstrap. */
  def merge(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String], asOfMicros: Option[Long], keep: Int = 16,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      occ: Boolean = false, txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.col
    val base = SnapshotStore.currentVersion(spark, table)
    val expect = if (occ) Some(base.getOrElse(SnapshotStore.NoVersion)) else None
    val files = SnapshotStore.currentFiles(spark, table)
    if (files.isEmpty)
      throw new IllegalStateException(
        s"VersionedLoad.merge: $table has no committed version — bootstrap first")
    val batchKeys = batch.select(keys.map(col): _*).distinct()
    val touched = locateTouched(spark, table, files, batchKeys, keys)
    if (touched.isEmpty)
      // pure insert: nothing to rewrite, reuse every file by reference
      return SnapshotStore.promote(spark, table, batch,
        keep = keep, asOfMicros = asOfMicros, reuseFiles = files,
        statsCol = statsCol, statsCols = statsCols, expectCurrent = expect, txn = txn)
    val untouched = files.filterNot(touched)
    // survivors: rows of the touched files whose key the batch does NOT
    // carry — read ONLY those files, not the table
    val survivors = SnapshotStore.readFilesForVersion(spark, table, None, touched.toSeq.sorted).get
      .join(batchKeys, keys, "left_anti")
    // allowMissingColumns: ADDITIVE schema evolution — a batch carrying
    // a new column unions with survivors that predate it (null there),
    // and the store's mergeSchema reads project it as null in every
    // reused file; see SnapshotStore.readParquet
    SnapshotStore.promote(spark, table, batch.unionByName(survivors, allowMissingColumns = true),
      keep = keep, asOfMicros = asOfMicros, reuseFiles = untouched,
      statsCol = statsCol, statsCols = statsCols, expectCurrent = expect, txn = txn)
  }

  /** Row-level copy-on-write DELETE — the missing third of the MERGE
    * contract ([[merge]] covers update+insert): every current row whose
    * key appears in `deleteKeys` is removed, as ONE atomic versioned
    * commit. The reference's only deletes are whole-table lifecycle
    * truncations (00_Deleteall.sql, 05_InitialLoading.sql:20-26 — the
    * delete_all bulk overwrite); the keyed arm is the
    * WHEN MATCHED THEN DELETE of the public Delta/Iceberg MERGE shape,
    * and the op every 100 TB corpus eventually needs (GDPR /
    * right-to-be-forgotten: remove these document ids, atomically,
    * with audit history).
    *
    * Scale shape: identical to [[merge]] — only the files CONTAINING a
    * matched key are rewritten (their surviving rows re-land in this
    * commit's primary directory), every untouched file rides along by
    * reference, so the write cost is O(touched files), never O(table);
    * the stats index prunes the touched-file location the same way.
    * Deleting keys the table doesn't hold is a no-op that still
    * commits (metadata-only: empty primary + full reuse list — the
    * audit trail records that the delete ran). The pre-delete version
    * stays time-travelable until GC, and [[cdcBetween]] emits the
    * deleted pre-images as 'delete' events.
    *
    * ERASURE CONTRACT (r17 — right-to-be-forgotten COMPLETION): the
    * delete makes purged rows invisible at the head immediately, but
    * their BYTES live on in the pre-delete version's files until
    * retention lapses — deliberately, as the audit window every
    * compliance regime allows. Hard erasure is the composition
    * `delete` → `[[SnapshotStore.vacuum]]` past the retention window
    * (pinned logical now): vacuum physically removes every file no
    * retained version references, including the rewritten pre-images,
    * after which the purged data is unreadable by ANY read path
    * (travel included) — ErasureSpec pins files-gone-from-disk in
    * the erased direction and version-survives in the still-retained
    * direction. Until vacuum runs, travel-for-audit is a feature, not
    * a leak.
    *
    * Throws when the table was never bootstrapped. `occ` as in
    * [[merge]]. */
  def delete(spark: SparkSession, table: String, deleteKeys: DataFrame,
      keys: Seq[String], asOfMicros: Option[Long], keep: Int = 16,
      statsCol: Option[String] = None, statsCols: Seq[String] = Nil,
      occ: Boolean = false, txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.col
    val base = SnapshotStore.currentVersion(spark, table)
    val expect = if (occ) Some(base.getOrElse(SnapshotStore.NoVersion)) else None
    val files = SnapshotStore.currentFiles(spark, table)
    if (files.isEmpty)
      throw new IllegalStateException(
        s"VersionedLoad.delete: $table has no committed version — bootstrap first")
    val delKeys = deleteKeys.select(keys.map(col): _*).distinct()
    val touched = locateTouched(spark, table, files, delKeys, keys)
    if (touched.isEmpty)
      return SnapshotStore.promote(spark, table,
        SnapshotStore.read(spark, table).get.limit(0),
        keep = keep, asOfMicros = asOfMicros, reuseFiles = files,
        expectCurrent = expect, txn = txn)
    val untouched = files.filterNot(touched)
    val survivors = SnapshotStore.readFilesForVersion(spark, table, None, touched.toSeq.sorted).get
      .join(delKeys, keys, "left_anti")
    SnapshotStore.promote(spark, table, survivors,
      keep = keep, asOfMicros = asOfMicros, reuseFiles = untouched,
      statsCol = statsCol, statsCols = statsCols, expectCurrent = expect, txn = txn)
  }

  /** Apply one CDC batch carrying an OP column as ONE atomic
    * copy-on-write commit — the full three-arm MERGE: rows with
    * `opCol` = 'D' delete their key, every other row upserts
    * (matched → replace, unmatched → insert). This is the delivery
    * contract of a CDC log replica (the I/U/D stream Debezium-shaped
    * feeds carry) and what [[graft.streaming.FactStream]]'s CDC sink
    * applies per micro-batch; [[cdcBetween]] re-emits the same event
    * shape downstream.
    *
    * Precondition: `batch` is KEY-UNIQUE across BOTH arms — a key
    * appearing as an upsert and a delete in one batch is ambiguous
    * (which wins depends on log order the batch no longer carries);
    * dedupe upstream to the final op per key first (the streaming
    * sink's deterministic winner discipline). Scale shape, no-op
    * behavior, OCC, and the bootstrap-first contract are [[merge]] /
    * [[delete]]'s verbatim: one touched-file location over the union
    * of both arms' keys, one survivor rewrite, O(delta + touched
    * files) write cost. */
  def applyCdc(spark: SparkSession, table: String, batch: DataFrame,
      keys: Seq[String], opCol: String, asOfMicros: Option[Long],
      keep: Int = 16, statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil, occ: Boolean = false,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.col
    if (!batch.columns.contains(opCol))
      throw new IllegalArgumentException(
        s"VersionedLoad.applyCdc: op column $opCol is not in the batch " +
          s"(${batch.columns.mkString(", ")})")
    if (keys.contains(opCol))
      throw new IllegalArgumentException(
        s"VersionedLoad.applyCdc: op column $opCol cannot be a grain key — " +
          "it is dropped before storage and could never match existing rows")
    val base = SnapshotStore.currentVersion(spark, table)
    val expect = if (occ) Some(base.getOrElse(SnapshotStore.NoVersion)) else None
    val files = SnapshotStore.currentFiles(spark, table)
    if (files.isEmpty)
      throw new IllegalStateException(
        s"VersionedLoad.applyCdc: $table has no committed version — bootstrap first")
    // NULL-SAFE op test: a null/missing op is "not a delete" and
    // upserts per the documented contract — a bare `=!= "D"` evaluates
    // NULL and silently drops the row from the upsert arm while its key
    // still enters allKeys, turning a malformed op into data loss
    // (r15 ADVICE)
    val upserts = batch.filter(!(col(opCol) <=> "D")).drop(opCol)
    // both arms' keys locate touched files in ONE pass: an upsert's old
    // row and a delete's row both live in files that must rewrite
    val allKeys = batch.select(keys.map(col): _*).distinct()
    val touched = locateTouched(spark, table, files, allKeys, keys)
    if (touched.isEmpty)
      // nothing matched: the deletes are no-ops, the upserts pure inserts
      return SnapshotStore.promote(spark, table, upserts,
        keep = keep, asOfMicros = asOfMicros, reuseFiles = files,
        statsCol = statsCol, statsCols = statsCols, expectCurrent = expect, txn = txn)
    val untouched = files.filterNot(touched)
    // survivors: touched files' rows whose key NEITHER arm carries —
    // anti-join against the union of keys drops deleted rows AND the
    // upserts' old values in one pass
    val survivors = SnapshotStore.readFilesForVersion(spark, table, None, touched.toSeq.sorted).get
      .join(allKeys, keys, "left_anti")
    SnapshotStore.promote(spark, table,
      upserts.unionByName(survivors, allowMissingColumns = true),
      keep = keep, asOfMicros = asOfMicros, reuseFiles = untouched,
      statsCol = statsCol, statsCols = statsCols, expectCurrent = expect, txn = txn)
  }

  /** Multi-writer form of the occ copy-on-write commits: re-run
    * `attempt` — a [[merge]]/[[delete]]/[[applyCdc]] call made with
    * `occ = true` — until it commits or `maxAttempts` genuine conflicts
    * pass. The copy-on-write ops re-read the committed head INSIDE each
    * call (currentVersion/currentFiles/locateTouched), so a retry
    * automatically recomputes against the winner's state — the
    * [[SnapshotStore.retryingPromote]] discipline without the
    * whole-state compute callback, because the merge semantics already
    * define the next state as a function of (head, batch). Two genuine
    * writers interleaving both commit, exactly once each (spec:
    * VersionedDeleteSpec "two CDC writers"). The documented occ caveat
    * stands: torn debris squatting above the head conflicts every
    * attempt and surfaces as the final ConflictException rather than
    * being raced. */
  def withConflictRetry(maxAttempts: Int = 5)(attempt: => Long): Long = {
    var n = 0
    while (true) {
      n += 1
      try return attempt
      catch {
        case e: SnapshotStore.ConflictException => if (n >= maxAttempts) throw e
        case e: SnapshotStore.FencedException   => if (n >= maxAttempts) throw e
      }
    }
    -1L // unreachable
  }

  /** Exactly-once effect per table under driver retries — the public
    * Delta txnAppId/txnVersion idempotent-writes shape: run `attempt`
    * (a [[merge]]/[[delete]]/[[applyCdc]]/raw promote made with
    * `txn = Some((appId, version))`), mapping the already-applied
    * marker to None. A MULTI-TABLE transaction is then a sequence of
    * idempotent per-table commits re-run to completion: a driver that
    * crashes between tables reruns ALL steps — applied tables skip
    * (their manifests carry the `x appId version` marker), missing
    * tables apply, and the whole transaction converges all-or-nothing
    * under at-least-once execution. Combine with occ +
    * [[withConflictRetry]] for concurrent writers:
    * `idempotent(withConflictRetry()(merge(..., occ = true, txn = ...)))`. */
  def idempotent(attempt: => Long): Option[Long] =
    try Some(attempt)
    catch { case _: SnapshotStore.TxnAlreadyAppliedException => None }

  /** The files of the CURRENT version that contain at least one of
    * `batchKeys` — the copy-on-write rewrite set shared by [[merge]],
    * [[delete]], and [[applyCdc]].
    *
    * DATA SKIPPING ([[FilePrune]]): every grain component the head
    * manifest stats — integral, date, timestamp or string — probes the
    * batch keys one by one against the per-file bounds (one broadcast
    * range join; file count is metadata-scale), and every partition
    * dimension over a grain component probes the keys' transform span
    * (monotone transforms) or distinct value set (bucket<N> — a span
    * would smear over every unrelated bucket between). The keep sets
    * INTERSECT: a file can hold a matching TUPLE only if it holds each
    * component inside its recorded bounds, so each set is a superset of
    * the touched files and so is their intersection — strictly tighter
    * for composite grains statted on several components. Files without
    * a parseable stat or value line always scan; null key components
    * never match under the store's null-unsafe key equality. The
    * touched-file location drops from one full-table read to a read of
    * the candidate files (with a key-clustered layout: O(touched)). */
  private def locateTouched(spark: SparkSession, table: String,
      files: Seq[String], batchKeys: DataFrame, keys: Seq[String]): Set[String] = {
    import org.apache.spark.sql.functions.{col, expr, max => fmax, min => fmin}
    val keep: String => Boolean = SnapshotStore.tableMeta(spark, table, None)
      .fold((_: String) => true) { meta =>
        val probes = keys.flatMap(k => FilePrune.probeKeep(meta, batchKeys, k))
        // the ONE transform definition (SnapshotStore.transformColumn)
        // also builds the batch-side probe, so write-path pruning can
        // never drift from the recorded values; a transform the batch
        // key's type cannot take skips its dimension
        val dims = meta.specs.zipWithIndex.filter { case (ps, _) => keys.contains(ps.col) }
          .flatMap { case (ps, d) =>
            scala.util.Try(SnapshotStore.transformColumn(ps, batchKeys)).toOption.flatMap { tx =>
              if (SnapshotStore.bucketN(ps.transform).isDefined) {
                val bs = batchKeys.select(tx.as("__b")).filter(col("__b").isNotNull).distinct()
                  .collect().map(_.getLong(0)).toSeq
                if (bs.isEmpty) None else Some(FilePrune.Dim(d, FilePrune.Span.of(bs)))
              } else {
                val r = batchKeys.agg(fmin(tx), fmax(tx)).head()
                if (r.isNullAt(0) || r.isNullAt(1)) None
                else Some(FilePrune.Dim(d, FilePrune.Span(r.getLong(0), r.getLong(1))))
              }
            }
          }
        val byDims = FilePrune.keeps(meta, dims)
        f => probes.forall(_(f)) && byDims(f)
      }
    val scanFiles = files.filter(keep).sorted
    // root-relative id of each scanned row's file: snapshot dirs are
    // direct children of the table root, so the trailing two path
    // segments of input_file_name() are exactly the manifest's
    // file-list entry for that file
    val relFile = expr("regexp_extract(input_file_name(), '([^/]+/[^/]+)$', 1)")
    if (scanFiles.isEmpty) Set.empty[String]
    else {
      val scan = SnapshotStore.readFilesForVersion(spark, table, None, scanFiles).get
      if (scan.columns.contains("__file") || keys.contains("__file"))
        throw new IllegalArgumentException(
          "VersionedLoad: a column named __file collides with the touched-file working " +
            "column and would corrupt the rewrite set — rename it before copy-on-write ops")
      scan.withColumn("__file", relFile)
        .join(batchKeys, keys, "left_semi")
        .select("__file").distinct()
        .collect().map(_.getString(0)).toSet
    }
  }
}
