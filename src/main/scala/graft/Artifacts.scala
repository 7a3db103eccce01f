package graft

/** Root directory for persisted, corpus-fingerprint-keyed artifacts
  * (trained BPE dictionary, IVF centroids, zone-map layout, the
  * library-schema oracle parquet) and the Spark warehouse dir.
  *
  * Derived at class-load from the JVM working directory (sbt forks
  * mains and tests in the project base dir) with a `graft.artifact.root`
  * system-property / `GRAFT_ARTIFACT_ROOT` env override, so a checkout
  * at any path works — the oracle SQL strings interpolate these
  * constants from the SAME JVM that writes the artifacts, so engine
  * and oracle can never disagree on the location.
  *
  * The artifacts themselves are written EAGERLY by the op that owns
  * them, hive-partitioned by a corpus fingerprint; an oracle read
  * against a fingerprint partition Spark has not materialized fails in
  * DuckDB with its "no files found" error — by design, the loud
  * failure mode for an out-of-order run.
  */
object Artifacts {
  val Root: String = sys.props
    .get("graft.artifact.root")
    .orElse(sys.env.get("GRAFT_ARTIFACT_ROOT"))
    .getOrElse(sys.props("user.dir") + "/target")

  /** True iff a previous write of `path` COMPLETED (its `_SUCCESS`
    * marker exists) — the skip-if-present gate for byte-deterministic,
    * fingerprint-keyed artifacts: content for a given partition never
    * changes, so re-writing is pure waste, while a torn write (no
    * marker) must rebuild. */
  def ready(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Memoized read of a completed (write-once, `_SUCCESS`-gated)
    * artifact partition: a bare `spark.read.parquet` re-infers the
    * schema on EVERY call, and Spark 4 runs that footer read as a
    * driver-blocking JOB — per artifact per query build. Artifact
    * content for a given path never changes once committed (the
    * [[ready]] contract), so the schema memo keyed by (path, `_SUCCESS`
    * mtime) is pure metadata: a rebuilt partition (new marker mtime)
    * re-infers, and the planned scan is byte-identical either way.
    * Falls back to plain inference when the marker is unreadable. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val key = scala.util.Try {
      val hp = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      val st = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp)
      (path, st.getModificationTime)
    }.toOption
    key.flatMap(k => Option(schemaMemo.get(k))) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach { k =>
          if (schemaMemo.size > 256) schemaMemo.clear()
          schemaMemo.put(k, df.schema): Unit
        }
        df
    }
  }

  /** (path, _SUCCESS mtime) → inferred schema; see [[read]]. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      org.apache.spark.sql.types.StructType]()

  /** Test hook: drop every memoized artifact schema. */
  private[graft] def clearSchemaMemo(): Unit = schemaMemo.clear()

  /** The shared content-fingerprint fold: Σ term over `df` carried in
    * DECIMAL(38,0) (a raw BIGINT sum of hash-sized terms overflows,
    * which ANSI mode — Spark 4's default — turns into a job failure),
    * folded mod 10¹⁵ to a long driver-side. `term` must be
    * non-negative so the modulus agrees with any SQL mirror's `%`.
    * Empty input folds to 0. One definition — the fingerprint
    * consumers (graph artifact, zonemap layout, their specs) must not
    * drift apart on the modulus or the null handling. */
  def decFp(df: org.apache.spark.sql.DataFrame, term: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.sum
    val d = df.agg(sum(term.cast("decimal(38,0)"))).head().getDecimal(0)
    if (d == null) 0L
    else d.remainder(new java.math.BigDecimal(1000000000000000L)).longValueExact()
  }

  /** The key a content-fingerprint memo is stored under: `df`'s analyzed
    * plan hash, its planned size in bytes, every input file's (path,
    * length) and the newest input mtime. The plan hash alone is PATH
    * identity and the size misses an equal-size rewrite; the mtime
    * moves on any in-place rewrite of a file under the same name, so
    * the memo re-fingerprints (CorpusFpMemoSpec pins this for both
    * memos, SimOps.corpusFp and GraphOps.coGraph). Driver-side metadata
    * only: one getFileStatus per input file, never a data scan. */
  def inputsKey(df: org.apache.spark.sql.DataFrame): (Int, BigInt, Int, Long) = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    var maxM = 0L
    val idHash = df.inputFiles.toSeq.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = scala.util.Try(p.getFileSystem(hconf).getFileStatus(p)).toOption
      st.foreach(s => maxM = math.max(maxM, s.getModificationTime))
      (f, st.map(_.getLen).getOrElse(-1L))
    }.hashCode
    (df.queryExecution.analyzed.semanticHash(),
      df.queryExecution.optimizedPlan.stats.sizeInBytes, idHash, maxM)
  }
}
