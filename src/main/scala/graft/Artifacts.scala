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
    * artifact partition — content for a given path never changes once
    * committed (the [[ready]] contract), so its schema is keyed by the
    * `_SUCCESS` marker: a rebuilt partition re-infers. */
  def read(spark: org.apache.spark.sql.SparkSession, path: String): org.apache.spark.sql.DataFrame =
    readParquetMemo(spark, path, new org.apache.hadoop.fs.Path(path, "_SUCCESS"))

  /** `spark.read.parquet(path)` planned with a memoized schema: a bare
    * read re-infers the schema on EVERY call, and Spark 4 runs that
    * footer read as a driver-blocking JOB — per table or artifact per
    * query build, the dominant term of the small-query driver floor (a
    * 264-query bench sweep re-paid it thousands of times). The memo
    * ([[FileMemo]]) is pure metadata (the schema the same inference
    * returns), keyed by `path` and the identity of `keyPath` — the file
    * whose status moves whenever `path`'s content can: the table file
    * itself for [[Tables]], the `_SUCCESS` marker for [[read]]. The
    * planned scan is byte-identical either way; falls back to plain
    * inference when `keyPath` is unreadable. */
  private[graft] def readParquetMemo(spark: org.apache.spark.sql.SparkSession, path: String,
      keyPath: org.apache.hadoop.fs.Path): org.apache.spark.sql.DataFrame =
    FileMemo.fileId(keyPath.getFileSystem(spark.sparkContext.hadoopConfiguration), keyPath)
      .flatMap(id =>
        FileMemo.get(FileMemo.Schema, Seq(id), path)(Some(spark.read.parquet(path).schema)))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

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
}
