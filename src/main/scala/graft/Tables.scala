package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `dir`. Reads are lazy DataFrames so
  * Catalyst can push filters/column pruning into the parquet scan; at
  * cluster scale these would be partitioned tables, but the access path
  * (spark.read.parquet → pushdown) is identical.
  */
final class Tables(spark: SparkSession, dir: String) {
  /** Plan the table with its memoized inferred schema
    * ([[Artifacts.readParquetMemo]], keyed by the table file's own
    * status, so a regenerated testdata dir re-infers). At 100 TB the
    * same discipline is "read the schema from the catalog/manifest,
    * not from data-file footers" — see
    * SnapshotStore.readFilesForVersion. */
  private def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Artifacts.readParquetMemo(spark, path, new org.apache.hadoop.fs.Path(path))
  }

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) across testdata
    * generations, so normalize by the type that actually loaded:
    * raw nanos (via the legacy long read — Spark 4 refuses NANOS
    * otherwise) are truncated to micros exactly like DuckDB does, and
    * NTZ micros are cast to the session-TZ (UTC) timestamp every
    * downstream op expects. Either way the column lands as
    * TIMESTAMP_LTZ micros with identical wall-clock values. */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t("events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)
}

/** Output-normalization helpers shared by every `SparkEntry.queries` entry.
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * `oracleSql` on the same inputs, so results must be bit-deterministic
  * across engines:
  *   - sums of money/doubles go through DecimalType (exact, order-independent)
  *     and are cast to double only at the very end (exact-decimal → double is
  *     a deterministic IEEE rounding);
  *   - integer-ish outputs are always LongType (DuckDB BIGINT);
  *   - no engine-seeded randomness — "random" sampling uses an explicit
  *     multiplicative hash both engines evaluate identically.
  */
object Norm {
  /** Money amounts: exact decimal for order-independent aggregation. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Higher-scale decimal for rates/ratios that need more digits. */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent exact sum of a money column, surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact sum at 6-digit scale, surfaced as double. */
  def dsum6(c: Column): Column = sum(dec6(c)).cast("double")

  /** Integer log2 of a positive BIGINT — ilog2(x) = length(bin(x)) − 1,
    * exact and identical in Spark and DuckDB (the portable stand-in for
    * floating log2 in the surprisal-bit scores; text_lm_surprisal and
    * events_markov_perplexity share this definition so the idiom cannot
    * drift between them). Undefined for x ≤ 0 — callers guarantee
    * positive counts. */
  def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("long")

  /** Deterministic pseudo-random bucket in [0, m) from an integer key.
    * Knuth multiplicative hash. The key is masked to 31 bits BEFORE the
    * multiply so the product stays < 2^63 for any key magnitude — without
    * the mask a key ≥ 2^31 overflows: Spark (ANSI) throws / wraps at 64
    * bits while DuckDB widens to 128-bit, silently diverging from the
    * oracle. DuckDB mirror: `((k % 2147483648) * 2654435761) % m`.
    * Replaces DBMS_RANDOM-style sampling (SURVEY §2.6). */
  def hashBucket(key: Column, m: Int): Column =
    pmod(pmod(key, lit(2147483648L)) * lit(2654435761L), lit(m.toLong))
}
