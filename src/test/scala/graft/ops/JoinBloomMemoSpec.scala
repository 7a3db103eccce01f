package graft.ops

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Staleness pin for `join_bloom_runtime_filter`'s memoized bloom bitset:
  * a `customer.parquet` rewritten IN PLACE (same directory, same file
  * name) with a new qualifying customer must rebuild the bitset, or the
  * probe drops that customer's orders before the exact join sees them.
  * The bitset is keyed by the customer file's identity, not by the
  * directory. */
class JoinBloomMemoSpec extends SparkSuite {

  // write `df` as a single parquet file at a FIXED name so a rewrite is
  // genuinely in place
  private def writeInPlace(df: org.apache.spark.sql.DataFrame, target: Path): Unit = {
    val stage = Files.createTempDirectory("graft_bloom_stage").toFile.getAbsolutePath
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  test("an in-place customer.parquet rewrite rebuilds the bloom bitset") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bloom").toFile.getAbsolutePath
    val day = java.sql.Date.valueOf("2020-01-15")
    writeInPlace(Seq((1L, day, 10.0), (2L, day, 20.0), (3L, day, 30.0), (3L, day, 5.0))
      .toDF("o_custkey", "o_orderdate", "o_totalprice"), Paths.get(dir, "orders.parquet"))
    def writeCustomers(rows: (Long, Long)*): Unit =
      writeInPlace(rows.toDF("c_custkey", "c_nationkey"), Paths.get(dir, "customer.parquet"))

    val q = JoinOps.ops.find(_.key == "join_bloom_runtime_filter").get
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    // the oracle's plain join over the same files
    def plain: Seq[String] = {
      spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("orders")
      spark.read.parquet(s"$dir/customer.parquet").createOrReplaceTempView("customer")
      rows(spark.sql(q.oracle.get))
    }

    writeCustomers((1L, 1L), (2L, 7L))
    assert(rows(q.run(spark, dir)) == plain)
    assert(plain.size == 1, plain)

    Thread.sleep(5) // ensure a distinct ms-granularity mtime
    // customer 3 (nation 2 < 5) now qualifies, and has two orders
    writeCustomers((1L, 1L), (2L, 7L), (3L, 2L))
    assert(plain.size == 2, plain)
    assert(rows(q.run(spark, dir)) == plain,
      "a bitset memoized by directory would still drop customer 3's orders")
  }
}
