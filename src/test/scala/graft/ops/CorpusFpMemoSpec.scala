package graft.ops

import graft.SparkSuite
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Staleness pins for the content-fingerprint memos (r19): an input
  * rewritten IN PLACE — same path, same plan instance, (as close as
  * parquet allows) same byte size — must re-fingerprint instead of
  * serving the memoized value. A key of (plan semanticHash, stats
  * sizeInBytes) is identical in that scenario, so a stale hit there
  * would resolve stale persisted artifacts; graft.Artifacts.inputsKey
  * folds in the input files' (path, length) and max mtime. */
class CorpusFpMemoSpec extends SparkSuite {

  // write `df` as a single parquet file at a FIXED name so a rewrite is
  // genuinely in place (df.write would mint a fresh part-file name,
  // which a plan-hash key already distinguishes)
  private def writeInPlace(df: org.apache.spark.sql.DataFrame, target: Path): Unit = {
    val stage = Files.createTempDirectory("graft_fpmemo_stage").toFile.getAbsolutePath
    df.coalesce(1).write.mode("overwrite").option("compression", "none").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  test("an in-place corpus rewrite under the same plan re-fingerprints") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fpmemo").toFile.getAbsolutePath
    val target = Paths.get(dir, "corpus.parquet")

    // a single-file corpus with first-dim `v`
    def writeCorpus(v: Float): Unit =
      writeInPlace(Seq((1L, Seq(v, 0f, 0f), 1.0)).toDF("vec_id", "embedding", "nrm"), target)

    writeCorpus(1f)
    val emb = spark.read.parquet(target.toString)
    assert(SimOps.corpusFp(emb) == (1L << 20), "fingerprint of first-dim 1.0")
    // memo hit on the unmodified corpus: same value, same plan
    assert(SimOps.corpusFp(emb) == (1L << 20))

    // in-place rewrite: same path, same schema/row count (parquet sizes
    // of the two single-float payloads typically match byte-for-byte —
    // the mtime component of the key carries the equal-size case)
    Thread.sleep(5) // ensure a distinct ms-granularity mtime
    writeCorpus(2f)
    assert(SimOps.corpusFp(emb) == (2L << 20),
      "the SAME DataFrame instance must re-fingerprint after the rewrite " +
        "(an r18-keyed memo would serve the stale 1.0-corpus fingerprint)")
  }

  test("an equal-size in-place lineitem rewrite resolves a fresh co-purchase graph") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cograph").toFile.getAbsolutePath
    val target = Paths.get(dir, "lineitem.parquet")

    // one basket {10, pk}: its co-purchase graph is the edge pair 10 ↔ pk
    def writeLineitem(pk: Long): Unit =
      writeInPlace(Seq((1L, 10L), (1L, pk)).toDF("l_orderkey", "l_partkey"), target)

    writeLineitem(20L)
    val li = spark.read.parquet(target.toString)
    def edges = GraphOps.coGraph(spark, li)._1.select("src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(edges == Set((10L, 20L), (20L, 10L)))
    val size = Files.size(target)

    Thread.sleep(5) // ensure a distinct ms-granularity mtime
    writeLineitem(30L)
    assert(Files.size(target) == size,
      "the rewrite must keep the byte size, or a size-keyed memo would miss anyway")
    assert(edges == Set((10L, 30L), (30L, 10L)),
      "the SAME lineitem DataFrame must re-fingerprint after the rewrite " +
        "(a (plan hash, sizeInBytes) memo serves the stale 10 ↔ 20 graph)")
  }
}
